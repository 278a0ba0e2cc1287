package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession

/** Per-round benchmark (driver contract): runs the relational operator suite
  * on SPARK_GRAFT_SF_DIR plus the engine headline — synthetic-corpus index
  * build (docs/sec) and BM25 top-k query latency — and prints ONE JSON line.
  * Also the one bench library: the other measuring mains (ScalingBench,
  * DedupScaleBench, PlanAudit) take their sessions, timing, min-of-N and
  * load sentinels from here.
  */
object Bench {

  /** Local-mode cores for a bench session: SPARK_GRAFT_CPUS when set, else
    * every core of this machine.
    */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Multi-executor session: `local-cluster[workers, coresPerWorker, memMB]`
    * spawns one real JVM per executor — the faithful single-box proxy for a
    * multi-executor cluster (own heap/GC per executor, like real nodes),
    * unlike local[n] threads sharing one JVM.
    */
  def newClusterSession(workers: Int, coresPerWorker: Int, memMB: Int = 4096): SparkSession =
    session(s"local-cluster[$workers,$coresPerWorker,$memMB]", "graft-bench-cluster",
      shufflePartitions = workers * coresPerWorker * 2, Map(
        "spark.executor.memory" -> s"${memMB - 512}m",
        "spark.executor.extraClassPath" -> sys.props("java.class.path"),
        // each executor JVM must size its service threads for ITS core slice,
        // not the whole box — 8 JVMs each spawning nproc GC/JIT threads
        // oversubscribes the box into thrashing (measured 3x slowdown)
        "spark.executor.extraJavaOptions" ->
          (s"-XX:ActiveProcessorCount=$coresPerWorker " +
            s"-XX:ParallelGCThreads=$coresPerWorker -XX:CICompilerCount=2 " +
            org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions())))

  def newSession(cpus: Int): SparkSession =
    session(s"local[$cpus]", "graft-bench", shufflePartitions = cpus * 2)

  /** The configuration every bench session shares, plus `extra`. */
  private def session(master: String, appName: String, shufflePartitions: Int,
                      extra: Map[String, String] = Map.empty): SparkSession = {
    // Shuffle dirs on tmpfs when available: on a real cluster shuffle IO is
    // spread across every node's local disks; on this single box one shared
    // disk would otherwise be the (non-representative) scaling bottleneck.
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-tmp"
      else System.getProperty("java.io.tmpdir")
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // temp streaming checkpoints (q_stream_window) really are temporary:
      // delete them on stop instead of leaking /tmp dirs + a shutdown WARN
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Corpus size scaled to the testdata SF so bench cost tracks the round. */
  def corpusDocs(sfDir: String): Long =
    if (sfDir.contains("0.1")) 50000L
    else if (sfDir.contains("0.01")) 5000L
    else 1000L

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Element-wise minimum across repeated per-query latency passes — the
    * load-robust estimator for sub-second metrics (VERDICT r4 "what's wrong"
    * #1: one background-load spike in a single-pass record distorted every
    * percentile 5x). The min of 3 passes answers the capacity question
    * ("what does this query cost on this engine") rather than "what did the
    * box happen to be doing".
    */
  def minPerQuery(passes: Seq[Seq[Double]]): Seq[Double] =
    passes.transpose.map(_.min)

  /** Fixed single-thread spin workload (~0.2 s quiet-box): a machine-load
    * sentinel emitted into the bench JSON so a contaminated record is
    * detectable post-hoc — engine metrics can regress for real reasons, but
    * this number moves ONLY with background load/CPU contention.
    */
  def spinSentinelMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e6
    if (x == 42L) Console.err.println("sentinel") // defeat DCE
    dt
  }

  /** The SAME fixed spin on every core concurrently: moves with EFFECTIVE
    * parallel capacity, which the single-thread sentinel cannot see —
    * observed on this box: a neighbor-load episode left the 1-thread
    * sentinel within 5% while 32-thread metrics (batch q/s, build docs/s)
    * degraded 1.5-20x. Quiet box: ~= the single-thread number (every core
    * free); oversubscription inflates the ratio mt/single proportionally.
    */
  def spinSentinelMtMs(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val threads = (0 until n).map { t =>
      val th = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L + t
        var i = 0
        while (i < 150000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
        if (x == 42L) Console.err.println("sentinel") // defeat DCE
      })
      th.start(); th
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** Every query here RETURNS HITS on the synthetic corpus (rounds 1-3
    * carried three queries whose terms don't exist as bare tokens — the
    * vocabulary is compound identifiers + keywords — so they short-circuited
    * driver-side in ~0.2 ms and deflated every latency percentile; see
    * BENCH/BASELINE.md round 4). Identifier terms are drawn from the
    * deterministic vocabulary by Zipf rank: ~100 (common), ~500 (mid),
    * ~3000 (rare — exercises WAND pivot skipping against the head term).
    */
  val BenchQueries: Seq[String] = Seq(
    "buffer", // head term, planted in ~40% of docs
    "lazy implicit", // two keyword terms, both required (mm 2)
    "binary search tree implementation", // planted phrase, mm 4->3
    "red black tree rotation", // planted phrase
    s"${CodeCorpus.Vocab(100)} ${CodeCorpus.Vocab(500)}", // mid-rank identifiers
    s"${CodeCorpus.Vocab(3000)} buffer", // rare + head: pivot skipping
    "def class import return val var match case") // 8 keywords -> mm 7

  /** Build + query benchmark on a fresh session; returns metric map.
    * `full = false` (the JIT warm-up pass) skips the distributed-strategy
    * and multi-segment measurements.
    */
  def engineBench(spark: SparkSession, nDocs: Long, full: Boolean = true): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    // index output on tmpfs when available, like the shuffle dirs: on a real
    // cluster each executor writes to ITS node's local disks / object store;
    // one shared spinning /tmp would be a non-representative IO bottleneck
    val benchRoot = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bench-tmp"
      else System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(benchRoot)
    val out = java.nio.file.Files.createTempDirectory(benchRoot, s"graftbench$cores").toString
    // the north star's input is an EXISTING source-code table (Iceberg-style
    // parquet), so the synthetic corpus is materialized untimed and the
    // measured build reads it back — generation cost is bench scaffolding,
    // not engine work
    val srcTable = java.nio.file.Files.createTempDirectory(benchRoot, s"graftsrc$cores").toString
    CodeCorpus.generate(spark, nDocs, nRepos = 100, partitions = cores * 2)
      .write.mode("overwrite").parquet(srcTable)
    val docs = {
      import spark.implicits._
      spark.read.parquet(srcTable).as[graft.core.CodeDoc]
    }
    val timing = sys.env.get("SPARK_GRAFT_TIMING").contains("1")
    val sm = if (timing) Some(StageMetrics.install(spark)) else None
    val (_, tBuild) = time {
      IndexBuilder.build(spark, docs, out,
        IndexConfig(buckets = 64, saltRange = 1L << 16, shufflePartitions = cores * 2))
    }
    sm.foreach(_.report(s"build nDocs=$nDocs cores=$cores"))
    // Every sub-second query metric below is the per-query MIN of 3 passes
    // (load-robust; see [[minPerQuery]]); the sentinel pins machine load.
    val sentinelMs = spinSentinelMs()
    val sentinelMtMs = spinSentinelMtMs()
    val searcher = new Searcher(spark, out)
    // warm-up once (JIT + parquet footers), then measure per-query latency.
    // COLD regime: each of 3 FRESH searchers pays every term's first
    // pushed-filter resolution (fresh run/dict caches per pass). WARM
    // regime: repeats on one searcher (caches serve) — both reported, they
    // answer different capacity questions.
    searcher.search(BenchQueries.head, 10)
    // cold passes use searchers the warm-up never touched — the warmed
    // `searcher` holds the warm-up term's runs, so including it in the
    // cold set let min-of-3 pick warm-cache timings for queries sharing
    // that term and biased the cold p50 down
    val coldSearchers = Seq.fill(3)(new Searcher(spark, out))
    val cold = minPerQuery(coldSearchers.map(sr =>
      BenchQueries.map(q => time(sr.search(q, 10))._2)))
    val sorted = cold.sorted
    val warm = minPerQuery(Seq.fill(3)(
      BenchQueries.map(q => time(searcher.search(q, 10))._2))).sorted
    // q+fq (warm regime): the filter resolves once (filterCache analog),
    // then rides the kernel as a broadcast membership predicate — the delta
    // vs plain warm p50 IS the fq overhead a filtered service pays per query
    val fqStr = Some("lang:scala OR lang:java")
    searcher.search(BenchQueries.head, 10, fq = fqStr) // resolve + broadcast, untimed
    val warmFq = minPerQuery(Seq.fill(3)(
      BenchQueries.map(q => time(searcher.search(q, 10, fq = fqStr))._2))).sorted

    val base = Map(
      "ix_build_sec" -> tBuild,
      "ix_build_docs_per_sec" -> nDocs / tBuild,
      "ix_query_p50_ms" -> sorted(sorted.length / 2) * 1000,
      "ix_query_max_ms" -> sorted.last * 1000,
      "ix_query_p50_ms_warm" -> warm(warm.length / 2) * 1000,
      "ix_query_p50_ms_fq" -> warmFq(warmFq.length / 2) * 1000,
      "ix_spin_sentinel_ms" -> sentinelMs,
      "ix_spin_sentinel_mt_ms" -> sentinelMtMs)
    if (!full) {
      (searcher +: coldSearchers).foreach(_.close())
      import scala.reflect.io.Directory
      new Directory(new java.io.File(out)).deleteRecursively()
      new Directory(new java.io.File(srcTable)).deleteRecursively()
      return base
    }

    // ---- scale-path strategies: at the 10^12-doc target the driver-local
    // kernel does not exist — these distributed shapes are the ONLY query
    // paths, so they get the same first-class measurement (VERDICT r3 #1).
    // The distributed paths never cache runs, so repeat passes on one
    // searcher re-run the full job — min-of-3 is load filtering, not cache
    // warming.
    def p50of(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // forced-distributed broadcast kernel: runs stay executor-side
    // (flatMapGroups by salt), norms read from the broadcast
    val dist = new Searcher(spark, Seq(out), SearchConfig(driverKernelMaxPostings = 0))
    dist.search(BenchQueries.head, 10)
    val distLats = minPerQuery(Seq.fill(3)(
      BenchQueries.map(q => time(dist.search(q, 10))._2)))
    // beyond-norms shuffle strategy: postings cogrouped with docstats by
    // salt range — unbounded corpus size, nothing broadcast
    val shuf = new Searcher(spark, Seq(out), SearchConfig(normsMaxDocs = 0))
    shuf.search(BenchQueries.head, 10)
    val shufLats = minPerQuery(Seq.fill(3)(
      BenchQueries.map(q => time(shuf.search(q, 10))._2)))

    // batched retrieval throughput: 64 distinct two-term queries. Driver
    // regime: searchMany (ONE fetch of the batch's terms, then the driver
    // kernel). Scale regime: the distributed kernel — the whole batch in
    // ONE Spark job (at the 10^12-doc target this is the only batch shape
    // that exists; compare against 1000/p50_distributed for the
    // amortization).
    val words = BenchQueries.flatMap(_.split(" ")).distinct
    val batch = (0 until 64).map(i =>
      s"${words(i % words.size)} ${words((i * 7 + 3) % words.size)}")
    // COLD/WARM split, mirroring the per-query p50 discipline (VERDICT r5
    // "what's wrong" #2: min-of-3 on ONE searcher silently became a warm-
    // cache metric — 3766 q/s vs the prior round's ~94 — voiding the
    // round-over-round comparison). Cold: a FRESH searcher per pass pays
    // every term's first resolution; min-of-3 across fresh searchers
    // filters load, not caches. Warm: repeats on one searcher (run cache
    // holds every batch term) — steady-state service throughput.
    val batchColdSearchers = Seq.fill(3)(new Searcher(spark, out))
    val tBatchCold = batchColdSearchers
      .map(b => time(b.searchMany(batch, 10))._2).min
    val batcher = new Searcher(spark, out)
    batcher.searchMany(batch, 10) // fill the run cache, untimed
    val tBatchWarm = Seq.fill(3)(time(batcher.searchMany(batch, 10))._2).min
    // the distributed kernel, whatever the index size
    val batcherD = new Searcher(spark, Seq(out), SearchConfig(driverKernelMaxPostings = 0))
    batcherD.searchMany(batch.take(4), 10) // warm plan/job path
    val tBatchDist = Seq.fill(3)(
      time(batcherD.searchMany(batch, 10))._2).min

    // a searcher over base + 4 delta segments — the typical long-running
    // upsert deployment (one big base, small deltas; router picks a strategy
    // per segment)
    val deltaDirs = (0 until 4).map { d =>
      val ddir = java.nio.file.Files.createTempDirectory(benchRoot, s"graftdelta$d").toString
      val ddocs = {
        import spark.implicits._
        spark.range(nDocs + d * 500L, nDocs + (d + 1) * 500L)
          .as[Long].map(i => CodeCorpus.genDoc(i, 100))
      }
      IndexBuilder.build(spark, ddocs, ddir,
        IndexConfig(buckets = 16, saltRange = 1L << 14, shufflePartitions = cores))
      ddir
    }
    val multi = new Searcher(spark, out +: deltaDirs)
    multi.search(BenchQueries.head, 10)
    val multiLats = minPerQuery(Seq.fill(3)(
      BenchQueries.map(q => time(multi.search(q, 10))._2)))
    multi.close()
    (searcher +: (coldSearchers ++ batchColdSearchers ++
      Seq(dist, shuf, batcher, batcherD))).foreach(_.close())
    val sentinelEndMs = spinSentinelMs()
    val sentinelEndMtMs = spinSentinelMtMs()

    import scala.reflect.io.Directory
    new Directory(new java.io.File(out)).deleteRecursively()
    new Directory(new java.io.File(srcTable)).deleteRecursively()
    deltaDirs.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    base ++ Map(
      "ix_query_p50_ms_distributed" -> p50of(distLats) * 1000,
      "ix_query_max_ms_distributed" -> distLats.max * 1000,
      "ix_query_p50_ms_shuffle" -> p50of(shufLats) * 1000,
      "ix_query_max_ms_shuffle" -> shufLats.max * 1000,
      "ix_multisearch_p50_ms" -> p50of(multiLats) * 1000,
      // ix_batch_qps == the warm regime for round-over-round continuity
      // (the r5 record was already warm-regime under this key; r4's was
      // cold-ish — see BENCH/BASELINE.md round 6)
      "ix_batch_qps" -> batch.size / tBatchWarm,
      "ix_batch_qps_cold" -> batch.size / tBatchCold,
      "ix_batch_qps_warm" -> batch.size / tBatchWarm,
      "ix_batch_qps_distributed" -> batch.size / tBatchDist,
      "ix_spin_sentinel_end_ms" -> sentinelEndMs,
      "ix_spin_sentinel_end_mt_ms" -> sentinelEndMtMs,
      // self-labeling contamination flag: 1.0 when either sentinel pair
      // shows mt/single > 1.4 (the documented neighbor-load signature) —
      // a consumer needn't re-derive the ratio to distrust the 32-thread
      // metrics in this record
      "ix_load_contaminated" ->
        (if (sentinelMtMs / sentinelMs > 1.4 ||
             sentinelEndMtMs / sentinelEndMs > 1.4) 1.0 else 0.0))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = newSession(defaultCpus)

    // session warm-up, untimed: one scan+aggregate triggers the parquet
    // reader, codegen and JIT paths the first measured query would otherwise
    // absorb (rounds 1-2 showed the alphabetically-first q1_agg at ~4 s
    // while the same plan shape ran at 0.2-0.4 s later in the battery)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(org.apache.spark.sql.functions.col("l_returnflag"))
      .count().collect()
    // higher-order-function warm-up, untimed, 3 dummy rows: the dedup
    // family's transform/array_min/aggregate lambda projections
    // Janino-compile on first use (measured ~2-5s of q_dedup_clusters' cold
    // run vs 2.3s warm at sf0.1) — same rationale as the scan+aggregate
    // warm-up above: absorb engine-fixed first-use cost, not query work
    locally {
      import org.apache.spark.sql.functions._
      // warm the EXACT shipped banding path (native digest included)
      val d = graft.ops.Dedup.bandedProjection(
        spark.range(3).select(col("id").as("doc_id"),
          concat(lit("a b c d e f "), col("id").cast("string")).as("text")),
        "doc_id", "text", 3, 8)
      d.as("l").join(d.as("r"), Seq("band", "sig"))
        .groupBy(col("l._id")).count().collect()
    }

    val relational = (RelationalQueries.queries ++ UrsusRecordQueries.queries ++
      SinaiQueries.queries)
      .toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = try time(fn(spark, sfDir).count())._2 catch { case _: Throwable => -1.0 }
      name -> t
    }
    // JIT/codegen warm-up (small throwaway build, not reported) — same
    // protocol as ScalingBench; without it the measured build absorbs all
    // first-run compilation cost (measured 10x distortion at sf0.1).
    engineBench(spark, math.min(5000L, math.max(1000L, corpusDocs(sfDir) / 10)),
      full = false)
    val engine = engineBench(spark, corpusDocs(sfDir))

    val all = relational ++ engine.toSeq
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      .mkString("{", ",", "}")
    val total = relational.map(_._2).filter(_ > 0).sum + engine("ix_build_sec")
    val line = f"""{"metric":"total","value":$total%.4f,"unit":"sec","queries":$qs%s,"sf":"$sfDir%s"}"""
    println(line)
    // Also drop a clean machine-readable copy in the repo: the driver's
    // stdout capture interleaves the line with sbt/log4j noise (every
    // recorded round so far shows parsed:null), so a file beats re-grepping
    // the tail. Overwritten per run; BENCH/BASELINE.md is the curated record.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LAST.json"), line + "\n")
    catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
