package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{SearchConfig, Searcher}

/** The north rule's two-cluster-size scaling evidence: the SAME work at N
  * and 4N cores, throughput at both and efficiency = (thr@4N / thr@N) / 4.
  *
  *  - `build`: the index build over the SAME input (build docs/s).
  *  - `query`: batched distributed retrieval (`searchMany` on the
  *    distributed kernel, forced by `driverKernelMaxPostings = 0` — the
  *    only batch shape that exists at the 10^12-doc target) over ONE shared
  *    index, built once untimed (batch q/s).
  *
  * Measurement protocol (each choice fixes a bias measured on this box):
  *  - Every leg runs in a FRESH child driver JVM. Running both legs in one
  *    process contaminated the second leg (~3x executor-CPU inflation from
  *    lingering first-leg processes/GC debt — measured, see BENCH/BASELINE.md
  *    round 1 "4N-leg GC-debt bias").
  *  - ABBA order (N, 4N, 4N, N) and best-of-2 per leg: cancels monotone
  *    environment drift on a shared VM; best-of-k is the standard
  *    noise-robust estimator.
  *  - Per-leg JIT warm-up inside each child (not measured).
  *  - `build` cluster mode uses `local-cluster`: real separate executor JVMs
  *    (own heap/GC/JIT — like real nodes), workers of 4 cores each. local[n]
  *    threads share one heap, so the shared GC becomes a bottleneck no real
  *    cluster has.
  *  - `query` builds its index with saltRange 8192 so the batch job has
  *    ~nDocs/8192 salt groups of work — parallelism is data-driven, not
  *    capped by a handful of fat groups (at the real target salts outnumber
  *    cores by orders of magnitude; the same knob, documented in
  *    IndexConfig). Each leg times best-of-3 batch runs after untimed
  *    warm-up batches.
  *
  * Writes BENCH/SCALING_LAST.md (`build`) or BENCH/QUERY_SCALING_LAST.md
  * (`query`); BENCH/BASELINE.md is curated by hand.
  *
  * Usage:
  *  - `runMain graft.ScalingBench build [nDocs] [N] [cluster|threads|single] [execMemMB]`
  *    (defaults 400000, 4, cluster, 4096). `single` = one in-process leg at
  *    exactly N cores — the unit the cluster mode spawns as child processes.
  *    Scale execMemMB with nDocs (the 4-core leg holds the whole fused-pass
  *    cache partition set in one executor).
  *  - `runMain graft.ScalingBench query [nDocs] [N] [batch]` (defaults
  *    400000, 8, 256). Single-leg child mode:
  *    `query-leg <cores> <indexDir> [batch]`.
  */
object ScalingBench {
  private val coresPerWorker = 4

  /** (executor JVMs, cores each) of a `cluster` leg at `n` cores: the one
    * expression that both builds the leg's session and describes it.
    */
  private def clusterShape(n: Int): (Int, Int) =
    (math.max(1, n / coresPerWorker), math.min(n, coresPerWorker))

  /** Lines of a child's stderr echoed when its leg fails. */
  private val FailedLegTailLines = 40

  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    args.headOption match {
      case Some("build") => build(rest)
      case Some("query") => query(rest)
      case Some("query-leg") =>
        queryLegInProcess(rest(0).toInt, rest(1), rest.lift(2).map(_.toInt).getOrElse(256))
      case _ => sys.error("usage: ScalingBench build|query|query-leg ...")
    }
  }

  /** Runs `graft.ScalingBench <args>` in a fresh child JVM, requires exit 0
    * and returns the child's stdout line that carries `"tag"`. The child's
    * stderr (Spark's log, executor launch commands included) goes to a
    * temporary file; only a failed leg prints its tail.
    */
  private def runChild(tag: String, args: Seq[String]): String = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val moduleOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().trim.split("\\s+").toSeq
    val cmd = Seq(javaBin) ++ moduleOpts ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.ScalingBench") ++ args
    val errLog = java.nio.file.Files.createTempFile("graft-scaling-leg", ".log")
    try {
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(errLog.toFile)
      val p = pb.start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
      val code = p.waitFor()
      if (code != 0) {
        val lines = java.nio.file.Files.readAllLines(errLog,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        System.err.println(
          s"[scaling] last stderr lines of the failed leg `${args.mkString(" ")}`:")
        lines.subList(math.max(0, lines.size - FailedLegTailLines), lines.size)
          .forEach(l => System.err.println(l))
      }
      require(code == 0, s"scaling leg `${args.mkString(" ")}` exited $code")
      out.find(_.contains("\"" + tag + "\""))
        .getOrElse(sys.error(s"no $tag line from `${args.mkString(" ")}`"))
    } finally java.nio.file.Files.deleteIfExists(errLog)
  }

  private def field(line: String, k: String): Double =
    (s""""$k":([0-9.]+)""".r.findFirstMatchIn(line)
      .getOrElse(sys.error(s"missing $k in: $line")).group(1)).toDouble

  /** Runs `leg` in ABBA order (N, 4N, 4N, N); returns (cores, sample) pairs
    * in run order.
    */
  private def abba[T](n: Int)(leg: Int => T): Seq[(Int, T)] =
    Seq(n, 4 * n, 4 * n, n).map(c => c -> leg(c))

  private def writeLast(file: String, md: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"BENCH/$file"), md)
    println(md)
  }

  private def build(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 400000L
    val n = if (args.length > 1) args(1).toInt else 4
    val mode = if (args.length > 2) args(2) else "cluster"
    val execMemMB = if (args.length > 3) args(3).toInt else 4096

    if (mode == "single" || mode == "threads-single") {
      val spark =
        if (mode == "threads-single") Bench.newSession(n)
        else {
          val (executors, cores) = clusterShape(n)
          Bench.newClusterSession(executors, cores, execMemMB)
        }
      // JIT/classloading warm-up: a small throwaway build, NOT measured —
      // without it the first measured run absorbs all compilation cost and
      // the N->4N ratio comes out dishonestly super-linear.
      val m = try {
        Bench.engineBench(spark, math.min(5000L, nDocs / 4))
        Bench.engineBench(spark, nDocs)
      } finally spark.stop()
      println(f"""{"metric":"single_leg","cores":$n,"docs_per_sec":${m("ix_build_docs_per_sec")}%.1f,"build_sec":${m("ix_build_sec")}%.2f,"p50_ms":${m("ix_query_p50_ms")}%.1f}""")
      return
    }

    val childMode = if (mode == "threads") "threads-single" else "single"
    val samples = abba(n) { c =>
      val line = runChild("single_leg",
        Seq("build", nDocs.toString, c.toString, childMode, execMemMB.toString))
      val r = Seq("docs_per_sec", "build_sec", "p50_ms").map(k => k -> field(line, k)).toMap
      System.err.println(s"[scaling] leg cores=$c -> ${r("docs_per_sec")} docs/s")
      r
    }
    def best(c: Int): Map[String, Double] =
      samples.filter(_._1 == c).map(_._2).maxBy(_("docs_per_sec"))
    val atN = best(n)
    val at4N = best(4 * n)
    val thrN = atN("docs_per_sec")
    val thr4N = at4N("docs_per_sec")
    val eff = (thr4N / thrN) / 4.0

    def jvms(c: Int): String = { val (e, k) = clusterShape(c); s"$e executor JVMs x $k cores" }
    val shape =
      if (mode == "cluster")
        s"local-cluster: ${jvms(n)} vs ${jvms(4 * n)}, fresh child driver JVM per leg, ABBA best-of-2"
      else s"local[$n] vs local[${4 * n}] threads, fresh child JVM per leg, ABBA best-of-2"

    writeLast("SCALING_LAST.md",
      f"""# BENCH/BASELINE — measured engine numbers
         |
         |Index build over the deterministic synthetic code corpus
         |(FIXTURES.md §1), identical input at both parallelism levels —
         |$shape — the sandbox proxy for N vs 4N executors (driver
         |instruction; BASELINE.md §2 scaling gate: efficiency >= 0.8).
         |
         || metric | $n cores (N) | ${4 * n} cores (4N) |
         ||---|---|---|
         || corpus docs | $nDocs | $nDocs |
         || index build sec | ${atN("build_sec")}%.2f | ${at4N("build_sec")}%.2f |
         || build docs/sec | $thrN%.1f | $thr4N%.1f |
         || query p50 ms (k=10) | ${atN("p50_ms")}%.1f | ${at4N("p50_ms")}%.1f |
         |
         |**Scaling efficiency N -> 4N: ${eff}%.3f** (gate: >= 0.8)
         |
         |All samples (ABBA order): ${samples.map { case (c, r) => f"$c%d:${r("docs_per_sec")}%.0f" }.mkString(", ")} docs/s.
         |
         |Queries: bench set of ${Bench.BenchQueries.length} (head/mid/tail df,
         |multi-term mm tiers, planted phrases) at k=10, warm index.
         |""".stripMargin)
    println(f"""{"metric":"scaling_efficiency","value":$eff%.4f,"unit":"ratio","thrN":$thrN%.1f,"thr4N":$thr4N%.1f,"nDocs":$nDocs,"mode":"$mode%s"}""")
  }

  private def query(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 400000L
    val n = if (args.length > 1) args(1).toInt else 8
    val batchSize = if (args.length > 2) args(2).toInt else 256

    // shared index, built once, untimed
    val root = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-qscale-tmp"
      else System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(root)
    val idxDir = java.nio.file.Files.createTempDirectory(root, "qscaleidx").toString
    locally {
      val spark = Bench.newSession(Bench.defaultCpus)
      try {
        import spark.implicits._
        val src = java.nio.file.Files.createTempDirectory(root, "qscalesrc").toString
        CodeCorpus.generate(spark, nDocs, nRepos = 100, partitions = 64)
          .write.mode("overwrite").parquet(src)
        IndexBuilder.build(spark, spark.read.parquet(src).as[graft.core.CodeDoc], idxDir,
          IndexConfig(buckets = 64, saltRange = 8192, shufflePartitions = 64,
            bucketDirs = true))
        import scala.reflect.io.Directory
        new Directory(new java.io.File(src)).deleteRecursively()
      } finally spark.stop()
    }

    val samples = abba(n) { c =>
      val q = field(runChild("qleg",
        Seq("query-leg", c.toString, idxDir, batchSize.toString)), "qps")
      System.err.println(s"[query-scaling] leg cores=$c -> $q q/s")
      q
    }
    def best(c: Int): Double = samples.filter(_._1 == c).map(_._2).max
    val thrN = best(n)
    val thr4N = best(4 * n)
    val eff = (thr4N / thrN) / 4.0
    writeLast("QUERY_SCALING_LAST.md",
      f"""# BENCH/QUERY_SCALING_LAST — batched distributed retrieval at N vs 4N cores
         |
         |searchMany (distributed kernel) over one shared $nDocs-doc index (saltRange
         |8192 ⇒ ~${nDocs / 8192} salt groups), batch of $batchSize two-term
         |queries, k=10; fresh child JVM per leg, ABBA best-of-2, per-leg
         |warm-up untimed, best-of-3 batch runs measured.
         |
         || metric | $n cores (N) | ${4 * n} cores (4N) |
         ||---|---|---|
         || batched throughput q/s | $thrN%.1f | $thr4N%.1f |
         |
         |**Scaling efficiency N -> 4N: $eff%.3f**
         |
         |All samples (ABBA): ${samples.map { case (c, q) => f"$c%d:$q%.1f" }.mkString(", ")} q/s.
         |""".stripMargin)
    println(f"""{"metric":"query_scaling_efficiency","value":$eff%.4f,"unit":"ratio","thrN":$thrN%.1f,"thr4N":$thr4N%.1f,"nDocs":$nDocs,"batch":$batchSize}""")
    import scala.reflect.io.Directory
    new Directory(new java.io.File(idxDir)).deleteRecursively()
  }

  /** One query leg in THIS process: local[cores], warm, best-of-3 batch runs.
    * SPARK_GRAFT_TIMING=1 adds the per-stage CPU/shuffle attribution table.
    */
  private def queryLegInProcess(cores: Int, idxDir: String, batchSize: Int): Unit = {
    val spark = Bench.newSession(cores)
    try {
      val words = Bench.BenchQueries.flatMap(_.split(" ")).distinct
      val batch = (0 until batchSize).map(i =>
        s"${words(i % words.size)} ${words((i * 7 + 3) % words.size)}")
      val s = new Searcher(spark, Seq(idxDir), SearchConfig(driverKernelMaxPostings = 0))
      s.searchMany(batch.take(8), 10) // warm: JIT + dict + norms
      s.searchMany(batch, 10) // warm: full batch once
      val sm = if (sys.env.get("SPARK_GRAFT_TIMING").contains("1"))
        Some(StageMetrics.install(spark)) else None
      val t = (1 to 3).map(_ => Bench.time(s.searchMany(batch, 10))._2).min
      sm.foreach(_.report(s"batch=$batchSize cores=$cores (3 timed runs)"))
      s.close()
      println(f"""{"metric":"qleg","cores":$cores,"qps":${batch.size / t}%.2f,"sec":$t%.3f}""")
    } finally spark.stop()
  }
}
