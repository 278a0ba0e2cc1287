package perfbench

import graft.core.{CodeDoc, Hit}
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.oracle.ExactScorer
import graft.query.{QueryPlan, Searcher}

import scala.collection.mutable

/** The read phase of `engine`. Set-up builds one query-serving index
  * (`bucketDirs`) over a seeded slice of the code corpus. In the phase a
  * fresh `Searcher` answers a fixed-count stream of interactive queries from
  * one client (Zipf popularity over a query pool, ~15% with an fq); a second
  * fresh `Searcher` answers the same stream again. Then come a fixed number
  * of back-to-back `searchManyDistributed` rounds: one batch of the whole
  * pool per filter (none and each fq), so every interactive answer is
  * compared with its bulk answer. The gated latency and throughput take, for
  * each stream entry and each batch, the faster of its repeats: a
  * neighbour's burst of load has to hit both to move them. The stream's terms fit the driver run
  * cache, so the driver kernel, dictionary and cache dominate; the batches
  * bypass that cache and run the executor kernel, shuffle and scheduler. No
  * index writes happen.
  */
object Serve {
  val Docs = 800
  val Repos = 40
  val K = 10
  val PoolSize = 30
  val PoolSeed = 20240601L
  val StreamLen = 40
  val StreamPasses = 2
  val FqShare = 0.15
  val BulkRounds = 2
  val SetupRepeats = 3
  val OracleSample = 2
  val Fqs = Seq("lang:scala", "lang:java OR lang:py", "NOT lang:md",
    "repo:repo-0003 OR repo:repo-0011")

  def cfg(cores: Int): IndexConfig =
    IndexConfig(buckets = 16, saltRange = 512, shufflePartitions = cores, bucketDirs = true)

  def offset(seed: Long): Long = seed * Docs

  private def same(a: Array[Hit], b: Array[Hit]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x.docId == y.docId && x.score == y.score }

  /** `opMs`: summed op time of the phase. */
  final case class Out(result: WorkloadResult, index: String, src: String, opMs: Double)

  def run(ctx: Ctx): Out = {
    import ctx._
    val mismatches = mutable.ArrayBuffer.empty[String]

    // ---- set-up, repeated: corpus table + index build ----
    var index = ""
    var src = ""
    val buildS = mutable.ArrayBuffer.empty[Double]
    var buildStages = Map.empty[String, Double]
    val setupS = rec.phase("setup") {
      (0 until SetupRepeats).map { i =>
        import spark.implicits._
        val t0 = System.nanoTime()
        val table = dir(s"engine/src$i")
        val idx = dir(s"engine/index$i")
        spark.range(offset(seed), offset(seed) + Docs, 1, cores * 2).as[Long]
          .map(j => CodeCorpus.genDoc(j, Repos)).write.mode("overwrite").parquet(table)
        val b0 = System.currentTimeMillis()
        buildS += Stats.time(
          IndexBuilder.build(spark, spark.read.parquet(table).as[CodeDoc], idx, cfg(cores)))._2 / 1000
        buildStages = Ingest.stageTimes(idx, b0)
        val s = Stats.secondsSince(t0)
        Console.err.println(f"[perfbench] setup $i: $s%.2f s")
        if (index.nonEmpty) { Files.delete(index); Files.delete(src) }
        index = idx
        src = table
        s
      }
    }
    rec.sampleHeap()

    // one pool for every seed; the seed deals the stream and the batches
    // from it, so each run sees the same query multiset in its own order
    val rng = new java.util.Random(seed)
    val pool = Queries.pool(new java.util.Random(PoolSeed), PoolSize)
    val stream = Queries.stream(rng, pool, StreamLen, FqShare, Fqs)

    // ---- timed window ----
    val answers = mutable.LinkedHashMap.empty[(String, Option[String]), Array[Hit]]
    val lat = mutable.ArrayBuffer.empty[Double]
    val latFq = mutable.ArrayBuffer.empty[Double]
    val streamSpans = mutable.ArrayBuffer.empty[Long]
    // per stream entry / per filter: the times of its successful repeats
    val entryMs = Array.fill(stream.size)(mutable.ArrayBuffer.empty[Double])
    val filterMs = mutable.LinkedHashMap.empty[Option[String], mutable.ArrayBuffer[Double]]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    val batchSpans = mutable.ArrayBuffer.empty[Long]
    val bulkChecked = mutable.HashSet.empty[(String, Option[String])]
    var searcher: Searcher = null
    val window0 = System.nanoTime()
    val ms0 = rec.opMs
    rec.phase("window") {
      (0 until StreamPasses).foreach { pass =>
        if (searcher != null) searcher.close()
        searcher = new Searcher(spark, index)
        stream.zipWithIndex.foreach { case ((q, fq), i) =>
          val t = rec.op("query", "q" -> q, "fq" -> fq.getOrElse(""), "pass" -> pass) {
            searcher.search(q, K, fq = fq)
          }
          t.value.foreach { hits =>
            lat += t.ms
            entryMs(i) += t.ms
            if (fq.isDefined) latFq += t.ms
            streamSpans += t.span
            answers.get((q, fq)) match {
              case Some(prev) if !same(prev, hits) => mismatches += s"engine: repeated query [$q | $fq] changed its answer"
              case Some(_) =>
              case None => answers((q, fq)) = hits
            }
          }
        }
      }
      (0 until BulkRounds).foreach { _ =>
        (None +: Fqs.map(Some(_))).foreach { fq =>
          val qs = Queries.shuffled(rng, pool)
          val t = rec.op("bulk", "queries" -> qs.size, "fq" -> fq.getOrElse("")) {
            searcher.searchManyDistributed(qs, K, fq = fq)
          }
          t.value.foreach { res =>
            batchMs += t.ms
            filterMs.getOrElseUpdate(fq, mutable.ArrayBuffer.empty) += t.ms
            batchSpans += t.span
            qs.zip(res).foreach { case (q, hits) =>
              answers.get((q, fq)).foreach { a =>
                if (!same(a, hits)) mismatches += s"engine: [$q | $fq] bulk answer differs from the interactive one"
              }
              bulkChecked += ((q, fq))
            }
          }
        }
      }
    }
    val windowS = Stats.secondsSince(window0)
    rec.sampleHeap()

    // ---- traced extras, outside the window ----
    val layers = mutable.LinkedHashMap.empty[String, Double]
    rec.tracer.foreach { tr =>
      tr.drain()
      val byOp = tr.jobsByOp()
      val streamJobs = streamSpans.map(s => byOp.getOrElse(s, Nil))
      val cached = lat.indices.filter(i => streamJobs(i).isEmpty)
      val fetched = lat.indices.filter(i => streamJobs(i).nonEmpty)
      val bulkJobs = batchSpans.map(s => byOp.getOrElse(s, Nil))
      layers ++= Seq(
        "query.cached_share" -> cached.size.toDouble / math.max(1, lat.size),
        "query.cached_p50_ms" -> Stats.median(cached.map(lat)),
        "query.fetch_p50_ms" -> Stats.median(fetched.map(lat)),
        "query.fetch_job_ms" -> Stats.median(fetched.flatMap(i => streamJobs(i)).map(tr.jobMs)),
        "query.fq_p50_ms" -> Stats.median(latFq),
        "query.input_kb_per_query" ->
          streamJobs.map(tr.inputBytes).sum / 1024.0 / math.max(1, lat.size),
        "query.bulk_batch_s" -> Stats.median(batchMs) / 1000,
        "query.bulk_kernel_cpu_s" -> Stats.median(bulkJobs.map(tr.cpuSeconds)),
        "query.bulk_task_skew" -> tr.taskSkew(bulkJobs.flatten.toSeq, cores),
        "query.bulk_shuffle_mb" -> Stats.median(bulkJobs.map(tr.shuffleMb)))
      // dictionary probe on its own fresh searcher: the timed one is untouched
      val probe = new Searcher(spark, index)
      val probeMs = pool.take(20).map { q =>
        val keys = QueryPlan.clauses(q, probe.DefaultFields).flatMap(_.perField.toSeq).toSet
        Stats.time(probe.dfOf(keys))._2
      }
      probe.close()
      layers("query.dict_probe_ms") = Stats.median(probeMs)
    }

    // ---- correctness, outside the window ----
    rec.phase("check") {
      val unchecked = answers.keys.count(k => !bulkChecked(k))
      if (unchecked > 0) mismatches += s"engine: $unchecked interactive answers had no bulk answer to match"
      mismatches ++= oracleCheck(ctx, index, answers)
    }
    searcher.close()

    val best = entryMs.filter(_.nonEmpty).map(_.min)
    val bulkQps = filterMs.size * pool.size / (filterMs.values.map(_.min).sum / 1000)
    val p50 = Stats.median(lat)
    Out(WorkloadResult(
      e2e = Map(
        "setup_s" -> Stats.median(setupS),
        "op_mean_ms" -> best.sum / best.size,
        "items_per_s" -> bulkQps),
      report = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("build_docs_per_s", Docs / Stats.median(buildS), "docs/s"),
        ("query_p50_ms", p50, "ms"),
        ("query_p90_ms", Stats.quantile(lat, 0.9), "ms"),
        ("query_p99_ms", Stats.quantile(lat, 0.99), "ms"),
        ("query_samples", lat.size.toDouble, "count"),
        ("query_qps", lat.size / (lat.sum / 1000), "1/s"),
        ("bulk_qps", bulkQps, "1/s"),
        ("read_window_s", windowS, "s")),
      layers = (layers ++ buildStages).toMap,
      mismatches = mismatches.toSeq), index, src, rec.opMs - ms0)
  }

  /** A seeded sample of answered queries, fq ones included, must be
    * rank-identical (docIds and exact scores) to the brute-force scorer over
    * the regenerated corpus. The fq is applied to the oracle's full ranking
    * by evaluating the filter on the raw docs.
    */
  private def oracleCheck(ctx: Ctx, index: String,
                          answers: collection.Map[(String, Option[String]), Array[Hit]]): Seq[String] = {
    import ctx.spark.implicits._
    val docs = ctx.spark.read.parquet(s"$index/docstats")
      .select("docId", "path").as[(Long, String)].collect()
      .map { case (id, path) =>
        val d = CodeCorpus.genDoc(path.replaceAll(".*File(\\d+)\\..*", "$1").toLong, Repos)
        (ExactScorer.OracleDoc(id, Map("content" -> d.content, "path" -> d.path, "repo" -> d.repo)), d)
      }.toSeq
    val rng = new java.util.Random(ctx.seed * 31 + 7)
    val keys = answers.keys.toIndexedSeq
    val withFq = keys.filter(_._2.isDefined)
    val sample = withFq.take(1) ++ Seq.fill(OracleSample)(keys(rng.nextInt(keys.size)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      sample.distinct.map { case key @ (q, fq) =>
        pool.submit(() => {
          val expect = fq match {
            case None => ExactScorer.topK(docs.map(_._1), q, K)
            case Some(f) =>
              val allowed = docs.filter(d => fqMatches(f, d._2)).map(_._1.docId).toSet
              ExactScorer.topK(docs.map(_._1), q, docs.size).filter(h => allowed(h.docId)).take(K)
          }
          if (same(expect, answers(key))) None
          else Some(s"engine: [$q | $fq] differs from ExactScorer")
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** The fq forms the stream issues: OR of `[NOT] lang:v` / `[NOT] repo:v`. */
  def fqMatches(fq: String, d: CodeDoc): Boolean =
    fq.split(" OR ").exists { c =>
      val neg = c.startsWith("NOT ")
      val Array(f, v) = c.stripPrefix("NOT ").split(":", 2)
      val hit = if (f == "lang") d.lang == v else d.repo == v
      hit != neg
    }
}
