package graft

import graft.core.Hit
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Batched retrieval: searchMany must return EXACTLY what per-query search
  * returns — same docIds, same scores, same order — on every strategy route
  * (driver kernel, distributed flatMapGroups, mixed multi-segment), with
  * tombstones, for ONE Spark job per index (or per
  * segment) on the executor routes. The per-query reference is a default
  * searcher (the driver kernel on these small indexes); the batched side
  * forces its route by config. Plus the backpressure gate: concurrent
  * distributed queries never exceed the global cap.
  */
class BatchSearchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val cfg: IndexConfig = IndexConfig(buckets = 16, blockSize = 64,
    saltRange = 400, shufflePartitions = 8)

  lazy val tmp: String = {
    val d = java.nio.file.Files.createTempDirectory("graftbatch").toString
    val docs = CodeCorpus.generate(spark, 1500, nRepos = 20, partitions = 8)
    IndexBuilder.build(spark, docs, d, cfg)
    d
  }

  // a mixed batch: head terms, multi-term mm tiers, rare identifiers, a
  // no-hit query (must yield an empty slot, not shift the others), dupes
  lazy val batch: Seq[String] = Seq(
    "buffer",
    "lazy implicit",
    "binary search tree implementation",
    s"${CodeCorpus.Vocab(100)} ${CodeCorpus.Vocab(500)}",
    s"${CodeCorpus.Vocab(3000)} buffer",
    "zzz_not_in_vocab_qq",
    "def class import return val var match case",
    "buffer") // duplicate of the head query

  private def assertSame(a: Seq[Array[Hit]], b: Seq[Array[Hit]], label: String): Unit = {
    assert(a.length == b.length)
    a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x.toSeq == y.toSeq, s"$label: query $i (${batch(i)}) diverged")
    }
  }

  test("batched distributed == per-query search (broadcast route)") {
    val s = new Searcher(spark, tmp)
    val perQuery = batch.map(q => s.search(q, 10))
    // the broadcast-norm executor job, forced by the driver kernel's bound
    val d = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    val batched = d.searchMany(batch, 10)
    assert(d.driverRunFetches.get() == 0, "the forced batch collected runs to the driver")
    assertSame(batched, perQuery, "broadcast")
    assert(batched(5).isEmpty, "no-hit query must return an empty slot")
    assert(batched(0).toSeq == batched(7).toSeq, "duplicate queries must agree")
    s.close(); d.close()
  }

  test("batched distributed respects tombstones on both routes") {
    // fresh copy so the shared index stays pristine
    val work = java.nio.file.Files.createTempDirectory("graftbatchdel").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(tmp), new java.io.File(work))
    graft.index.IndexOps.deleteByQueryInPlace(spark, work, "repo:repo-0001")
    val ref = new Searcher(spark, work)
    val perQuery = batch.map(q => ref.search(q, 10))
    // the broadcast-norm executor job with a non-empty tombstone broadcast
    val bcast = new Searcher(spark, Seq(work), SearchConfig(driverKernelMaxPostings = 0))
    assertSame(bcast.searchMany(batch, 10), perQuery, "tombstone broadcast")
    assert(bcast.driverRunFetches.get() == 0, "the forced batch collected runs to the driver")
    ref.close(); bcast.close()
  }

  test("multi-segment batched == per-query search across mixed strategy routes") {
    import spark.implicits._
    val segA = java.nio.file.Files.createTempDirectory("graftbatchA").toString
    val segB = java.nio.file.Files.createTempDirectory("graftbatchB").toString
    val a = spark.range(0, 900).as[Long].map(i => CodeCorpus.genDoc(i, 20))
    val b = spark.range(900, 1500).as[Long].map(i => CodeCorpus.genDoc(i, 20))
    IndexBuilder.build(spark, a, segA, cfg)
    IndexBuilder.build(spark, b, segB, cfg)

    // route 1: everything driver-local
    val m1 = new Searcher(spark, Seq(segA, segB))
    val perQuery = batch.map(q => m1.search(q, 10))
    assertSame(m1.searchMany(batch, 10), perQuery, "multi driver")

    // route 2: forced distributed flatMapGroups per segment (ONE job per
    // segment for the whole batch — driverRunFetches must stay at zero)
    val m2 = new Searcher(spark, Seq(segA, segB), SearchConfig(driverKernelMaxPostings = 0))
    assertSame(m2.searchMany(batch, 10), perQuery, "multi distributed")
    assert(m2.driverRunFetches.get() == 0,
      "forced-distributed batch must not collect runs to the driver")

    m1.close(); m2.close()
  }

  test("batched retrieval job count is independent of batch size") {
    // the whole point of a batch: B queries on the distributed kernel cost
    // the SAME number of Spark jobs as one distributed query (AQE may stage
    // one action as >1 job, so gate the batch==single EQUALITY, not a
    // literal 1)
    val s = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    s.search(batch.head, 10) // warm dict/norms/tombstones (their one-off jobs)
    // warm the one-query call too (it plans under the query session, a
    // batch under the batch session) — the gate is MARGINAL job-count
    // equality, single vs batch
    s.searchMany(Seq(batch.head), 10)
    val single = SparkJobs.count(spark, "graft-gate-single") {
      s.searchMany(Seq(batch.head), 10)
    }
    val full = SparkJobs.count(spark, "graft-gate-batch") {
      s.searchMany(batch, 10)
    }
    assert(single >= 1, "distributed retrieval must launch at least one job")
    assert(full == single,
      s"batch of ${batch.size} used $full jobs; a single query used $single")
    // a resident segment serves the whole batch from driver memory
    val resident = new Searcher(spark, tmp)
    assert(resident.residentSegments == Seq(0))
    resident.search(batch.head, 10) // the one load
    val residentJobs = SparkJobs.count(spark, "graft-gate-resident") {
      resident.searchMany(batch, 10)
    }
    assert(residentJobs == 0, s"a resident batch ran $residentJobs Spark jobs")
    s.close(); resident.close()
  }

  test("concurrent distributed queries are capped by the global gate") {
    // every query launches a Spark job; 32 concurrent callers
    val s = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    Searcher.maxInFlightObserved.set(0)
    val queries = (0 until 32).map(i => batch(i % batch.size))
    val expected = batch.map(q => s.search(q, 10))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val got = try {
      queries.map(q => pool.submit(new java.util.concurrent.Callable[Array[Hit]] {
        def call(): Array[Hit] = s.search(q, 10)
      }))
        .map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    queries.zip(got).foreach { case (q, hits) =>
      assert(hits.toSeq == expected(batch.indexOf(q)).toSeq, s"gated result for '$q'")
    }
    val peak = Searcher.maxInFlightObserved.get()
    assert(peak >= 1 && peak <= Searcher.MaxConcurrentDistributedQueries,
      s"observed $peak concurrent distributed jobs, cap is " +
        s"${Searcher.MaxConcurrentDistributedQueries}")
  }

  test("a batch bounds its driver postings by the union of its terms") {
    // a bound that fits each query's postings but not the batch's union:
    // the batch scores on executors instead of collecting the union
    val probe = new Searcher(spark, tmp)
    val postings = batch.map { q =>
      val keys = graft.query.QueryPlan.clauses(q, probe.DefaultFields).flatMap(_.perField).toSet
      keys -> probe.dfOf(keys).values.sum
    }
    val bound = postings.map(_._2).max
    val union = probe.dfOf(postings.flatMap(_._1).toSet).values.sum
    assert(union > bound, s"the union's $union postings fit the bound $bound")
    assert(probe.meta.residentBound > bound)
    probe.close()
    val s = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = bound))
    assert(s.residentSegments.isEmpty)
    val batched = s.searchMany(batch, 10)
    assert(s.driverRunFetches.get() == 0, "the batch collected runs to the driver")
    assertSame(batched, batch.map(q => s.search(q, 10)), "bounded batch")
    assert(s.driverRunFetches.get() > 0, "each query alone fits the driver kernel")
    s.close()
  }

  test("the batch kernel keeps its floor of 4x defaultParallelism tasks") {
    // the throughput session floors the post-shuffle coalesce at 4x the
    // default parallelism (spark.sql.adaptive.coalescePartitions.minPartitionNum,
    // deprecated in Spark); without it AQE coalesces to one wave of
    // defaultParallelism tasks. An index with more salt groups than the
    // floor and a batch over its head terms lets the floor bind.
    val p = spark.sparkContext.defaultParallelism
    val d = java.nio.file.Files.createTempDirectory("graftbatchfloor").toString
    val meta = IndexBuilder.build(spark,
      CodeCorpus.generate(spark, 1600, nRepos = 20, partitions = 8), d, cfg.copy(saltRange = 25))
    val saltGroups = (meta.nDocs + meta.saltRange - 1) / meta.saltRange
    assert(saltGroups >= 4 * p, s"$saltGroups salt groups")
    val s = new Searcher(spark, Seq(d), SearchConfig(driverKernelMaxPostings = 0))
    val queries = CodeCorpus.Vocab.take(120).grouped(2).map(_.mkString(" ")).toSeq
    val tasks = SparkJobs.lastStageTasks(spark, "graft-batch-floor")(s.searchMany(queries, 10))
    assert(tasks >= 4 * p, s"the batch kernel stage ran $tasks tasks at parallelism $p")
    s.close()
  }

  test("multi-segment dictionary memory is budgeted globally") {
    import spark.implicits._
    // 6 segments; global budgets far below 6x the per-segment vocabulary
    val dirs = (0 until 6).map { g =>
      val d = java.nio.file.Files.createTempDirectory(s"graftbudget$g").toString
      val docs = spark.range(g * 100L, (g + 1) * 100L).as[Long]
        .map(i => CodeCorpus.genDoc(i, 10))
      IndexBuilder.build(spark, docs, d,
        IndexConfig(buckets = 8, blockSize = 64, saltRange = 400, shufflePartitions = 4))
      d
    }
    // force the probe path everywhere, with a global LRU budget split
    // 10/segment
    val m = new Searcher(spark, dirs,
      SearchConfig(dictionaryMaxDriverTerms = 0, dictionaryMaxCacheTerms = 60))
    val qs = Seq("buffer", "lazy implicit", "binary search tree implementation",
      "def class import return", s"${CodeCorpus.Vocab(100)} ${CodeCorpus.Vocab(500)}")
    val single = dirs.map(d => new Searcher(spark, d))
    qs.foreach { q =>
      m.search(q, 10) // answers gated below; here we exercise the caches
    }
    assert(m.residentDictEntries <= 60,
      s"resident dict entries ${m.residentDictEntries} exceed the global budget")
    // answers unchanged vs an unbudgeted searcher over the same segments
    val unbudgeted = new Searcher(spark, dirs)
    qs.foreach { q =>
      assert(m.search(q, 10).toSeq == unbudgeted.search(q, 10).toSeq,
        s"budgeted answers diverged for '$q'")
    }
    m.close(); unbudgeted.close(); single.foreach(_.close())
  }
}
