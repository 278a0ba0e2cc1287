package graft

import graft.core.{CodeDoc, Hit}
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMeta}
import graft.query.{SearchConfig, Searcher}
import org.scalatest.funsuite.AnyFunSuite

/** Resident segments: a non-empty segment whose resident bound
  * (postings bound nDocs × Σ avgLen, plus nDocs docstats rows) fits its
  * share of `driverKernelMaxPostings` loads its postings and docstats by
  * concurrent jobs on its first query and answers every later query with no
  * Spark job; any other segment keeps per-term fetches. Every route returns
  * the same hits.
  */
class ResidentSegmentSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val cfg: IndexConfig = IndexConfig(buckets = 8, blockSize = 64, saltRange = 128,
    shufflePartitions = 4)

  private def build(from: Long, n: Long): (String, IndexMeta) = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftresident").toString
    val docs = spark.range(from, from + n, 1, 4).as[Long].map(i => CodeCorpus.genDoc(i, 10))
    (dir, IndexBuilder.build(spark, docs, dir, cfg))
  }

  lazy val (segA, metaA) = build(0, 400)
  lazy val (segB, _) = build(400, 300)

  // every query brings terms no earlier one had
  val stream = Seq("buffer", "def class", "import return", "val var", "if else",
    "match case", "object trait", "extends override", "private public", "static void")

  private def answers(s: Searcher): Seq[Seq[Hit]] = stream.map(q => s.search(q, 10).toSeq)

  /** Jobs a resident segment without tombstones opens with: its postings
    * and docstats scans.
    */
  val OpenJobs = 2

  test("a resident segment answers a distinct-term stream with one postings job") {
    val resident = new Searcher(spark, segA)
    val perTerm = new Searcher(spark, Seq(segA),
      SearchConfig(driverKernelMaxPostings = metaA.residentBound - 1))
    assert(resident.residentSegments == Seq(0))
    assert(perTerm.residentSegments.isEmpty)
    val residentJobs = stream.zipWithIndex.map { case (q, i) =>
      SparkJobs.count(spark, s"graft-resident-$i")(resident.search(q, 10))
    }
    val perTermJobs = stream.zipWithIndex.map { case (q, i) =>
      SparkJobs.count(spark, s"graft-per-term-$i")(perTerm.search(q, 10))
    }
    assert(resident.driverRunFetches.get() == 1, "one load serves the whole stream")
    assert(perTerm.driverRunFetches.get() == stream.size, "each new term fetches")
    // the open's jobs are the whole stream's: dfs and norms come from the
    // loaded tables, not from dictionary and docstats collects
    assert(residentJobs.sum == OpenJobs, s"jobs per query: $residentJobs")
    assert(residentJobs.head == OpenJobs, s"jobs per query: $residentJobs")
    assert(perTermJobs.forall(_ >= 1), s"each new term fetches: $perTermJobs")
    resident.close(); perTerm.close()
  }

  test("resident hits are bit-identical to per-term fetches and the distributed kernel") {
    val resident = new Searcher(spark, segA)
    val perTerm = new Searcher(spark, Seq(segA),
      SearchConfig(driverKernelMaxPostings = metaA.residentBound - 1))
    val distributed = new Searcher(spark, Seq(segA), SearchConfig(driverKernelMaxPostings = 0))
    val expect = answers(distributed)
    assert(expect.count(_.nonEmpty) > stream.size / 2)
    assert(answers(resident) == expect)
    assert(answers(perTerm) == expect)
    // searchMany's prefetch is the same one load
    val batched = new Searcher(spark, segA)
    assert(batched.searchMany(stream, 10).map(_.toSeq) == expect)
    assert(batched.driverRunFetches.get() == 1)
    assert(distributed.driverRunFetches.get() == 0)
    Seq(resident, perTerm, distributed, batched).foreach(_.close())
  }

  test("a halved share below a segment's bound falls back to per-term fetches") {
    val bound = metaA.residentBound
    val alone = new Searcher(spark, Seq(segA), SearchConfig(driverKernelMaxPostings = bound))
    assert(alone.residentSegments == Seq(0), "the bound fits the whole budget")
    val pair = new Searcher(spark, Seq(segA, segB), SearchConfig(driverKernelMaxPostings = bound))
    assert(pair.residentSegments.isEmpty, "each segment's share is half the budget")
    val both = new Searcher(spark, Seq(segA, segB))
    assert(both.residentSegments == Seq(0, 1))
    val distributed =
      new Searcher(spark, Seq(segA, segB), SearchConfig(driverKernelMaxPostings = 0))
    val expect = answers(distributed)
    assert(answers(pair) == expect)
    assert(answers(both) == expect)
    assert(pair.driverRunFetches.get() >= stream.size, "per-term fetches")
    val fetched = pair.driverRunFetches.get()
    pair.search(stream.head, 10)
    assert(pair.driverRunFetches.get() == fetched, "a repeat term is cache-served")
    assert(both.driverRunFetches.get() == 2, "one load per resident segment")
    Seq(alone, pair, both, distributed).foreach(_.close())
  }

  test("an empty segment is never resident and never loads") {
    val empty = java.nio.file.Files.createTempDirectory("graftempty").toString
    val meta = IndexBuilder.build(spark, spark.emptyDataset[CodeDoc](
      org.apache.spark.sql.Encoders.product[CodeDoc]), empty, cfg)
    assert(meta.nDocs == 0)
    assert(meta.postingsBound == 0)
    val s = new Searcher(spark, Seq(segA, empty))
    assert(s.residentSegments == Seq(0))
    val alone = new Searcher(spark, segA)
    assert(answers(s) == answers(alone))
    assert(s.searchMany(stream, 10).map(_.toSeq) == answers(alone))
    assert(s.driverRunFetches.get() == 1, "only the non-empty segment loads")
    s.close(); alone.close()
  }

  test("pool threads run a query's jobs under the caller's job group") {
    // segment tasks run on a shared pool whose threads outlive any one
    // caller: warm it under another group, then a fresh two-segment
    // searcher's first query must be charged in full to its own group
    val warm = new Searcher(spark, Seq(segA, segB))
    SparkJobs.count(spark, "graft-pool-warm")(warm.search("buffer", 10))
    val fresh = new Searcher(spark, Seq(segA, segB))
    assert(fresh.residentSegments == Seq(0, 1))
    val (inGroup, all) = SparkJobs.countBoth(spark, "graft-pool-query")(fresh.search("buffer", 10))
    assert(inGroup == all, s"$inGroup of the query's $all jobs ran under its group")
    assert(inGroup == 2 * OpenJobs, "each segment opens with its own load")
    warm.close(); fresh.close()
  }
}
