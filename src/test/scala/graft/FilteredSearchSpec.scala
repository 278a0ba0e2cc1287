package graft

import graft.core.Hit
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, QueryFilter}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Solr `q` + `fq` semantics (the reference consumer's dominant query shape:
  * every catalog search carries visibility/type filter queries): ranked
  * retrieval constrained to the filter's matching docs, with scores EXACTLY
  * as the unfiltered query would assign them (filters never contribute to
  * the score), and the top-k filled from matching docs only (never a
  * post-filtered underfill).
  *
  * The reference oracle for every gate is literal post-filtering: the full
  * unfiltered ranking (k = corpus size), intersected with
  * [[QueryFilter.matchingDocs]], first k taken. The engine must reproduce it
  * bit-for-bit on every strategy route — driver kernel and forced-distributed
  * flatMapGroups, the fq a DocSet in the kernel on both — with tombstones,
  * batched, and across segments.
  */
class FilteredSearchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val cfg: IndexConfig = IndexConfig(buckets = 16, blockSize = 64,
    saltRange = 400, shufflePartitions = 8)

  val nDocs = 1500

  lazy val tmp: String = {
    val d = java.nio.file.Files.createTempDirectory("graftfq").toString
    val docs = CodeCorpus.generate(spark, nDocs, nRepos = 20, partitions = 8)
    IndexBuilder.build(spark, docs, d, cfg)
    d
  }

  val queries: Seq[String] = Seq(
    "buffer",
    "lazy implicit",
    "binary search tree implementation",
    "def class import return val var match case")

  val fqs: Seq[String] = Seq(
    "lang:scala",
    "lang:scala OR lang:java",
    "NOT lang:md",
    "repo:repo-0003",
    "lang:c OR repo:repo-0001")

  private def allowed(dir: String, fq: String): Set[Long] = {
    import spark.implicits._
    QueryFilter.matchingDocs(spark, dir, fq)
      .select($"docId").as[Long].collect().toSet
  }

  /** The literal post-filter oracle over a searcher's own unfiltered
    * full ranking.
    */
  private def reference(s: Searcher, q: String, k: Int, ok: Set[Long]): Seq[Hit] =
    s.search(q, nDocs).filter(h => ok(h.docId)).take(k).toSeq

  test("fq == post-filtered full ranking on the driver route") {
    val s = new Searcher(spark, tmp)
    for (q <- queries; f <- fqs) {
      val ok = allowed(tmp, f)
      val got = s.search(q, 10, fq = Some(f))
      assert(got.toSeq == reference(s, q, 10, ok), s"q='$q' fq='$f'")
      assert(got.forall(h => ok(h.docId)), s"non-matching doc leaked: q='$q' fq='$f'")
    }
    s.close()
  }

  test("fq identical on the forced-distributed route") {
    val base = new Searcher(spark, tmp)
    val dist = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    // distributed routes cost a Spark job per (q, fq): two queries spanning
    // head-term and multi-term mm shapes x three fq grammar shapes keep the
    // route-identity gate while bounding suite wall time
    for (q <- queries.take(2); f <- fqs.take(3)) {
      val expect = base.search(q, 10, fq = Some(f)).toSeq
      assert(dist.search(q, 10, fq = Some(f)).toSeq == expect, s"dist q='$q' fq='$f'")
    }
    base.close(); dist.close()
  }

  test("fq matching nothing returns empty; fq fills k from matching docs only") {
    val s = new Searcher(spark, tmp)
    assert(s.search("buffer", 10, fq = Some("repo:no-such-repo")).isEmpty)
    // head term + a selective fq: 10 hits must still be returned when at
    // least 10 matching docs score (Solr fq never underfills the page)
    val ok = allowed(tmp, "lang:scala")
    val full = s.search("buffer", nDocs).filter(h => ok(h.docId))
    val got = s.search("buffer", 10, fq = Some("lang:scala"))
    assert(got.length == math.min(10, full.length))
    s.close()
  }

  test("fq combines with tombstones on both regimes") {
    val work = java.nio.file.Files.createTempDirectory("graftfqdel").toString
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(tmp), new java.io.File(work))
    graft.index.IndexOps.deleteByQueryInPlace(spark, work, "repo:repo-0001")
    val s = new Searcher(spark, work)
    // the tombstone and fq DocSets tested on executors
    val dist = new Searcher(spark, Seq(work), SearchConfig(driverKernelMaxPostings = 0))
    for (f <- Seq("lang:scala OR lang:java", "lang:c OR repo:repo-0001")) {
      val ok = allowed(work, f) // matchingDocs already excludes tombstones
      val expect = reference(s, "buffer", 10, ok)
      assert(s.search("buffer", 10, fq = Some(f)).toSeq == expect, s"driver fq='$f'")
      assert(dist.search("buffer", 10, fq = Some(f)).toSeq == expect, s"dist fq='$f'")
    }
    s.close(); dist.close()
  }

  test("fq resolution is cached: repeat fqs cost zero extra jobs") {
    val s = new Searcher(spark, tmp)
    s.search("buffer", 10, fq = Some("lang:scala"))
    val after = s.fqResolves.get()
    queries.foreach(q => s.search(q, 10, fq = Some("lang:scala")))
    s.searchMany(queries, 10, fq = Some("lang:scala"))
    assert(s.fqResolves.get() == after, "repeat fq must not re-resolve")
    s.close()
  }

  test("a new keyword fq resolves in one Spark job") {
    val f = Some("lang:java OR NOT repo:repo-0003")
    // a bound below the resident bound keeps the segment on per-term
    // fetches and docstats scans
    val probe = new Searcher(spark, tmp)
    val bound = probe.meta.residentBound
    probe.close()
    val s = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = bound - 1))
    assert(s.residentSegments.isEmpty)
    // runs, dictionary, norms and tombstones are cached by an unfiltered
    // query; what is left of the first filtered one is the fq resolution
    s.search("buffer", 10)
    var hits = Array.empty[Hit]
    val jobs = SparkJobs.count(spark, "graft-fq-one-job") { hits = s.search("buffer", 10, fq = f) }
    assert(jobs == 1, s"a new keyword fq ran $jobs Spark jobs")
    assert(s.fqResolves.get() == 1)
    val ok = allowed(tmp, f.get)
    assert(hits.toSeq == reference(s, "buffer", 10, ok))
    s.close()
  }

  test("a new keyword fq on a resident segment runs no job") {
    val f = Some("lang:java OR NOT repo:repo-0003")
    val s = new Searcher(spark, tmp)
    assert(s.residentSegments == Seq(0))
    // the first query loads the segment; the fq then runs over its rows
    s.search("buffer", 10)
    var hits = Array.empty[Hit]
    val jobs = SparkJobs.count(spark, "graft-fq-resident") { hits = s.search("buffer", 10, fq = f) }
    assert(jobs == 0, s"a new keyword fq ran $jobs Spark jobs on a resident segment")
    assert(s.fqResolves.get() == 1)
    assert(hits.toSeq == reference(s, "buffer", 10, allowed(tmp, f.get)))
    s.close()
  }

  test("batched retrieval honors fq on both batch shapes") {
    val s = new Searcher(spark, tmp)
    val f = Some("lang:scala OR lang:java")
    val perQuery = queries.map(q => s.search(q, 10, fq = f).toSeq)
    assert(s.searchMany(queries, 10, fq = f).map(_.toSeq) == perQuery, "searchMany")
    // the broadcast-norm executor job, forced by the driver kernel's bound
    val bcast = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    assert(bcast.searchMany(queries, 10, fq = f).map(_.toSeq) == perQuery,
      "broadcast-norm job")
    assert(bcast.driverRunFetches.get() == 0, "the forced batch collected runs to the driver")
    s.close(); bcast.close()
  }

  test("multi-fq conjunction == literal double post-filtering on every regime") {
    val s = new Searcher(spark, tmp)
    val pairs = Seq(
      ("lang:scala OR lang:java", "NOT lang:md"),
      ("lang:scala", "repo:repo-0003"),
      ("NOT lang:md", "lang:c OR repo:repo-0001"))
    for (q <- queries.take(2); (f1, f2) <- pairs) {
      val ok = allowed(tmp, f1).intersect(allowed(tmp, f2))
      val expect = reference(s, q, 10, ok)
      assert(s.search(q, 10, s.DefaultFields, Seq(f1, f2)).toSeq == expect,
        s"q='$q' fqs=[$f1, $f2]")
      // canonical composite key: order must not matter
      assert(s.search(q, 10, s.DefaultFields, Seq(f2, f1)).toSeq == expect,
        s"order-independence q='$q'")
    }
    // a NEW composite is one resolution of one conjunction, and runs no
    // Spark job on a resident segment
    assert(s.residentSegments == Seq(0))
    val before = s.fqResolves.get()
    val jobs = SparkJobs.count(spark, "graft-fq-composite") {
      s.search("buffer", 10, s.DefaultFields, Seq("lang:scala", "NOT lang:md"))
    }
    assert(s.fqResolves.get() == before + 1, "a composite is one resolution")
    assert(jobs == 0, s"a new composite ran $jobs Spark jobs on a resident segment")
    // empty component empties the conjunction
    assert(s.search("buffer", 10, s.DefaultFields,
      Seq("lang:scala", "repo:no-such-repo")).isEmpty)
    // batch shapes honor the conjunction
    val fseq = Seq("lang:scala", "NOT lang:md")
    val perQ = queries.map(q => s.search(q, 10, s.DefaultFields, fseq).toSeq)
    assert(s.searchMany(queries, 10, s.DefaultFields, fseq).map(_.toSeq) == perQ,
      "searchMany multi-fq")
    val dist = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    assert(dist.searchMany(queries, 10, dist.DefaultFields, fseq)
      .map(_.toSeq) == perQ, "distributed kernel multi-fq")
    dist.close()
    // segment-list plumbing (single segment: global == local ids)
    val m = new Searcher(spark, Seq(tmp))
    assert(queries.take(2).map(q =>
      m.search(q, 10, m.DefaultFields, fseq).toSeq) == perQ.take(2), "multi")
    m.close(); s.close()
  }

  test("multi-segment fq: per-segment evaluation equals the merged-index filter") {
    import spark.implicits._
    val segA = java.nio.file.Files.createTempDirectory("graftfqA").toString
    val segB = java.nio.file.Files.createTempDirectory("graftfqB").toString
    val a = spark.range(0, 900).as[Long].map(i => CodeCorpus.genDoc(i, 20))
    val b = spark.range(900, 1500).as[Long].map(i => CodeCorpus.genDoc(i, 20))
    IndexBuilder.build(spark, a, segA, cfg)
    IndexBuilder.build(spark, b, segB, cfg)
    val m = new Searcher(spark, Seq(segA, segB))
    // global allowed set: each segment's matching LOCAL ids re-based by its
    // offset — what a single merged index's filter would match
    def globalAllowed(f: String): Set[Long] =
      allowed(segA, f) ++ allowed(segB, f).map(_ + 900L) // segB offset = |segA|
    for (q <- queries.take(3); f <- Seq("lang:scala", "NOT lang:md", "repo:repo-0003")) {
      val ok = globalAllowed(f)
      val expect = m.search(q, nDocs).filter(h => ok(h.docId)).take(10).toSeq
      assert(m.search(q, 10, fq = Some(f)).toSeq == expect, s"multi q='$q' fq='$f'")
    }
    // forced routes + batch shape agree
    val f = Some("lang:scala OR lang:java")
    val expect = queries.map(q => m.search(q, 10, fq = f).toSeq)
    val m2 = new Searcher(spark, Seq(segA, segB), SearchConfig(driverKernelMaxPostings = 0))
    assert(queries.map(q => m2.search(q, 10, fq = f).toSeq) == expect, "multi dist")
    assert(m.searchMany(queries, 10, fq = f).map(_.toSeq) == expect,
      "multi batched")
    m.close(); m2.close()
  }
}
