package graft

import graft.core._
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import graft.oracle.ExactScorer
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      // the spark-submit extensions path — OpsSpec proves injected functions
      // resolve on fresh sessions without any register() call
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** End-to-end slice (SURVEY.md §7.3): generate corpus -> build index ->
  * query -> rank-identical to the exact oracle, plus the north-rule gates:
  * content sha256 integrity, resume-from-checkpoint, lineage rows.
  */
class EngineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val NDocs = 1500
  // small saltRange so the corpus spans multiple salt ranges in tests
  val cfg: IndexConfig = IndexConfig(buckets = 16, blockSize = 64,
    saltRange = 400, shufflePartitions = 8)

  lazy val tmp: String = java.nio.file.Files.createTempDirectory("graftidx").toString
  lazy val docs = CodeCorpus.generate(spark, NDocs, nRepos = 20, partitions = 8)
  lazy val meta = IndexBuilder.build(spark, docs, tmp, cfg)
  lazy val searcher = new Searcher(spark, tmp)

  lazy val oracleDocs: Seq[ExactScorer.OracleDoc] = {
    import spark.implicits._
    spark.read.parquet(s"$tmp/docstats")
      .select("docId", "repo", "path")
      .as[(Long, String, String)].collect()
      .map { case (id, repo, path) => (id, repo, path) }
      .toSeq.map { case (id, repo, path) =>
        // content reproduced deterministically via the corpus generator:
        // regenerate and key by (repo, path) which embeds the doc ordinal
        (id, repo, path)
      }
  }.map { case (id, repo, path) =>
    val i = path.replaceAll(".*File(\\d+)\\..*", "$1").toLong
    val d = CodeCorpus.genDoc(i, 20)
    assert(d.repo == repo && d.path == path, "regenerated doc must match")
    ExactScorer.OracleDoc(id, Map("content" -> d.content, "path" -> d.path, "repo" -> d.repo))
  }

  val queries = Seq(
    ("buffer", 10), // head term (planted in ~40% of docs)
    ("parse merge", 10), // 2 terms: both required
    ("binary search tree implementation", 10), // planted phrase, mm 4->3
    ("sort scan hash index query score", 10), // 6 terms -> mm 4
    ("def class import return val var match case", 10), // 8 terms -> mm 7
    ("café", 10), // unicode folding
    ("nonexistenttermxyz", 10), // absent term
    ("buffer nonexistenttermxyz", 5), // mm: 2 clauses, both required, one absent => empty
    ("red black tree rotation lock free queue", 20),
    ("buffer", 3), // tiny k on the head term => aggressive WAND pruning
    ("buffer sort", 3), // head+head, both required, tiny k
    ("parse", 1), // k=1 extreme
    ("implementation buffer", 10) // rare+head (pivot skipping exercised)
  )

  test("index builds with sane meta") {
    assert(meta.nDocs == NDocs)
    assert(meta.avgLen("content") > 50)
    assert(meta.avgLen("repo") == 1.0)
  }

  test("hot-term run cache: repeat query skips the Spark fetch, same results") {
    // a bound below the segment's postings bound keeps it non-resident (so
    // each new term fetches) while every query here still fits the driver
    // kernel
    val bound = meta.postingsBound - 1
    val fresh = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = bound))
    assert(fresh.residentSegments.isEmpty)
    val first = fresh.search("buffer binary search", 10)
    val fetchesAfterFirst = fresh.driverRunFetches.get()
    assert(fetchesAfterFirst >= 1)
    val second = fresh.search("buffer binary search", 10)
    assert(fresh.driverRunFetches.get() == fetchesAfterFirst, "repeat must be cache-served")
    assert(first.toSeq == second.toSeq)
    // overlapping query: only the NEW term (def) triggers one more fetch
    val third = fresh.search("buffer def", 10)
    assert(fresh.driverRunFetches.get() == fetchesAfterFirst + 1)
    assert(third.nonEmpty)
  }

  test("searchMany: one prefetch job, per-query results identical to search") {
    val fresh = new Searcher(spark, tmp)
    val batch = Seq("buffer", "binary search tree implementation",
      "def class import return", "café")
    val batched = fresh.searchMany(batch, 10)
    assert(fresh.driverRunFetches.get() == 1, "whole batch = one Spark fetch")
    val oneByOne = batch.map(q => searcher.search(q, 10))
    batched.zip(oneByOne).zip(batch).foreach { case ((b, s), q) =>
      assert(b.toSeq == s.toSeq, s"[$q]")
    }
  }

  test("probe-path dictionary (DictionaryMaxDriverTerms=0): identical answers, no full collect") {
    meta // force the index build: the searcher reads its snapshot on open
    // vocabulary must never reach the driver
    val forced = new Searcher(spark, Seq(tmp), SearchConfig(dictionaryMaxDriverTerms = 0))
    val queries = Seq("buffer", "binary search tree implementation",
      "def class import return", "parse merge", "nosuchtermxyz")
    queries.foreach { q =>
      val probed = forced.search(q, 10)
      val reference = searcher.search(q, 10)
      assert(probed.toSeq == reference.toSeq, s"[$q]")
    }
    val probesAfter = forced.dictProbes
    assert(probesAfter >= 1, "probe path must have issued pushed-filter jobs")
    // repeat queries resolve from the df cache — no new probe jobs
    queries.foreach(q => forced.search(q, 10))
    assert(forced.dictProbes == probesAfter, "repeat queries must not re-probe")
  }

  test("DictProbe cache is a bounded LRU: size capped, recent terms probe-free") {
    meta // force the index build
    val dict = new graft.query.DictProbe(spark, s"$tmp/dictionary",
      maxDriverTerms = 0, maxCacheTerms = 8)
    // probe 2x the bound's distinct terms, one at a time (absent terms cache
    // as df=0 — the negative-cache population)
    (1 to 16).foreach(i => dict.dfOf(Set(("content", s"lruterm$i"))))
    assert(dict.cacheSize <= 8, s"cache size ${dict.cacheSize} exceeds the bound")
    val probesAfter = dict.probes.get()
    // the 8 most recent terms are still cached: re-resolving issues no job
    (9 to 16).foreach(i => dict.dfOf(Set(("content", s"lruterm$i"))))
    assert(dict.probes.get() == probesAfter, "recent terms must stay probe-free")
    // an evicted early term re-probes (it really is LRU, not stop-inserting)
    dict.dfOf(Set(("content", "lruterm1")))
    assert(dict.probes.get() == probesAfter + 1, "evicted term must re-probe")
    // present terms still resolve correctly through the bounded cache
    val key = ("content", "buffer")
    assert(dict.dfOf(Set(key)).getOrElse(key, 0L) > 0)
  }

  test("DictProbe LRU stays correct under concurrent probes (searchMany regime)") {
    meta
    val dict = new graft.query.DictProbe(spark, s"$tmp/dictionary",
      maxDriverTerms = 0, maxCacheTerms = 64)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      // 64 threads race: a shared present term + per-thread absent terms —
      // present resolutions must never be lost to concurrent eviction, the
      // bound must hold, and nothing may deadlock with jobs issued in-probe
      val futures = (0 until 64).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val key = ("content", if (i % 3 == 0) "buffer" else s"lru_c_$i")
            dict.dfOf(Set(key)).getOrElse(key, 0L)
          }
        })
      }
      val results = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      results.zipWithIndex.foreach { case (df, i) =>
        if (i % 3 == 0) assert(df > 0, s"thread $i lost the present term's df")
        else assert(df == 0L, s"thread $i resolved a df for an absent term")
      }
      assert(dict.cacheSize <= 64, s"bound violated: ${dict.cacheSize}")
    } finally pool.shutdown()
  }

  test("per-row content sha256 integrity: docstats sha == sha256(source content)") {
    import spark.implicits._
    val stats = spark.read.parquet(s"$tmp/docstats").select("sha").as[String].collect().toSet
    val src = docs.map(d => java.security.MessageDigest.getInstance("SHA-256")
        .digest(d.content.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .collect().toSet
    assert(stats == src)
    assert(spark.read.parquet(s"$tmp/docstats").count() == NDocs)
  }

  test("docIds are dense 0..N-1") {
    import spark.implicits._
    val ids = spark.read.parquet(s"$tmp/docstats").select("docId").as[Long].collect().sorted
    assert(ids.head == 0 && ids.last == NDocs - 1 && ids.length == NDocs)
    assert(ids.toSet.size == NDocs)
  }

  test("rank identity: engine top-k == exact oracle (docIds AND scores)") {
    queries.foreach { case (q, k) =>
      val engine = searcher.search(q, k)
      val oracle = ExactScorer.topK(oracleDocs, q, k)
      assert(engine.length == oracle.length, s"[$q] hit count")
      engine.zip(oracle).zipWithIndex.foreach { case ((e, o), r) =>
        assert(e.docId == o.docId, s"[$q] rank $r docId: engine=$e oracle=$o")
        assert(e.score == o.score, s"[$q] rank $r score: engine=$e oracle=$o")
      }
    }
  }

  test("all three physical strategies are rank-identical") {
    // the default config runs the resident driver kernel here; each forced
    // config pins one other route: a bound just below the resident bound
    // (above any query's postings) keeps per-term fetches, 0 the
    // distributed kernel
    val fetched = new Searcher(spark, Seq(tmp),
      SearchConfig(driverKernelMaxPostings = meta.residentBound - 1))
    val grouped = new Searcher(spark, Seq(tmp), SearchConfig(driverKernelMaxPostings = 0))
    queries.foreach { case (q, k) =>
      val a = searcher.search(q, k).toSeq // resident driver kernel
      val b = fetched.search(q, k).toSeq // per-term fetch, driver kernel
      val c = grouped.search(q, k).toSeq // distributed grouped kernel
      assert(a == b, s"[$q] resident vs per-term fetch")
      assert(a == c, s"[$q] resident vs grouped-broadcast")
    }
    assert(searcher.residentSegments == Seq(0) && fetched.residentSegments.isEmpty)
    assert(searcher.driverRunFetches.get() > 0, "default config must use the driver kernel")
    assert(fetched.driverRunFetches.get() > 0, "per-term fetches collect runs to the driver")
    assert(grouped.driverRunFetches.get() == 0,
      "the forced distributed kernel must not collect runs to the driver")
    fetched.close(); grouped.close()
  }

  test("mm gates multi-term matches") {
    // 'buffer nonexistenttermxyz': 2 clauses => both required => no hits
    assert(searcher.search("buffer nonexistenttermxyz", 5).isEmpty)
  }

  test("field-scoped search (path:, repo:-style scoping)") {
    val hits = searcher.search("repo-0007", 5, fields = Seq("repo"))
    assert(hits.nonEmpty)
    val oracle = ExactScorer.topK(oracleDocs, "repo-0007", 5, fields = Seq("repo"))
    assert(hits.toSeq.map(_.docId) == oracle.toSeq.map(_.docId))
    assert(hits.toSeq.map(_.score) == oracle.toSeq.map(_.score))
  }

  test("planted phrase doc ranks first for its phrase") {
    val hits = searcher.search("binary search tree implementation", 3)
    assert(hits.nonEmpty)
    // doc 0 has i%997==0 and i%1009==0 and i%1013==0 (i=0) — all phrases planted
    // top hit must contain all four terms; verify via oracle agreement (above)
  }

  test("lineage rows recorded with per-partition metrics") {
    val lineage = spark.read.parquet(s"$tmp/lineage")
    assert(lineage.count() > 0)
    val cols = lineage.columns.toSet
    assert(Set("partitionId", "termLo", "termHi", "nRuns", "nPostings", "bytes", "segmentSha")
      .subsetOf(cols))
    import spark.implicits._
    val totPost = lineage.selectExpr("sum(nPostings)").as[Long].collect()(0)
    assert(totPost > 0)
  }

  test("resume: killed-after-docstats build completes identically") {
    val tmp2 = java.nio.file.Files.createTempDirectory("graftidx2").toString
    // simulate a kill: run only the docstats stage, then "crash"
    val snap2 = new Snapshot(tmp2)
    snap2.init()
    val partial = scala.util.Try {
      // build with a poisoned postings stage by marking dictionary undone etc.
      // Simplest honest simulation: full build, then delete postings+dictionary
      // stage markers and outputs, and rebuild — must reuse docstats untouched.
      IndexBuilder.build(spark, docs, tmp2, cfg)
    }
    assert(partial.isSuccess)
    val shaBefore = spark.read.parquet(s"$tmp2/lineage")
      .selectExpr("sum(nPostings) as p", "count(*) as c").collect()(0)
    // wipe postings artifacts, keep docstats => resume path
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$tmp2/postings")).deleteRecursively()
    new Directory(new java.io.File(s"$tmp2/dictionary")).deleteRecursively()
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$tmp2/_build/stage.postings.done"))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$tmp2/_build/stage.dictionary.done"))
    val meta2 = IndexBuilder.build(spark, docs, tmp2, cfg)
    assert(meta2.nDocs == NDocs)
    val shaAfter = spark.read.parquet(s"$tmp2/lineage")
      .selectExpr("sum(nPostings) as p", "count(*) as c").collect()(0)
    assert(shaBefore == shaAfter)
    // and the resumed index answers queries identically to the original
    val s2 = new Searcher(spark, tmp2)
    val a = searcher.search("binary search tree implementation", 10).toSeq
    val b = s2.search("binary search tree implementation", 10).toSeq
    assert(a == b)
  }

  test("a build that throws past its docIds stage leaves nothing persisted") {
    import spark.implicits._
    val few = spark.range(0, 20).as[Long].map(i => CodeCorpus.genDoc(i, 15))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keys.toSet
    val dir = java.nio.file.Files.createTempDirectory("graftthrow").toString
    // saltRange 0 divides by zero in the tokenize pass, after the docIds
    // stage has persisted the sorted corpus
    intercept[Exception](IndexBuilder.build(spark, few, dir, cfg.copy(saltRange = 0)))
    val left = sc.getPersistentRDDs.keys.toSet -- before
    assert(left.isEmpty, s"the failed build left RDDs $left persisted")
  }

  test("postings round-trip: recomputed df/cf match dictionary") {
    import spark.implicits._
    val fromRuns = spark.read.parquet(s"$tmp/postings")
      .groupBy("field", "term").agg(org.apache.spark.sql.functions.sum("df").as("df"))
    val dict = spark.read.parquet(s"$tmp/dictionary").select("field", "term", "df")
    assert(fromRuns.except(dict).count() == 0)
    assert(dict.except(fromRuns).count() == 0)
  }
}
