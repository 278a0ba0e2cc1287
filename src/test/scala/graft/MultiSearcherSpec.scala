package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMeta}
import graft.query.{SearchConfig, Searcher}
import org.scalatest.funsuite.AnyFunSuite

/** Multi-segment search must score EXACTLY like one merged index: same N,
  * df, avgLen, norms => same (document, score) ranking. Documents are
  * identified by content sha because docIds differ between layouts.
  */
class MultiSearcherSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfg: IndexConfig = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 256, shufflePartitions = 4)

  lazy val (combinedDir, segADir, segBDir) = {
    val all = CodeCorpus.generate(spark, 1200, nRepos = 15, partitions = 4)
    val a = spark.range(0, 600).as[Long].map(i => CodeCorpus.genDoc(i, 15))
    val b = spark.range(600, 1200).as[Long].map(i => CodeCorpus.genDoc(i, 15))
    val d1 = java.nio.file.Files.createTempDirectory("multiC").toString
    val d2 = java.nio.file.Files.createTempDirectory("multiA").toString
    val d3 = java.nio.file.Files.createTempDirectory("multiB").toString
    IndexBuilder.build(spark, all, d1, cfg)
    IndexBuilder.build(spark, a, d2, cfg)
    IndexBuilder.build(spark, b, d3, cfg)
    (d1, d2, d3)
  }

  private def shaOf(dir: String): Map[Long, String] =
    spark.read.parquet(s"$dir/docstats").select("docId", "sha")
      .as[(Long, String)].collect().toMap

  test("base + delta segments score identically to the merged index") {
    val single = new Searcher(spark, combinedDir)
    val multi = new Searcher(spark, Seq(segADir, segBDir))
    assert(multi.totalDocs == 1200)

    val combinedSha = shaOf(combinedDir)
    val shaA = shaOf(segADir)
    val shaB = shaOf(segBDir)
    def multiSha(globalId: Long): String = {
      val (dir, local) = multi.locate(globalId)
      if (dir == segADir) shaA(local) else shaB(local)
    }

    Seq(("buffer", 10), ("binary search tree implementation", 10),
      ("def class import return", 10), ("café", 10), ("buffer sort merge", 5))
      .foreach { case (q, k) =>
        val s = single.search(q, k).toSeq.map(h => (combinedSha(h.docId), h.score))
        val m = multi.search(q, k).toSeq.map(h => (multiSha(h.docId), h.score))
        // ties order by docId, and docId ASSIGNMENT differs between the
        // merged and segmented layouts: a tie group straddling the k cutoff
        // may legally admit different members. Exact checks that are
        // layout-independent: identical score sequences, and identical doc
        // sets strictly above the boundary score.
        assert(s.map(_._2) == m.map(_._2), s"[$q] score sequence")
        if (s.nonEmpty) {
          val boundary = s.last._2
          assert(s.filter(_._2 > boundary).map(_._1).toSet ==
            m.filter(_._2 > boundary).map(_._1).toSet, s"[$q] above-boundary docs")
        }
      }
  }

  test("global stats merge: N, avgLen, df") {
    val multi = new Searcher(spark, Seq(segADir, segBDir))
    val single = new Searcher(spark, combinedDir)
    assert(multi.totalDocs == single.meta.nDocs)
    multi.globalAvgLen.foreach { case (f, avg) =>
      assert(math.abs(avg - single.meta.avgLen(f)) < 1e-9, s"avgLen($f)")
    }
    assert(multi.globalDf(("content", "buffer")) ==
      single.dfOf(Set(("content", "buffer")))(("content", "buffer")))
  }

  test("global avgLen merge is exact: a merged index's length sum / N, bit for bit") {
    // pure arithmetic over IndexMeta pairs: each segment's avgLen is its
    // builder's sum / nDocs, so the merge must give (sumA + sumB) / N
    // exactly — summing avgLen · nDocs as doubles is off in the last bit
    // in some of these cases — and one segment must give back its own avgLen
    val rng = new scala.util.Random(20261017L)
    def meta(n: Long, sum: Long) = IndexMeta(n, Map("content" -> sum.toDouble / n), 8, 256, 64)
    var doubleSumOff = 0
    (1 to 20000).foreach { i =>
      val (nA, nB) = (1L + rng.nextInt(1000000), 1L + rng.nextInt(1000000))
      val (sumA, sumB) = ((rng.nextDouble() * nA * 5000).toLong, (rng.nextDouble() * nB * 5000).toLong)
      val (a, b) = (meta(nA, sumA), meta(nB, sumB))
      val exact = (sumA + sumB).toDouble / (nA + nB)
      assert(Searcher.mergeAvgLen(Seq(a, b))("content") == exact, s"case $i: two segments")
      assert(Searcher.mergeAvgLen(Seq(a))("content") == a.avgLen("content"), s"case $i: one segment")
      val doubleSum = (a.avgLen("content") * nA + b.avgLen("content") * nB) / (nA + nB)
      if (doubleSum != exact) doubleSumOff += 1
    }
    assert(doubleSumOff > 0, "no case where the double-sum merge is off: the spec has no teeth")
  }

  test("per-segment norms built once, reused across repeated queries") {
    val multi = new Searcher(spark, Seq(segADir, segBDir))
    val first = multi.search("buffer def class", 10)
    assert(first.nonEmpty)
    val buildsAfterFirst = multi.normBuilds.get()
    assert(buildsAfterFirst <= 2, "at most one norm build per segment")
    (1 to 3).foreach { _ =>
      val again = multi.search("buffer def class", 10)
      assert(again.toSeq == first.toSeq)
    }
    multi.search("import return val", 10)
    assert(multi.normBuilds.get() == buildsAfterFirst,
      "repeat/different queries must not re-collect docstats")
  }

  test("distributed strategies: identical hits, zero driver run collects") {
    val baseline = new Searcher(spark, Seq(segADir, segBDir))
    val queries = Seq("buffer", "def class import return", "buffer sort merge",
      "binary search tree implementation")
    val expected = queries.map(q => baseline.search(q, 10).toSeq)
    assert(baseline.driverRunFetches.get() > 0, "default path is driver-local here")

    // force the big-postings branch: every segment must route its runs through
    // flatMapGroups with broadcast norms — no posting run may reach the driver
    val dist = new Searcher(spark, Seq(segADir, segBDir), SearchConfig(driverKernelMaxPostings = 0))
    val gotDist = queries.map(q => dist.search(q, 10).toSeq)
    assert(gotDist == expected, "distributed-kernel hits differ")
    assert(dist.driverRunFetches.get() == 0,
      "forced-distributed path collected posting runs to the driver")
  }

  test("searchMany: batched results identical to per-query search, in order") {
    val multi = new Searcher(spark, Seq(segADir, segBDir))
    val batch = Seq("buffer", "def class import return", "buffer sort merge",
      "binary search tree implementation", "café", "buffer", "nosuchtermxyz")
    val batched = multi.searchMany(batch, 10)
    val oneByOne = batch.map(q => multi.search(q, 10))
    batched.zip(oneByOne).zip(batch).foreach { case ((b, s), q) =>
      assert(b.toSeq == s.toSeq, s"[$q]")
    }
    multi.close()
  }

  test("close() releases per-segment broadcasts; next generation rebuilds cleanly") {
    // generation 1: searcher over (A, B) builds norm + tombstone broadcasts
    val gen1 = new Searcher(spark, Seq(segADir, segBDir))
    val first = gen1.search("buffer def class", 10)
    assert(first.nonEmpty)
    assert(gen1.liveBroadcastCount > 0, "search must have created broadcasts")
    // segment swap: a long-lived service opens the next generation and closes
    // the old one — its whole broadcast inventory must drain (destroy()),
    // not accrete in the block manager for the JVM's lifetime
    val gen2 = new Searcher(spark, Seq(segADir, segBDir))
    gen1.close()
    assert(gen1.liveBroadcastCount == 0, "close must drain every broadcast")
    val again = gen2.search("buffer def class", 10)
    assert(again.toSeq == first.toSeq, "next generation answers identically")
    gen2.close()
    assert(gen2.liveBroadcastCount == 0)
  }

  test("searchDF: multisegment result rows carry correct per-segment identity") {
    val multi = new Searcher(spark, Seq(segADir, segBDir))
    val hits = multi.search("buffer", 10)
    val rows = multi.searchDF("buffer", 10).collect()
    assert(rows.length == hits.length)
    val shaA = shaOf(segADir)
    val shaB = shaOf(segBDir)
    rows.zip(hits).zipWithIndex.foreach { case ((r, h), i) =>
      assert(r.getAs[Int]("rank") == i + 1)
      assert(r.getAs[Long]("docId") == h.docId, "global id preserved")
      assert(r.getAs[Double]("score") == h.score)
      val (dir, local) = multi.locate(h.docId)
      val sha = if (dir == segADir) shaA(local) else shaB(local)
      assert(r.getAs[String]("sha") == sha, s"row $i resolves its SEGMENT's doc")
    }
    // with fq: rows must all satisfy the filter and mirror search(fq)
    val f = Some("lang:scala OR lang:java")
    val fHits = multi.search("buffer", 10, fq = f)
    val fRows = multi.searchDF("buffer", 10, fq = f).collect()
    assert(fRows.map(_.getAs[Long]("docId")).toSeq == fHits.map(_.docId).toSeq)
    assert(fRows.forall(r => Set("scala", "java")(r.getAs[String]("lang"))))
    // no-hit query: empty frame with the contract schema
    val empty = multi.searchDF("zzz_not_in_vocab_qq", 10)
    assert(empty.columns.toSeq ==
      Seq("rank", "docId", "score", "repo", "path", "commit", "lang", "sha"))
    assert(empty.count() == 0)
    multi.close()
  }

  test("mergeSegments: compaction without source == fresh build over survivors") {
    import graft.index.IndexOps
    // fresh copies of the two segments so tombstones don't leak to other tests
    val a = spark.range(0, 600).as[Long].map(i => CodeCorpus.genDoc(i, 15))
    val b = spark.range(600, 1200).as[Long].map(i => CodeCorpus.genDoc(i, 15))
    val dA = java.nio.file.Files.createTempDirectory("mergeA").toString
    val dB = java.nio.file.Files.createTempDirectory("mergeB").toString
    IndexBuilder.build(spark, a, dA, cfg)
    IndexBuilder.build(spark, b, dB, cfg)
    // tombstone 3 docs in A and 2 in B (by natural key)
    def keysOf(dir: String, ids: Seq[Long]) =
      spark.read.parquet(s"$dir/docstats")
        .filter(org.apache.spark.sql.functions.col("docId").isin(ids: _*))
        .select("repo", "path", "commit").as[(String, String, String)].collect().toSeq
    val delKeysA = keysOf(dA, Seq(5L, 100L, 599L))
    val delKeysB = keysOf(dB, Seq(0L, 300L))
    IndexOps.deleteInPlace(spark, dA, delKeysA)
    IndexOps.deleteInPlace(spark, dB, delKeysB)
    // the generation ordinal is embedded in the path (FileN); docIds are
    // sha-ranked per segment, so recover ordinals from the deleted keys
    val deletedOrdinals = (delKeysA ++ delKeysB)
      .map(_._2.replaceAll(".*File(\\d+)\\..*", "$1").toLong).toSet
    val deletedShas =
      (spark.read.parquet(s"$dA/docstats")
        .filter(org.apache.spark.sql.functions.col("docId").isin(5L, 100L, 599L)) unionByName
        spark.read.parquet(s"$dB/docstats")
          .filter(org.apache.spark.sql.functions.col("docId").isin(0L, 300L)))
        .select("sha").as[String].collect().toSet

    val merged = java.nio.file.Files.createTempDirectory("mergeOut").toString
    val meta = IndexOps.mergeSegments(spark, Seq(dA, dB), merged, cfg)
    assert(meta.nDocs == 1195)

    // docIds dense 0..1194, no tombstoned shas remain
    val ids = spark.read.parquet(s"$merged/docstats").select("docId").as[Long].collect().sorted
    assert(ids.head == 0 && ids.last == 1194 && ids.toSet.size == 1195)
    val mergedShas = spark.read.parquet(s"$merged/docstats").select("sha").as[String].collect().toSet
    assert(deletedShas.intersect(mergedShas).isEmpty)

    // fresh build over exactly the surviving corpus: identical stats + scores
    val survivors = spark.range(0, 1200).as[Long].map(i => CodeCorpus.genDoc(i, 15))
      .filter(d => !deletedOrdinals.contains(
        d.path.replaceAll(".*File(\\d+)\\..*", "$1").toLong))
    val freshDir = java.nio.file.Files.createTempDirectory("mergeFresh").toString
    val freshMeta = IndexBuilder.build(spark, survivors, freshDir, cfg)
    assert(freshMeta.nDocs == meta.nDocs)
    meta.avgLen.foreach { case (f, v) =>
      assert(math.abs(v - freshMeta.avgLen(f)) < 1e-9, s"avgLen($f)")
    }
    val mSha = shaOf(merged)
    val fSha = shaOf(freshDir)
    val mSearch = new Searcher(spark, merged)
    val fSearch = new Searcher(spark, freshDir)
    Seq(("buffer", 10), ("def class import return", 10), ("buffer sort merge", 5),
      ("binary search tree implementation", 10)).foreach { case (q, k) =>
      val m = mSearch.search(q, k).toSeq.map(h => (mSha(h.docId), h.score))
      val f = fSearch.search(q, k).toSeq.map(h => (fSha(h.docId), h.score))
      assert(m.map(_._2) == f.map(_._2), s"[$q] score sequence")
      if (f.nonEmpty) {
        val boundary = f.last._2
        assert(m.filter(_._2 > boundary).map(_._1).toSet ==
          f.filter(_._2 > boundary).map(_._1).toSet, s"[$q] above-boundary docs")
      }
    }
  }
}
