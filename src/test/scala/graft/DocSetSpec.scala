package graft

import graft.corpus.CodeCorpus
import graft.index.{DocSet, IndexBuilder, IndexConfig, QueryFilter, Tombstones}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Deletes and filters are one doc-set type, [[DocSet]]: on every route a
  * segment's tombstones and each resolved fq ride the kernel's exclusion
  * predicate as Roaring bitmaps of its local docIds. The reference is
  * literal post-filtering of the full unfiltered ranking with
  * [[QueryFilter.matchingDocs]] (an anti-join of the tombstones), which
  * builds no DocSet.
  */
class DocSetSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  val cfg: IndexConfig = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 200, shufflePartitions = 4)

  /** Two segments (dir, nDocs), each with every local docId not divisible
    * by 3 deleted: two thirds of its docs.
    */
  lazy val segments: Seq[(String, Long)] = Seq((0L, 700L), (700L, 1100L)).map { case (lo, hi) =>
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftdocset").toString
    IndexBuilder.build(spark, spark.range(lo, hi).as[Long].map(i => CodeCorpus.genDoc(i, 15)),
      dir, cfg)
    Tombstones.commitDeletes(spark, dir, (0L until hi - lo).filter(_ % 3 != 0))
    (dir, hi - lo)
  }

  test("DocSet.collect builds per partition and equals DocSet.of; ranks agree") {
    val s = spark
    import s.implicits._
    val ids = (0L until 200000L by 3) ++ (500000L until 501000L)
    val df = ids.toDF("docId").repartition(5)
    val set = DocSet.collect(df)
    assert(set.toArray.toSeq == DocSet.of(ids.iterator).toArray.toSeq)
    assert(set.toArray.toSeq == ids.map(_.toInt))
    assert(DocSet.collect(df.limit(0)).isEmpty)
    // the merge's rank view agrees with the set's own rank across containers
    val ranked = graft.index.IndexOps.rankable(set)
    assert((0 until 520000 by 997).forall(x => ranked.rankLong(x) == set.rankLong(x)))
  }

  test("tombstones load as a DocSet of the deleted local docIds") {
    segments.foreach { case (dir, n) =>
      val set = Tombstones.docSet(spark, dir)
      assert(set.getLongCardinality == (0L until n).count(_ % 3 != 0))
      assert((0 until n.toInt).forall(i => set.contains(i) == (i % 3 != 0)), dir)
    }
  }

  test("all-docs and postings fqs with a majority delete: DocSets hit-identical on every route") {
    val s = spark
    import s.implicits._
    val queries = Seq("buffer", "lazy implicit", "def class import return",
      "if else match case")
    for (segs <- Seq(segments.take(1), segments)) {
      val dirs = segs.map(_._1)
      val driver = new Searcher(spark, dirs)
      val dist = new Searcher(spark, dirs, SearchConfig(driverKernelMaxPostings = 0))
      val offsets = segs.scanLeft(0L)(_ + _._2)
      val full = queries.map(q => driver.search(q, offsets.last.toInt))
      val unfiltered = full.map(_.take(10).toSeq)
      assert(unfiltered.forall(_.nonEmpty), "every query must score some survivor")
      // the last fq reads postings: a DocSet scan job on every segment
      for (fq <- Seq(None, Some("*:*"), Some("content:*"), Some("NOT content:lazy"))) {
        val ctx = s"segments=${dirs.size} fq=$fq"
        val expect = fq.fold(unfiltered) { f =>
          // each segment's matching local ids, re-based by its offset
          val ok = dirs.zip(offsets).flatMap { case (dir, off) =>
            QueryFilter.matchingDocs(spark, dir, f).select($"docId").as[Long].collect()
              .map(_ + off)
          }.toSet
          full.map(_.filter(h => ok(h.docId)).take(10).toSeq)
        }
        // an fq matching every doc filters nothing
        if (!fq.exists(_.startsWith("NOT"))) assert(expect == unfiltered, ctx)
        assert(queries.map(q => driver.search(q, 10, fq = fq).toSeq) == expect, s"driver $ctx")
        assert(queries.map(q => dist.search(q, 10, fq = fq).toSeq) == expect, s"dist $ctx")
        assert(dist.searchMany(queries, 10, fq = fq).map(_.toSeq) == expect, s"dist batch $ctx")
      }
      // no deleted doc reaches a result
      for (q <- queries; h <- driver.search(q, 1000)) {
        val (_, local) = driver.locate(h.docId)
        assert(local % 3 == 0, s"deleted doc $local of a segment scored for '$q'")
      }
      // each route resolved the three fqs on every segment to a DocSet
      assert(driver.fqResolves.get() == 3 * dirs.size)
      assert(dist.fqResolves.get() == 3 * dirs.size)
      assert(driver.residentSegments == dirs.indices, "the default searcher is resident")
      assert(dist.driverRunFetches.get() == 0, "the forced kernel collected runs to the driver")
      driver.close(); dist.close()
    }
  }
}
