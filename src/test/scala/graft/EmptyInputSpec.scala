package graft

import graft.core.CodeDoc
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMeta, IndexOps, Tombstones}
import graft.query.Searcher
import org.apache.spark.sql.{Dataset, Encoders}
import org.scalatest.funsuite.AnyFunSuite

/** Empty input is a segment with no documents, not an error: an empty
  * build, a compaction whose every document is deleted, and an upsert of
  * nothing each commit an index with `nDocs = 0` and average lengths 0 that
  * a searcher reads as empty.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cfg(bucketDirs: Boolean) = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 128, shufflePartitions = 4, bucketDirs = bucketDirs)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def noDocs: Dataset[CodeDoc] = spark.emptyDataset(Encoders.product[CodeDoc])

  private def docs(from: Long, n: Long): Dataset[CodeDoc] = {
    val s = spark
    import s.implicits._
    spark.range(from, from + n, 1, 4).as[Long].map(i => CodeCorpus.genDoc(i, 10))
  }

  private def assertEmpty(meta: IndexMeta, dir: String, what: String): Unit = {
    assert(meta.nDocs == 0, what)
    assert(meta.avgLen.values.forall(_ == 0.0), s"$what: ${meta.avgLen}")
    val s = new Searcher(spark, dir)
    assert(s.search("buffer", 10).isEmpty, what)
    assert(s.searchMany(Seq("buffer", "def class"), 10).forall(_.isEmpty), what)
    assert(s.searchDF("buffer", 10).count() == 0, what)
    s.close()
  }

  test("an empty build commits an empty segment, with and without bucket dirs") {
    Seq(true, false).foreach { bucketDirs =>
      val dir = tmp("graftemptybuild")
      assertEmpty(IndexBuilder.build(spark, noDocs, dir, cfg(bucketDirs)), dir,
        s"bucketDirs=$bucketDirs")
    }
  }

  test("compacting a fully deleted index gives an empty segment") {
    val dir = tmp("graftalldeleted")
    IndexBuilder.build(spark, docs(0, 120), dir, cfg(true))
    IndexOps.deleteByQueryInPlace(spark, dir, "*:*")
    assert(Tombstones.count(spark, dir) == 120)
    val out = tmp("graftalldeletedmerged")
    val merged = IndexOps.maintain(spark, dir, Nil, out, cfg(true))
    assert(merged.nonEmpty, "every document is deleted, so the policy compacts")
    assertEmpty(merged.get, out, "merged")
  }

  test("an upsert of nothing commits an empty delta and tombstones nothing") {
    val base = tmp("graftemptyupsertbase")
    IndexBuilder.build(spark, docs(0, 120), base, cfg(true))
    val before = new Searcher(spark, base)
    val expect = Seq("buffer", "def class return").map(q => before.search(q, 10).toSeq)
    val delta = tmp("graftemptyupsertdelta")
    assertEmpty(IndexOps.upsertDelta(spark, base, noDocs, delta, cfg(true)), delta, "delta")
    assert(Tombstones.count(spark, base) == 0)
    val both = new Searcher(spark, Seq(base, delta))
    assert(Seq("buffer", "def class return").map(q => both.search(q, 10).toSeq) == expect)
    // the empty delta folds away
    val out = tmp("graftemptyupsertmerged")
    val merged = IndexOps.maintain(spark, base, Seq(delta), out, cfg(true), maxDeltas = 0)
    assert(merged.map(_.nDocs).contains(120L))
    before.close(); both.close()
  }
}
