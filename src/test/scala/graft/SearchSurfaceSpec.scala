package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{SearchConfig, Searcher}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The search API's surface: every public `search*` entry point goes through
  * one router, and every `SearchConfig` field is a route bound that specs
  * force. The build's `IndexConfig` is pinned the same way, its ignored
  * `bucketDirs` included. A new overload or knob has to change this gate on
  * purpose.
  */
class SearchSurfaceSpec extends AnyFunSuite {

  test("Searcher has exactly the seven public search entry points") {
    val methods = classOf[Searcher].getMethods.toSeq
      .filter(m => m.getName.startsWith("search") && !m.getName.contains("$"))
      .map(m => s"${m.getName}(${m.getParameterTypes.map(_.getSimpleName).mkString(", ")})")
      .sorted
    assert(methods == Seq(
      "search(String, int, Seq, Option)",
      "search(String, int, Seq, Seq)",
      "searchDF(String, int, Seq, Option)",
      "searchDF(String, int, Seq, Seq)",
      "searchMany(Seq, int, Seq, Option)",
      "searchMany(Seq, int, Seq, Seq)",
      "searchManyDistributed(Seq, int, Seq, Option)"))
  }

  test("SearchConfig has exactly its three route bounds") {
    assert(SearchConfig().productElementNames.toSeq == Seq(
      "driverKernelMaxPostings", "dictionaryMaxDriverTerms", "dictionaryMaxCacheTerms"))
  }

  test("IndexConfig has exactly its six build knobs") {
    assert(IndexConfig().productElementNames.toSeq == Seq(
      "buckets", "blockSize", "saltRange", "shufflePartitions", "chunkDocs", "bucketDirs"))
  }

  test("IndexConfig.bucketDirs is ignored: both values leave the same file tree") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = spark.range(0, 200, 1, 4).as[Long].map(i => CodeCorpus.genDoc(i, 10))
    // relative paths, with the write job's UUID in part-file names masked
    def tree(dir: String): Seq[String] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString)
        .map(_.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>"))
        .toList.sorted
      finally walk.close()
    }
    val trees = Seq(true, false).map { bucketDirs =>
      val dir = java.nio.file.Files.createTempDirectory("graftsurfacetree").toString
      IndexBuilder.build(spark, docs, dir, IndexConfig(buckets = 8, blockSize = 64,
        saltRange = 128, shufflePartitions = 4, bucketDirs = bucketDirs))
      tree(dir)
    }
    assert(trees.head.exists(_.startsWith("postings/part-")))
    assert(trees.head == trees(1))
  }
}
