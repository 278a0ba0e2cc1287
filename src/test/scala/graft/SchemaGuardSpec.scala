package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexOps, Tombstones}
import graft.query.{SearchConfig, Searcher}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The searcher, the builder and the tombstone reader read docstats,
  * postings, dictionary and tombstones with known schemas instead of
  * inferring them (one job per table). A known schema that drifts from the
  * files reads nulls silently, so every writer's output is checked against
  * the schemas the readers pass, and against the flat postings layout every
  * writer leaves. Segments that earlier versions wrote under `bucket=N`
  * directories must still read, alone and beside flat segments.
  */
class SchemaGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 128, shufflePartitions = 4)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(from: Long, n: Long) = {
    val s = spark
    import s.implicits._
    spark.range(from, from + n, 1, 4).as[Long].map(i => CodeCorpus.genDoc(i, 10))
  }

  private def walk[T](dir: java.nio.file.Path)(f: Iterator[java.nio.file.Path] => T): T = {
    val paths = java.nio.file.Files.walk(dir)
    try f(paths.iterator().asScala) finally paths.close()
  }

  /** Flat postings: at most one file per shuffle partition, no partition
    * directory.
    */
  private def assertFlatPostings(indexDir: String, what: String): Unit = {
    val postings = java.nio.file.Paths.get(indexDir, "postings")
    val files = walk(postings)(_.filter(_.getFileName.toString.endsWith(".parquet")).toList)
    assert(files.nonEmpty && files.size <= cfg.shufflePartitions, s"$what postings: $files")
    assert(files.forall(_.getParent == postings), s"$what postings: $files")
  }

  /** Rewrite a segment's postings under `bucket=N` directories, the layout
    * earlier versions wrote with `bucketDirs = true`.
    */
  private def toBucketDirs(indexDir: String): Unit = {
    val postings = java.nio.file.Paths.get(indexDir, "postings")
    val flat = java.nio.file.Paths.get(indexDir, "postings-flat")
    java.nio.file.Files.move(postings, flat)
    spark.read.schema(IndexBuilder.PostingsSchema).parquet(flat.toString)
      .sortWithinPartitions("bucket", "term")
      .write.partitionBy("bucket").parquet(postings.toString)
    walk(flat)(_.toList.reverse.foreach(java.nio.file.Files.delete))
  }

  /** Name -> type, nullability dropped: file reads are nullable anyway. */
  private def byName(schema: StructType): Map[String, DataType] = {
    def strip(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f => StructField(f.name, strip(f.dataType))))
      case a: ArrayType => ArrayType(strip(a.elementType), containsNull = true)
      case m: MapType => MapType(strip(m.keyType), strip(m.valueType), valueContainsNull = true)
      case other => other
    }
    schema.fields.map(f => f.name -> strip(f.dataType)).toMap
  }

  private def assertKnownSchemas(indexDir: String, what: String): Unit =
    Seq("docstats" -> IndexBuilder.DocStatsSchema, "postings" -> IndexBuilder.PostingsSchema,
        "dictionary" -> IndexBuilder.DictionarySchema).foreach { case (table, known) =>
      val inferred = spark.read.parquet(s"$indexDir/$table").schema
      assert(byName(known) == byName(inferred), s"$what $table: inferred $inferred")
    }

  private def assertTombstoneSchema(indexDir: String, what: String): Unit = {
    val files = Tombstones.files(indexDir)
    assert(files.nonEmpty, s"$what committed no tombstone file")
    files.foreach { f =>
      val inferred = spark.read.parquet(f).schema
      assert(byName(Tombstones.Schema) == byName(inferred), s"$what $f: inferred $inferred")
    }
  }

  test("known schemas match every writer's files by name and type") {
    val base = tmp("graftschema")
    IndexBuilder.build(spark, docs(0, 300), base, cfg)
    val delta = tmp("graftschemadelta")
    IndexOps.upsertDelta(spark, base, docs(250, 100), delta, cfg)
    assertTombstoneSchema(base, "upsertDelta")
    val s = spark
    import s.implicits._
    val victims = spark.read.parquet(s"$delta/docstats")
      .select($"repo", $"path", $"commit").as[(String, String, String)].take(3)
    IndexOps.deleteInPlace(spark, delta, victims.toSeq)
    assertTombstoneSchema(delta, "deleteInPlace")
    val merged = tmp("graftschemamerged")
    assert(IndexOps.maintain(spark, base, Seq(delta), merged, cfg, maxDeltas = 0).nonEmpty)
    val src = tmp("graftschemasrc")
    val out = tmp("graftschemastream")
    docs(1000, 100).write.mode("overwrite").parquet(src)
    StreamingIngest.ingestStream(spark, src, out, cfg).awaitTermination()
    val streamed = StreamingIngest.committedDeltas(out)
    assert(streamed.nonEmpty)
    (Seq(base -> "build", delta -> "upsertDelta delta", merged -> "maintain output") ++
      streamed.map(_ -> "streaming delta")).foreach { case (dir, what) =>
      assertKnownSchemas(dir, what)
      assertFlatPostings(dir, what)
    }
  }

  test("a segment with bucket=N postings reads like a flat one, alone and beside a flat delta") {
    val dir = tmp("graftschemabucketed")
    val meta = IndexBuilder.build(spark, docs(0, 300), dir, cfg)
    val queries = Seq("buffer", "def class return", "binary search tree")
    val fq = Some("NOT lang:md")
    def answers(s: Searcher) =
      queries.map(q => (s.search(q, 10).toSeq, s.search(q, 10, fq = fq).toSeq))
    val flat = new Searcher(spark, dir)
    val expect = answers(flat)
    assert(expect.forall(_._1.nonEmpty))
    flat.close()
    toBucketDirs(dir)
    val dirs = walk(java.nio.file.Paths.get(dir, "postings"))(
      _.map(_.getFileName.toString).filter(_.startsWith("bucket=")).toList)
    assert(dirs.size == cfg.buckets, s"bucket dirs: $dirs")

    // every route: resident, per-term fetch, distributed
    val routes = Seq(SearchConfig(), SearchConfig(driverKernelMaxPostings = meta.postingsBound - 1),
      SearchConfig(driverKernelMaxPostings = 0))
    routes.foreach { c =>
      val s = new Searcher(spark, Seq(dir), c)
      try assert(answers(s) == expect, s"bucket=N layout, $c") finally s.close()
    }
    // a per-term fetch lists only its terms' bucket directories
    val fetcher = new Searcher(spark, Seq(dir), routes(1))
    assert(fetcher.residentSegments.isEmpty)
    val terms = Seq("buffer", "binary", "search")
    val buckets = terms.map(IndexBuilder.bucketOf(_, cfg.buckets)).distinct
    assert(buckets.size < cfg.buckets)
    val fetch = fetcher.termFetch(0, terms.map("content" -> _).toSet)
    assert(fetch.collect().map(_.term).toSet == terms.toSet)
    val scan = fetch.queryExecution.executedPlan.collect { case f: FileSourceScanExec => f }
    assert(scan.size == 1 && scan.head.metrics("numPartitions").value == buckets.size)
    fetcher.close()

    // beside a flat delta: every route answers alike over the mixed layouts
    val delta = tmp("graftschemaflatdelta")
    IndexOps.upsertDelta(spark, dir, docs(250, 100), delta, cfg)
    assertFlatPostings(delta, "upsertDelta delta")
    val mixed = routes.map { c =>
      val s = new Searcher(spark, Seq(dir, delta), c)
      try answers(s) finally s.close()
    }
    assert(mixed.head.forall(_._1.nonEmpty))
    assert(mixed.forall(_ == mixed.head))
  }

  test("deleteInPlace resolves its keys with no schema-inference job") {
    val dir = tmp("graftschemadelete")
    IndexBuilder.build(spark, docs(0, 300), dir, cfg)
    val s = spark
    import s.implicits._
    val victims = IndexOps.docs(spark, dir)
      .select($"repo", $"path", $"commit").as[(String, String, String)].take(3).toSeq
    // the key resolution and the tombstone commit; a read without the
    // known schema would add an inference job
    val jobs = SparkJobs.count(spark, "graft-delete-in-place") {
      IndexOps.deleteInPlace(spark, dir, victims)
    }
    assert(jobs == 3, s"deleteInPlace ran $jobs Spark jobs")
  }

  test("a fresh searcher's first query on a resident segment runs at most 3 jobs") {
    val dir = tmp("graftschemacold")
    IndexBuilder.build(spark, docs(0, 300), dir, cfg)
    val s = new Searcher(spark, dir)
    assert(s.residentSegments == Seq(0))
    // the open's postings and docstats scans, one fewer than the three
    // (dictionary, norms, postings) it took before: no schema-inference,
    // dictionary or norms jobs
    val jobs = SparkJobs.count(spark, "graft-cold-first-query")(s.search("buffer", 10))
    assert(jobs <= 2, s"the first query ran $jobs Spark jobs")
    s.close()
  }
}
