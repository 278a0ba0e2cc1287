package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexOps, Tombstones}
import graft.query.Searcher
import graft.streaming.StreamingIngest
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The searcher, the builder and the tombstone reader read docstats,
  * postings, dictionary and tombstones with known schemas instead of
  * inferring them (one job per table). A known schema that drifts from the
  * files reads nulls silently, so every writer's output is checked against
  * the schemas the readers pass.
  */
class SchemaGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def cfg(bucketDirs: Boolean) = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 128, shufflePartitions = 4, bucketDirs = bucketDirs)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def docs(from: Long, n: Long) = {
    val s = spark
    import s.implicits._
    spark.range(from, from + n, 1, 4).as[Long].map(i => CodeCorpus.genDoc(i, 10))
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
    val built = Seq(true, false).map { bucketDirs =>
      val dir = tmp("graftschema")
      IndexBuilder.build(spark, docs(0, 300), dir, cfg(bucketDirs))
      assertKnownSchemas(dir, s"build bucketDirs=$bucketDirs")
      dir
    }
    val base = built.head
    val delta = tmp("graftschemadelta")
    IndexOps.upsertDelta(spark, base, docs(250, 100), delta, cfg(true))
    assertKnownSchemas(delta, "upsertDelta delta")
    assertTombstoneSchema(base, "upsertDelta")
    val s = spark
    import s.implicits._
    val victims = spark.read.parquet(s"${built(1)}/docstats")
      .select($"repo", $"path", $"commit").as[(String, String, String)].take(3)
    IndexOps.deleteInPlace(spark, built(1), victims.toSeq)
    assertTombstoneSchema(built(1), "deleteInPlace")
    val merged = tmp("graftschemamerged")
    assert(IndexOps.maintain(spark, base, Seq(delta), merged, cfg(true), maxDeltas = 0).nonEmpty)
    assertKnownSchemas(merged, "maintain output")
    val src = tmp("graftschemasrc")
    val out = tmp("graftschemastream")
    docs(1000, 100).write.mode("overwrite").parquet(src)
    StreamingIngest.ingestStream(spark, src, out, cfg(false)).awaitTermination()
    val streamed = StreamingIngest.committedDeltas(out)
    assert(streamed.nonEmpty)
    streamed.foreach(assertKnownSchemas(_, "streaming delta"))
  }

  test("deleteInPlace resolves its keys with no schema-inference job") {
    val dir = tmp("graftschemadelete")
    IndexBuilder.build(spark, docs(0, 300), dir, cfg(true))
    val s = spark
    import s.implicits._
    val victims = IndexOps.docs(spark, dir)
      .select($"repo", $"path", $"commit").as[(String, String, String)].take(3).toSeq
    // the key resolution and the tombstone commit; a read without the
    // known schema would add an inference job
    val jobs = SparkJobs.count(spark, "graft-delete-in-place") {
      IndexOps.deleteInPlace(spark, dir, victims)
    }
    assert(jobs == 5, s"deleteInPlace ran $jobs Spark jobs")
  }

  test("a fresh searcher's first query on a resident segment runs at most 3 jobs") {
    val dir = tmp("graftschemacold")
    IndexBuilder.build(spark, docs(0, 300), dir, cfg(true))
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
