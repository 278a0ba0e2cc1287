package graft

import graft.core.CodeDoc
import graft.corpus.CodeCorpus
import graft.index.IndexConfig
import graft.query.Searcher
import graft.streaming.StreamingIngest
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("streaming ingest: delta segments committed, quarantine captures bad rows") {
    val src = java.nio.file.Files.createTempDirectory("graftstreamsrc").toString
    val out = java.nio.file.Files.createTempDirectory("graftstreamout").toString
    // two "arriving" files: one good batch + one with invalid rows
    CodeCorpus.generate(spark, 200, nRepos = 5, partitions = 2)
      .write.mode("overwrite").parquet(src)
    Seq(
      CodeDoc("", "p", "c", "scala", "some content here"), // missing repo
      CodeDoc("r", "q", "c", "scala", ""), // empty content
      CodeDoc("repo-ok", "path-ok", "c", "scala", "valid late arrival buffer")
    ).toDS().write.mode("append").parquet(src)

    val q = StreamingIngest.ingestStream(spark, src, out,
      IndexConfig(buckets = 8, saltRange = 128, shufflePartitions = 4))
    q.awaitTermination()

    val deltas = StreamingIngest.committedDeltas(out)
    assert(deltas.nonEmpty, "at least one committed delta segment")
    // quarantine holds exactly the two invalid rows with reasons
    val quarantined = spark.read.parquet(s"$out/quarantine")
      .select("_reason").collect().map(_.getString(0)).sorted
    assert(quarantined.toSeq == Seq("empty content", "missing repo"))
    // total docs across deltas == 201 valid rows
    val total = deltas.map(d => spark.read.parquet(s"$d/docstats").count()).sum
    assert(total == 201)
    // a delta index answers queries
    val hits = new Searcher(spark, deltas.head).search("buffer", 5)
    assert(hits.nonEmpty)
  }

  test("maintainDeltas folds accreted delta segments, scores unchanged") {
    import graft.index.IndexBuilder
    val cfg = IndexConfig(buckets = 8, blockSize = 64, saltRange = 256,
      shufflePartitions = 4)
    val out = java.nio.file.Files.createTempDirectory("graftmaintstream").toString
    // three committed "streamed" deltas of 100 docs each
    (0 until 3).foreach { b =>
      val docs = spark.range(b * 100L, (b + 1) * 100L).as[Long]
        .map(i => CodeCorpus.genDoc(i, 5))
      IndexBuilder.build(spark, docs, s"$out/delta-$b", cfg)
    }
    // policy declines at the default threshold, triggers at maxDeltas=2
    assert(StreamingIngest.maintainDeltas(spark, out, cfg = cfg).isEmpty)
    val compacted = StreamingIngest.maintainDeltas(spark, out, cfg = cfg, maxDeltas = 2)
    assert(compacted.nonEmpty)
    assert(compacted.get.endsWith("compact-0-2"))
    val merged = spark.read.parquet(s"${compacted.get}/docstats")
    assert(merged.count() == 300)
    // one segment scores exactly like the multi-segment view it replaced
    def shaOf(d: String): Map[Long, String] =
      spark.read.parquet(s"$d/docstats").select("docId", "sha")
        .as[(Long, String)].collect().toMap
    val multi = new Searcher(spark,
      StreamingIngest.committedDeltas(out).filterNot(_.contains("compact")))
    val single = new Searcher(spark, compacted.get)
    val singleSha = shaOf(compacted.get)
    Seq("buffer", "def class import return").foreach { q =>
      val m = multi.search(q, 10).toSeq.map(_.score)
      val s = single.search(q, 10).toSeq.map(h => (singleSha(h.docId), h.score))
      assert(s.map(_._2) == m, s"[$q] score sequence")
    }
    multi.close()

    // base inclusion is part of the compacted target's IDENTITY (ADVICE r5):
    // folding the same delta range WITH a base must not alias the baseless
    // target a reader may have swapped to, and re-entry with the same base
    // returns the same committed path
    val withBase = StreamingIngest.maintainDeltas(spark, out,
      base = Some(compacted.get), cfg = cfg, maxDeltas = 2)
    assert(withBase.nonEmpty && withBase != compacted,
      "base-folding target must differ from the baseless one")
    assert(withBase.get.contains("base-compact-0-2"))
    assert(StreamingIngest.maintainDeltas(spark, out,
      base = Some(compacted.get), cfg = cfg, maxDeltas = 2) == withBase)
    // the base-folded segment holds base + deltas (deltas re-folded: 300
    // docs from compact-0-2 plus the same 300 delta docs = 600 rows)
    assert(spark.read.parquet(s"${withBase.get}/docstats").count() == 600)
  }

  test("error budget aborts the stream (importer.py:323-329 analog)") {
    val src = java.nio.file.Files.createTempDirectory("graftstreamsrc2").toString
    val out = java.nio.file.Files.createTempDirectory("graftstreamout2").toString
    Seq(
      CodeDoc("", "p1", "c", "scala", "x"),
      CodeDoc("", "p2", "c", "scala", "y")
    ).toDS().write.mode("overwrite").parquet(src)
    val q = StreamingIngest.ingestStream(spark, src, out,
      IndexConfig(buckets = 8, saltRange = 128, shufflePartitions = 4), maxErrors = 1)
    val failed = intercept[Exception] { q.awaitTermination() }
    assert(failed.getMessage.contains("error budget") ||
      Option(failed.getCause).exists(_.getMessage.contains("error budget")))
  }

  test("stateful cross-batch dedup: first occurrence wins, dups drop forever") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val deduped = graft.streaming.StreamingDedup.dedupByFingerprint[(Long, String)](
      input.toDS(),
      fpOf = t => org.apache.commons.codec.digest.DigestUtils.md5Hex(
        t._2.toLowerCase.trim.replaceAll("\\s+", " ")),
      prefer = (a, b) => if (a._1 <= b._1) a else b)
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode(OutputMode.Append()).start()
    // batch 1: two copies of fp1 (ids 7 and 3 -> 3 survives), one fp2
    input.addData((7L, "The quick  brown fox"), (3L, "the quick brown fox"),
      (10L, "something else entirely"))
    q.processAllAvailable()
    // batch 2: fp1 again (must drop), a fresh fp3
    input.addData((99L, "THE QUICK BROWN FOX"), (11L, "brand new document"))
    q.processAllAvailable()
    val got = spark.sql("SELECT _1 FROM dedup_out ORDER BY _1")
      .collect().map(_.getLong(0)).toSeq
    q.stop()
    assert(got == Seq(3L, 10L, 11L),
      s"expected first-occurrence winners (3, 10, 11), got $got")
  }
}
