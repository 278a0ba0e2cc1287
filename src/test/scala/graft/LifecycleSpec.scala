package graft

import graft.corpus.CodeCorpus
import graft.index.IndexConfig
import graft.query.Searcher
import graft.streaming.StreamingIngest
import org.scalatest.funsuite.AnyFunSuite

/** The composed compaction lifecycle drill (VERDICT r4 #5): streaming ingest
  * accretes delta segments -> maintainDeltas folds them -> readers swap
  * multi-segment Searcher generations -> old generation close()s -> retired dirs
  * delete — ALL while queries run on another thread, score-identical
  * throughout, and every generation's broadcasts are released. The pieces
  * are individually gated (StreamingSpec, MultiSearcherSpec); this is the
  * seam between them.
  */
class LifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfg: IndexConfig = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 256, shufflePartitions = 4)

  test("ingest -> compact -> swap -> close -> retire, under concurrent queries") {
    val src = java.nio.file.Files.createTempDirectory("graftlcsrc").toString
    val out = java.nio.file.Files.createTempDirectory("graftlcout").toString

    // --- streaming ingest: 5 arrivals, each its own AvailableNow run off
    // the shared checkpoint -> 5 committed delta segments (ST1/ST2/ST3)
    (0 until 5).foreach { b =>
      spark.range(b * 120L, (b + 1) * 120L).as[Long]
        .map(i => CodeCorpus.genDoc(i, 8))
        .write.mode("append").parquet(src)
      StreamingIngest.ingestStream(spark, src, out, cfg).awaitTermination()
    }
    val deltas = StreamingIngest.committedDeltas(out)
    assert(deltas.size == 5, s"expected 5 committed deltas, got ${deltas.size}")

    // --- generation 0 + the score-identity reference the whole drill must
    // preserve (layout-independent: score sequences per query)
    // mix includes a FILTERED query: fq evaluates per segment, so identity
    // across the 5-delta and 1-compacted generations gates the per-segment
    // filter semantics through the swap, and close() must release the fq
    // broadcasts with the rest
    val queries = Seq(("buffer", None), ("binary search tree implementation", None),
      ("def class import return", None),
      ("buffer", Some("lang:scala OR lang:java")))
    @volatile var current = new Searcher(spark, deltas)
    val gen0 = current
    val expected: Map[(String, Option[String]), Seq[Double]] =
      queries.map { case (q, f) =>
        (q, f) -> current.search(q, 10, fq = f).toSeq.map(_.score)
      }.toMap

    // --- concurrent reader: hammers the CURRENT generation until stopped,
    // recording any divergence; tracks in-flight so close() can wait
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val iterations = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        val gen = current // pin one generation per iteration
        inFlight.incrementAndGet()
        try {
          val (q, f) = queries(i % queries.size)
          val got = gen.search(q, 10, fq = f).toSeq.map(_.score)
          if (got != expected((q, f))) failures.add(s"[$q fq=$f] $got != ${expected((q, f))}")
        } catch {
          case t: Throwable => failures.add(s"reader threw: $t")
        } finally inFlight.decrementAndGet()
        iterations.incrementAndGet()
        i += 1
      }
    }, "graft-lifecycle-reader")
    reader.start()
    // let the reader establish a baseline on generation 0
    while (iterations.get() < 3) Thread.sleep(10)

    // --- compact while queries run
    val compacted = StreamingIngest.maintainDeltas(spark, out, cfg = cfg, maxDeltas = 2)
    assert(compacted.contains(s"$out/compact-0-4"))

    // re-entry before the caller retires the deltas must NOT rewrite the
    // committed target a reader may already be scanning (ADVICE r4)
    val files = new java.io.File(compacted.get).listFiles().map(f => f.getName -> f.lastModified()).toMap
    val again = StreamingIngest.maintainDeltas(spark, out, cfg = cfg, maxDeltas = 2)
    assert(again == compacted, "re-entry must return the committed target")
    val filesAfter = new java.io.File(compacted.get).listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(filesAfter == files, "re-entry must not rewrite the committed target")

    // --- swap readers to generation 1, then close generation 0 once its
    // in-flight queries drain (the close() contract)
    val gen1 = new Searcher(spark, Seq(compacted.get))
    val mark = iterations.get()
    current = gen1
    while (iterations.get() < mark + 3) Thread.sleep(10) // gen1 serving
    while (inFlight.get() > 0) Thread.sleep(5) // gen0 fully drained
    assert(gen0.liveBroadcastCount > 0, "generation 0 held live broadcasts")
    gen0.close()
    assert(gen0.liveBroadcastCount == 0, "close() must release every broadcast")

    // --- retire the folded delta dirs while gen1 keeps serving
    import scala.reflect.io.Directory
    deltas.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    val mark2 = iterations.get()
    while (iterations.get() < mark2 + 3) Thread.sleep(10)

    stop.set(true)
    reader.join(30000)
    assert(!reader.isAlive, "reader thread must stop")
    assert(failures.isEmpty, s"divergent results during lifecycle: ${failures.peek()}")
    assert(iterations.get() >= 9, "reader must have run throughout the drill")

    // final state: one compacted generation answers identically, then closes
    queries.foreach { case (q, f) =>
      assert(gen1.search(q, 10, fq = f).toSeq.map(_.score) == expected((q, f)),
        s"[$q fq=$f] after retire")
    }
    gen1.close()
    assert(gen1.liveBroadcastCount == 0)
  }
}
