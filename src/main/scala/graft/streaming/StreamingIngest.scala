package graft.streaming

import graft.core.CodeDoc
import graft.index.{IndexBuilder, IndexConfig, Snapshot}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming/incremental surface (SURVEY.md §2.10).
  *
  * The reference's incremental behaviors are micro-batched: flush every 250
  * validated docs with an error budget (importer.py:296-338), commit-gated
  * visibility (solrconfig.xml:60-67). Re-expressed Spark-first:
  *
  *  - [[ingestStream]]: Structured Streaming `foreachBatch` appending index
  *    DELTA SEGMENTS — each micro-batch builds under `out/delta-<batchId>`
  *    with the full build pipeline (own snapshot, lineage, atomic commit), so
  *    readers only ever see committed batches (ST3) and a killed stream
  *    resumes from the checkpoint without partial visibility (ST1/ST2).
  *  - [[validatedStream]]: the error-channel pattern (P4): invalid rows are
  *    not thrown but routed to a quarantine output with a reason column —
  *    collect-don't-throw, matching importer.py:117-127.
  */
object StreamingIngest {

  /** Split a raw doc stream into (valid, quarantined-with-reason). The rules
    * mirror the reference's row-validation semantics: required natural key,
    * non-empty content (P3/P4 analog).
    */
  def validate(df: DataFrame): (DataFrame, DataFrame) = {
    val reason = when(col("repo").isNull || col("repo") === "", "missing repo")
      .when(col("path").isNull || col("path") === "", "missing path")
      .when(col("content").isNull || length(col("content")) === 0, "empty content")
    val tagged = df.withColumn("_reason", reason)
    (tagged.filter(col("_reason").isNull).drop("_reason"),
      tagged.filter(col("_reason").isNotNull))
  }

  /** Start a streaming ingest: parquet-dir source -> validate -> per-batch
    * delta index build + quarantine sink. Returns the running query.
    */
  def ingestStream(spark: SparkSession, srcDir: String, outDir: String,
                   cfg: IndexConfig = IndexConfig(), maxErrors: Long = 1000L): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[CodeDoc].schema
    val src = spark.readStream.schema(schema).parquet(srcDir)
    var errorBudget = maxErrors
    src.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val (valid, bad) = validate(batch.toDF())
        val nBad = bad.count()
        errorBudget -= nBad
        if (errorBudget < 0) {
          // reference aborts the run when max_errors is exceeded (importer.py:323-329)
          throw new IllegalStateException(s"error budget exceeded at batch $batchId")
        }
        if (nBad > 0) {
          bad.write.mode("append").parquet(s"$outDir/quarantine")
        }
        if (valid.take(1).nonEmpty) {
          IndexBuilder.build(spark, valid.as[CodeDoc], s"$outDir/delta-$batchId", cfg)
          ()
        }
      }
      .start()
  }

  /** The streaming arm of [[graft.index.IndexOps.maintain]]'s policy: when
    * more than `maxDeltas` committed delta segments have accreted, fold
    * them (plus the optional base segment) into ONE fresh segment under
    * `outDir/compact-<firstBatch>-<lastBatch>` via mergeSegments — the
    * source corpus is never re-read. Returns the compacted dir when it ran
    * (or had already run), None while the policy declines.
    *
    * Reader contract: the compacted segment replaces `base` (when passed)
    * plus the folded deltas — readers swap their Searcher to
    * `Seq(compacted)` only if base was merged, else `Seq(base, compacted)`;
    * old dirs are retired by the caller once unpinned (commit-gated as
    * always). RE-ENTRY SAFE: until the caller retires the folded delta
    * dirs, a second invocation sees the same >maxDeltas deltas and would
    * re-merge into the SAME target path — overwriting files a reader that
    * already swapped may be scanning — so an already-committed target is
    * returned as-is, never rewritten (LifecycleSpec drills this seam).
    */
  def maintainDeltas(spark: SparkSession, outDir: String, base: Option[String] = None,
                     cfg: IndexConfig = IndexConfig(), maxDeltas: Int = 4): Option[String] = {
    val deltas = committedDeltas(outDir)
    if (deltas.size <= maxDeltas) None
    else {
      def batchId(d: String) = d.split("/").last.stripPrefix("delta-")
      // base inclusion is part of the target IDENTITY (ADVICE r5): keyed on
      // the delta range alone, a re-entry with a DIFFERENT `base` argument
      // would return a committed segment whose contents don't match what
      // the caller asked to fold — the reader-swap contract above depends
      // on knowing whether base was merged. "base-" + dir name (not full
      // path) keeps the target stable across path spellings of one dir.
      val baseTag = base.map(b => s"base-${new java.io.File(b).getName}-")
        .getOrElse("")
      val target =
        s"$outDir/compact-$baseTag${batchId(deltas.head)}-${batchId(deltas.last)}"
      if (new Snapshot(target).currentId >= 0) Some(target)
      else {
        graft.index.IndexOps.mergeSegments(spark, base.toSeq ++ deltas, target, cfg)
        Some(target)
      }
    }
  }

  /** List committed delta segment dirs (readers see only committed batches). */
  def committedDeltas(outDir: String): Seq[String] = {
    val root = new java.io.File(outDir)
    if (!root.exists()) Seq.empty
    else root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("delta-"))
      .filter(f => new Snapshot(f.getPath).currentId >= 0)
      // numeric sort by batch id: lexicographic would order delta-10 before
      // delta-2 and silently permute the Searcher's global docId space
      .sortBy(f => f.getName.stripPrefix("delta-").toLong)
      .map(_.getPath).toSeq
  }
}
