package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPOSED curation pipeline a training-data run actually executes, as
  * one funnel: language-ID gate (predicted en) -> quality gate -> exact
  * dedup (canonical-fingerprint groupBy) -> MinHash near-dup dedup (star
  * edges + connected components) -> per-stage doc/token budget. Every stage
  * reuses an oracle-proven operator (q_langid, q_quality, q_fingerprint,
  * q_dedup_corpus); the composed DuckDB oracle (q_pipeline_curation) replays
  * the same funnel, so the hash check gates the whole pipeline SHAPE —
  * filters feeding dedups feeding the budget — not just the islands.
  *
  * Factored out of RelationalQueries so DedupScaleBench can run the SAME
  * composed funnel at 1M docs (the battery exercises it at 2k): the island
  * operators are scale-validated individually, but the funnel's intermediate
  * materialization behavior (exact-dedup aggregate -> dedupCorpus
  * repartition) only shows up composed.
  */
object Curation {

  /** Stage-budget table (stage, n_docs, sum_tokens), one row per funnel
    * stage, ordered by stage.
    *
    * EAGER: unlike the lazy operators it composes, this runs the whole
    * funnel at call time (19 Spark jobs over the sf0.01 `documents` table)
    * and returns a local relation of 5 rows sorted by stage; acting on the
    * result only sorts those rows.
    *
    * Thresholds are the battery's (sized so every
    * gate bites on the synthetic corpora: ~9% fail strict language
    * dominance, ~45% the token floor, ~5% share a prefix fingerprint).
    *
    * r7 shape (guide §1.2 "the distributed algorithm first"): the r1-r6
    * form evaluated the funnel ONCE PER STAGE ROW — five unioned aggregates
    * whose lineages each re-ran the corpus scan, the language/quality
    * expressions (up to 5×/3×) and the exact-dedup join (2×). Now the gate
    * flags are computed in ONE pass over a persisted narrow projection, the
    * first three stage rows come from ONE conditional aggregate, and the
    * two dedup stages run over a persisted `exact` (scanned by the stage
    * row, the banding, and the anti-join instead of re-deriving the chain).
    * Stage rows are collected eagerly (5 tiny 1-row jobs) so every cache is
    * released before returning; the result is a 5-row local relation with
    * the same schema/values, ordered by stage.
    */
  def funnel(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordsLower = split(lower(col("text")), "\\s+")
    val en = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
    val es = array(Seq("el", "la", "de", "y", "que").map(lit): _*)
    val de = array(Seq("der", "die", "das", "und", "ist").map(lit): _*)
    val raw = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
    // one pass computes BOTH gate verdicts; the heavy per-doc expressions
    // (3× array_intersect, the alpha regex) run exactly once per document
    val flagged = raw
      .withColumn("s_en", size(array_intersect(wordsLower, en)))
      .withColumn("s_es", size(array_intersect(wordsLower, es)))
      .withColumn("s_de", size(array_intersect(wordsLower, de)))
      .withColumn("alpha", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
      .withColumn("ok_lang", col("s_en") > col("s_es") && col("s_en") > col("s_de"))
      .withColumn("ok_q", col("ok_lang") && col("n_tokens") >= 50 &&
        col("n_tokens") <= 10000 && col("alpha") * 2 > length(col("text")))
      .select("doc_id", "text", "n_tokens", "ok_lang", "ok_q")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stages 00/10/20 from ONE aggregate over the cached flags
    val s012 = flagged.agg(
      count(lit(1)), coalesce(sum(col("n_tokens")), lit(0L)),
      count(when(col("ok_lang"), 1)),
      coalesce(sum(when(col("ok_lang"), col("n_tokens"))), lit(0L)),
      count(when(col("ok_q"), 1)),
      coalesce(sum(when(col("ok_q"), col("n_tokens"))), lit(0L))).first()
    val quality = flagged.filter(col("ok_q")).select("doc_id", "text", "n_tokens")
    // exact dedup on the 5-token prefix fingerprint (q_dedup_exact's
    // definition): min doc_id per fingerprint survives. Shape: map-side-
    // combinable groupBy(fp) -> semi-join back on doc_id (unique, so the
    // join key can never skew) — a min-over-Window.partitionBy(fp) would
    // put every holder of a hot boilerplate prefix into one task's sort
    // group, the same straggler class SubstringDedup's gram marking fixed
    val fp = md5(concat_ws(" ",
      slice(split(lower(trim(col("text"))), "\\s+"), 1, 5)))
    val exactReps = quality.withColumn("fp", fp)
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val exact = quality.join(exactReps, Seq("doc_id"), "left_semi")
      .repartition(spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def stageRow(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(col("n_tokens")), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    val s3 = stageRow(exact)
    val near = Dedup.dedupCorpus(exact, "doc_id", "text")
    val s4 = stageRow(near)
    flagged.unpersist()
    exact.unpersist()
    Seq(
      ("00_raw", s012.getLong(0), s012.getLong(1)),
      ("10_lang_en", s012.getLong(2), s012.getLong(3)),
      ("20_quality", s012.getLong(4), s012.getLong(5)),
      ("30_exact_dedup", s3._1, s3._2),
      ("40_neardup_dedup", s4._1, s4._2))
      .toDF("stage", "n_docs", "sum_tokens")
      .orderBy(col("stage"))
  }

  /** The TEXT-TRANSFORM half of a curation run — [[funnel]] gates whole
    * documents, this REWRITES them: PII scrub (TextOps.redactPii) ->
    * line-level boilerplate cut (LineDedup.dropFrequent) -> token floor on
    * the surviving text. Stage order is the production order and it
    * matters: scrubbing FIRST canonicalizes per-document PII variants into
    * IDENTICAL lines ("contact <EMAIL> for details" across N docs), which
    * the line dedup then removes as boilerplate — dedup-before-scrub would
    * leave every variant in place (each email is unique, so no line
    * repeats). The composed DuckDB oracle (q_pipeline_preprocess) replays
    * the chain, so the hash gates the ordering, not just the islands.
    *
    * Returns one row per SURVIVING document:
    * (doc_id, n_lines, n_kept, n_tokens, clean_text).
    */
  def preprocess(docs: DataFrame, idCol: String, textCol: String,
                 minDocs: Int = 3, minTokens: Int = 12): DataFrame = {
    val scrubbed = docs.select(col(idCol).cast("long").as("doc_id"),
      TextOps.redactPii(col(textCol)).as("text"))
    LineDedup.dropFrequent(scrubbed, "doc_id", "text", minDocs)
      .withColumn("n_tokens",
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), "\\s+")).cast("long")))
      .filter(col("n_tokens") >= minTokens)
  }
}
