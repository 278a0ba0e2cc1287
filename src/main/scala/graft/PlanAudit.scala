package graft

import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dumps `explain(formatted)` for the hot physical plans to PLANS.md —
  * the per-round evidence that filters reach the parquet scans
  * (PushedFilters), projections prune (ReadSchema), small sides broadcast,
  * and the whole-stage-codegen spans cover the relational operators.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = Bench.newSession(Bench.defaultCpus)
    val sb = new StringBuilder
    sb.append("# PLANS — explain(formatted) audit\n\n")
    sb.append(s"Generated by `runMain graft.PlanAudit $sfDir`.\n")

    def dump(title: String, df: DataFrame, note: String): Unit = {
      val full = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // wide projections (q_ursus_record emits ~170 columns) produce 100 KB
      // plans; the gates live in the node tree + scan details, so cap each
      val plan =
        if (full.length <= 12000) full
        else full.take(12000) + s"\n... [truncated, ${full.length} chars total]\n"
      sb.append(s"\n## $title\n\n$note\n\n```\n$plan```\n")
    }

    // the searcher's postings scan: term/field filters MUST be pushed
    val idx = SparkEntry.indexFor(spark, sfDir)
    val searcher = new Searcher(spark, idx)
    searcher.search("data table merge", 10) // warm caches
    val terms = Seq("data", "table", "merge")
    val buckets = searcher.meta.buckets
    val bucketList = terms.map(t => graft.index.IndexBuilder.bucketOf(t, buckets)).distinct
    val postingsScan = spark.read.parquet(s"$idx/postings")
      .filter(col("bucket").isin(bucketList: _*) &&
        col("term").isin(terms: _*) &&
        col("field").isin("content", "path", "repo"))
    dump("postings term lookup", postingsScan,
      "Gate (flat postings, one file per shuffle partition with `bucket` a data " +
        "column): `PushedFilters` must include In(term, ...) and In(field, ...); " +
        "`ReadSchema` must include only the PostingRun columns.")

    dump("q1_agg (partial+final hash aggregate)",
      RelationalQueries.queries("q1_agg")(spark, sfDir),
      "Gate: two HashAggregate nodes (partial_ prefix on map side), " +
        "WholeStageCodegen covering scan->agg.")

    dump("q_join_broadcast", RelationalQueries.queries("q_join_broadcast")(spark, sfDir),
      "Gate: BroadcastHashJoin with BroadcastExchange on the customer side.")

    dump("q_multiway_join", RelationalQueries.queries("q_multiway_join")(spark, sfDir),
      "Gate: nation/region broadcast; lineitem-orders-customer join strategy " +
        "chosen by Catalyst/AQE; filters pushed to scans.")

    dump("q_anti_join", RelationalQueries.queries("q_anti_join")(spark, sfDir),
      "Gate: LeftAnti join, no unnecessary exchange on the small side.")

    dump("q_cosine_topk", RelationalQueries.queries("q_cosine_topk")(spark, sfDir),
      "Gate: TakeOrderedAndProject (top-k without global sort materialization).")

    // round 2: the persisted ANN index probe must push its signature ball
    dump("ann index probe", EngineQueries.queries("q_ann_lsh")(spark, sfDir),
      "Gate: `PushedFilters` includes In(sig, ...) — the hamming-ball probe " +
        "prunes row groups of the sig-sorted vectors table; no full-corpus " +
        "signature recompute appears in the plan.")

    // round 2: the dictionary probe path (scale path, no driver collect)
    val probeSearcher = new Searcher(spark, Seq(idx), SearchConfig(dictionaryMaxDriverTerms = 0))
    val dictProbe = spark.read.parquet(s"$idx/dictionary")
      .filter(col("term").isin(terms: _*) &&
        col("field").isin("content", "path", "repo"))
      .select(col("field"), col("term"), col("df"))
    dump("dictionary probe (DictionaryMaxDriverTerms=0 path)", dictProbe,
      "Gate: `PushedFilters` includes In(term, ...) — the dictionary is " +
        "range-partitioned and sorted by (field, term), so a query's df " +
        "lookup reads O(query terms) row groups, never the vocabulary.")

    // round 2: the full record projection stays one map-only Project
    dump("q_ursus_record (record-mapping projection)",
      UrsusRecordQueries.queries("q_ursus_record")(spark, sfDir),
      "Gate: a single Project over the scan (no shuffle except the final " +
        "presentation sort) — ~170 computed columns including literal-map " +
        "vocabulary lookups constant-folded into the plan.")

    // round 3: IVF inverted-list probe pushes the centroid set
    dump("ivf index probe", EngineQueries.queries("q_ann_ivf")(spark, sfDir),
      "Gate: `PushedFilters` includes In(cid, ...) — the nprobe nearest " +
        "centroids prune row groups of the cid-sorted inverted lists; " +
        "no k-means or full-corpus distance computation in the query plan.")

    // round 4/5: hash-once minhash — the REAL shared projection the dedup
    // family runs (Dedup.bandedProjection); OpsSpec gates the counts
    val minhashBanded = graft.ops.Dedup.bandedProjection(
      spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 60),
      "doc_id", "text", 3, 8)
    dump("minhash banding (hash-once + per-band affine + one tokenize)", minhashBanded,
      "Gate: exactly ONE `split` (the _w word-array alias: an inlined split " +
        "re-tokenizes O(words²)/doc inside the interpreted shingle lambda — " +
        "found at the 1M-doc DedupScaleBench run, round 5) and exactly ONE " +
        "`graft_hash64` digest pass (the native expression inside the _hs " +
        "projection — zero md5: the hex-string intermediate is gone); every " +
        "band expression references the _hs attribute — CollapseProject " +
        "must NOT merge multi-referenced non-cheap aliases, and the " +
        "shingle-less-doc filter sits ABOVE the Generate (sig IS NOT NULL) " +
        "so predicate pushdown can't re-inline the tokenize below the " +
        "projections.")

    // round 5: exact-substring span dedup — the span-gram inverted index
    dump("q_substring_spans (exact-substring span dedup)",
      RelationalQueries.queries("q_substring_spans")(spark, sfDir),
      "Gates: digest computed ONCE per gram, AFTER the posexplode (the hash " +
        "sits in the post-Generate projection, never inside the shingle " +
        "lambda — same re-inline hazard class as minhash's), keyed as a " +
        "signed-64 LONG (8 B across the wire); duplicated-gram marking is " +
        "the round-6 sampled heavy-hitter-routed WINDOW — one corpus-sized " +
        "exchange partitioned by (g, salt) where hot grams (nominated by a " +
        "1% doc sample, dup verdict from a tiny exact aggregate whose " +
        "min/max partials collapse map-side) are salted 256 ways and cold " +
        "grams keep salt 0 with exact window min/max. The groupBy(g)+semi-" +
        "join shape that briefly replaced the window was measured 4x worse " +
        "(79 GB spill at 1M: a hash aggregate over mostly-unique keys " +
        "spills its whole input; the semi-join re-exchanges the stream) — " +
        "see BENCH/BASELINE.md round 6. With no hot nominees the plan is a " +
        "single unpersisted window pipeline; with nominees the gram stream " +
        "is cached for its two consumers. The per-doc span table " +
        "broadcasts under AQE at this SF, degrading to a doc_id shuffle " +
        "join at scale; scans read doc_id,text only.")

    // round 5: decontamination — eval gram set must stay the broadcast side
    dump("q_decontaminate (benchmark n-gram overlap)",
      RelationalQueries.queries("q_decontaminate")(spark, sfDir),
      "Gates: one md5 per gram on each side, after the explode, keyed as " +
        "a signed-64 LONG; the eval side collapses to distinct grams via " +
        "partial min(doc_id) aggregates and broadcasts into the probe " +
        "join (benchmarks are MBs vs a corpus of TBs — at scale this " +
        "broadcast HOLDS, unlike the SF-dependent ones above); the " +
        "corpus gram stream hits that broadcast probe BEFORE any " +
        "exchange, so NO corpus-sized shuffle exists anywhere in the " +
        "plan — distinct-gram counting happens on the matched rows only " +
        "(the original distinct-before-join spilled 31 GB at the 1M-doc " +
        "run); the final annotation join broadcasts the (tiny) dirty set " +
        "back over the corpus; scans read doc_id,text only.")

    // round 5: TF-IDF keywords — the corpus-statistics join shape
    dump("q_tfidf_keywords (TF-IDF keyword extraction)",
      RelationalQueries.queries("q_tfidf_keywords")(spark, sfDir),
      "Gates: partial+final HashAggregates for both the (doc, term) tf and " +
        "the term df aggregations; the df side (vocab-sized) joins back " +
        "into the tf stream (broadcast under AQE at this SF); ONE window " +
        "sort per doc for the top-3 rank; scans read doc_id,text only.")

    // round 5: chunk windows — map-only sequence prep
    dump("q_chunk_windows (training sequence windows)",
      RelationalQueries.queries("q_chunk_windows")(spark, sfDir),
      "Gate: scan -> Generate(posexplode) -> Project with NO exchange " +
        "except the presentation sort — chunking is map-only at any scale.")

    // round 5: PII scrub — must stay one map-only projection
    dump("q_pii_scrub (PII redaction)",
      RelationalQueries.queries("q_pii_scrub")(spark, sfDir),
      "Gate: a single Project over the scan inside WholeStageCodegen (the " +
        "planting concat, three counts and the nested regexp_replace all " +
        "fold into one map pass); no exchange except the presentation sort.")

    // round 3: the Sinai record generator is map-only over the merged table
    dump("q_sinai_record (Sinai record generator)",
      SinaiQueries.queries("q_sinai_record")(spark, sfDir),
      "Gate: scan -> (De)SerializeFromObject + MapElements (the typed " +
        "per-manuscript projection) with NO exchange except the final " +
        "presentation sort — the 56-field generator is one map pass.")

    // round 6: line-level dedup — partial-agg verdicts, hash-keyed exchanges
    dump("q_line_dedup_boiler (line-level boilerplate cut)",
      RelationalQueries.queries("q_line_dedup_boiler")(spark, sfDir),
      "Gates: lines keyed by ONE graft_hash64 per occurrence (8-byte " +
        "exchange keys, the line text never shuffles twice); the distinct-" +
        "document frequency is the two-phase count-distinct plan — partial " +
        "dedup on (g, doc_id) then an algebraic count per g, BOTH phases " +
        "with map-side partials, so a banner line in 10^8 docs has no " +
        "single-task sort group; the banned set (lines with df >= minDocs) " +
        "is aggregate output that AQE sizes and broadcasts at this SF; ONE " +
        "groupBy(doc_id) reassembly bounded by per-doc line counts.")

    // round 6: the CMS aggregate — a fixed-size sketch is the ONLY exchange
    dump("q_cms_wordfreq (Count-Min sketch aggregate)",
      RelationalQueries.queries("q_cms_wordfreq")(spark, sfDir),
      "Gates: partial+final aggregation of graft_cms (a " +
        "TypedImperativeAggregate — executors fold their partitions into " +
        "local d*w counter arrays; ONLY the fixed-size sketches cross the " +
        "exchange: 2 MB total at the 1M-doc leg vs a corpus-sized groupBy); " +
        "the probe side is a broadcast of the single sketch row crossed " +
        "with the literal probe set, estimates computed as builtins " +
        "(element_at + array_min) with no UDF.")

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
