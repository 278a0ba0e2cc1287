package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SQL-checkable operator battery over the driver's testdata tables.
  *
  * Each entry maps one operator family from SURVEY.md §2 (reference file:line
  * in the comment) onto Spark, with a DuckDB oracle in [[oracleSql]] producing
  * identical column names, values, and ordering. Floating-point aggregates are
  * rounded in BOTH systems so cross-engine summation-order differences can't
  * flip a hash. Every query has a deterministic ORDER BY.
  */
object RelationalQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Shared input of the MinHash-dedup battery queries: the first 60
    * documents PLUS 8 planted near-dup copies (ids +100, suffix-mutated,
    * true Jaccard ≈ 0.93). The battery corpus has no real near-dups (max
    * pairwise J = 0.022), so without planting the r=4 banding correctly
    * finds NOTHING and the dedup gates go vacuous. Mirrored verbatim in the
    * `docs` CTE of the q_minhash_lsh / q_dedup_clusters / q_dedup_corpus
    * oracles.
    */
  private def plantNearDups(documents: DataFrame): DataFrame = {
    val base = documents.filter(col("doc_id") < 60)
    base.unionByName(base.filter(col("doc_id") < 8)
      .withColumn("doc_id", col("doc_id") + 100)
      .withColumn("text", concat(col("text"), lit(" planted near dup copy"))))
  }

  /** Shared input of the line-dedup queries: the battery corpus has no
    * newlines, so multi-line documents are synthesized deterministically
    * (the planting discipline of plantNearDups / q_pii_scrub): every doc
    * opens with the same cookie-banner line, its words re-wrap into 6-word
    * content lines, and every third doc closes with a copyright footer —
    * the exact boilerplate population RefinedWeb's line filter targets.
    * Mirrored verbatim in the `docs` CTE of both line-dedup oracles.
    */
  private def multiLineDocs(documents: DataFrame): DataFrame = {
    val w = split(trim(col("text")), "\\s+")
    documents.filter(col("doc_id") < 400)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"),
        array_join(
          concat(
            array(lit("cookie banner accept all tracking")),
            transform(
              sequence(lit(1), floor((size(col("w")) + 5) / lit(6)).cast("int")),
              i => concat_ws(" ", slice(col("w"), (i - 1) * 6 + 1, lit(6)))),
            when(col("doc_id") % 3 === 0,
              array(lit("copyright footer all rights reserved")))
              .otherwise(array().cast("array<string>"))),
          "\n").as("text"))
  }

  /** (doc_id, term, tf) over the documents table — the shared first stage of
    * the corpus-statistics queries (TF-IDF, LM quality): lowercased
    * whitespace words, one (doc, term) count aggregate.
    */
  private def docTermTf(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §3.3 fix_for_reindex repair catalog (reindex.py:50-137): computed-field
    // relocation with URI->label translation, collation ssi->tesim move,
    // local-identifier variant merge — run through Reindex.repair and
    // recomputed arithmetically by the DuckDB oracle
    "q_reindex_repair" -> ((s, dir) => {
      val pk = col("p_partkey")
      def arr(v: String*) = array(v.map(lit): _*)
      val src = t(s, dir, "part").filter(pk <= 500).select(
        pk.as("ark"),
        when(pk % 3 =!= 0, arr("kept value")).otherwise(lit(null).cast("array<string>"))
          .as("human_readable_rights_statement_tesim"),
        array(element_at(arr(
          "http://vocabs.library.ucla.edu/rights/copyrighted",
          "http://vocabs.library.ucla.edu/rights/unknown",
          "https://unknown.example/x",
          "http://vocabs.library.ucla.edu/rights/publicDomain"), (pk % 4 + 1).cast("int")))
          .as("rights_statement_tesim"),
        lit("solr-junk").as("_version_"),
        when(pk % 2 === 0, concat(lit("c"), (pk % 5).cast("string"))).as("collation_ssi"),
        when(pk % 4 === 0, arr("have")).otherwise(lit(null).cast("array<string>"))
          .as("collation_tesim"),
        when(pk % 2 === 0, arr("a", "b")).otherwise(lit(null).cast("array<string>"))
          .as("local_identifier_ssim"),
        when(pk % 3 === 0, arr("b", "c")).otherwise(lit(null).cast("array<string>"))
          .as("local_identifier_ssm"),
        when(pk % 5 === 0, arr("a")).otherwise(lit(null).cast("array<string>"))
          .as("local_identifier_sim"))
      graft.docprep.Reindex.repair(src).select(
        col("ark"),
        array_join(col("human_readable_rights_statement_tesim"), "|").as("rights_hr"),
        coalesce(col("collation_ssi"), lit("")).as("coll_ssi"),
        array_join(coalesce(col("collation_tesim"), array().cast("array<string>")), "|")
          .as("coll_tesim"),
        array_join(coalesce(col("local_identifier_ssim"), array().cast("array<string>")), "|")
          .as("local_ids"))
        .orderBy(col("ark"))
    }),

    // A1/A2 facet + hit counts (importer.py:502-517, solrconfig.xml:129-130)
    "q_facet_count" -> ((s, dir) => {
      t(s, dir, "events").groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("event_type"))
    }),

    // TPC-H Q1-shaped pricing summary: hash aggregate w/ partial+final (A1)
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // J1 broadcast hash join: title-lookup shape (importer.py:404-430)
    "q_join_broadcast" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    // J3 multi-way denormalizing join (sinai_json_importer.py:265-310).
    // r7 audit, deliberately left alone: the plan is ALREADY a pure
    // broadcast chain — lineitem is the only scan that isn't broadcast and
    // it is never shuffled (orders/customer fall under the auto-broadcast
    // threshold at battery SF, nation/region are hinted); 4× BHJ, zero
    // SortMergeJoin (plans/r07/q_multiway_join_before.txt).
    "q_multiway_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("r_name"), col("n_name"))
    }),

    // S4 realtime-get / semi join (importer.py:172-179).
    // Same deliberate strategy as q_anti_join (guide §3.1): distinct probe
    // keys broadcast, customer side never shuffled (was a SortMergeJoin).
    "q_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "orders").filter(col("o_totalprice") > 20000)
          .select("o_custkey").distinct()),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_cust"))
        .orderBy(col("c_mktsegment"))
    }),

    // K4 delete-by-query / anti join (importer.py:147-213).
    // Join strategy picked deliberately (guide §3.1): the anti-join's right
    // side projected to DISTINCT l_orderkey is ~1.2 MB of longs — broadcast
    // it and the 150k-row orders side is never shuffled (r1-r6: SortMergeJoin
    // with BOTH sides exchanged+sorted). The distinct aggregates map-side
    // before the collect. At corpus scales where the key set outgrows the
    // broadcast cap, drop the hint and this degrades back to the SMJ.
    "q_anti_join" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "lineitem").select("l_orderkey").distinct()),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),

    // S1 last-row-wins keyed scan (importer.py:95-102 dict overwrite).
    // Aggregate instead of window (guide §2.3 "aggregate before you
    // shuffle"): max over a (ts, event_id, event_type) struct is the
    // last-wins row under the same (ts DESC, event_id DESC) order the r1-r6
    // row_number window used — but it partial-aggregates map-side, so the
    // exchange carries one row per user instead of every event, and the
    // window's per-partition sort disappears. (event_id is the event PK, so
    // the struct's third field never decides a comparison.)
    "q_last_wins" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
        .select(col("user_id"), col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type"), col("m.ts").as("ts"))
        .orderBy(col("user_id"))
    }),

    // T4 top-k by score-like key (solrconfig.xml:79-143 rows/sort)
    "q_topk_orders" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    // T3 pagination: start/rows windows (importer.py:223-253)
    "q_pagination" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(20).limit(20)
    }),

    // §2.6 heterogeneous unionByName (importer.py:107-111)
    "q_union_byname" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_name").as("name"), lit("part").as("kind"),
          col("p_retailprice").as("price"))
      val sup = t(s, dir, "supplier")
        .select(col("s_name").as("name"), lit("supplier").as("kind"))
      p.unionByName(sup, allowMissingColumns = true)
        .orderBy(col("kind"), col("name"), coalesce(col("price"), lit(0.0)))
    }),

    // F5 make_ursus_id: drop ark:/, / -> -, reverse (util.py:214-237)
    "q_make_ursus_id" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("ark", concat(lit("ark:/21198/z1"), col("p_partkey")))
        .select(col("p_partkey"),
          reverse(translate(regexp_replace(col("ark"), "^ark:/", ""), "/", "-"))
            .as("ursus_id"))
        .orderBy(col("p_partkey"))
    }),

    // F1 parse_marc: strip ` $x ` subfield markers (util.py:60-91)
    "q_parse_marc" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("marc", concat(lit("$a "), col("p_name"), lit(" $b trailing $c")))
        .select(col("p_partkey"),
          trim(regexp_replace(regexp_replace(regexp_replace(
            col("marc"), " \\$[a-z] ", " "), "^\\$[a-z] ", ""), " \\$[a-z]$", ""))
            .as("parsed"))
        .orderBy(col("p_partkey"))
    }),

    // F2 parse_list: split |~| multivalue cells (util.py:112-156)
    "q_parse_list" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("cell", concat_ws("|~|", col("p_brand"), col("p_type"), col("p_brand")))
        .select(col("p_partkey"), posexplode(split(col("cell"), "\\|~\\|")))
        .withColumnRenamed("col", "element")
        .orderBy(col("p_partkey"), col("pos"))
    }),

    // F4 ensure_ark_prefix (util.py:172-206)
    "q_ensure_ark" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("raw",
          when(col("p_partkey") % 2 === 0, concat(lit("21198/z1"), col("p_partkey")))
            .otherwise(concat(lit("ark:/21198/z1"), col("p_partkey"))))
        .select(col("p_partkey"),
          when(!col("raw").rlike("^ark:/") && col("raw").rlike("^[0-9]+/[a-z0-9]+$"),
            concat(lit("ark:/"), col("raw"))).otherwise(col("raw")).as("ark"))
        .orderBy(col("p_partkey"))
    }),

    // A7 integer year-range expansion (year_parser.py:12-35).
    // Aggregate BEFORE exploding (guide §2.3 "shuffle fewer bytes"): distinct
    // (priority, start-year) first — map-side partial aggregation collapses
    // the 150k-row scan to ~O(priorities × years) rows BEFORE any exchange —
    // then expand the tiny distinct set and re-distinct the overlaps. The
    // r1-r6 shape exploded 3× rows into the distinct's shuffle.
    "q_year_expand" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderpriority"), year(col("o_orderdate")).as("y0"))
        .distinct()
        .select(col("o_orderpriority"),
          explode(sequence(col("y0"), col("y0") + 2)).as("y"))
        .distinct()
        .orderBy(col("o_orderpriority"), col("y"))
    }),

    // F9 visibility decision table (ursus_solr_record.py:271-327)
    "q_visibility" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("visibility",
          when(col("event_type") === "click", "open")
            .when(col("event_type") === "view" && col("value") > 50, "authenticated")
            .when(col("event_type") === "purchase", "sinai")
            .otherwise("discovery"))
        .groupBy(col("visibility")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("visibility"))
    }),

    // F17 HTML link builder (importer.py:376-382)
    "q_html_link" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          format_string("<a href='/catalog/ark-%s'>%s</a>",
            col("p_partkey"), col("p_name")).as("link"))
        .orderBy(col("p_partkey"))
    }),

    // X7 PathHierarchyTokenizer (schema.xml:168-185)
    "q_path_hierarchy" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("parts",
          split(concat(lit("src/"), col("lang"), lit("/"), col("source"),
            lit("/f"), col("doc_id")), "/"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(1), size(col("parts"))),
            n => array_join(slice(col("parts"), lit(1), n), "/"))))
        .withColumnRenamed("col", "prefix")
        .orderBy(col("doc_id"), col("pos"))
    }),

    // T2 alphaNumericSort collation key — the schema's own 3-step regex chain
    // (schema.xml:133-149)
    "q_alphanum_sortkey" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          regexp_replace(regexp_replace(regexp_replace(lower(col("p_name")),
            "(\\d+)", "00000$1"), "0*([0-9]{6,})", "$1"), "[^a-z0-9]", "")
            .as("sort_key"))
        .orderBy(col("sort_key"), col("p_partkey"))
    }),

    // J2 positional zip join (importer.py:376-382, ursus_solr_record.py:803-812)
    "q_arrays_zip" -> ((s, dir) => {
      t(s, dir, "part")
        .withColumn("words", split(lower(col("p_name")), " "))
        .select(col("p_partkey"),
          posexplode(zip_with(col("words"),
            transform(col("words"), w => length(w)),
            (w, l) => concat(w, lit(":"), l))))
        .withColumnRenamed("col", "pair")
        .orderBy(col("p_partkey"), col("pos"))
    }),

    // modern: windowed running aggregate over event streams
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 4).as("running"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // ---- training-data pipeline ops over `documents` ----

    // token counting (whitespace tokenizer)
    "q_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
          round(avg(col("n_tokens")), 4).as("avg_tokens"))
        .orderBy(col("lang"))
    }),

    // quality scoring: length/alpha/punct ratios
    "q_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .withColumn("alpha", length(regexp_replace(col("text"), "[^a-zA-Z]", "")))
        .select(col("doc_id"), col("n_tokens"),
          round(col("alpha").cast("double") / (length(col("text")) + 1), 4).as("alpha_ratio"),
          (col("n_tokens") >= 10 && col("n_tokens") <= 10000 &&
            col("alpha") * 2 > length(col("text"))).as("is_quality"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style within-document repetition: fraction of DUPLICATE word
    // n-grams (2- and 3-grams) — the canonical pre-training quality gate
    // the length/alpha ratios can't see (boilerplate and template spam
    // repeat n-grams at perfectly normal length/alpha). Map-only; shares
    // Dedup.shingles with the minhash family.
    "q_quality_repetition" -> ((s, dir) => {
      val w = split(lower(trim(col("text"))), "\\s+")
      // r7: shingle arrays aliased as their own columns — each dupRatio
      // referenced its gram expression at 3 sites (two size() + one
      // array_distinct), re-running the whole shingle transform per site
      // under interpreted HOF eval (no CSE); same discipline as q_winnow
      def dupRatio(grams: Column) =
        when(size(grams) > 0,
          round(lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams), 6))
          .otherwise(lit(0.0))
      t(s, dir, "documents")
        .select(col("doc_id"), w.as("_w"))
        .select(col("doc_id"), size(col("_w")).as("n_words"),
          graft.ops.Dedup.shingles(col("_w"), 2).as("_s2"),
          graft.ops.Dedup.shingles(col("_w"), 3).as("_s3"))
        .select(col("doc_id"), col("n_words"),
          dupRatio(col("_s2")).as("dup_2gram_ratio"),
          dupRatio(col("_s3")).as("dup_3gram_ratio"))
        .withColumn("is_repetitive",
          col("dup_2gram_ratio") > 0.15 || col("dup_3gram_ratio") > 0.05)
        .orderBy(col("doc_id"))
    }),

    // language-ID: stopword-overlap heuristic
    "q_langid" -> ((s, dir) => {
      val words = split(lower(col("text")), "\\s+")
      val en = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
      val es = array(Seq("el", "la", "de", "y", "que").map(lit): _*)
      val de = array(Seq("der", "die", "das", "und", "ist").map(lit): _*)
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(array_intersect(words, en)).as("s_en"),
          size(array_intersect(words, es)).as("s_es"),
          size(array_intersect(words, de)).as("s_de"))
        .withColumn("predicted",
          when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
            .when(col("s_es") >= col("s_de"), "es").otherwise("de"))
        .orderBy(col("doc_id"))
    }),

    // document fingerprint: canonicalized md5
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // exact dedup on a prefix fingerprint (first 5 tokens) — hash-groupBy dedup
    "q_dedup_exact" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("fp5",
          md5(concat_ws(" ", slice(split(lower(trim(col("text"))), "\\s+"), 1, 5))))
        .groupBy(col("fp5"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
        .orderBy(col("fp5"))
    }),

    // n-gram (3-shingle) Jaccard near-dup pairs
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 40)
        .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
        .withColumn("sh", array_distinct(
          when(size(col("w")) >= 3,
            transform(sequence(lit(1), size(col("w")) - 2),
              i => concat_ws(" ", element_at(col("w"), i),
                element_at(col("w"), i + 1), element_at(col("w"), i + 2))))
            .otherwise(array())))
        .select(col("doc_id"), col("sh"))
      val a = docs.select(col("doc_id").as("a"), col("sh").as("sha_"))
      val b = docs.select(col("doc_id").as("b"), col("sh").as("shb_"))
      a.crossJoin(b).filter(col("a") < col("b"))
        .withColumn("inter", size(array_intersect(col("sha_"), col("shb_"))))
        .filter(col("inter") > 0)
        .select(col("a"), col("b"),
          round(col("inter").cast("double") /
            size(array_distinct(concat(col("sha_"), col("shb_")))), 4).as("jac"))
        .orderBy(col("jac").desc, col("a"), col("b"))
        .limit(100)
    }),

    // MinHash + LSH banding: per-doc band signatures, then candidate pairs.
    // The battery slice has NO true near-dups (max pairwise Jaccard 0.022),
    // so 8 planted suffix-mutated copies (J ≈ 0.93) make the gate bite; at
    // r=4 rows/band the sub-threshold tail is ~8·J^4 (3e-7 here), so the
    // expected candidate set is exactly the planted pairs — the r=1 shape
    // this replaces emitted 7 FALSE-POSITIVE pairs from the J≤0.022
    // population and q_dedup_corpus deleted 7 unrelated documents
    "q_minhash_lsh" -> ((s, dir) => {
      // banding via the shared plan-gated projection (ONE split + ONE md5;
      // a mid-pipeline size(sh)>0 filter would predicate-push the whole
      // shingle expression below the projections — see Dedup.bandedProjection)
      // eager localCheckpoint: the banding feeds BOTH self-join sides — an
      // un-materialized plan re-runs shingle+hash once per side (guide §5
      // "reuse *and* recomputing is more expensive"), and the checkpointed
      // size lets AQE turn the self-join into a broadcast at battery scale
      val docs = graft.ops.Dedup.bandedProjection(
          plantNearDups(t(s, dir, "documents"))
            // a narrow filter must not collapse the heavy shingle+hash compute
            // onto one scan task — spread the surviving rows across the cores
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", 3, 8)
        .withColumnRenamed("_id", "doc_id")
        .localCheckpoint(true)
      val l = docs.select(col("doc_id").as("a"), col("band"), col("sig"))
      val r = docs.select(col("doc_id").as("b"), col("band"), col("sig"))
      l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("shared_bands"))
        .orderBy(col("shared_bands").desc, col("a"), col("b"))
    }),

    // deterministic stratified sampling for training-data curation: the
    // sample membership is a pure function of the key (md5 first hex char =
    // a 1/16 hash-sample), so it is reproducible across engines and runs,
    // needs no state, and distributes as a plain filter — per-language
    // stratum stats summarize the draw
    "q_sample_stratified" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(substring(md5(col("doc_id").cast("string")), 1, 1) === "0")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"))
    }),

    // near-dup CLUSTERS: the q_minhash_lsh candidate pairs closed into
    // connected components (Dedup.connectedComponents, min-label
    // propagation) — one representative per duplicate group

    "q_dedup_clusters" -> ((s, dir) => {
      // eager localCheckpoint for the same two reasons as q_minhash_lsh:
      // banding computed once, AQE broadcast on the self-join. The r1-r6
      // pairs.distinct() exchange is dropped — connectedComponents' union-
      // find is insensitive to duplicate edges, so the distinct bought
      // nothing but a shuffle.
      val docs = graft.ops.Dedup.bandedProjection(
          plantNearDups(t(s, dir, "documents"))
            // spread the surviving heavy rows across cores (see q_minhash_lsh)
            .repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", 3, 8)
        .withColumnRenamed("_id", "doc_id")
        .localCheckpoint(true)
      val l = docs.select(col("doc_id").as("a"), col("band"), col("sig"))
      val r = docs.select(col("doc_id").as("b"), col("band"), col("sig"))
      val pairs = l.join(r, Seq("band", "sig")).filter(col("a") < col("b"))
        .select(col("a"), col("b"))
      graft.ops.Dedup.connectedComponents(pairs)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("node"))),
            x => x.cast("string")), "|").as("members"))
        .select(col("label").as("cluster_rep"), col("n_members"), col("members"))
        .orderBy(col("cluster_rep"))
    }),

    // end-to-end near-dup corpus dedup: pairs -> clusters -> representative
    // kept, losers dropped (the composed training-data pipeline)
    "q_dedup_corpus" -> ((s, dir) => {
      graft.ops.Dedup.dedupCorpus(
        plantNearDups(t(s, dir, "documents"))
          .repartition(s.sparkContext.defaultParallelism), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // the COMPOSED curation pipeline a training-data run actually executes,
    // as one funnel: language-ID gate (predicted en) -> quality gate ->
    // exact dedup (canonical-fingerprint groupBy) -> MinHash near-dup dedup
    // (star edges + connected components) -> per-stage doc/token budget.
    // Every stage reuses an oracle-proven operator (q_langid, q_quality,
    // q_fingerprint, q_dedup_corpus); the composed DuckDB oracle replays
    // the same funnel, so the hash check gates the whole pipeline SHAPE —
    // filters feeding dedups feeding the budget — not just the islands.
    // every gate BITES on this corpus (thresholds sized to the data so the
    // funnel is non-vacuous: ~9% fail strict language dominance, ~45% the
    // token floor, ~5% share a prefix fingerprint); the implementation
    // lives in ops.Curation so DedupScaleBench runs the SAME funnel at 1M
    // input: first 2000 docs + 30 PREFIX-mutated near-dup copies (ids
    // +5000, J ~= 0.9) — prefix, not suffix, so the planted copy has a
    // different 5-token fingerprint and reaches the near-dup stage instead
    // of dying in exact dedup; the battery corpus itself has no near-dups,
    // so without planting stage 40 would be vacuous at r=4
    "q_pipeline_curation" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 2000)
      val input = base.unionByName(base.filter(col("doc_id") < 30)
        .withColumn("doc_id", col("doc_id") + 5000)
        .withColumn("text", concat(lit("planted near dup prefix "), col("text"))))
      graft.ops.Curation.funnel(input, "doc_id", "text")
    }),

    // F6 serialize_term: controlled-vocabulary id->label via broadcast map
    // (util.py:240-299, controlled_fields.py:15-782)
    "q_serialize_term" -> ((s, dir) => {
      val vocab = typedLit(Map(
        "click" -> "Click Event", "view" -> "View Event",
        "purchase" -> "Purchase Event"))
      t(s, dir, "events")
        .select(col("event_id"),
          coalesce(element_at(vocab, col("event_type")), col("event_type"))
            .as("label"))
        .orderBy(col("event_id")).limit(500)
    }),

    // A4 sorted-set aggregation (feed_sinai/solr_record.py:35-42)
    "q_sorted_set_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(array_join(array_sort(array_distinct(collect_list(col("o_orderstatus")))), "|")
          .as("statuses"))
        .orderBy(col("o_orderpriority"))
    }),

    // A5/A6 min/max aggregates over date sets (solr_record.py:535-541,
    // ursus_solr_record.py:647-656)
    "q_date_minmax" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_modified"))
        .orderBy(col("o_orderpriority"))
    }),

    // P1 header-alias projection: coalesce over alias columns
    // (AliasChoices, ursus_solr_record.py:341-353)
    "q_alias_coalesce" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          coalesce(nullif(col("p_brand"), lit("Brand#13")), col("p_type"),
            lit("unknown")).as("canonical"))
        .orderBy(col("p_partkey"))
    }),

    // F13 get_year: single 3/4-digit year, ambiguous -> null (year_parser.py:38-51)
    "q_get_year" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("txt",
          concat(lit("circa "), year(col("ts")), lit(" doc #"), col("event_id")))
        .withColumn("years",
          regexp_extract_all(col("txt"), lit("\\b(\\d\\d\\d\\d|\\d\\d\\d)\\b"), lit(0)))
        .select(col("event_id"),
          when(size(col("years")) === 1, element_at(col("years"), 1).cast("int"))
            .as("year"))
        .orderBy(col("event_id")).limit(1000)
    }),

    // multimodal metadata: opaque binary payload + integrity columns
    "q_media_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id").as("media_id"),
          octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
          sha2(col("text"), 256).as("payload_sha"))
        .orderBy(col("media_id"))
    }),

    // ST1/ST3 streaming ingest: windowed counts via Structured Streaming
    // (memory sink, AvailableNow trigger) — same result as the batch window.
    // r7 (guide §6 file costs + §2.2 partition sizing): the stateful
    // aggregation instantiates one state-store instance PER SHUFFLE
    // PARTITION, each writing its own delta + commit files under the
    // checkpoint dir every batch — at the session's core-scaled partition
    // count that was 64 store directories for a state of O(windows × event
    // types) rows. State partitions are sized to the STATE, not the cores
    // (at most 8), and the checkpoint goes on the same tmpfs policy as the
    // session's shuffle dirs. The session conf is restored after the
    // stream finishes; results are partitioning-independent (the oracle
    // hash proves it).
    "q_stream_window" -> ((s, dir) => {
      val schema = t(s, dir, "events").schema
      // FileStreamSource requires a directory; stage the single-file table
      // into a temp dir (hard link when possible, copy otherwise)
      val stage = java.nio.file.Files.createTempDirectory("graft_stream_events")
      val target = stage.resolve("events.parquet")
      val sourceFile = java.nio.file.Paths.get(s"$dir/events.parquet")
      try java.nio.file.Files.createLink(target, sourceFile)
      catch { case _: Exception =>
        java.nio.file.Files.copy(sourceFile, target)
      }
      val src = s.readStream.schema(schema).parquet(stage.toString)
      val agg = src
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("window_start"), col("event_type"), col("cnt"))
      val name = "q_stream_window_tbl"
      val stateParts = math.min(8, s.sparkContext.defaultParallelism).toString
      val ckptRoot =
        if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-stream-ckpt"
        else System.getProperty("java.io.tmpdir")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckptRoot))
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(ckptRoot), "q_stream_window")
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", stateParts)
      try {
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name)
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      } finally {
        s.conf.set("spark.sql.shuffle.partitions", prevParts)
        try org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      s.table(name).orderBy(col("window_start"), col("event_type"))
    }),

    // brute-force cosine top-k over embeddings (ANN baseline).
    // The query vector is ONE row: collect it and inline it as a literal
    // array instead of the r1-r6 crossJoin(broadcast(q)) — that plan paid a
    // broadcast-build job AND re-evaluated dot(qv,qv) per corpus row (the
    // interpreted-HOF chain can't constant-fold a broadcast column). The
    // query norm is folded once on the driver with the same left-to-right
    // IEEE summation the aggregate() HOF uses, so every emitted value is
    // bit-identical; per-row work drops from 3 dot passes to 2. Without a
    // query vector the same projection runs over no rows: an empty result
    // with the usual schema, as the oracle's cross join gives.
    "q_cosine_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .withColumn("v", transform(col("embedding"), x => x.cast("double")))
      val (rows, qvCol, qNorm) = emb.filter(col("vec_id") === 0)
        .select(col("v")).head(1).headOption match {
        case Some(r) =>
          val qv = r.getSeq[Double](0).toArray
          (emb.filter(col("vec_id") =!= 0), array(qv.map(lit): _*),
            math.sqrt(qv.foldLeft(0.0)((acc, x) => acc + x * x)))
        case None => (emb.filter(lit(false)), col("v"), 1.0)
      }
      def dot(x: Column, y: Column): Column =
        aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, v) => acc + v)
      rows
        .select(col("vec_id"),
          round(dot(col("v"), qvCol) /
            (sqrt(dot(col("v"), col("v"))) * lit(qNorm)), 4)
            .as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(10)
    }),

    // embedding-cosine near-dup PAIRS, exact baseline (scale path =
    // Similarity.lshNearDupPairs, rows-checked as q_embed_neardup_lsh)
    "q_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 40)
      graft.ops.Similarity.cosinePairs(emb, "vec_id", "embedding", minCos = 0.1)
    }),

    // winnowing document fingerprints (Schleimer et al. 2003): k-gram md5
    // min-sampled over sliding windows — the rolling-hash fingerprint op.
    // r7: ONE native pass (graft_winnow — digest straight from the word
    // bytes, monotonic-deque rolling min; OpsSpec gates bit-identity to the
    // builtins chain). The builtins form re-ran the shingle+md5 pass once
    // per reference site per window under interpreted HOF eval (no CSE) —
    // a hidden O(words²)/doc measured at 4-5 s of the battery; explode_outer
    // + isNotNull keeps InferFiltersFromGenerate from duplicating the
    // expression into a pushed-down filter (bandedProjection discipline).
    // Output rows identical: the empty-array null pad is dropped like
    // explode()'s empty-array drop.
    "q_winnow" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val w = split(lower(trim(col("text"))), "\\s+")
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), w.as("_w"))
        .select(col("doc_id"),
          explode_outer(call_function("graft_winnow", col("_w"), lit(3), lit(4))).as("fp"))
        .filter(col("fp").isNotNull)
        .orderBy(col("doc_id"), col("fp"))
    }),

    // BPE-style token segmentation (GPT-2-flavored splitter): per-doc piece
    // counts + head pieces — the token-budget estimator for training data
    "q_bpe_tokens" -> ((s, dir) => {
      val toks = graft.ops.TextOps.bpeTokens(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), size(toks).as("n_pieces"),
          array_join(slice(toks, 1, 5), "|").as("head_pieces"))
        .orderBy(col("doc_id"))
    }),

    // exact-substring span dedup (Lee et al. ACL 2022, distributed via a
    // span-gram inverted index instead of a suffix array): maximal
    // cross-doc duplicated 10-token spans + the span-cut text
    "q_substring_spans" -> ((s, dir) => {
      graft.ops.SubstringDedup.duplicatedSpans(
        t(s, dir, "documents"), "doc_id", "text", span = 10)
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination (the GPT-3/PaLM-style n-gram overlap check):
    // eval set = every 97th doc standing in for a held-out benchmark; the
    // remaining corpus is annotated with shared-4-gram evidence against it
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Decontaminate.annotate(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    }),

    // PII redaction (C4/Dolma-style anonymization). The synthetic corpus
    // carries no PII by construction, so the query PLANTS a deterministic
    // doc_id-derived contact line (1-2 emails, one IP, 0-1 phones per doc)
    // and then counts + scrubs it — the oracle replays the same planting,
    // so the hash gates the regex semantics cross-engine, not empty output
    "q_pii_scrub" -> ((s, dir) => {
      import graft.ops.TextOps
      val id = col("doc_id")
      val pii = concat(col("text"),
        lit(" contact user"), id.cast("string"),
        lit("@mail"), (id % 7).cast("string"), lit(".example.com"),
        when(id % 3 === 0,
          concat(lit(" cc admin"), id.cast("string"), lit("@example.org")))
          .otherwise(lit("")),
        lit(" via 10."), (id % 4).cast("string"), lit("."),
        (id % 256).cast("string"), lit(".7"),
        when(id % 5 =!= 0,
          concat(lit(" or +1-555-"), lpad((id % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(id,
          TextOps.piiCount(pii, TextOps.EmailPattern).as("n_emails"),
          TextOps.piiCount(pii, TextOps.Ipv4Pattern).as("n_ips"),
          TextOps.piiCount(pii, TextOps.PhonePattern).as("n_phones"),
          TextOps.redactPii(pii).as("scrubbed"))
        .orderBy(id)
    }),

    // TF-IDF keyword extraction: per-doc top-3 terms by tf * ln((N+1)/(df+1))
    // — the classic corpus-statistics join shape: a doc-keyed tf aggregate
    // joins a vocab-keyed df aggregate (broadcast-sized next to the corpus),
    // per-doc top-k via window rank. Scores round(.,6) in BOTH engines so
    // last-ulp ln() divergence can't flip the hash; ties break on term asc
    "q_tfidf_keywords" -> ((s, dir) => {
      val tf = docTermTf(s, dir)
      // vocab-sized df table: BROADCAST it (guide §3.1) like q_lm_quality's
      // unigram table — the r1-r6 plan re-shuffled the whole (doc, term) tf
      // stream by term for a SortMergeJoin against a table 100× smaller
      val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = t(s, dir, "documents").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(dfTab), "term").crossJoin(n)
        .withColumn("tfidf",
          round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // CCNet/KenLM-style LM quality proxy: per-doc mean negative
    // log-probability under the corpus unigram model (add-one smoothed) —
    // the "perplexity filter" of web-scale curation, reduced to the unigram
    // LM expressible in both engines. Shapes: one (doc, term) tf aggregate,
    // a vocab-sized unigram table broadcast back over it, per-doc weighted
    // mean over distinct-term rows (never the raw token stream twice).
    // Each term's contribution tf*ln(p) is QUANTIZED to an integer
    // (micro-nats, HALF_UP in both engines) before the per-doc sum, so the
    // cross-row aggregation is exact-integer and ORDER-INDEPENDENT — a raw
    // double sum would make the hash gate hostage to summation order
    "q_lm_quality" -> ((s, dir) => {
      val tf = docTermTf(s, dir)
      val uni = tf.groupBy("term").agg(sum("tf").as("cnt"))
      val tot = uni.agg(sum("cnt").as("total"), count(lit(1)).as("vocab"))
      tf.join(broadcast(uni), "term").crossJoin(tot)
        .withColumn("c_micro",
          round(col("tf") * log((col("cnt") + 1.0) /
            (col("total") + col("vocab"))) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(round(-sum(col("c_micro")) / 1e6 / sum(col("tf")), 6).as("mean_nll"),
          sum("tf").as("n_tokens"))
        .withColumn("is_outlier", col("mean_nll") > 3.42)
        .orderBy(col("doc_id"))
    }),

    // GPT-style sequence packing (concat corpus in doc order, split at 2048
    // tokens): per-doc global token offset + the sequence ids it lands in.
    // The offsets use the docId-assignment shape — range partition +
    // per-partition sums + broadcast prefix — because a bare running-sum
    // window with no partition key is a ONE-task stage at corpus scale
    "q_pack_sequences" -> ((s, dir) => {
      graft.ops.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 2048)
        .orderBy(col("doc_id"))
    }),

    // the inverse view a trainer actually reads: seq_id -> (doc_id,
    // doc_token_start, n_tokens) — which document slices concatenate into
    // each packed sequence. Map-only explode over the packing offsets
    "q_pack_inverse" -> ((s, dir) => {
      val packed = graft.ops.Packing.packSequences(
        t(s, dir, "documents"), "doc_id", "text", seqLen = 2048)
      graft.ops.Packing.packedSequenceView(packed, 2048)
        .orderBy(col("seq_id"), col("doc_id"))
    }),

    // training sequence prep: fixed 64-token windows at stride 48 (25%
    // overlap) — map-only posexplode; every token lands in >= 1 window
    "q_chunk_windows" -> ((s, dir) => {
      val w = split(lower(trim(col("text"))), "\\s+")
      t(s, dir, "documents")
        .select(col("doc_id"), w.as("w"))
        .select(col("doc_id"), col("w"), size(col("w")).as("n_words"),
          posexplode(sequence(lit(1), greatest(size(col("w")), lit(1)), lit(48))))
        .select(col("doc_id"),
          (col("pos") + 1).cast("long").as("chunk_seq"),
          col("col").cast("long").as("start_tok"),
          least(col("n_words") - col("col") + 1, lit(64)).cast("long").as("n_tokens"),
          md5(concat_ws(" ", slice(col("w"), col("col"), lit(64)))).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_seq"))
    }),

    // CCNet-style keep-first line dedup: each distinct line's globally
    // first occurrence (min (doc_id, pos)) survives; all other occurrences
    // are cut and documents are reassembled in original order
    "q_line_dedup_first" -> ((s, dir) => {
      graft.ops.LineDedup.keepFirst(
        multiLineDocs(t(s, dir, "documents")), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // RefinedWeb-style boilerplate cut: every occurrence of a line present
    // in >= 3 distinct documents is removed (cookie banner: all 400 docs;
    // copyright footer: every third doc; recurring 6-word content lines)
    "q_line_dedup_boiler" -> ((s, dir) => {
      graft.ops.LineDedup.dropFrequent(
        multiLineDocs(t(s, dir, "documents")), "doc_id", "text", minDocs = 3)
        .orderBy(col("doc_id"))
    }),

    // the composed TEXT-TRANSFORM pipeline (ops.Curation.preprocess):
    // PII scrub -> line-level boilerplate cut -> token floor, over the
    // multi-line corpus with a planted per-doc PII line on every fifth doc.
    // The ordering interaction IS the gate: scrubbing first collapses the
    // 80 distinct "contact user<id>@..." lines into one identical
    // "<EMAIL>" line, which the line dedup then cuts as boilerplate —
    // the oracle replays the same chain, so a swapped stage order or a
    // scrub that misses the email flips the hash
    "q_pipeline_preprocess" -> ((s, dir) => {
      val in = multiLineDocs(t(s, dir, "documents"))
        .select(col("doc_id"),
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\ncontact user"), col("doc_id"),
              lit("@mail.example.com for details")))
            .otherwise(col("text")).as("text"))
      graft.ops.Curation.preprocess(in, "doc_id", "text",
          minDocs = 3, minTokens = 40)
        .orderBy(col("doc_id"))
    }),

    // Count-Min sketch word frequencies: ONE fixed-size sketch aggregated
    // over the exploded word stream (native TypedImperativeAggregate —
    // executors fold locally, only d*w counter arrays merge), probed for a
    // fixed word set. Width 64 is deliberately SMALL so cells collide and
    // the min-over-rows estimate logic is exercised, not just exact counts;
    // sums + min are merge-order independent, so the DuckDB oracle replays
    // the sketch bit-for-bit at any parallelism
    "q_cms_wordfreq" -> ((s, dir) => {
      import s.implicits._
      val words = t(s, dir, "documents")
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      val sk = words.agg(
        graft.functions.Cms.sketch(s, col("word"), 4, 64).as("sk"))
      val probes = Seq("table", "query", "spark", "data", "window",
        "hash", "the", "zebra").toDF("word")
      probes.crossJoin(broadcast(sk))
        .select(col("word"),
          graft.functions.Cms.estimate(s, col("sk"), col("word"), 4, 64)
            .as("est"))
        .orderBy(col("word"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_reindex_repair" ->
      """SELECT p_partkey AS ark,
        |  CASE WHEN p_partkey % 3 <> 0 THEN 'kept value'
        |    ELSE CASE p_partkey % 4
        |      WHEN 0 THEN 'copyrighted' WHEN 1 THEN 'unknown'
        |      WHEN 2 THEN 'https://unknown.example/x' ELSE 'public domain' END
        |  END AS rights_hr,
        |  CASE WHEN p_partkey % 4 = 0 THEN 'c' || (p_partkey % 5)::varchar
        |    ELSE '' END AS coll_ssi,
        |  CASE WHEN p_partkey % 4 = 0 THEN 'have'
        |    WHEN p_partkey % 2 = 0 THEN 'c' || (p_partkey % 5)::varchar
        |    ELSE '' END AS coll_tesim,
        |  CASE
        |    WHEN p_partkey % 2 = 0 AND p_partkey % 3 = 0 AND p_partkey % 5 = 0 THEN 'a|b|c'
        |    WHEN p_partkey % 2 = 0 AND p_partkey % 3 = 0 THEN 'a|b|c'
        |    WHEN p_partkey % 2 = 0 THEN 'a|b'
        |    WHEN p_partkey % 3 = 0 AND p_partkey % 5 = 0 THEN 'b|c|a'
        |    WHEN p_partkey % 3 = 0 THEN 'b|c'
        |    WHEN p_partkey % 5 = 0 THEN 'a'
        |    ELSE '' END AS local_ids
        |FROM part WHERE p_partkey <= 500 ORDER BY ark""".stripMargin,

    "q_facet_count" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |round(sum(l_extendedprice), 2) AS sum_base_price,
        |round(avg(l_discount), 6) AS avg_disc, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_broadcast" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        |count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_multiway_join" ->
      """SELECT r_name, n_name,
        |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_cust FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 20000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_anti_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_last_wins" ->
      """SELECT user_id, event_id, event_type, ts FROM events
        |QUALIFY row_number() OVER
        |  (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "q_pagination" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 20""".stripMargin,

    "q_union_byname" ->
      """SELECT * FROM (
        |  SELECT p_name AS name, 'part' AS kind, p_retailprice AS price FROM part
        |  UNION ALL
        |  SELECT s_name AS name, 'supplier' AS kind, NULL AS price FROM supplier
        |) ORDER BY kind, name, coalesce(price, 0.0)""".stripMargin,

    "q_make_ursus_id" ->
      """SELECT p_partkey, reverse(translate(regexp_replace(
        |  'ark:/21198/z1' || p_partkey, '^ark:/', ''), '/', '-')) AS ursus_id
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_parse_marc" ->
      """SELECT p_partkey, trim(regexp_replace(regexp_replace(regexp_replace(
        |  '$a ' || p_name || ' $b trailing $c',
        |  ' \$[a-z] ', ' ', 'g'), '^\$[a-z] ', ''), ' \$[a-z]$', '')) AS parsed
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_parse_list" ->
      """SELECT p_partkey,
        |  unnest(generate_series(0, len(l) - 1)) AS pos,
        |  unnest(l) AS element
        |FROM (SELECT p_partkey,
        |  string_split(p_brand || '|~|' || p_type || '|~|' || p_brand, '|~|') AS l
        |  FROM part)
        |ORDER BY p_partkey, pos""".stripMargin,

    "q_ensure_ark" ->
      """SELECT p_partkey, CASE
        |  WHEN NOT regexp_matches(raw, '^ark:/')
        |       AND regexp_matches(raw, '^[0-9]+/[a-z0-9]+$')
        |  THEN 'ark:/' || raw ELSE raw END AS ark
        |FROM (SELECT p_partkey, CASE WHEN p_partkey % 2 = 0
        |  THEN '21198/z1' || p_partkey ELSE 'ark:/21198/z1' || p_partkey END AS raw
        |  FROM part)
        |ORDER BY p_partkey""".stripMargin,

    "q_year_expand" ->
      """SELECT DISTINCT o_orderpriority,
        |  unnest(generate_series(year(o_orderdate), year(o_orderdate) + 2)) AS y
        |FROM orders ORDER BY o_orderpriority, y""".stripMargin,

    "q_visibility" ->
      """SELECT CASE WHEN event_type = 'click' THEN 'open'
        |  WHEN event_type = 'view' AND value > 50 THEN 'authenticated'
        |  WHEN event_type = 'purchase' THEN 'sinai'
        |  ELSE 'discovery' END AS visibility, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY visibility""".stripMargin,

    "q_html_link" ->
      """SELECT p_partkey,
        |  printf('<a href=''/catalog/ark-%s''>%s</a>', p_partkey::varchar, p_name) AS link
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_path_hierarchy" ->
      """SELECT doc_id, unnest(generate_series(0, len(parts) - 1)) AS pos,
        |  unnest(list_transform(generate_series(1, len(parts)),
        |    n -> array_to_string(parts[1:n], '/'))) AS prefix
        |FROM (SELECT doc_id,
        |  string_split('src/' || lang || '/' || source || '/f' || doc_id, '/') AS parts
        |  FROM documents)
        |ORDER BY doc_id, pos""".stripMargin,

    "q_alphanum_sortkey" ->
      """SELECT p_partkey, regexp_replace(regexp_replace(regexp_replace(
        |  lower(p_name), '(\d+)', '00000\1', 'g'),
        |  '0*([0-9]{6,})', '\1', 'g'), '[^a-z0-9]', '', 'g') AS sort_key
        |FROM part ORDER BY sort_key, p_partkey""".stripMargin,

    "q_arrays_zip" ->
      """SELECT p_partkey, unnest(generate_series(0, len(w) - 1)) AS pos,
        |  unnest(list_transform(w, x -> x || ':' || length(x)::varchar)) AS pair
        |FROM (SELECT p_partkey, string_split(lower(p_name), ' ') AS w FROM part)
        |ORDER BY p_partkey, pos""".stripMargin,

    "q_window_running" ->
      """SELECT user_id, event_id, round(sum(value) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running
        |FROM events WHERE user_id < 50
        |ORDER BY user_id, event_id""".stripMargin,

    "q_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS sum_tokens,
        |  round(avg(len(string_split_regex(trim(text), '\s+'))), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality" ->
      """SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
        |    / (length(text) + 1), 4) AS alpha_ratio,
        |  (len(string_split_regex(trim(text), '\s+')) BETWEEN 10 AND 10000
        |   AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2 > length(text))
        |    AS is_quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_repetition" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |g AS (SELECT doc_id, len(w) AS n_words,
        |  CASE WHEN len(w) >= 2 THEN list_transform(generate_series(1, len(w) - 1),
        |    i -> w[i] || ' ' || w[i+1]) ELSE [] END AS g2,
        |  CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS g3
        |  FROM w)
        |SELECT doc_id, n_words,
        |  CASE WHEN len(g2) > 0
        |    THEN round(1 - len(list_distinct(g2)) * 1.0 / len(g2), 6)
        |    ELSE 0.0 END AS dup_2gram_ratio,
        |  CASE WHEN len(g3) > 0
        |    THEN round(1 - len(list_distinct(g3)) * 1.0 / len(g3), 6)
        |    ELSE 0.0 END AS dup_3gram_ratio,
        |  (dup_2gram_ratio > 0.15 OR dup_3gram_ratio > 0.05) AS is_repetitive
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_langid" ->
      """SELECT doc_id, s_en, s_es, s_de, CASE
        |  WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
        |  WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS predicted
        |FROM (SELECT doc_id,
        |  len(list_intersect(string_split_regex(lower(text), '\s+'),
        |      ['the','a','of','and','to'])) AS s_en,
        |  len(list_intersect(string_split_regex(lower(text), '\s+'),
        |      ['el','la','de','y','que'])) AS s_es,
        |  len(list_intersect(string_split_regex(lower(text), '\s+'),
        |      ['der','die','das','und','ist'])) AS s_de
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT fp5, count(*) AS n, min(doc_id) AS rep FROM (
        |  SELECT doc_id, md5(array_to_string(
        |    (string_split_regex(lower(trim(text)), '\s+'))[1:5], ' ')) AS fp5
        |  FROM documents)
        |GROUP BY fp5 ORDER BY fp5""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents
        |    WHERE doc_id < 40),
        |s AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS sh FROM w)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  round(len(list_intersect(a.sh, b.sh)) * 1.0
        |    / len(list_distinct(a.sh || b.sh)), 4) AS jac
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id AND len(list_intersect(a.sh, b.sh)) > 0
        |ORDER BY jac DESC, a, b LIMIT 100""".stripMargin,

    "q_minhash_lsh" ->
      """WITH docs AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id < 60
        |  UNION ALL SELECT doc_id + 100, text || ' planted near dup copy',
        |    lang, source FROM documents WHERE doc_id < 8),
        |w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM docs),
        |s AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS sh FROM w),
        |hs AS (SELECT doc_id,
        |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
        |  FROM s WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |    unnest(generate_series(0, 7)) AS band,
        |    unnest(list_transform(generate_series(0, 7),
        |      b -> list_sum(list_transform(generate_series(0, 3),
        |        j -> (list_min(list_transform(hs,
        |            x -> (((2654435761 * (b*4 + j + 1)) % 2147483647) * x
        |                + ((2246822519 * (b*4 + j + 1)) % 2147483647)) % 4294967311))
        |          * ([1000000007,1000000033,1000000087,1000000093])[j+1])
        |          % 4294967311))::BIGINT % 4294967311)) AS sig
        |  FROM hs)
        |SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS shared_bands
        |FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
        |WHERE l.doc_id < r.doc_id
        |GROUP BY a, b ORDER BY shared_bands DESC, a, b""".stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc,
        |  max(doc_id) AS last_doc
        |FROM documents WHERE substr(md5(doc_id::varchar), 1, 1) = '0'
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dedup_corpus" ->
      """WITH RECURSIVE
        |docs AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id < 60
        |  UNION ALL SELECT doc_id + 100, text || ' planted near dup copy',
        |    lang, source FROM documents WHERE doc_id < 8),
        |w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM docs),
        |s AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS sh FROM w),
        |hs AS (SELECT doc_id,
        |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
        |  FROM s WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |    unnest(generate_series(0, 7)) AS band,
        |    unnest(list_transform(generate_series(0, 7),
        |      b -> list_sum(list_transform(generate_series(0, 3),
        |        j -> (list_min(list_transform(hs,
        |            x -> (((2654435761 * (b*4 + j + 1)) % 2147483647) * x
        |                + ((2246822519 * (b*4 + j + 1)) % 2147483647)) % 4294967311))
        |          * ([1000000007,1000000033,1000000087,1000000093])[j+1])
        |          % 4294967311))::BIGINT % 4294967311)) AS sig
        |  FROM hs),
        |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
        |  WHERE l.doc_id < r.doc_id),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS node, reach.r FROM edges e JOIN reach ON e.b = reach.node),
        |comp AS (SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node)
        |SELECT doc_id, lang, source FROM docs
        |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> cluster_rep)
        |ORDER BY doc_id""".stripMargin,

    // the composed funnel: every fragment is the proven port from its
    // standalone oracle (q_langid, q_quality, q_fingerprint window dedup,
    // q_dedup_corpus's minhash + recursive-CTE closure), chained
    "q_pipeline_curation" ->
      """WITH RECURSIVE
        |fdocs AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000
        |  UNION ALL SELECT doc_id + 5000, 'planted near dup prefix ' || text
        |  FROM documents WHERE doc_id < 30),
        |raw AS (SELECT doc_id, text,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM fdocs),
        |langd AS (SELECT * FROM raw WHERE
        |    len(list_intersect(string_split_regex(lower(text), '\s+'),
        |        ['the','a','of','and','to'])) >
        |      len(list_intersect(string_split_regex(lower(text), '\s+'),
        |        ['el','la','de','y','que']))
        |  AND len(list_intersect(string_split_regex(lower(text), '\s+'),
        |        ['the','a','of','and','to'])) >
        |      len(list_intersect(string_split_regex(lower(text), '\s+'),
        |        ['der','die','das','und','ist']))),
        |qual AS (SELECT * FROM langd WHERE n_tokens BETWEEN 50 AND 10000
        |  AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 2 > length(text)),
        |exact AS (SELECT doc_id, text, n_tokens FROM (
        |  SELECT q.*, min(doc_id) OVER (PARTITION BY md5(array_to_string(
        |      (string_split_regex(lower(trim(text)), '\s+'))[1:5], ' '))) AS rep
        |  FROM qual q) WHERE doc_id = rep),
        |w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM exact),
        |s AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS sh FROM w),
        |hs AS (SELECT doc_id,
        |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
        |  FROM s WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |    unnest(generate_series(0, 7)) AS band,
        |    unnest(list_transform(generate_series(0, 7),
        |      b -> list_sum(list_transform(generate_series(0, 3),
        |        j -> (list_min(list_transform(hs,
        |            x -> (((2654435761 * (b*4 + j + 1)) % 2147483647) * x
        |                + ((2246822519 * (b*4 + j + 1)) % 2147483647)) % 4294967311))
        |          * ([1000000007,1000000033,1000000087,1000000093])[j+1])
        |          % 4294967311))::BIGINT % 4294967311)) AS sig
        |  FROM hs),
        |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
        |  WHERE l.doc_id < r.doc_id),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS node, reach.r FROM edges e JOIN reach ON e.b = reach.node),
        |comp AS (SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node),
        |near AS (SELECT * FROM exact WHERE doc_id NOT IN
        |  (SELECT node FROM comp WHERE node <> cluster_rep))
        |SELECT '00_raw' AS stage, count(*) AS n_docs,
        |  coalesce(sum(n_tokens), 0)::BIGINT AS sum_tokens FROM raw
        |UNION ALL SELECT '10_lang_en', count(*), coalesce(sum(n_tokens), 0)::BIGINT FROM langd
        |UNION ALL SELECT '20_quality', count(*), coalesce(sum(n_tokens), 0)::BIGINT FROM qual
        |UNION ALL SELECT '30_exact_dedup', count(*), coalesce(sum(n_tokens), 0)::BIGINT FROM exact
        |UNION ALL SELECT '40_neardup_dedup', count(*), coalesce(sum(n_tokens), 0)::BIGINT FROM near
        |ORDER BY stage""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE
        |docs AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id < 60
        |  UNION ALL SELECT doc_id + 100, text || ' planted near dup copy',
        |    lang, source FROM documents WHERE doc_id < 8),
        |w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM docs),
        |s AS (SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END) AS sh FROM w),
        |hs AS (SELECT doc_id,
        |    list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS hs
        |  FROM s WHERE len(sh) > 0),
        |sigs AS (SELECT doc_id,
        |    unnest(generate_series(0, 7)) AS band,
        |    unnest(list_transform(generate_series(0, 7),
        |      b -> list_sum(list_transform(generate_series(0, 3),
        |        j -> (list_min(list_transform(hs,
        |            x -> (((2654435761 * (b*4 + j + 1)) % 2147483647) * x
        |                + ((2246822519 * (b*4 + j + 1)) % 2147483647)) % 4294967311))
        |          * ([1000000007,1000000033,1000000087,1000000093])[j+1])
        |          % 4294967311))::BIGINT % 4294967311)) AS sig
        |  FROM hs),
        |pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        |  FROM sigs l JOIN sigs r ON l.band = r.band AND l.sig = r.sig
        |  WHERE l.doc_id < r.doc_id),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
        |reach(node, r) AS (
        |  SELECT DISTINCT a AS node, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS node, reach.r FROM edges e JOIN reach ON e.b = reach.node),
        |comp AS (SELECT node, min(r) AS cluster_rep FROM reach GROUP BY node)
        |SELECT cluster_rep, count(*) AS n_members,
        |  array_to_string(list_transform(list_sort(list(node)), x -> x::varchar), '|') AS members
        |FROM comp GROUP BY cluster_rep ORDER BY cluster_rep""".stripMargin,

    "q_serialize_term" ->
      """SELECT event_id, CASE event_type
        |  WHEN 'click' THEN 'Click Event'
        |  WHEN 'view' THEN 'View Event'
        |  WHEN 'purchase' THEN 'Purchase Event'
        |  ELSE event_type END AS label
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin,

    "q_sorted_set_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list_distinct(list(o_orderstatus))), '|') AS statuses
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_date_minmax" ->
      """SELECT o_orderpriority, min(o_orderdate) AS first_date,
        |  max(o_orderdate) AS last_modified
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_alias_coalesce" ->
      """SELECT p_partkey,
        |  coalesce(nullif(p_brand, 'Brand#13'), p_type, 'unknown') AS canonical
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_get_year" ->
      """SELECT event_id, CASE WHEN len(years) = 1 THEN years[1]::int END AS year
        |FROM (SELECT event_id,
        |  regexp_extract_all('circa ' || year(ts) || ' doc #' || event_id,
        |    '\b(\d\d\d\d|\d\d\d)\b') AS years
        |  FROM events)
        |ORDER BY event_id LIMIT 1000""".stripMargin,

    "q_media_meta" ->
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS payload_sha
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_stream_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
        |  event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_cosine_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT vec_id, round(list_dot_product(v, qv)
        |  / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS cos
        |FROM e, q WHERE vec_id <> 0
        |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q_embed_neardup" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(
        |    list_reduce(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
        |    / (sqrt(list_reduce(list_transform(list_zip(a.embedding, a.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y))
        |     * sqrt(list_reduce(list_transform(list_zip(b.embedding, b.embedding),
        |        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y))), 3) AS cos
        |FROM v a JOIN v b ON a.vec_id < b.vec_id
        |WHERE cos >= 0.1
        |ORDER BY a, b""".stripMargin,

    "q_winnow" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w
        |  FROM documents WHERE doc_id < 100),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(w) >= 3 THEN list_transform(generate_series(1, len(w) - 2),
        |    i -> md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |  ELSE [] END AS grams FROM w),
        |f AS (SELECT doc_id,
        |  CASE WHEN len(grams) - 3 >= 1 THEN
        |    list_sort(list_distinct(list_transform(generate_series(1, len(grams) - 3),
        |      i -> list_min(grams[i:i+3]))))
        |  WHEN len(grams) > 0 THEN [list_min(grams)]
        |  ELSE [] END AS fps FROM g)
        |SELECT doc_id, unnest(fps) AS fp FROM f ORDER BY doc_id, fp""".stripMargin,

    "q_bpe_tokens" ->
      """SELECT doc_id, len(toks) AS n_pieces,
        |  array_to_string(toks[1:5], '|') AS head_pieces
        |FROM (SELECT doc_id, regexp_extract_all(text,
        |  '(?:''(?:s|t|re|ve|m|ll|d))| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+') AS toks
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // replays the span-gram construction: mark positions whose 10-gram
    // occurs in 2+ docs, gaps-and-islands merge, cut covered tokens
    "q_substring_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, i AS pos,
        |    md5(list_aggregate(w[i:i+9], 'string_agg', ' ')) AS h
        |  FROM toks, unnest(generate_series(1, len(w) - 9)) AS t(i)
        |  WHERE len(w) >= 10),
        |g AS (
        |  SELECT doc_id, pos,
        |    (('0x' || substr(h, 1, 8))::BIGINT
        |       - CASE WHEN ('0x' || substr(h, 1, 8))::BIGINT >= 2147483648
        |         THEN 4294967296 ELSE 0 END)
        |      * 4294967296 + ('0x' || substr(h, 9, 8))::BIGINT AS g
        |  FROM gr),
        |dup AS (SELECT g FROM g GROUP BY g HAVING min(doc_id) <> max(doc_id)),
        |p AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
        |m AS (SELECT doc_id, pos,
        |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |      OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
        |      THEN 1 ELSE 0 END AS brk
        |  FROM p),
        |isl AS (SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m),
        |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e
        |  FROM isl GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
        |    sum(e - s + 1)::BIGINT AS dup_tokens,
        |    string_agg(s || '-' || e, '|' ORDER BY s) AS spans,
        |    list(s ORDER BY s) AS ss, list(e ORDER BY s) AS es
        |  FROM sp GROUP BY doc_id),
        |cov AS (SELECT doc_id, flatten(list_transform(generate_series(1, len(ss)),
        |    j -> generate_series(ss[j], es[j]))) AS cov FROM agg)
        |SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens, a.n_spans, a.dup_tokens,
        |  a.spans,
        |  coalesce(array_to_string(list_transform(
        |    list_filter(generate_series(1, len(t.w)),
        |      i -> NOT list_contains(c.cov, i)),
        |    i -> t.w[i]), ' '), '') AS clean_text
        |FROM toks t JOIN agg a USING (doc_id) JOIN cov c USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // replays the decontamination probe: eval 4-gram set (min-doc
    // attribution), distinct (train doc, gram) pairs, per-doc match counts
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents),
        |gr AS (SELECT doc_id,
        |    md5(list_aggregate(w[i:i+3], 'string_agg', ' ')) AS h
        |  FROM w, unnest(generate_series(1, len(w) - 3)) AS t(i)
        |  WHERE len(w) >= 4),
        |g AS (SELECT doc_id,
        |    (('0x' || substr(h, 1, 8))::BIGINT
        |       - CASE WHEN ('0x' || substr(h, 1, 8))::BIGINT >= 2147483648
        |         THEN 4294967296 ELSE 0 END)
        |      * 4294967296 + ('0x' || substr(h, 9, 8))::BIGINT AS g
        |  FROM gr),
        |ev AS (SELECT g, min(doc_id) AS eval_doc FROM g
        |  WHERE doc_id % 97 = 0 GROUP BY g),
        |tr AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % 97 <> 0),
        |d AS (SELECT doc_id, count(*)::BIGINT AS n_dirty_grams,
        |    min(eval_doc) AS first_eval_doc
        |  FROM tr JOIN ev USING (g) GROUP BY doc_id)
        |SELECT w.doc_id, greatest(len(w.w) - 3, 0)::BIGINT AS n_grams,
        |  coalesce(d.n_dirty_grams, 0)::BIGINT AS n_dirty_grams,
        |  d.first_eval_doc,
        |  coalesce(d.n_dirty_grams, 0) > 0 AS contaminated
        |FROM w LEFT JOIN d USING (doc_id)
        |WHERE w.doc_id % 97 <> 0
        |ORDER BY w.doc_id""".stripMargin,

    // replays the deterministic PII planting, then the same count + scrub
    // regexes (RE2 here, java.util.regex in Spark — the patterns are
    // restricted to the dialect intersection, and the hash proves it)
    // ranks over the ROUNDED tfidf in both engines (rounded ties break on
    // term asc identically; ranking on raw doubles would let last-ulp ln()
    // divergence reorder near-ties cross-engine)
    "q_tfidf_keywords" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM w GROUP BY doc_id, term),
        |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    round(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank FROM s)
        |SELECT doc_id, rank::INTEGER AS rank, term, tf, df, tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // replays the unigram LM: same smoothing, same micro-nat quantization
    // (round() ties away from zero in both engines), so the per-doc sum is
    // exact-integer and order-independent — only a per-TERM product within
    // one ulp of a .5 micro-nat boundary could ever diverge, not summation
    // order
    "q_lm_quality" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |  FROM w GROUP BY doc_id, term),
        |uni AS (SELECT term, sum(tf)::BIGINT AS cnt FROM tf GROUP BY term),
        |tot AS (SELECT sum(cnt) AS total, count(*) AS vocab FROM uni),
        |c AS (SELECT tf.doc_id, tf.tf,
        |    round(tf.tf * ln((uni.cnt + 1.0) / (tot.total + tot.vocab))
        |      * 1e6)::BIGINT AS c_micro
        |  FROM tf JOIN uni USING (term) CROSS JOIN tot)
        |SELECT doc_id,
        |  round(-sum(c_micro) / 1e6 / sum(tf), 6) AS mean_nll,
        |  sum(tf)::BIGINT AS n_tokens,
        |  (round(-sum(c_micro) / 1e6 / sum(tf), 6)) > 3.42 AS is_outlier
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // replays the packing map with a plain running-sum window (fine for the
    // oracle's single node; the Spark side must NOT use that shape)
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS "offset"
        |  FROM t)
        |SELECT doc_id, n_tokens, "offset",
        |  ("offset" // 2048)::BIGINT AS first_seq,
        |  (("offset" + n_tokens - 1) // 2048)::BIGINT AS last_seq,
        |  (("offset" + n_tokens - 1) // 2048 - "offset" // 2048 + 1)::BIGINT
        |    AS n_seqs
        |FROM o ORDER BY doc_id""".stripMargin,

    // replays the packing window, then the per-(seq, doc) slice arithmetic
    "q_pack_inverse" ->
      """WITH t AS (SELECT doc_id,
        |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS "offset"
        |  FROM t WHERE n_tokens > 0)
        |SELECT s.seq_id::BIGINT AS seq_id, o.doc_id,
        |  (greatest(o."offset", s.seq_id * 2048) - o."offset" + 1)::BIGINT
        |    AS doc_token_start,
        |  (least(o."offset" + o.n_tokens, (s.seq_id + 1) * 2048)
        |    - greatest(o."offset", s.seq_id * 2048))::BIGINT AS n_tokens
        |FROM o, unnest(generate_series("offset" // 2048,
        |  ("offset" + n_tokens - 1) // 2048)) AS s(seq_id)
        |ORDER BY seq_id, o.doc_id""".stripMargin,

    "q_chunk_windows" ->
      """WITH w AS (SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)
        |SELECT doc_id,
        |  ((s - 1) // 48 + 1)::BIGINT AS chunk_seq,
        |  s::BIGINT AS start_tok,
        |  least(len(w) - s + 1, 64)::BIGINT AS n_tokens,
        |  md5(array_to_string(w[s:s+63], ' ')) AS chunk_fp
        |FROM w, unnest(generate_series(1, greatest(len(w), 1), 48)) AS t(s)
        |ORDER BY doc_id, chunk_seq""".stripMargin,

    "q_pii_scrub" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || doc_id::varchar || '@mail'
        |    || (doc_id % 7)::varchar || '.example.com'
        |  || CASE WHEN doc_id % 3 = 0
        |    THEN ' cc admin' || doc_id::varchar || '@example.org' ELSE '' END
        |  || ' via 10.' || (doc_id % 4)::varchar || '.'
        |    || (doc_id % 256)::varchar || '.7'
        |  || CASE WHEN doc_id % 5 <> 0
        |    THEN ' or +1-555-' || lpad((doc_id % 10000)::varchar, 4, '0')
        |    ELSE '' END AS pii
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(pii,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(pii, '\+\d[\d-]{7,}'))::BIGINT AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\+\d[\d-]{7,}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed
        |FROM p ORDER BY doc_id""".stripMargin,

    // multi-line corpus CTE mirrors multiLineDocs verbatim; keep =
    // globally-first occurrence of the line (min (doc_id, pos))
    "q_line_dedup_first" ->
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 400),
        |docs AS (SELECT doc_id,
        |    ['cookie banner accept all tracking']
        |    || list_transform(
        |         generate_series(1, cast(floor((len(w) + 5) / 6) as bigint)),
        |         i -> array_to_string(w[(i-1)*6+1 : (i-1)*6+6], ' '))
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ['copyright footer all rights reserved'] ELSE [] END
        |    AS ls FROM base),
        |lines AS (SELECT doc_id,
        |    unnest(generate_series(0, len(ls) - 1)) AS pos,
        |    unnest(ls) AS line FROM docs),
        |flagged AS (SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
        |      AS keep FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  count(*) FILTER (WHERE keep) AS n_kept,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // keep = line's distinct-document frequency below the minDocs=3 bar
    "q_line_dedup_boiler" ->
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 400),
        |docs AS (SELECT doc_id,
        |    ['cookie banner accept all tracking']
        |    || list_transform(
        |         generate_series(1, cast(floor((len(w) + 5) / 6) as bigint)),
        |         i -> array_to_string(w[(i-1)*6+1 : (i-1)*6+6], ' '))
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ['copyright footer all rights reserved'] ELSE [] END
        |    AS ls FROM base),
        |lines AS (SELECT doc_id,
        |    unnest(generate_series(0, len(ls) - 1)) AS pos,
        |    unnest(ls) AS line FROM docs),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS nd
        |  FROM lines GROUP BY line),
        |flagged AS (SELECT l.doc_id, l.pos, l.line, f.nd < 3 AS keep
        |  FROM lines l JOIN freq f USING (line))
        |SELECT doc_id, count(*) AS n_lines,
        |  count(*) FILTER (WHERE keep) AS n_kept,
        |  coalesce(string_agg(line, chr(10) ORDER BY pos)
        |    FILTER (WHERE keep), '') AS clean_text
        |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // composed text-transform replay: multiLineDocs CTE + planted PII line,
    // then scrub -> line-frequency cut -> token floor, same chain
    "q_pipeline_preprocess" ->
      """WITH base AS (SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE doc_id < 400),
        |mdocs AS (SELECT doc_id, array_to_string(
        |    ['cookie banner accept all tracking']
        |    || list_transform(
        |         generate_series(1, cast(floor((len(w) + 5) / 6) as bigint)),
        |         i -> array_to_string(w[(i-1)*6+1 : (i-1)*6+6], ' '))
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN ['copyright footer all rights reserved'] ELSE [] END,
        |    chr(10)) AS text FROM base),
        |pdocs AS (SELECT doc_id, CASE WHEN doc_id % 5 = 0
        |    THEN text || chr(10) || 'contact user' || doc_id::varchar
        |      || '@mail.example.com for details' ELSE text END AS text
        |  FROM mdocs),
        |scrub AS (SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d[\d-]{7,}', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM pdocs),
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM scrub),
        |lines AS (SELECT doc_id,
        |    unnest(generate_series(0, len(ls) - 1)) AS pos,
        |    unnest(ls) AS line FROM ls),
        |freq AS (SELECT line, count(DISTINCT doc_id) AS nd
        |  FROM lines GROUP BY line),
        |flagged AS (SELECT l.doc_id, l.pos, l.line, f.nd < 3 AS keep
        |  FROM lines l JOIN freq f USING (line)),
        |rejoined AS (SELECT doc_id, count(*) AS n_lines,
        |    count(*) FILTER (WHERE keep) AS n_kept,
        |    coalesce(string_agg(line, chr(10) ORDER BY pos)
        |      FILTER (WHERE keep), '') AS clean_text
        |  FROM flagged GROUP BY doc_id),
        |toks AS (SELECT doc_id, n_lines, n_kept,
        |    CASE WHEN clean_text = '' THEN 0
        |      ELSE len(string_split_regex(clean_text, '\s+')) END::BIGINT
        |      AS n_tokens,
        |    clean_text FROM rejoined)
        |SELECT doc_id, n_lines, n_kept, n_tokens, clean_text
        |FROM toks WHERE n_tokens >= 40 ORDER BY doc_id""".stripMargin,

    // full Count-Min replay: h = unsigned high 32 md5 bits (the repo-wide
    // 32-bit hash mirror), row i probes ((a_i*h + c_i) mod P) mod 64 with
    // the shared MinHash affine family; estimate = min over rows of the
    // cell's total count. LEFT JOIN + coalesce(0) covers probe cells no
    // corpus word landed in (Spark reads 0 from the counter array)
    "q_cms_wordfreq" ->
      """WITH words AS (SELECT unnest(
        |    string_split_regex(lower(trim(text)), '\s+')) AS word
        |  FROM documents),
        |cnt AS (SELECT word, count(*) AS c FROM words GROUP BY word),
        |hcnt AS (SELECT word, c,
        |    ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM cnt),
        |cells AS (SELECT word, c,
        |    unnest(generate_series(0, 3)) AS i,
        |    unnest(list_transform(generate_series(0, 3), j ->
        |      ((((2654435761 * (j+1)) % 2147483647) * h
        |        + ((2246822519 * (j+1)) % 2147483647)) % 4294967311) % 64))
        |      AS cell
        |  FROM hcnt),
        |sums AS (SELECT i, cell, sum(c) AS tot FROM cells GROUP BY i, cell),
        |probes(word) AS (VALUES ('table'), ('query'), ('spark'), ('data'),
        |  ('window'), ('hash'), ('the'), ('zebra')),
        |pc AS (SELECT word,
        |    unnest(generate_series(0, 3)) AS i,
        |    unnest(list_transform(generate_series(0, 3), j ->
        |      ((((2654435761 * (j+1)) % 2147483647) * h
        |        + ((2246822519 * (j+1)) % 2147483647)) % 4294967311) % 64))
        |      AS cell
        |  FROM (SELECT word,
        |      ('0x' || substr(md5(word), 1, 8))::BIGINT AS h FROM probes)),
        |est AS (SELECT pc.word, min(coalesce(s.tot, 0)) AS est
        |  FROM pc LEFT JOIN sums s ON s.i = pc.i AND s.cell = pc.cell
        |  GROUP BY pc.word)
        |SELECT word, est::BIGINT AS est FROM est ORDER BY word""".stripMargin
  )
}
