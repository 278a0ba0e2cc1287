package graft

import org.apache.spark.sql.functions._

/** One-shot empirical validation of the dedup/curation family's scaling
  * claims at 1M+ docs (VERDICT r4 #6, r5 #1/#6): the battery only ever times
  * these at sf0.1 (50k docs), so the scaling arguments were analytical until
  * run here. Legs (selectable): `corpus` — the full corpus-dedup pipeline
  * (shingle -> hash-once MinHash -> banded star edges -> connected
  * components -> anti-join survivors); `spans` — exact-substring span dedup
  * (span-gram inverted index, Lee et al. regime); `hotspans` — the SAME
  * operator over a corpus with a 16-token boilerplate license header planted
  * in 25% of docs (every one of its 10-grams occurs in 250k docs — the
  * straggler class the sampled heavy-hitter routing in SubstringDedup
  * targets; the leg reports the worst max/median task-duration ratio,
  * gate <= 2x);
  * `decon` — benchmark decontamination (8-gram overlap vs a ~0.1% eval
  * slice); `funnel` — the composed curation funnel (ops.Curation: langid ->
  * quality -> exact dedup -> near-dup dedup with per-stage budgets);
  * `lines` — line-level keep-first dedup (ops.LineDedup) over a multi-line
  * re-wrap of the corpus where ONE banner line occurs in 100% of docs (the
  * hottest possible key for the winner join — the AQE-skew-join reliance
  * documented in LineDedup's scaladoc, measured here); `cms` — the
  * Count-Min sketch aggregate over the exploded word stream (the
  * shuffle-free frequency-summary claim: exchange should be O(partitions ·
  * d · w), reported by the leg's shuffle columns). Each
  * leg reports wall time, docs/s, total shuffle volume, and task skew
  * (StageMetrics). Results are curated into BENCH/BASELINE.md; the run also
  * writes BENCH/DEDUP_SCALE_LAST.md.
  *
  * Usage: runMain graft.DedupScaleBench [nDocs] [cpus]
  * [corpus|spans|hotspans|decon|funnel|lines|cms|all] (defaults 1000000,
  * [[Bench.defaultCpus]], corpus; SPARK_DRIVER_MEM sizes the forked heap)
  */
object DedupScaleBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 1000000L
    val cpus = if (args.length > 1) args(1).toInt else Bench.defaultCpus
    val legsArg = if (args.length > 2) args(2) else "corpus"
    val legs: Seq[String] =
      if (legsArg == "all")
        Seq("corpus", "spans", "hotspans", "decon", "funnel", "lines", "cms")
      else legsArg.split(",").toSeq
    val spark = Bench.newSession(cpus)
    import spark.implicits._

    def corpus(n: Long) = spark.range(n)
      .as[Long].map(i => graft.corpus.CodeCorpus.genDoc(i, nRepos = 1000))
      .toDF()
      // documents-table shape: (doc_id, text); path ordinal = unique id
      .select(monotonically_increasing_id().as("doc_id"), col("content").as("text"))

    // materialize the input untimed (these ops read an EXISTING table;
    // corpus generation is bench scaffolding, not engine work)
    val tmpRoot = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm"
      else System.getProperty("java.io.tmpdir"))
    val src = java.nio.file.Files.createTempDirectory(tmpRoot, "graftdedupscale").toString
    corpus(nDocs).write.mode("overwrite").parquet(src)
    val docs = spark.read.parquet(src)

    // hot-gram corpus: the same table with a fixed 16-token license header
    // prepended to doc_id % 4 == 0 (25% of the corpus shares one boilerplate
    // span; its 7 distinct 10-grams each occur nDocs/4 times). Written only
    // when the hotspans leg runs.
    var hotDirCreated: Option[String] = None
    lazy val hotSrc = {
      val header = (1 to 16).map(i => s"graftlicense$i").mkString(" ")
      val dir = java.nio.file.Files.createTempDirectory(tmpRoot, "graftdedupehot").toString
      docs.select(col("doc_id"),
          when(col("doc_id") % 4 === 0, concat(lit(header + " "), col("text")))
            .otherwise(col("text")).as("text"))
        .write.mode("overwrite").parquet(dir)
      hotDirCreated = Some(dir)
      dir
    }

    // funnel corpus: Curation.funnel's gates are tuned for the battery's
    // `documents` table (English-stopword word salad, ~55 tokens/doc) — the
    // first funnel-leg run fed it CODE text, the language gate killed 100%
    // of rows at stage 10, and the leg measured an empty pipeline (0 shuffle
    // bytes). This mirrors the documents shape deterministically (pure
    // xxhash64 exprs of doc_id, no RNG state) with every gate biting:
    // ~10% Spanish-scaffold docs (fail langid), token counts 30..80 (the
    // <50 quality floor kills ~40%), ~4% share one FIXED 5-token prefix
    // (one hot fingerprint key — exercises the funnel's own min-groupBy
    // skew claim), and ~3% are body-identical near-dup copies of their
    // predecessor with a different prefix (caught by MinHash, not exact).
    // multi-line corpus for the lines leg: every doc opens with the SAME
    // banner line (the hottest possible winner-join key: nDocs occurrences
    // of one 8-byte hash), content re-wraps into 6-word lines, every third
    // doc closes with a shared footer — the q_line_dedup_* planting shape
    // at 1M scale. Written untimed.
    var linesDirCreated: Option[String] = None
    lazy val linesSrc = {
      val dir = java.nio.file.Files.createTempDirectory(tmpRoot, "graftlines").toString
      docs.select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
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
        .write.mode("overwrite").parquet(dir)
      linesDirCreated = Some(dir)
      dir
    }

    var funnelDirCreated: Option[String] = None
    lazy val funnelSrc = {
      val vocab = Seq("key", "agg", "row", "scan", "slow", "fast", "table",
        "value", "part", "hash", "merge", "batch", "window", "spark", "order",
        "data", "column", "join", "small", "line", "customer", "query",
        "filter", "sort", "stream", "group", "big", "the", "a", "of", "and", "to")
      val vocabCol = array(vocab.map(lit): _*)
      val bodySeed = when(pmod(col("id"), lit(37L)) === 5, col("id") - 1)
        .otherwise(col("id"))
      val nTok = (pmod(xxhash64(bodySeed, lit(1)), lit(51L)) + 30).cast("int")
      val body = array_join(transform(sequence(lit(1), nTok),
        j => element_at(vocabCol,
          (pmod(xxhash64(bodySeed, j), lit(vocab.size.toLong)) + 1).cast("int"))), " ")
      val text = concat(
        when(pmod(col("id"), lit(10L)) === 0, lit("el la de y que "))
          .otherwise(lit("")),
        when(pmod(col("id"), lit(23L)) === 7, lit("the spark batch window data "))
          .otherwise(lit("")),
        body)
      val dir = java.nio.file.Files.createTempDirectory(tmpRoot, "graftfunnel").toString
      spark.range(nDocs).select(col("id").as("doc_id"), text.as("text"))
        .write.mode("overwrite").parquet(dir)
      funnelDirCreated = Some(dir)
      dir
    }

    val sm = StageMetrics.install(spark)
    case class Leg(name: String, rows: Long, sec: Double,
                   shufWriteMB: Double, shufReadMB: Double, spillMB: Double,
                   taskSkew: Double, skewStage: String)

    // per leg: JIT/codegen warm-up on a small slice, untimed (same protocol
    // as Bench), then one measured end-to-end pass over the full table
    def runLeg(name: String)(warm: => Long)(body: => Long): Leg = {
      warm
      sm.reset()
      val (n, sec) = Bench.time(body)
      val (skew, worst) = sm.worstTaskSkew()
      val leg = sm.rows.synchronized {
        Leg(name, n, sec, sm.rows.map(_.shufWriteMB).sum,
          sm.rows.map(_.shufReadMB).sum, sm.rows.map(_.spillMB).sum,
          skew, worst.map(r => s"${r.stageId}:${r.name.take(24)}").getOrElse("-"))
      }
      sm.report(s"$name nDocs=$nDocs")
      leg
    }

    val evalPred = col("doc_id") % 997 === 0 // ~0.1% eval slice for decon
    val results = legs.map {
      case "corpus" => runLeg("dedupCorpus") {
        graft.ops.Dedup.dedupCorpus(docs.limit(5000), "doc_id", "text").count()
      } {
        graft.ops.Dedup.dedupCorpus(docs, "doc_id", "text").count()
      }
      case "spans" => runLeg("substringSpans") {
        graft.ops.SubstringDedup
          .duplicatedSpans(docs.limit(5000), "doc_id", "text", span = 10).count()
      } {
        graft.ops.SubstringDedup
          .duplicatedSpans(docs, "doc_id", "text", span = 10).count()
      }
      case "hotspans" =>
        val hot = spark.read.parquet(hotSrc)
        runLeg("substringSpansHotGram") {
          graft.ops.SubstringDedup
            .duplicatedSpans(hot.limit(5000), "doc_id", "text", span = 10).count()
        } {
          graft.ops.SubstringDedup
            .duplicatedSpans(hot, "doc_id", "text", span = 10).count()
        }
      // count CONTAMINATED rows: a bare count() of the annotation is
      // eliminated by Catalyst (left join on the provably-unique dirty key
      // preserves row count), so it would measure a filter, not the probe —
      // the first run of this leg reported 1.26M docs/s of nothing
      case "decon" => runLeg("decontaminate") {
        graft.ops.Decontaminate.annotate(docs.limit(5000).filter(!evalPred),
          docs.limit(5000).filter(evalPred), "doc_id", "text", n = 8)
          .filter(col("contaminated")).count()
      } {
        graft.ops.Decontaminate.annotate(docs.filter(!evalPred),
          docs.filter(evalPred), "doc_id", "text", n = 8)
          .filter(col("contaminated")).count()
      }
      case "funnel" =>
        val fdocs = spark.read.parquet(funnelSrc)
        runLeg("curationFunnel") {
          graft.ops.Curation.funnel(fdocs.limit(5000), "doc_id", "text").count()
        } {
          val stages = graft.ops.Curation.funnel(fdocs, "doc_id", "text").collect()
          stages.foreach(r => System.err.println(s"[funnel] $r"))
          stages.last.getLong(1) // near-dup-deduped survivors
        }
      // force the FULL output (sum over clean_text lengths): a bare count()
      // of the reassembled frame lets Catalyst prune the collect_list /
      // array_join aggregates and measures only the keep verdict (the decon
      // lesson). Reported rows = surviving line count.
      case "lines" =>
        val ld = spark.read.parquet(linesSrc)
        def run(d: org.apache.spark.sql.DataFrame): Long =
          graft.ops.LineDedup.keepFirst(d, "doc_id", "text")
            .agg(sum(col("n_kept")).as("kept"),
              sum(length(col("clean_text"))).as("chars"))
            .collect().head.getLong(0)
        runLeg("lineDedupKeepFirst") { run(ld.limit(5000)) } { run(ld) }
      // the sketch is the whole result: reported rows = total updates folded
      // (sum of all cells = 4 rows x word occurrences), proving the agg saw
      // every word while the shuffle columns show the O(partitions·d·w)
      // exchange claim
      case "cms" =>
        def run(d: org.apache.spark.sql.DataFrame): Long =
          d.select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
            .agg(graft.functions.Cms.sketch(spark, col("word"), 4, 4096).as("sk"))
            .select(aggregate(col("sk"), lit(0L), (a, x) => a + x))
            .collect().head.getLong(0)
        runLeg("cmsWordSketch") { run(docs.limit(5000)) } { run(docs) }
      case other => sys.error(s"unknown leg: $other")
    }

    // NOTE: the table is interpolated OUTSIDE stripMargin (a row's leading
    // '|' would be eaten as the margin character — the first committed run
    // shipped a malformed table)
    val table = results.map { l =>
      f"| ${l.name} | ${l.rows} | ${l.sec}%.2f | ${nDocs / l.sec}%.0f | ${l.shufWriteMB}%.0f | ${l.shufReadMB}%.0f | ${l.spillMB}%.0f | ${l.taskSkew}%.2f (${l.skewStage}) |"
    }.mkString("\n")
    val md =
      f"""# BENCH/DEDUP_SCALE_LAST — curation family at $nDocs docs
         |
         || leg | result rows | wall sec | docs/sec | shW MB | shR MB | spill MB | task skew max/med |
         ||---|---|---|---|---|---|---|---|
         |TABLE_ROWS_PLACEHOLDER
         |
         |Legs: dedupCorpus = shingle(k=3) -> hash-once MinHash -> 8-band star
         |edges -> connected components -> anti-join survivors;
         |substringSpans = span-gram(10) inverted index -> sampled heavy-
         |hitter routing (hot grams: exact mini-agg verdict + salted window
         |partitions; cold: plain window min/max) in ONE corpus exchange ->
         |gaps-and-islands merge;
         |substringSpansHotGram = the same over a corpus with a 16-token
         |boilerplate header in 25%% of docs (each header 10-gram occurs in
         |${nDocs / 4} docs) — straggler gate: task skew <= 2x on every heavy
         |stage; decontaminate = 8-gram overlap vs the ~0.1%% eval slice
         |(doc_id %% 997 == 0); curationFunnel = ops.Curation (langid ->
         |quality -> exact dedup -> near-dup dedup, per-stage budgets) over a
         |documents-shaped text corpus where every gate bites (10%% non-en,
         |30-80 tokens vs the 50 floor, 4%% one shared prefix fingerprint,
         |3%% body-identical near-dup copies);
         |lineDedupKeepFirst = ops.LineDedup.keepFirst over a multi-line
         |re-wrap of the corpus (one banner line in 100%% of docs = the
         |hottest possible winner-join key; footer in 1/3; 6-word content
         |lines), full clean_text forced; cmsWordSketch = graft_cms(4, 4096)
         |over the exploded word stream — the shuffle columns ARE the claim
         |(only partition-local sketches merge).
         |Task skew = max/median task duration of the worst stage with >= 8
         |tasks and median >= 200 ms. local[$cpus].
         |""".stripMargin.replace("TABLE_ROWS_PLACEHOLDER", table)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/DEDUP_SCALE_LAST.md"), md)
    println(md)
    results.foreach { l =>
      println(f"""{"metric":"${l.name}_docs_per_sec","value":${nDocs / l.sec}%.1f,"unit":"docs/sec","nDocs":$nDocs,"rows":${l.rows},"shuffle_write_mb":${l.shufWriteMB}%.0f,"shuffle_read_mb":${l.shufReadMB}%.0f,"task_skew":${l.taskSkew}%.2f}""")
    }
    import scala.reflect.io.Directory
    new Directory(new java.io.File(src)).deleteRecursively()
    hotDirCreated.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    funnelDirCreated.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    linesDirCreated.foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    spark.stop()
  }
}
