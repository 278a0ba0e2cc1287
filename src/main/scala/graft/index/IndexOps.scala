package graft.index

import graft.core.{BlockChunk, Codec, CodeDoc, DocStats, IndexFields, PostingRun}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.roaringbitmap.{FastRankRoaringBitmap, RoaringBitmap}

/** Index-management operators mirroring the reference CLI's surface
  * (SURVEY.md §2.1/§2.9): delete-by-id / delete-by-query, uniqueKey upsert,
  * realtime get, facet counts, JSONL dump/reload, hit counts.
  *
  * Mutations are snapshot-functional: they produce a NEW index directory via
  * rebuild of the surviving document set (our segments are immutable;
  * Solr's in-place upsert becomes "filter + union + rebuild + commit", the
  * delete-by-query K4 anti-join made explicit). Readers of the old directory
  * are unaffected — commit-gated visibility, like solrconfig autoCommit.
  */
object IndexOps {

  /** The natural key of a code doc — (repo, path, commit) identifies a row
    * like `uniqueKey=id` does in the reference schema (schema.xml:356).
    */
  private val KeyCols = Seq("repo", "path", "commit")

  /** RAW docstats table, INCLUDING tombstoned rows — for internal key
    * resolution ([[deleteInPlace]]) only. Reader-facing surfaces go through
    * [[liveDocs]] so committed deletes are invisible everywhere search/
    * filter/facet already make them invisible (Solr RTG semantics).
    */
  def docs(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.schema(IndexBuilder.DocStatsSchema).parquet(s"$indexDir/docstats")

  /** Documents visible to readers: docstats minus committed tombstones. */
  def liveDocs(spark: SparkSession, indexDir: String): DataFrame =
    Tombstones.exclude(spark, indexDir, docs(spark, indexDir))

  /** S4 realtime-get by ids: broadcast semi join of the id list. Respects
    * committed deletes (a deleted or replaced doc is NOT returned), matching
    * Solr where RTG sees deletes once they are soft-committed.
    */
  def realtimeGet(spark: SparkSession, indexDir: String, arks: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    val ids = arks.toDF(KeyCols: _*)
    liveDocs(spark, indexDir).join(broadcast(ids), KeyCols, "left_semi")
  }

  /** A2 hit count for a compiled filter query ([[QueryFilter]]). */
  def hitCount(spark: SparkSession, indexDir: String, query: String): Long =
    QueryFilter.matchingDocs(spark, indexDir, query).count()

  /** Q6 facet counts over the documents matching a filter query:
    * facet.field with mincount=1 (solrconfig.xml:129-130).
    */
  def facet(spark: SparkSession, indexDir: String, query: String, field: String): DataFrame = {
    val matches = QueryFilter.matchingDocs(spark, indexDir, query)
    matches.groupBy(col(field)).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 1)
      .orderBy(col("cnt").desc, col(field))
  }

  /** K4 delete by id list: anti-join rewrite into a new snapshot dir.
    * This is the COMPACTION path — full rebuild without the deleted docs.
    * For the O(deleted)-cost path use [[deleteInPlace]].
    */
  def deleteByIds(spark: SparkSession, source: Dataset[CodeDoc], keys: Seq[(String, String, String)],
                  outDir: String, cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    val del = keys.toDF(KeyCols: _*)
    val surviving = source.join(broadcast(del), KeyCols, "left_anti").as[CodeDoc]
    IndexBuilder.build(spark, surviving, outDir, cfg)
  }

  /** K4 in-place delete: resolve natural keys to docIds (one pushed-filter
    * semi join), commit a tombstone file — O(deleted docs), NO rebuild.
    * Readers opened after the commit exclude the docs ([[graft.index.Tombstones]]);
    * compact later with [[deleteByIds]] when tombstones accumulate.
    */
  def deleteInPlace(spark: SparkSession, indexDir: String,
                    keys: Seq[(String, String, String)]): Long = {
    import spark.implicits._
    val del = keys.toDF(KeyCols: _*)
    val ids = docs(spark, indexDir).join(broadcast(del), KeyCols, "left_semi")
      .select(col("docId")).as[Long].collect()
    Tombstones.commitDeletes(spark, indexDir, ids.toSeq)
  }

  /** K4 mass delete-by-query, fully distributed: resolve matching docIds
    * with [[QueryFilter.matchingDocs]] (pushed-filter scans), write them as
    * a tombstone file straight from the DataFrame, commit. NOTHING is
    * driver-materialized. Searchers read the tombstones back as a
    * [[DocSet]] on every route. Returns the new snapshot id.
    */
  def deleteByQueryInPlace(spark: SparkSession, indexDir: String, query: String): Long =
    Tombstones.commitDeletesDF(spark, indexDir,
      QueryFilter.matchingDocs(spark, indexDir, query).select(col("docId")))

  /** Q8 in-place upsert: tombstone the replaced keys in the base segment and
    * build the incoming batch as a DELTA segment — a [[graft.query.Searcher]]
    * over (base, delta) then scores exactly like a merged rebuilt index, at
    * O(incoming) cost. Only `baseDir` is tombstoned: a key already live in
    * an earlier delta segment stays live there too, so a searcher over the
    * base and every delta sees both copies until [[maintain]] (or
    * [[mergeSegments]]) folds the segments. Key resolution is DISTRIBUTED
    * (docstats semi-joined with the incoming keys; tombstone file written
    * from the DataFrame), so a bulk backfill never materializes its key set
    * on the driver. Returns the delta segment's meta.
    */
  def upsertDelta(spark: SparkSession, baseDir: String, incoming: Dataset[CodeDoc],
                  deltaDir: String, cfg: IndexConfig = IndexConfig()): IndexMeta = {
    val keys = incoming.toDF().select(KeyCols.map(col): _*).distinct()
    val replaced = docs(spark, baseDir).join(keys, KeyCols, "left_semi")
      .select(col("docId"))
    Tombstones.commitDeletesDF(spark, baseDir, replaced)
    IndexBuilder.build(spark, incoming, deltaDir, cfg)
  }

  /** Q8 uniqueKey upsert: re-adding a doc replaces the one with the same
    * natural key (last-wins on the incoming batch, incoming wins over base).
    */
  def upsert(spark: SparkSession, base: Dataset[CodeDoc], incoming: Dataset[CodeDoc],
             outDir: String, cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    val survivors = base.join(incoming.toDF().select(KeyCols.map(col): _*).distinct(),
      KeyCols, "left_anti").as[CodeDoc]
    IndexBuilder.build(spark, survivors.unionByName(incoming), outDir, cfg)
  }

  /** Segment compaction WITHOUT the raw corpus — the Lucene merge analog.
    * Re-keys every surviving document of the input segments into one dense
    * docId space (segment offsets, tombstones squeezed out), re-encodes
    * posting blocks map-side from the segments' own posting lists through
    * the build's [[BlockBuf]], and ends like [[IndexBuilder.build]]: the
    * standard chunk-shuffle assembly, then [[IndexBuilder.commit]]. Stages
    * resume like a build's. Refuses more than [[IndexMeta.MaxDocs]]
    * surviving documents before any stage runs. At 100 TB this is the
    * compaction path: merging reads the (compressed) index, never the
    * source table —
    * deletes become free space, delta segments fold into the base, and BM25
    * stats equal a fresh build over the surviving corpus exactly (tombstoned
    * docs vanish from N, df, cf, and avgLen).
    *
    * Tombstone remap is one broadcast [[DocSet]] per segment (~nDocs/8
    * bytes at most, destroyed when the merge returns): a surviving doc's
    * newId = segmentOffset + oldId - (#tombstones < oldId), the set's rank —
    * monotone per segment, so decoded blocks stay docId-sorted and
    * re-encode streaming with no sort.
    *
    * Block `minQuantLen` metadata carries over as the min of contributing
    * source blocks — a lower bound of the true block min, so WAND upper
    * bounds stay admissible (scoring itself reads exact norms from docstats).
    */
  def mergeSegments(spark: SparkSession, segmentDirs: Seq[String], outDir: String,
                    cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    val snap = new Snapshot(outDir)
    snap.init()
    val metas = segmentDirs.map(d => IndexMeta.fromProps(new Snapshot(d).readProps()))
    val tombs = segmentDirs.map(d => Tombstones.docSet(spark, d))
    val survivors = metas.zip(tombs).map { case (m, t) => m.nDocs - t.getLongCardinality }
    IndexMeta.requireDocIdRange(survivors.sum, s"merge into $outDir")
    val offsets = survivors.scanLeft(0L)(_ + _)
    val saltRange = cfg.saltRange
    val blockSize = cfg.blockSize

    // both stages read each segment's set through one broadcast
    val tombBcs = tombs.map(spark.sparkContext.broadcast(_))
    try {
      // ---- docstats: re-key + drop tombstoned, one map pass per segment ----
      if (!snap.stageDone("docstats")) {
        val parts = segmentDirs.zipWithIndex.map { case (d, i) =>
          val tsB = tombBcs(i)
          val off = offsets(i)
          spark.read.schema(IndexBuilder.DocStatsSchema).parquet(s"$d/docstats").as[DocStats]
            .mapPartitions { it =>
              val ts = rankable(tsB.value)
              // a survivor's rank counts the tombstones below it
              it.filter(s => !ts.contains(s.docId.toInt)).map { s =>
                val nid = off + s.docId - ts.rankLong(s.docId.toInt)
                s.copy(docId = nid, salt = (nid / saltRange).toInt)
              }
            }
        }
        parts.map(_.toDF()).reduce(_ unionByName _)
          .repartitionByRange(cfg.shufflePartitions, col("docId"))
          .sortWithinPartitions(col("docId"))
          .write.mode("overwrite").parquet(s"$outDir/docstats")
        snap.markStageDone("docstats")
      }

      // ---- postings: decode -> drop -> re-key -> re-encode chunks map-side,
      // then the shared chunk-shuffle assembly ----
      if (!snap.stageDone("postings")) {
        val chunkParts = segmentDirs.zipWithIndex.map { case (d, i) =>
          val tsB = tombBcs(i)
          val off = offsets(i)
          spark.read.schema(IndexBuilder.PostingsSchema).parquet(s"$d/postings").as[PostingRun]
            .mapPartitions { runs =>
              val ts = rankable(tsB.value)
              val buf = new BlockBuf(blockSize)
              runs.flatMap { run =>
                val fid = IndexFields.Names.indexOf(run.field)
                val out = scala.collection.mutable.ArrayBuffer.empty[BlockChunk]
                var curSalt = -1
                run.blocks.foreach { b =>
                  val ids = Codec.decodeDocIds(b.docsDelta, b.n)
                  val tfs = Codec.decodeTfs(b.tfs, b.n)
                  var j = 0
                  while (j < b.n) {
                    val old = ids(j)
                    if (!ts.contains(old.toInt)) {
                      val nid = off + old - ts.rankLong(old.toInt)
                      val salt = (nid / saltRange).toInt
                      if (salt != curSalt) {
                        if (buf.n > 0) out += buf.cut(fid, run.term, curSalt)
                        curSalt = salt
                      }
                      buf.add(nid, tfs(j), b.minQuantLen)
                      if (buf.n == blockSize) out += buf.cut(fid, run.term, curSalt)
                    }
                    j += 1
                  }
                }
                if (buf.n > 0) out += buf.cut(fid, run.term, curSalt)
                out
              }
            }
        }
        val chunks = chunkParts.map(_.toDF()).reduce(_ unionByName _)
        IndexBuilder.assembleAndWritePostings(spark, chunks, outDir, cfg, snap)
      }
    } finally tombBcs.foreach(_.destroy())
    IndexBuilder.commit(spark, outDir, cfg, snap)
  }

  /** A task's copy of a tombstone set that ranks in O(log containers):
    * `FastRankRoaringBitmap` caches the per-container cardinality sums that
    * a plain `rankLong` re-adds on every call. The cache fills lazily on
    * first use, so tasks sharing one broadcast value each take a copy.
    */
  private[graft] def rankable(ts: RoaringBitmap): FastRankRoaringBitmap = {
    val r = new FastRankRoaringBitmap()
    r.or(ts)
    r
  }

  /** Auto-compaction policy — the TieredMergePolicy analog Solr inherits
    * from Lucene (solrconfig.xml merge defaults): decide WHEN to compact
    * from snapshot properties alone (no data read — `tombstoneCount` rides
    * the commit, [[Tombstones.count]]), then fold the base plus its delta
    * segments into one fresh segment via [[mergeSegments]].
    *
    * Triggers when the base's committed tombstone upper bound exceeds
    * `maxTombstoneRatio` of its docs, or when more than `maxDeltas` delta
    * segments have accreted (a long-running upsert/delete workload no longer
    * needs a human to call merge). Returns Some(mergedMeta) when compaction
    * ran — the merged segment lives at `outDir`, callers swap readers to it
    * (commit-gated: readers of the old dirs are untouched) — or None when
    * the policy says leave it alone. `tombstoneCount` counts stored rows, an
    * upper bound on the distinct deletes: below
    * [[Tombstones.DedupSkipBound]] a re-deleted id is stored and counted
    * again, so the ratio trigger may fire early on re-deletes, never late.
    */
  def maintain(spark: SparkSession, baseDir: String, deltaDirs: Seq[String],
               outDir: String, cfg: IndexConfig = IndexConfig(),
               maxTombstoneRatio: Double = 0.2, maxDeltas: Int = 4): Option[IndexMeta] = {
    val props = new Snapshot(baseDir).readProps()
    val nDocs = props.get("nDocs").map(_.toLong).getOrElse(0L)
    val tombs = props.get("tombstoneCount").map(_.toLong).getOrElse(0L)
    val needed = (nDocs > 0 && tombs.toDouble / nDocs > maxTombstoneRatio) ||
      deltaDirs.size > maxDeltas
    if (!needed) None
    else Some(mergeSegments(spark, baseDir +: deltaDirs, outDir, cfg))
  }

  /** K5 JSONL dump: page the document set to `maxRecordsPerFile`-bounded
    * JSON files (the reference dumps 1000 docs/file, importer.py:340-360).
    */
  def dumpJsonl(spark: SparkSession, indexDir: String, outDir: String,
                batchSize: Int = 1000, partitions: Int = 0): Unit = {
    // default partition count scales with the corpus (one writer per ~100
    // output files) instead of a fixed fan-in that would bottleneck at scale
    val p =
      if (partitions > 0) partitions
      else math.max(1, math.min(10000,
        new Snapshot(indexDir).readProps().get("nDocs").map(_.toLong).getOrElse(1000L)
          / (batchSize.toLong * 100))).toInt
    liveDocs(spark, indexDir)
      .repartitionByRange(p, col("docId"))
      .sortWithinPartitions(col("docId"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", batchSize)
      .json(outDir)
  }

  /** S2 JSONL reload: line-delimited JSON scan. */
  def loadJsonl(spark: SparkSession, dir: String): DataFrame = spark.read.json(dir)
}

/** Q1: the reference's observed Lucene filter-query surface compiled onto the
  * index tables (SURVEY.md §2.9). Grammar (exactly the forms feed_ursus
  * issues — importer.py:187-204, 479-484, 499; feed_ursus.py:125-133):
  *
  *   clause     := [NOT] field:value | [NOT] field:* | *:*
  *   query      := clause (OR clause)*
  *
  * A query compiles to ONE predicate over one docstats scan, so resolving
  * it is one Spark job for keyword and exists clauses:
  *
  * `field:value` -> `coalesce(field = value, false)` for keyword fields
  *                  (repo/lang/...); for `content`/`path`, a marker column
  *                  from a left-outer join with the analyzed term's decoded
  *                  postings
  * `field:*`     -> the field-exists test on docstats
  * `*:*`         -> true (a leading NOT is ignored)
  * NOT           -> negation of the whole clause predicate: a doc whose
  *                  value is null matches `NOT field:value`, as it would
  *                  with a complement of the match set
  * OR            -> `||` of the clause predicates
  */
object QueryFilter {

  sealed trait Clause
  case class TermClause(field: String, value: String, negated: Boolean) extends Clause
  case class ExistsClause(field: String, negated: Boolean) extends Clause
  case object MatchAll extends Clause

  def parse(query: String): Seq[Clause] =
    query.split("(?i)\\s+OR\\s+").map(_.trim).filter(_.nonEmpty).map { part =>
      val (neg, body) =
        if (part.toUpperCase.startsWith("NOT ")) (true, part.substring(4).trim)
        else (false, part)
      body match {
        case "*:*" => MatchAll
        case b if b.endsWith(":*") => ExistsClause(b.dropRight(2), neg)
        case b =>
          val i = b.indexOf(':')
          require(i > 0, s"bad clause: $part")
          TermClause(b.substring(0, i), b.substring(i + 1), neg)
      }
    }.toSeq

  /** Fields whose term clauses read postings instead of a docstats column. */
  private val PostingsFields = Set("content", "path")

  /** Whether the query has a `content:`/`path:` term clause, the only kind
    * that reads postings; every other clause is a docstats predicate.
    */
  def readsPostings(query: String): Boolean = parse(query).exists {
    case TermClause(field, _, _) => PostingsFields(field)
    case _ => false
  }

  /** Live docstats rows (every docstats column) matching the query:
    * [[filter]] over the index's tables, committed tombstones excluded.
    */
  def matchingDocs(spark: SparkSession, indexDir: String, query: String): DataFrame =
    Tombstones.exclude(spark, indexDir,
      filter(IndexOps.docs(spark, indexDir),
        spark.read.schema(IndexBuilder.PostingsSchema).parquet(s"$indexDir/postings"),
        IndexMeta.fromProps(new Snapshot(indexDir).readProps()).buckets, query))

  /** `stats` rows matching the query, with `stats`' columns; tombstones are
    * NOT excluded. `postings` and `buckets` are only used by `content:` and
    * `path:` term clauses.
    */
  def filter(stats: DataFrame, postings: => DataFrame, buckets: => Int,
             query: String): DataFrame = {
    val clauses = parse(query).zipWithIndex
    def marker(i: Int): String = s"_fq$i"
    // read once, and only when a clause needs them
    lazy val postingsDF = postings
    lazy val nBuckets = buckets
    val marked = clauses.foldLeft(stats) {
      case (df, (TermClause(field, value, _), i)) if PostingsFields(field) =>
        df.join(termDocs(postingsDF, nBuckets, field, value).withColumn(marker(i), lit(true)),
          Seq("docId"), "left_outer")
      case (df, _) => df
    }
    val predicate = clauses.map { case (c, i) =>
      val (pred, neg) = c match {
        case MatchAll => (lit(true), false)
        case ExistsClause(field, n) =>
          val fi = IndexFields.Names.indexOf(field)
          val exists =
            if (fi >= 0) col(IndexFields.LengthCols(fi)) > 0 else col(field).isNotNull
          (exists, n)
        case TermClause(field, _, n) if PostingsFields(field) =>
          (coalesce(col(marker(i)), lit(false)), n)
        case TermClause(field, value, n) => (coalesce(col(field) === value, lit(false)), n)
      }
      if (neg) !pred else pred
    }.reduce(_ || _)
    marked.filter(predicate).select(stats.columns.map(col).toIndexedSeq: _*)
  }

  /** docIds in the analyzed term's postings, decoded from its blocks. A doc
    * posts a (field, term) once, so the ids are distinct without a shuffle.
    */
  private def termDocs(postings: DataFrame, buckets: Int, field: String,
                       value: String): DataFrame = {
    val term = graft.analysis.Analyzer.analyzeField(field, value).headOption.getOrElse(value)
    postings
      .filter(col("bucket") === IndexBuilder.bucketOf(term, buckets) &&
        col("field") === field && col("term") === term)
      .select(explode(col("blocks")).as("b"))
      .select(col("b.docsDelta").as("docsDelta"), col("b.n").as("n"))
      .as[(Array[Byte], Int)](org.apache.spark.sql.Encoders.product[(Array[Byte], Int)])
      .flatMap(t => graft.core.Codec.decodeDocIds(t._1, t._2))(
        org.apache.spark.sql.Encoders.scalaLong)
      .toDF("docId")
  }
}
