package graft.index

import graft.analysis.Analyzer
import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Build configuration. Defaults size for local tests; at cluster scale raise
  * `shufflePartitions` to O(cores); `saltRange` stays fixed — the number of
  * salts grows with the corpus, which IS the skew mitigation: a head term
  * present in 40% of docs is split into nDocs/saltRange independent runs that
  * encode in parallel and concatenate in salt order by construction. The
  * indexed fields are not configurable: [[IndexFields]] fixes them.
  */
case class IndexConfig(
    buckets: Int = 64,
    blockSize: Int = 128,
    saltRange: Long = 1L << 20,
    shufflePartitions: Int = 32,
    /** Docs between map-side chunk flushes: the pre-encoding combiner's
      * memory bound is (distinct terms per chunkDocs docs) × a small growable
      * buffer (~50-100 MB/task at 16k code docs). Larger chunks amortize
      * head-term strings over more postings (measured +15% build throughput
      * 4096 -> 16384 at 400k docs); shrink if executor memory is tight. */
    chunkDocs: Int = 16384,
    /** Ignored: postings are always written flat
      * ([[IndexBuilder.assembleAndWritePostings]]). Writing them under
      * `bucket=N` directories left a file per (shuffle partition, bucket),
      * ~3 ms each to write and to list, and bought no file pruning: every task
      * holds every bucket, so a term's bucket directory holds as many files
      * as the flat table, whose term-sorted row groups already prune. Kept so
      * callers that still pass it, the benchmark harness among them, compile.
      */
    bucketDirs: Boolean = false)

/** Inverted-index build pipeline (SURVEY.md §3.1 step 7, §7.2 module 5):
  *
  *   docs -> stable docIds -> docstats (per-field lengths + sha256)
  *        -> typed flatMap tokenize -> (bucket, field, term, salt, docId, tf)
  *        -> repartition(bucket, field, salt) -> sortWithinPartitions
  *        -> mapPartitions streaming block encoder -> posting runs (parquet)
  *           + lineage rows
  *        -> [[commit]]: dictionary (global df/cf) -> stats -> snapshot
  *
  * [[IndexOps.mergeSegments]] is the same pipeline fed from segments: its
  * chunks come out of the same [[BlockBuf]], and it ends in the same
  * shuffle, run assembly and [[commit]].
  *
  * Layout under `outDir`:
  *   docstats/    (docId, repo, path, commit, lang, sha, salt, len*)
  *   postings/    [[PostingRun]] rows, (field,term)-sorted within files,
  *                one file per shuffle partition (`bucket` a data column)
  *   dictionary/  (bucket, field, term, df, cf)
  *   lineage/     [[LineageRow]] per build partition
  *   snapshots/, SNAPSHOT — snaptable commit ([[Snapshot]])
  *
  * Scale notes (the 100 TB design):
  *  - ONE wide shuffle total (the posting repartition). docstats is map-only;
  *    tokenizing twice trades CPU for not shuffling tokens twice.
  *  - docId assignment is deterministic (global rank over a unique key), so
  *    stages recompute it instead of joining back — resume never needs the
  *    raw corpus co-shuffled with committed stages.
  *  - postings land term-major inside files (parquet row-group min/max stats
  *    prune term lookups), flat: no partition directories (see
  *    [[IndexConfig.bucketDirs]]).
  */
object IndexBuilder {

  /** The persisted tables' schemas. Every reader passes its table's schema,
    * so opening a table lists its files but runs no parquet schema-inference
    * job, and a table with no data files (an empty build's postings under
    * the `bucket=N` layout earlier versions wrote) reads as empty.
    * SchemaGuardSpec checks them against what each writer leaves.
    */
  private[graft] val DocStatsSchema: StructType = Encoders.product[DocStats].schema
  private[graft] val PostingsSchema: StructType = Encoders.product[PostingRun].schema
  private[graft] val DictionarySchema: StructType = Encoders.product[DictEntry].schema

  def bucketOf(term: String, buckets: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(term, 0x9747b28c), buckets)

  /** Deterministic dense docIds = global rank in (sha, repo, path, commit)
    * order — the "sha256(content)-stable ordinal" (FIXTURES.md §1). Scalable
    * shape: range partition + per-partition ranks + broadcast offsets; no
    * single-partition global sort. The sorted shuffle output is persisted
    * DISK_ONLY (serialized rows on node-local disk — the manual analog of
    * keeping the shuffle files) so the offset-count job and the fused
    * tokenize pass share ONE exchange+sort without paying the columnar
    * in-memory cache's decompress-recompress CPU (round 2 used the default
    * MEMORY_AND_DISK here; the cache build of full content cost more than
    * it saved, and could never fit at the 100 TB target).
    *
    * The persisted corpus is added to `persisted`; the caller unpersists it
    * once the ranked frame's last job has run.
    */
  def withDocIds(spark: SparkSession, docs: Dataset[CodeDoc], partitions: Int,
                 persisted: mutable.Buffer[Dataset[_]]): DataFrame = {
    import spark.implicits._
    val keyCols = Seq(col("sha"), col("repo"), col("path"), col("commit"))
    val parted = docs.toDF()
      .withColumn("sha", sha2(col("content"), 256))
      .select("sha", "repo", "path", "commit", "lang", "content")
      .repartitionByRange(partitions, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    persisted += parted
    val counts = parted.groupBy(spark_partition_id().as("pid")).count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    IndexMeta.requireDocIdRange(counts.iterator.map(_._2).sum, "build")
    var acc = 0L
    val offsets: Map[Int, Long] = counts.map { case (pid, n) =>
      val entry = pid -> acc; acc += n; entry
    }.toMap
    // Partitions are already key-sorted: the global rank is partition offset
    // + local position. mapPartitions with a running counter — no second
    // shuffle, no window re-sort (those anti-scaled: a full-corpus exchange
    // per extra pass).
    parted
      .as[(String, String, String, String, String, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var rank = offsets.getOrElse(pid, 0L)
        it.map { case (sha, repo, path, commit, lang, content) =>
          val id = rank; rank += 1
          (id, sha, repo, path, commit, lang, content)
        }
      }
      .toDF("docId", "sha", "repo", "path", "commit", "lang", "content")
  }

  /** Tokenize one field value into (length, term -> tf) in first-seen order.
    * Shared by the posting flatMap and the docstats map so lengths agree.
    */
  def termFreqs(field: String, text: String): (Int, java.util.LinkedHashMap[String, Integer]) = {
    val toks = Analyzer.analyzeField(field, text)
    // java LinkedHashMap + Integer cache: no per-token Option/Some allocation
    // (tf values <= 127 box for free), insertion order preserved
    val m = new java.util.LinkedHashMap[String, Integer](math.max(8, toks.length * 2))
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val c = m.get(t)
      m.put(t, if (c == null) Integer.valueOf(1) else Integer.valueOf(c.intValue + 1))
      i += 1
    }
    (toks.length, m)
  }

  /** The reduce side of the posting build, shared by [[build]] and
    * [[IndexOps.mergeSegments]]: shuffle pre-encoded [[BlockChunk]]s by
    * (term, fieldId, salt), assemble runs, write postings + lineage, mark
    * the postings stage. The postings are written flat, one file per
    * shuffle partition with `bucket` a data column; readers also read the
    * `bucket=N` directories earlier versions wrote. Lineage rows (ONE per
    * partition) ride an accumulator out of the same pass that writes the
    * postings — no caching of the run dataset. (Round 2 first persisted the runs to serve lineage
    * + dictionary; the columnar cache of the block binaries cost more CPU to
    * build and re-scan — measured 65s at 400k docs/16 cores — than it
    * saved.) Task retries can add duplicate rows; the driver dedupes by pid.
    */
  private[index] def assembleAndWritePostings(
      spark: SparkSession, chunks: DataFrame, outDir: String,
      cfg: IndexConfig, snap: Snapshot): Unit = {
    import spark.implicits._
    val postingsPath = s"$outDir/postings"
    val lineagePath = s"$outDir/lineage"
    val buckets = cfg.buckets

    val sorted = chunks
      .repartition(cfg.shufflePartitions, $"term", $"fieldId", $"salt")
      // term first: the string sort-prefix discriminates; firstDoc last
      // restores global docId order (chunks cover disjoint ranges)
      .sortWithinPartitions($"term", $"fieldId", $"salt", $"firstDoc")
      .as[BlockChunk]

    val lineageAcc = new org.apache.spark.util.CollectionAccumulator[LineageRow]()
    spark.sparkContext.register(lineageAcc, "lineage")

    val runs: Dataset[PostingRun] =
      sorted.mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val asm = new RunAssembler(buckets)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
        var termLo: String = null
        var termHi: String = null
        var bucketSeen = -1
        var nRuns = 0L; var nPost = 0L; var nBytes = 0L
        def record(r: PostingRun): PostingRun = {
          nRuns += 1; nPost += r.df; bucketSeen = r.bucket
          if (termLo == null || r.term < termLo) termLo = r.term
          if (termHi == null || r.term > termHi) termHi = r.term
          r.blocks.foreach { b =>
            nBytes += b.docsDelta.length + b.tfs.length
            sha.update(b.docsDelta); sha.update(b.tfs)
          }
          r
        }
        var lineageDone = false
        def finishLineage(): Unit = if (!lineageDone) {
          lineageDone = true
          lineageAcc.add(LineageRow(pid, bucketSeen,
            Option(termLo).getOrElse(""), Option(termHi).getOrElse(""),
            nRuns, nPost, nBytes, sha.digest().map("%02x".format(_)).mkString))
        }
        it.flatMap(c => asm.add(c).map(record)) ++
          new Iterator[PostingRun] { // flush AFTER input exhausts, then lineage
            private var state = 0 // 0 = not flushed, 1 = holding run, 2 = done
            private var v: PostingRun = _
            def hasNext: Boolean = state match {
              case 0 => asm.flush() match {
                case Some(r) => v = record(r); state = 1; true
                case None => finishLineage(); state = 2; false
              }
              case 1 => true
              case _ => false
            }
            def next(): PostingRun = { val r = v; state = 2; finishLineage(); r }
          }
      }

    timed("postWrite")(runs.write.mode("overwrite").parquet(postingsPath))
    timed("lineageWrite") {
      import scala.jdk.CollectionConverters._
      val rows = lineageAcc.value.asScala.toSeq
        .groupBy(_.partitionId).map(_._2.head).toSeq // dedupe retried tasks
      spark.createDataset(rows).write.mode("overwrite").parquet(lineagePath)
    }
    snap.markStageDone("postings")
  }

  /** The tail of [[build]] and [[IndexOps.mergeSegments]], run once their
    * docstats and postings stages are done: write the dictionary unless its
    * stage is done, take the corpus stats from the docstats table, and
    * commit the snapshot. The stats are one aggregate job; an empty table
    * gives nDocs 0 and average lengths 0.
    *
    * The dictionary holds the global per-(field, term) df/cf, summed from a
    * NARROW postings re-read (parquet skips the untouched blocks column) and
    * sorted by (field, term) so query-time probes prune to O(query terms)
    * row groups ([[graft.query.DictProbe]]).
    */
  private[index] def commit(spark: SparkSession, outDir: String, cfg: IndexConfig,
                            snap: Snapshot): IndexMeta = {
    if (!snap.stageDone("dictionary")) timed("dictionary") {
      spark.read.schema(PostingsSchema).parquet(s"$outDir/postings")
        .groupBy(col("bucket"), col("field"), col("term"))
        .agg(sum(col("df")).as("df"), sum(col("cf")).as("cf"))
        // coalesce + sort-within (NOT repartitionByRange): probe pruning only
        // needs tight per-row-group min/max on (field, term), which sorted
        // files give regardless of which file a term lands in — and this
        // skips a second exchange plus the range sampling job per build
        .coalesce(math.max(1, cfg.buckets / 8))
        .sortWithinPartitions(col("field"), col("term"))
        .write.mode("overwrite").parquet(s"$outDir/dictionary")
      snap.markStageDone("dictionary")
    }
    val sums = timed("statsAgg") {
      spark.read.schema(DocStatsSchema).parquet(s"$outDir/docstats")
        .agg(count(lit(1)), IndexFields.LengthCols.map(c => coalesce(sum(col(c)), lit(0L))): _*)
        .collect()(0)
    }
    val nDocs = sums.getLong(0)
    val avgLen = IndexFields.Names.zipWithIndex.map { case (f, i) =>
      f -> (if (nDocs == 0) 0.0 else sums.getLong(i + 1).toDouble / nDocs)
    }.toMap
    val meta = IndexMeta(nDocs = nDocs, avgLen = avgLen,
      buckets = cfg.buckets, saltRange = cfg.saltRange, blockSize = cfg.blockSize)
    snap.commit(meta.toProps + ("fields" -> IndexFields.Names.mkString(",")))
    meta
  }

  /** Stage timing (stderr) — enabled with SPARK_GRAFT_TIMING=1. */
  private def timed[T](stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (sys.env.get("SPARK_GRAFT_TIMING").contains("1")) {
      System.err.println(f"[build-stage] $stage%-12s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    }
    r
  }

  /** Build `docs` into a segment at `outDir` and return its committed meta.
    * A rerun over the same directory skips the stages an earlier run marked
    * done; the [[commit]] tail runs every time. Refuses more than
    * [[IndexMeta.MaxDocs]] documents at its docIds stage.
    */
  def build(spark: SparkSession, docs: Dataset[CodeDoc], outDir: String,
            cfg: IndexConfig = IndexConfig()): IndexMeta = {
    import spark.implicits._
    val snap = new Snapshot(outDir)
    snap.init()

    val needDocstats = !snap.stageDone("docstats")
    val needPostings = !snap.stageDone("postings")
    // ---- fused tokenize: ONE pass over content feeds BOTH the docstats
    // table (map-side written stats rows — no shuffle at all) and the posting
    // shuffle (map-side pre-encoded BlockChunks). content is decompressed
    // from the columnar cache exactly once, tokenized exactly once. ----
    val saltRange = cfg.saltRange
    val blockSize = cfg.blockSize
    val chunkDocs = cfg.chunkDocs

    // the frames this build persists, released once its postings stage is
    // done or a stage throws
    val persisted = mutable.ArrayBuffer.empty[Dataset[_]]
    try {
      val withIds: DataFrame =
        if (needDocstats || needPostings)
          timed("docIds")(withDocIds(spark, docs, cfg.shufflePartitions, persisted))
        else null

      lazy val emitted: Dataset[BuildEmit] = withIds
        .select("docId", "sha", "repo", "path", "commit", "lang", "content")
        .as[(Long, String, String, String, String, String, String)]
        .mapPartitions { it =>
          val enc = new ChunkEncoder(blockSize, saltRange, chunkDocs)
          it.flatMap { case (docId, sha, repo, path, commit, lang, content) =>
            val (chunks, stats) = enc.addDoc(docId, sha, repo, path, commit, lang, content)
            chunks.map(c => BuildEmit(Some(c), None)) ++
              Iterator.single(BuildEmit(None, Some(stats)))
          } ++
            new Iterator[BuildEmit] { // lazily flush AFTER input exhausts
              private var flushed = false
              private var v: Iterator[BlockChunk] = Iterator.empty
              def hasNext: Boolean = {
                if (!flushed) { v = enc.flushAll().iterator; flushed = true }
                v.hasNext
              }
              def next(): BuildEmit = BuildEmit(Some(v.next()), None)
            }
        }
      // persist only when both stages consume it (a resumed postings-only build
      // reads the fused pass once — no point caching). Storage level:
      // MEMORY_AND_DISK columnar is the measured winner here (DISK_ONLY
      // serialized rows cost 23.6k -> 14.5k docs/s at 1.6M/16c: BuildEmit's
      // binary payloads serialize poorly row-wise but pack well columnar) —
      // the OPPOSITE of the withDocIds corpus cache, where rows are wide text.
      val needBoth = needDocstats && needPostings
      lazy val src: Dataset[BuildEmit] =
        if (needBoth) {
          persisted += emitted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          emitted
        } else emitted

      // ---- stage: docstats (map-side rows out of the fused pass; the timed
      // cost here includes materializing the fused tokenize+encode cache).
      // DataFrame select, NOT a typed flatMap: `stats.*` prunes the chunk
      // binaries out of the cache scan (a typed flatMap deserializes the whole
      // BuildEmit row — measured as most of this stage's CPU). ----
      if (needDocstats) timed("docstats") {
        src.toDF().filter($"stats".isNotNull).select($"stats.*")
          .write.mode("overwrite").parquet(s"$outDir/docstats")
        snap.markStageDone("docstats")
      }

      // ---- stage: posting runs + per-partition lineage ----
      //
      // Shuffle format: map-side pre-encoded [[BlockChunk]]s, not raw postings.
      // Each map partition holds a contiguous docId range (withDocIds rank), so
      // per-(field, term) blocks delta+varint encode BEFORE the exchange and
      // the reduce side only sorts + concatenates. This removes the per-posting
      // term string (~70% of round-1 shuffle bytes) and the per-posting row
      // overhead from the one wide shuffle: a head term crosses the wire
      // ceil(df_chunk/blockSize) times per chunk instead of df times.
      if (needPostings) timed("postings") {
        // `chunk.*` select (not flatMap): prunes the stats columns from the scan
        val chunks = src.toDF().filter($"chunk".isNotNull).select($"chunk.*")
        assembleAndWritePostings(spark, chunks, outDir, cfg, snap)
      }
    } finally persisted.foreach(_.unpersist())
    commit(spark, outDir, cfg, snap)
  }
}

/** The one posting-block buffer of the build ([[ChunkEncoder]]) and the
  * merge ([[IndexOps.mergeSegments]]): (docId, tf) postings of one
  * (field, term), added in increasing docId order and cut into a
  * delta+FOR-encoded [[BlockChunk]]. Its arrays grow 4 → blockSize by
  * doubling, so the Zipf tail (df 1–2 per chunk) pays ~4 slots, not 128.
  */
private[index] final class BlockBuf(blockSize: Int) {
  private var docs = new Array[Long](4)
  private var tfs = new Array[Int](4)
  private var size = 0
  private var maxTf = 0
  private var minQL = Int.MaxValue
  private var cf = 0L

  /** Postings buffered since the last cut. */
  def n: Int = size

  /** `ql` is the doc's quantized length, or a lower bound of it: the
    * block's `minQuantLen` only has to keep WAND upper bounds admissible.
    */
  def add(docId: Long, tf: Int, ql: Int): Unit = {
    if (size == docs.length) {
      val cap = math.min(blockSize, docs.length * 2)
      docs = java.util.Arrays.copyOf(docs, cap)
      tfs = java.util.Arrays.copyOf(tfs, cap)
    }
    docs(size) = docId; tfs(size) = tf; size += 1
    if (tf > maxTf) maxTf = tf
    if (ql < minQL) minQL = ql
    cf += tf
  }

  /** The buffered postings (at least one) as a chunk; empties the buffer. */
  def cut(fieldId: Int, term: String, salt: Int): BlockChunk = {
    val c = BlockChunk(fieldId.toByte, term, salt,
      firstDoc = docs(0), lastDoc = docs(size - 1), n = size,
      maxTf = maxTf, minQuantLen = minQL, cf = cf,
      docsDelta = Codec.encodeDocIds(java.util.Arrays.copyOf(docs, size)),
      tfs = Codec.encodeTfs(java.util.Arrays.copyOf(tfs, size)))
    size = 0; maxTf = 0; minQL = Int.MaxValue; cf = 0L
    c
  }
}

/** Map-side pre-encoding combiner. Feed docs in increasing docId order (the
  * natural withDocIds partition order); per (field, term) it accumulates
  * postings in a [[BlockBuf]] and emits a finished [[BlockChunk]] whenever
  * the buffer reaches `blockSize`. Everything buffered is flushed every
  * `chunkDocs` docs (bounding memory to the chunk's distinct-term count × a
  * tail buffer) and at salt boundaries (blocks never span salts).
  */
final class ChunkEncoder(blockSize: Int, saltRange: Long, chunkDocs: Int) {
  private val nFields = IndexFields.Names.length
  private val bufs = Array.fill(nFields)(mutable.HashMap.empty[String, BlockBuf])
  private var curSalt = -1
  private var docsSinceFlush = 0

  private def flushInto(out: mutable.ArrayBuffer[BlockChunk]): Unit = {
    var fi = 0
    while (fi < nFields) {
      bufs(fi).foreach { case (term, b) => if (b.n > 0) out += b.cut(fi, term, curSalt) }
      bufs(fi).clear()
      fi += 1
    }
    docsSinceFlush = 0
  }

  /** Tokenize one doc into posting buffers; returns any blocks completed by
    * this doc plus the doc's stats row (the same tokenize pass feeds both).
    */
  def addDoc(docId: Long, sha: String, repo: String, path: String,
             commit: String, lang: String, content: String): (Iterator[BlockChunk], DocStats) = {
    val out = mutable.ArrayBuffer.empty[BlockChunk]
    val salt = (docId / saltRange).toInt
    if (salt != curSalt) {
      if (docsSinceFlush > 0) flushInto(out)
      curSalt = salt
    }
    val fieldVals = Array(content, path, repo) // IndexFields order
    val lens = new Array[Int](nFields)
    var fi = 0
    while (fi < nFields) {
      val (len, tfs) = IndexBuilder.termFreqs(IndexFields.Names(fi), fieldVals(fi))
      lens(fi) = len
      val ql = SmallFloat.quantizeLength(len)
      val eit = tfs.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val b = bufs(fi).getOrElseUpdate(e.getKey, new BlockBuf(blockSize))
        b.add(docId, e.getValue.intValue, ql)
        if (b.n == blockSize) out += b.cut(fi, e.getKey, curSalt)
      }
      fi += 1
    }
    docsSinceFlush += 1
    if (docsSinceFlush >= chunkDocs) flushInto(out)
    (out.iterator, DocStats(docId, repo, path, commit, lang, sha, salt,
      lens(0), lens(1), lens(2)))
  }

  def flushAll(): Seq[BlockChunk] = {
    val out = mutable.ArrayBuffer.empty[BlockChunk]
    if (docsSinceFlush > 0 || bufs.exists(_.nonEmpty)) flushInto(out)
    out.toSeq
  }
}

/** Reduce-side run assembler: feed [[BlockChunk]]s in (term, fieldId, salt,
  * firstDoc) order; concatenates the pre-encoded blocks of one
  * (field, term, salt) into a [[PostingRun]] — chunks cover disjoint docId
  * ranges, so no decode or re-encode happens here. Returns the finished
  * previous run whenever the key changes.
  */
final class RunAssembler(buckets: Int) {
  private var fieldId: Byte = -1
  private var term: String = _
  private var salt = -1
  private val blocks = mutable.ArrayBuffer.empty[PostingBlock]
  private var df = 0L
  private var cf = 0L
  private var maxTf = 0

  private def finishRun(): PostingRun = {
    val run = PostingRun(IndexBuilder.bucketOf(term, buckets), IndexFields.Names(fieldId),
      term, salt, df, cf, maxTf, blocks.toArray)
    blocks.clear(); df = 0; cf = 0; maxTf = 0
    run
  }

  def add(c: BlockChunk): Option[PostingRun] = {
    val boundary = term != null && (c.term != term || c.fieldId != fieldId || c.salt != salt)
    val finished = if (boundary) Some(finishRun()) else None
    if (term == null || boundary) { fieldId = c.fieldId; term = c.term; salt = c.salt }
    blocks += PostingBlock(c.firstDoc, c.lastDoc, c.n, c.maxTf, c.minQuantLen,
      c.docsDelta, c.tfs)
    df += c.n
    cf += c.cf
    if (c.maxTf > maxTf) maxTf = c.maxTf
    finished
  }

  def flush(): Option[PostingRun] = if (term == null) None else Some(finishRun())
}
