package graft.query

import graft.analysis.Analyzer
import graft.core._
import graft.index.{DocSet, IndexBuilder, IndexMeta, QueryFilter, Snapshot, Tombstones}
import graft.index.IndexBuilder.{DocStatsSchema, PostingsSchema}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.roaringbitmap.RoaringBitmap

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap,
  ConcurrentLinkedQueue, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One parsed edismax clause: a query word and its per-field analyzed term.
  * Mirrors Lucene edismax structure: per word, a DisjunctionMax over qf
  * fields; words combine as a boolean OR gated by minimum-should-match
  * (/root/reference/solr/config/solrconfig.xml:84-106).
  */
case class Clause(word: String, perField: Map[String, String])

/** One query's plan within a batch, on every route: index into the
  * caller's query list, parsed clauses, resolved idf per (field, term), and
  * the mm gate. Small by construction (a few strings and doubles per query
  * term) — an executor route ships the whole batch as one broadcast.
  */
case class BatchPlan(qi: Int, clauses: Array[Clause],
                     idfMap: Map[(String, String), Double], minMatch: Int)

object QueryPlan {
  /** Split on whitespace (Lucene query parser word boundaries), analyze each
    * word per field with that field's own chain (SURVEY.md §3.2 step 2). A
    * word analyzing to multiple tokens in a field contributes its first token
    * (single-token queries are the reference's entire observed surface).
    */
  def clauses(query: String, fields: Seq[String]): Array[Clause] = {
    query.trim.split("\\s+").filter(_.nonEmpty).flatMap { word =>
      val perField = fields.flatMap { f =>
        Analyzer.analyzeField(f, word).headOption.map(f -> _)
      }.toMap
      if (perField.isEmpty) None else Some(Clause(word, perField))
    }
  }
}

/** Per-(field, term) decoded-block cache, shared by every query of a BATCH
  * that touches the term within one task (r7, guide §1.2 per-task work —
  * found by StageMetrics on the 32-core `ScalingBench query` leg: a 1024-query
  * batch over a ~25-term vocabulary decoded the SAME blocks ~80× per salt
  * task; decode was the dominant share of 153 task-CPU-seconds/run).
  * Blocks decode LAZILY on first touch — a block every query WAND-skips is
  * never decoded at all — and the decoded arrays are shared read-only by
  * all plans' iterators, within one task or across the driver kernel's
  * threads; bit-identical decode output by construction (same Codec calls).
  */
final class DecodedBlocks(val blocks: Array[PostingBlock]) {
  DecodedBlocks.built.incrementAndGet()
  // AtomicReferenceArray: the driver kernel shares one cache across
  // kernelPool threads — the race is benign (two threads
  // decode identical content; volatile set publishes a fully-written
  // array), and the volatile read is per BLOCK entry, not per posting
  private val docsArr =
    new java.util.concurrent.atomic.AtomicReferenceArray[Array[Long]](blocks.length)
  private val tfsArr =
    new java.util.concurrent.atomic.AtomicReferenceArray[Array[Int]](blocks.length)
  def docsOf(bi: Int): Array[Long] = {
    var a = docsArr.get(bi)
    if (a == null) {
      val b = blocks(bi)
      a = Codec.decodeDocIds(b.docsDelta, b.n)
      docsArr.set(bi, a)
    }
    a
  }
  def tfsOf(bi: Int): Array[Int] = {
    var a = tfsArr.get(bi)
    if (a == null) {
      val b = blocks(bi)
      a = Codec.decodeTfs(b.tfs, b.n)
      tfsArr.set(bi, a)
    }
    a
  }
}

object DecodedBlocks {
  /** Caches built in this JVM (specs assert the capped batch path builds none). */
  private[graft] val built = new AtomicLong(0)
}

/** Lazy block-at-a-time posting iterator over one (field, term)'s runs within
  * one salt range. Runs arrive salt-sorted; blocks decode on demand — the
  * block-skipping entry points (`skipTo`, block lastDoc metadata) are what
  * block-max WAND prunes with. With a shared [[DecodedBlocks]] cache (batch
  * kernel), positioning reads the cache's decoded arrays instead of decoding
  * into the private buffers.
  */
final class PostingIterator(runs: Array[PostingRun], cache: DecodedBlocks = null) {
  private val blocks: Array[PostingBlock] =
    if (cache != null) cache.blocks else runs.sortBy(_.salt).flatMap(_.blocks)
  private var bi = 0 // current block
  private var i = 0 // position within decoded block
  private var len = 0 // postings in the current block
  private var done = blocks.isEmpty
  // REUSED decode buffers, sized once to the largest block: the kernel
  // decodes millions of blocks per batch and the decode loop is memory-
  // bandwidth-bound at full thread count (`ScalingBench query`, round 5) —
  // two fresh arrays + a ByteBuffer per block was pure allocation traffic
  // on the hottest path. tfs decode LAZILY per block: WAND's pivot skipping
  // scans THROUGH many blocks by docId without ever reading a tf, so the
  // tf varint pass is paid only by blocks that actually score.
  private val maxN: Int = {
    if (cache != null) 0
    else {
      var m = 0; var k = 0
      while (k < blocks.length) { if (blocks(k).n > m) m = blocks(k).n; k += 1 }
      m
    }
  }
  private val docsBuf: Array[Long] = new Array[Long](maxN)
  private val tfsBuf: Array[Int] = new Array[Int](maxN)
  private var docs: Array[Long] = docsBuf
  private var tfs: Array[Int] = tfsBuf
  private var tfsDecoded = false
  decodeCurrent()

  private def decodeCurrent(): Unit = {
    if (bi < blocks.length) {
      val b = blocks(bi)
      if (cache != null) docs = cache.docsOf(bi)
      else Codec.decodeDocIdsInto(b.docsDelta, b.n, docsBuf)
      len = b.n
      tfsDecoded = false
      i = 0
    } else { done = true; len = 0 }
  }

  def exhausted: Boolean = done
  def curDoc: Long = docs(i)
  def curTf: Int = {
    if (!tfsDecoded) {
      if (cache != null) tfs = cache.tfsOf(bi)
      else Codec.decodeTfsInto(blocks(bi).tfs, len, tfsBuf)
      tfsDecoded = true
    }
    tfs(i)
  }

  def advance(): Unit = {
    i += 1
    if (i >= len) { bi += 1; decodeCurrent() }
  }

  // current-block metadata for the BMW shallow bound (callers must check
  // !exhausted): the block's (maxTf, minQuantLen) give an EXACT upper bound
  // on any member doc's term score, and lastDoc bounds the docId span the
  // block-level bound is valid for
  def curBlockIndex: Int = bi
  def curBlockLastDoc: Long = blocks(bi).lastDoc
  def curBlockMaxTf: Int = blocks(bi).maxTf
  def curBlockMinQuantLen: Int = blocks(bi).minQuantLen

  /** Skip to the first posting with docId >= target, hopping whole blocks via
    * lastDoc metadata (decodes only the landing block).
    */
  def skipTo(target: Long): Unit = {
    if (exhausted || curDoc >= target) return
    if (blocks(bi).lastDoc < target) {
      var lo = bi + 1
      var hi = blocks.length
      while (lo < hi) { // first block with lastDoc >= target
        val mid = (lo + hi) >>> 1
        if (blocks(mid).lastDoc < target) lo = mid + 1 else hi = mid
      }
      bi = lo
      decodeCurrent()
      if (exhausted) return
    }
    while (i < len && docs(i) < target) i += 1
    if (i >= len) { bi += 1; decodeCurrent(); if (!exhausted) skipTo(target) }
  }
}

/** Bounded top-k heap with Lucene tie-breaking (score desc, docId asc). */
final class TopK(k: Int) {
  // min-heap: "worst" hit at head — lower score, or equal score + higher docId
  private val ord: Ordering[Hit] = (a: Hit, b: Hit) =>
    if (a.score != b.score) java.lang.Double.compare(b.score, a.score)
    else java.lang.Long.compare(a.docId, b.docId)
  private val pq = mutable.PriorityQueue.empty[Hit](ord)

  def threshold: Double = if (pq.size < k) Double.NegativeInfinity else pq.head.score

  def offer(h: Hit): Unit = {
    if (pq.size < k) pq.enqueue(h)
    else {
      val worst = pq.head
      if (h.score > worst.score || (h.score == worst.score && h.docId < worst.docId)) {
        pq.dequeue(); pq.enqueue(h)
      }
    }
  }

  def sortedHits: Array[Hit] =
    pq.dequeueAll.toArray.sortBy(h => (-h.score, h.docId))
}

/** Dense per-field quantized-length norms: docIds are dense ranks 0..N-1 by
  * construction (IndexBuilder.withDocIds), so norm lookup is a direct byte
  * array index. 1 byte/doc/field — the broadcast form of the north rule's
  * "document-length statistics computed as a broadcast DF".
  */
case class NormTable(fields: Array[String], bytes: Array[Array[Byte]]) {
  def quantLen(fi: Int, docId: Long): Int = SmallFloat.byte4ToInt(bytes(fi)(docId.toInt))
}

/** Search thresholds, fixed for a searcher's lifetime. Each bounds one
  * driver-resident structure; past it a segment routes to the strategy that
  * keeps that data distributed. Every route is rank-identical, so a spec or
  * bench forces a route by setting its bound to 0:
  *
  *  - `driverKernelMaxPostings = 0` forces the DISTRIBUTED KERNEL: a segment
  *    whose postings for the batch's distinct terms exceed the bound scores
  *    on executors instead of collecting its runs to the driver kernel, so
  *    a batch's driver memory is bounded by the batch. The bound, split evenly
  *    across segments, also decides RESIDENCY: a non-empty segment whose
  *    [[IndexMeta.residentBound]] (its postings bound nDocs × Σ avgLen plus
  *    nDocs docstats rows, free from its snapshot props) fits its share is
  *    loaded to the driver on first use: its postings, docstats rows and
  *    tombstones, by concurrent jobs. Its dfs, norms, tombstone set and
  *    docstats-predicate fqs then come from driver memory with no job. What
  *    a resident segment holds never exceeds its share of the bound.
  *  - `dictionaryMaxDriverTerms = 0` forces per-query dictionary probes
  *    ([[DictProbe]]); below it a segment's vocabulary is collected to the
  *    driver once. The bound is global, split evenly across segments.
  *  - `dictionaryMaxCacheTerms` bounds the LRU of probed dfs, also global and
  *    split evenly across segments.
  */
case class SearchConfig(
    driverKernelMaxPostings: Long = 4L << 20,
    dictionaryMaxDriverTerms: Long = 1L << 22,
    dictionaryMaxCacheTerms: Int = 1 << 20)

/** Top-k retrieval over an index held as a list of segments (SURVEY.md §3.2
  * step 5): a built index plus any delta segments from upserts or streaming
  * ingest ([[graft.index.IndexOps.upsertDelta]],
  * [[graft.streaming.StreamingIngest]]). A single index is the one-segment
  * case. As in Lucene, BM25 statistics are merged across segments once:
  *
  *   N      = sum of segment doc counts
  *   df(t)  = sum of segment dictionary dfs
  *   avgLen = sum of segment length totals / N
  *
  * Each segment's kernel runs with these global stats and its own norms; a
  * hit's docId is global (segment offset + local docId, offsets cumulative in
  * the given order) and ties break on it, so segments [A, B] score exactly
  * like one merged index of A then B.
  *
  * Every entry point is a batch: [[search]] is a batch of one and
  * [[searchMany]] is the batch. Per segment, one router picks one of three
  * physical strategies for the whole batch, by size only (all
  * rank-identical; EngineSpec, MultiSearcherSpec and BatchSearchSpec gate
  * this). On every route the segment's norms are one broadcast table of 1
  * byte/doc/field, and its tombstones and the fq are
  * [[graft.index.DocSet]]s (~nDocs/8 bytes at most) tested in the kernel.
  * The open refuses a segment past [[IndexMeta.MaxDocs]] docs, which bounds
  * the norm table at ~2 GB per field.
  *
  *  - RESIDENT DRIVER KERNEL (default, while the segment's
  *    [[IndexMeta.residentBound]] fits its share of
  *    `driverKernelMaxPostings`; see [[SearchConfig]]): the segment loads on
  *    its first query, like a Lucene reader opening a segment's files, norms
  *    and liveDocs once: its postings and docstats scans (plus its tombstone
  *    files, if any) run as concurrent jobs. Every later query, new terms
  *    and new keyword, exists or `*:*` fqs included, runs no Spark job: dfs
  *    are summed from the loaded runs, norms and the tombstone set come from
  *    the loaded rows, and an fq runs [[graft.index.QueryFilter.filter]] over
  *    the docstats rows as a local relation, which Catalyst folds at
  *    optimisation time. Its memory is at most its share of the bound and
  *    dies with the searcher. [[Searcher.scoreBatch]]'s kernel scores every
  *    plan on the driver, plans fanned over [[Searcher.kernelPool]] and
  *    sharing one decoded-block cache per (salt, field, term); a batch of
  *    one decodes into reused buffers instead.
  *  - PER-TERM FETCH (a non-resident segment whose postings for the batch's
  *    distinct terms fit `driverKernelMaxPostings`): the batch's missing
  *    terms' runs are collected in one job and cached (the Lucene
  *    query-cache analog), so a repeat term runs no Spark job at all; the
  *    same driver kernel scores them with the broadcast's local norms.
  *  - DISTRIBUTED KERNEL (the batch's postings above
  *    `driverKernelMaxPostings`): ONE `scoreBatch` job per segment for the
  *    whole batch — postings scan (term filter pushed to parquet row
  *    groups) -> `groupByKey(_.salt)` shuffle -> every plan's DAAT/WAND
  *    kernel per salt group with broadcast norms -> per-group top-k ->
  *    driver merge; two Spark jobs per call (the shuffle's map stage, then
  *    the scoring stage).
  *
  * Queries sharing head terms share one fetch or scan, so a batch's cost
  * tracks its distinct posting volume, not its size. A batch of one plans
  * its executor jobs under the latency session, a larger batch under the
  * throughput session.
  *
  * Thresholds come from one immutable [[SearchConfig]]. The searcher pins the
  * segments' snapshots and is dead after [[close]]; open a new one for the
  * next snapshot or segment set.
  *
  * Deliberately NOT Serializable: the searcher holds multi-MB driver state
  * (the resolved dictionary maps, the posting-run caches), and a lambda that
  * accidentally captures `this` would silently ship all of it in EVERY
  * task binary (measured 7.4 MB/job at a 200k-doc index — it more than
  * tripled distributed query latency). Executor-side closures may reference
  * only local vals and [[Searcher]]'s static helpers; a regression now
  * fails loudly with NotSerializableException instead.
  */
class Searcher(spark: SparkSession, segmentDirs: Seq[String],
               val config: SearchConfig = SearchConfig()) {
  import spark.implicits._
  import Searcher._

  /** A one-index searcher with the default [[SearchConfig]]. */
  def this(spark: SparkSession, indexDir: String) = this(spark, Seq(indexDir))

  require(segmentDirs.nonEmpty, "a searcher needs at least one segment")

  val DefaultFields: Seq[String] = IndexFields.Names

  /** Per-segment state, built lazily and reused across queries. The driver
    * dictionary and run-cache bounds are budgeted across the searcher: each
    * segment gets an equal slice, so N segments hold no more driver entries
    * than one (BatchSearchSpec gates the dictionary sum).
    */
  private final class Segment(val idx: Int, val dir: String, val meta: IndexMeta,
                              val offset: Long) {
    /** Served from driver memory ([[SearchConfig]]): a non-empty segment
      * whose [[IndexMeta.residentBound]] fits its share of
      * `driverKernelMaxPostings`.
      */
    val resident: Boolean = meta.nDocs > 0 &&
      meta.residentBound <= config.driverKernelMaxPostings / segmentDirs.size

    // the postings bound also bounds the vocabulary, so a small segment's
    // dictionary is collected without a count job first; a resident one's
    // dfs are summed from its loaded runs instead
    val dict = new DictProbe(spark, s"$dir/dictionary",
      config.dictionaryMaxDriverTerms / segmentDirs.size,
      math.max(1, config.dictionaryMaxCacheTerms / segmentDirs.size),
      vocabBound = meta.postingsBound,
      loaded = if (resident) Some(() => residentDfs) else None)

    /** Tombstoned docIds broadcast once as a [[DocSet]]; kernels skip its
      * members.
      */
    lazy val tombstonesBc: Broadcast[RoaringBitmap] = track(spark.sparkContext.broadcast(
      if (resident) loaded.tombstones else Tombstones.docSet(spark, dir)))

    /** The segment's docstats, read once with the known schema: the
      * norm-table build and every fq resolution plan over it, so neither
      * re-lists files nor runs a schema-inference job.
      */
    lazy val docstatsDF: DataFrame =
      querySession.read.schema(DocStatsSchema).parquet(s"$dir/docstats")

    /** Dense norms broadcast once (docIds are dense ranks 0..n-1). */
    lazy val normsBc: Broadcast[NormTable] = track {
      normBuilds.incrementAndGet()
      spark.sparkContext.broadcast(
        if (resident) loaded.norms
        else normTable(docstatsDF.select($"docId", lengthsCol)
          .as[(Long, Array[Int])].collect().iterator))
    }

    /** (docId, field lengths in fieldId order) rows as 1-byte norms. */
    private def normTable(rows: Iterator[(Long, Array[Int])]): NormTable = {
      val fields = DefaultFields.toArray
      val arrs = fields.map(_ => new Array[Byte](meta.nDocs.toInt))
      rows.foreach { case (id, lens) =>
        var fi = 0
        while (fi < lens.length) { arrs(fi)(id.toInt) = SmallFloat.intToByte4(lens(fi)); fi += 1 }
      }
      NormTable(fields, arrs)
    }

    /** What a resident segment holds on the driver: its postings by
      * (field, term), its norm table, its docstats rows as a local relation
      * (the fq table) and its tombstone set.
      */
    private final class Loaded(val runs: Map[(String, String), Array[PostingRun]],
                               val norms: NormTable, val docstats: DataFrame,
                               val tombstones: RoaringBitmap)

    /** A resident segment's tables, loaded on first use (counted in
      * `driverRunFetches`): the docstats and tombstone scans run as jobs
      * concurrent with the postings collect, so the load takes about one
      * job's latency. At most [[IndexMeta.residentBound]] rows; held by this
      * searcher only, so it dies with it.
      */
    private lazy val loaded: Loaded = {
      driverRunFetches.incrementAndGet()
      // the forked scans touch no lazy val of this segment: this thread
      // holds its lock until the load is done
      val statsDF = docstatsDF.as[DocStats]
      val stats = forked(spark, loadPool)(statsDF.collect())
      val dead = forked(spark, loadPool)(Tombstones.docSet(spark, dir))
      val runs = postingsDF.as[PostingRun].collect().groupBy(r => (r.field, r.term))
      val rows = await(stats)
      new Loaded(runs,
        normTable(rows.iterator.map(r => (r.docId, IndexFields.lengths(r)))),
        querySession.createDataFrame(rows.toSeq),
        await(dead))
    }

    private def residentDfs: Map[(String, String), Long] =
      loaded.runs.map { case (key, rs) => key -> rs.iterator.map(_.df).sum }

    /** An fq conjunction's match set: ONE predicate,
      * [[graft.index.QueryFilter.filter]] folded over the components (each
      * returns its input's columns, so the next filters its rows). On a
      * resident segment, when no component reads postings, it runs over the
      * loaded docstats as a local relation, which Catalyst folds at
      * optimisation time, so the ids are collected with no job; else one
      * docstats scan job builds the set per partition
      * ([[graft.index.DocSet.collect]]). Tombstoned docs stay in the set;
      * the kernel excludes them already.
      */
    def fqDocSet(fq: Seq[String]): RoaringBitmap = {
      val local = resident && !fq.exists(QueryFilter.readsPostings)
      val docs = fq.foldLeft(if (local) loaded.docstats else docstatsDF)(
        QueryFilter.filter(_, postingsDF, meta.buckets, _))
      if (local) DocSet.of(docs.select($"docId").as[Long].collect().iterator)
      else DocSet.collect(docs)
    }

    // postings DataFrames with the file index cached across queries, planned
    // under the query and batch sessions so kernel stages inherit their conf
    lazy val postingsDF: DataFrame =
      querySession.read.schema(PostingsSchema).parquet(s"$dir/postings")
    private lazy val batchPostingsDF: DataFrame =
      batchQuerySession.read.schema(PostingsSchema).parquet(s"$dir/postings")

    def filteredRuns(keys: Set[(String, String)],
                     batch: Boolean = false): Dataset[PostingRun] = {
      val termList = keys.map(_._2).toSeq
      val fieldList = keys.map(_._1).toSeq
      // on the bucket=N layout earlier versions wrote, bucket prunes
      // PARTITION DIRECTORIES (only the terms' buckets are even listed);
      // term/field prune row groups inside the surviving files
      val bucketList = termList.map(b => IndexBuilder.bucketOf(b, meta.buckets)).distinct
      (if (batch) batchPostingsDF else postingsDF)
        .filter($"bucket".isin(bucketList: _*) &&
          $"term".isin(termList: _*) && $"field".isin(fieldList: _*))
        .as[PostingRun]
    }

    /** A non-resident segment's posting runs per (field, term), for the
      * driver kernel only: once fetched, repeat queries over a term skip the
      * Spark job entirely. Memory is O(cached postings), bounded by this
      * segment's share of [[Searcher.RunCacheMaxTerms]].
      */
    private val runCache =
      new ConcurrentHashMap[(String, String), Array[PostingRun]]()
    private val runCacheMax = math.max(1, RunCacheMaxTerms / segmentDirs.size)

    /** The runs of `keys` for the driver kernel: from the loaded runs on a
      * resident segment, else from the run cache plus one fetch job for the
      * missing keys.
      */
    def fetchRuns(keys: Set[(String, String)]): Array[PostingRun] = {
      if (resident)
        return keys.iterator.flatMap(loaded.runs.getOrElse(_, Array.empty[PostingRun])).toArray
      val missing = keys.filterNot(runCache.containsKey)
      val fetched: Map[(String, String), Array[PostingRun]] =
        if (missing.isEmpty) Map.empty
        else {
          driverRunFetches.incrementAndGet()
          val rows = filteredRuns(missing).collect()
          // record empties too: a dictionary term with zero runs in range
          // must not be re-fetched every query
          val byKey = rows.groupBy(r => (r.field, r.term))
          val all = missing.iterator
            .map(k => k -> byKey.getOrElse(k, Array.empty[PostingRun])).toMap
          all.foreach { case (k, v) => if (runCache.size < runCacheMax) runCache.put(k, v) }
          all
        }
      keys.iterator.flatMap(k => fetched.getOrElse(k, runCache.getOrDefault(k, Array.empty)))
        .toArray
    }
  }

  private val segments: IndexedSeq[Segment] = {
    var offset = 0L
    segmentDirs.zipWithIndex.map { case (dir, i) =>
      val meta = IndexMeta.fromProps(new Snapshot(dir).readProps())
      IndexMeta.requireDocIdRange(meta.nDocs, s"segment $dir")
      val seg = new Segment(i, dir, meta, offset)
      offset += meta.nDocs
      seg
    }.toIndexedSeq
  }

  /** N: documents across all segments. */
  val totalDocs: Long = segments.iterator.map(_.meta.nDocs).sum

  /** Per-field average length across all segments ([[Searcher.mergeAvgLen]]). */
  val globalAvgLen: Map[String, Double] = mergeAvgLen(segments.map(_.meta))

  /** The index's meta; only a one-segment searcher has one. */
  def meta: IndexMeta = {
    require(segments.size == 1, s"meta is per segment; this searcher has ${segments.size}")
    segments.head.meta
  }

  /** Segment `i`'s per-term postings fetch of `keys`, not run: its scan
    * shows the bucket pruning a per-term fetch gets (SchemaGuardSpec).
    */
  private[graft] def termFetch(i: Int, keys: Set[(String, String)]): Dataset[PostingRun] =
    segments(i).filteredRuns(keys)

  /** Norm-table builds: at most one docstats collect per segment. */
  private[graft] val normBuilds = new AtomicLong(0)

  /** Indices of the segments served from driver memory (see
    * [[SearchConfig]]); whether one has loaded shows in `driverRunFetches`.
    */
  private[graft] def residentSegments: Seq[Int] = segments.filter(_.resident).map(_.idx)

  /** Posting-run collects to the driver: per-term fetches, and one per
    * resident segment's load. Cache hits and the executor-side routes leave
    * it alone.
    */
  private[graft] val driverRunFetches = new AtomicLong(0)

  /** fq resolutions, one per new (segment, fq conjunction); repeats stay
    * cached. Each is one docstats scan job, plus the postings stages of any
    * `content:`/`path:` clause; keyword, exists or `*:*` fqs on a resident
    * segment run none.
    */
  private[graft] val fqResolves = new AtomicLong(0)

  private[graft] def dictProbes: Long = segments.iterator.map(_.dict.probes.get()).sum

  /** Resident driver dictionary entries across all segments (collected maps
    * plus LRU caches); bounded by the global budget at any segment count.
    */
  private[graft] def residentDictEntries: Long =
    segments.iterator.map(_.dict.residentEntries).sum

  /** Global df per key (summed over segments); absent keys are omitted. */
  def dfOf(keys: Set[(String, String)]): Map[(String, String), Long] =
    sumDfs(keys, eachSegment(_.dict.dfOf(keys)))

  def globalDf(key: (String, String)): Long = dfOf(Set(key)).getOrElse(key, 0L)

  /** Broadcasts created by this searcher ([[close]] inventory). */
  private val liveBroadcasts = new ConcurrentLinkedQueue[Broadcast[_]]()
  private def track[T](bc: Broadcast[T]): Broadcast[T] = { liveBroadcasts.add(bc); bc }
  private[graft] def liveBroadcastCount: Int = liveBroadcasts.size()

  /** Release every norm and tombstone broadcast. Without this, a
    * long-lived service cycling snapshots or segment sets accretes them in
    * the block managers for the JVM's lifetime. In-flight queries on other
    * threads must have completed.
    */
  def close(): Unit = {
    var bc = liveBroadcasts.poll()
    while (bc != null) {
      destroyQuietly(bc)
      bc = liveBroadcasts.poll()
    }
  }

  /** Dedicated session for the kernel-stage jobs: same SparkContext (shared
    * broadcasts, caches, scheduler), ISOLATED SQL conf. AQE's byte-based
    * post-shuffle coalescing assumes work ∝ bytes, but posting runs are
    * delta+varint COMPRESSED — a coalesced partition holds ~10-30x its bytes
    * in decoded postings, and the measured kernel stage collapsed to 4-6
    * tasks regardless of cores (batch of 256 ran FLAT from 8 to 32 cores,
    * `ScalingBench query`, round 5). Lowering the coalesce floor keeps the
    * parallelism-first target at total/cores without touching the caller's
    * session, where normal byte-based coalescing is right.
    */
  private lazy val querySession: SparkSession = newQuerySession(spark)

  /** Session for a batch's executor kernel jobs ([[searchMany]] with more
    * than one plan): same context, SQL conf tuned for throughput instead of
    * latency. The
    * round-6 profile (`ScalingBench query`, SPARK_GRAFT_TIMING): the batched
    * kernel stage coalesced to ~1.25x cores tasks (40 at 32 cores), so the
    * whole second scheduling wave ran 8 tasks on 32 cores — wall = 2x the
    * median task while task-CPU inflation at 32 threads was only ~13%.
    * That's scheduler quantization, not bandwidth. For a LATENCY query the
    * right task count is <= cores (one wave, [[querySession]]'s conf); for
    * a THROUGHPUT batch it's several waves of small tasks, so this session
    * floors the post-shuffle coalesce at 4x parallelism (capped by the
    * index's salt-group count naturally).
    */
  private lazy val batchQuerySession: SparkSession = newBatchSession(spark)

  /** `f` over every segment, in parallel on [[Searcher.segmentPool]] the way
    * Lucene overlaps per-segment searches (latency tracks the slowest
    * segment, not the sum); one segment runs inline. Failures propagate.
    */
  private def eachSegment[T](f: Segment => T): Seq[T] =
    inParallel(spark, segments, segmentPool)(f)

  /** Ranked retrieval, optionally constrained to an fq's matching docs
    * (Solr `q` + `fq` semantics: the filter never contributes to the score —
    * BM25 ranks exactly as without it; the filter gates which docs may
    * enter the top-k INSIDE the kernel, so k results are returned whenever
    * k matching docs exist, never a post-filtered underfill). WAND pruning
    * stays admissible: the filter only suppresses heap offers, so the
    * threshold is never higher than the unfiltered run's. The fq is
    * evaluated per segment on that segment's own docId space, which is
    * identical to evaluating it on the merged index. A batch of one
    * through [[searchMany]].
    */
  def search(query: String, k: Int, fields: Seq[String] = DefaultFields,
             fq: Option[String] = None): Array[Hit] =
    searchMany(Seq(query), k, fields, fq.toSeq).head

  /** [[search]] under repeated filter queries, which INTERSECT (Solr's
    * repeated `fq` params — Blacklight sends visibility AND type filters
    * together, solrconfig.xml:79-143 consumers).
    */
  def search(query: String, k: Int, fields: Seq[String], fqs: Seq[String]): Array[Hit] =
    searchMany(Seq(query), k, fields, fqs).head

  def searchMany(queries: Seq[String], k: Int,
                 fields: Seq[String] = DefaultFields,
                 fq: Option[String] = None): Seq[Array[Hit]] =
    searchMany(queries, k, fields, fq.toSeq)

  /** Batched retrieval, the one search path: every query's dfs resolve in
    * ONE lookup per segment, then each segment scores the whole batch
    * through one router ([[Searcher]]): the driver kernel over the union of
    * the batch's terms, fetched once, or ONE `scoreBatch` job. Repeated
    * `fqs` INTERSECT; they canonicalize to one key (trimmed, deduped,
    * sorted, so `Seq(a, b)` and `Seq(b, a)` share one cache entry) that
    * resolves as one conjunction. Results are identical to calling
    * [[search]] per query, in order (BatchSearchSpec gates every route bit
    * for bit).
    */
  def searchMany(queries: Seq[String], k: Int, fields: Seq[String],
                 fqs: Seq[String]): Seq[Array[Hit]] = {
    val fq = fqs.map(_.trim).filter(_.nonEmpty).distinct.sorted
    val parsed = queries.map(QueryPlan.clauses(_, fields))
    val needed = parsed.iterator.flatMap(_.iterator.flatMap(_.perField)).toSet
    val tops = Array.fill(queries.length)(new TopK(k))
    if (needed.nonEmpty) {
      val segDfs = eachSegment(_.dict.dfOf(needed))
      val dfs = sumDfs(needed, segDfs)
      val plans = parsed.zipWithIndex.flatMap { case (cls, qi) =>
        val idf = cls.iterator.flatMap(_.perField)
          .flatMap(key => dfs.get(key).map(df => key -> BM25.idf(totalDocs, df))).toMap
        if (idf.isEmpty) None else Some(BatchPlan(qi, cls, idf, BM25.minShouldMatch(cls.length)))
      }.toArray
      if (plans.nonEmpty)
        eachSegment(seg => scoreSegment(seg, plans, segDfs(seg.idx), k, fq))
          .foreach(_.foreach { case (qi, h) => tops(qi).offer(h) })
    }
    tops.map(_.sortedHits).toSeq
  }

  /** [[searchMany]] under its old name, kept only for the perfbench
    * harness, which calls it by name. It does NOT choose a route: the
    * segments route exactly as for [[searchMany]] (force the distributed
    * kernel with `SearchConfig(driverKernelMaxPostings = 0)`).
    */
  def searchManyDistributed(queries: Seq[String], k: Int,
                            fields: Seq[String] = DefaultFields,
                            fq: Option[String] = None): Seq[Array[Hit]] =
    searchMany(queries, k, fields, fq)

  /** One segment's hits for a batch, tagged with their plan's query index
    * (global docIds): the per-segment router. A segment with none of the
    * batch's terms returns before fq resolution, so it never pays a filter
    * job for a cache entry this batch cannot read.
    */
  private def scoreSegment(seg: Segment, plans: Array[BatchPlan],
                           segDfs: Map[(String, String), Long], k: Int,
                           fq: Seq[String]): Array[(Int, Hit)] = {
    val keys = plans.iterator.flatMap(_.idfMap.keysIterator)
      .filter(segDfs.getOrElse(_, 0L) > 0).toSet
    if (keys.isEmpty) return Array.empty
    // the fq's set rides the kernel's exclusion predicate with the tombstones'
    val fqSet = if (fq.isEmpty) None else Some(resolveFq(seg, fq))
    if (fqSet.exists(_.isEmpty)) return Array.empty
    // locals only from here on: executor closures must not capture `this`
    val fieldArr = DefaultFields.toArray
    val avgLen = globalAvgLen
    val batch = plans.length > 1
    val hits: Array[(Int, Hit)] =
      // the segment's postings of the batch's distinct terms; a resident
      // segment always fits, its postings bound being within its share
      if (keys.iterator.map(segDfs).sum <= config.driverKernelMaxPostings) {
        val nt = seg.normsBc.value // local value; no broadcast needed on driver
        val quantLen = (fi: Int, d: Long) => nt.quantLen(fi, d)
        val excl = excludedFn(seg.tombstonesBc.value, fqSet)
        // a batch of one decodes into its iterators' reused buffers
        val groups = seg.fetchRuns(keys).groupBy(_.salt).valuesIterator
          .map(new SaltGroup(_, if (batch) Some(SharedDecodeMaxPostings) else None)).toArray
        inParallel(spark, plans.toSeq, kernelPool) { p =>
          groups.flatMap(g => g.score(p, quantLen, fieldArr, avgLen, k, excl).map(h => (p.qi, h)))
        }.flatten.toArray
      } else {
        val bc = seg.normsBc
        val tsBc = seg.tombstonesBc
        // r7 note: a plan-chunked variant (split the batch's plans across
        // (chunk, salt) tasks to smooth the 2.8× max/median salt-collision
        // tail, guide §2.6) was built and MEASURED WORSE here — 245.8 →
        // 238.0 q/s at 32 cores: duplicating the run stream per chunk
        // forfeits the per-task shared-decode cache (task CPU 80 → 86 s)
        // and the packing gain never covered it. The one-task-per-salt-hash
        // shape stands. The fq's set ships with the plans, once per job.
        withBroadcast(spark, (plans, fqSet)) { jobBc =>
          gatedJob {
            seg.filteredRuns(keys, batch)
              .groupByKey(_.salt)
              .flatMapGroups { (_, it) =>
                val nt = bc.value
                val (ps, fqs) = jobBc.value
                scoreBatch(it.toArray, ps,
                  (fi, d) => nt.quantLen(fi, d), fieldArr, avgLen, k,
                  excludedFn(tsBc.value, fqs))
              }
              .collect()
          }
        }
      }
    if (seg.offset == 0) hits
    else hits.map { case (qi, h) => (qi, Hit(seg.offset + h.docId, h.score)) }
  }

  private def segmentOf(globalId: Long): Segment =
    segments.reverseIterator.find(_.offset <= globalId).get

  /** Resolve a global docId back to (segmentDir, localDocId). */
  def locate(globalId: Long): (String, Long) = {
    val seg = segmentOf(globalId)
    (seg.dir, globalId - seg.offset)
  }

  /** Hits joined with document identity — the user-facing result shape
    * (`fl=*,score`): each hit's segment docstats row, one broadcast join per
    * segment holding hits, global docIds and rank order preserved.
    */
  def searchDF(query: String, k: Int, fields: Seq[String] = DefaultFields,
               fq: Option[String] = None): DataFrame =
    searchDF(query, k, fields, fq.toSeq)

  /** [[searchDF]] under repeated filter queries, which intersect. */
  def searchDF(query: String, k: Int, fields: Seq[String], fqs: Seq[String]): DataFrame = {
    val bySeg = search(query, k, fields, fqs).zipWithIndex
      .groupBy { case (h, _) => segmentOf(h.docId).idx }
    // no hits: the first segment's empty join still carries the schema
    val used = segments.filter(s => bySeg.contains(s.idx))
    (if (used.isEmpty) segments.take(1) else used).map { seg =>
      val hitsDF = spark.createDataFrame(bySeg.getOrElse(seg.idx, Array.empty[(Hit, Int)]).toSeq
        .map { case (h, i) => (h.docId - seg.offset, h.score, i + 1) })
        .toDF("docId", "score", "rank")
      spark.read.schema(DocStatsSchema).parquet(s"${seg.dir}/docstats")
        .select("docId", "repo", "path", "commit", "lang", "sha")
        .join(broadcast(hitsDF), "docId")
        .select($"rank", ($"docId" + seg.offset).as("docId"), $"score",
          $"repo", $"path", $"commit", $"lang", $"sha")
    }.reduce(_ unionByName _).orderBy($"rank")
  }

  // ---- filter queries (Solr q + fq — the reference consumer's dominant
  // query shape: every catalog search carries visibility/type filters),
  // resolved per segment ----

  /** Solr-filterCache analog: resolved (segment, fq conjunction) -> match
    * set ([[graft.index.DocSet]]), keyed by the canonical component list,
    * bounded LRU. An entry is a driver object of at most ~nDocs/8 bytes
    * that an evicted entry's garbage collection frees.
    */
  private val fqCache =
    new java.util.LinkedHashMap[(Int, Seq[String]), RoaringBitmap](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, Seq[String]), RoaringBitmap]): Boolean =
        size() > FqCacheMaxEntries
    }
  private val fqInFlight =
    new ConcurrentHashMap[(Int, Seq[String]), CompletableFuture[RoaringBitmap]]()

  /** Resolve an fq conjunction once per (segment, searcher) with
    * [[Segment.fqDocSet]]; concurrent misses on the same key share one
    * resolution (same in-flight pattern as [[DictProbe]]).
    */
  private def resolveFq(seg: Segment, fq: Seq[String]): RoaringBitmap = {
    val key = (seg.idx, fq)
    val hit = fqCache.synchronized(fqCache.get(key))
    if (hit != null) return hit
    val fut = new CompletableFuture[RoaringBitmap]()
    val prior = fqInFlight.putIfAbsent(key, fut)
    if (prior != null) prior.join()
    else {
      // a prior resolver may have completed and retired its in-flight entry
      // between our cache miss and the putIfAbsent win — re-check before
      // resolving, or this fq resolves twice
      val raced = fqCache.synchronized(fqCache.get(key))
      if (raced != null) {
        fut.complete(raced)
        fqInFlight.remove(key, fut)
        return raced
      }
      try {
        fqResolves.incrementAndGet()
        val set = seg.fqDocSet(fq)
        fqCache.synchronized(fqCache.put(key, set))
        fut.complete(set)
        set
      } catch {
        case t: Throwable => fut.completeExceptionally(t); throw t
      } finally fqInFlight.remove(key, fut)
    }
  }
}

object Searcher {
  /** docstats' field lengths as one array column, in fieldId order. */
  private def lengthsCol = array(IndexFields.LengthCols.map(col): _*)

  /** Driver run-cache bound in (field, term) entries per searcher, split
    * evenly across its segments.
    */
  private val RunCacheMaxTerms = 8192

  /** Bound on resolved (segment, fq) entries per searcher. The realistic
    * working set is a handful of hot visibility filters.
    */
  private val FqCacheMaxEntries = 64

  /** Cap on a salt group's block postings below which a batch's plans
    * share one decoded-block cache ([[SaltGroup]], on the driver or an
    * executor). Decoded arrays are ~6× the packed bytes and live for the
    * call or task; ~64M postings ≈ 1 GB decoded worst case.
    */
  private val SharedDecodeMaxPostings: Long = 64L << 20

  /** SQL conf of every searcher's query sessions: keep AQE but drop the
    * partition-coalescing floor so the parallelism-first target is
    * total/cores — posting runs are COMPRESSED, and the 1 MB byte floor was
    * collapsing kernel stages to a handful of tasks (see the searcher's
    * `querySession`).
    */
  private val QuerySessionConf: Map[String, String] =
    Map("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16kb")

  private def newQuerySession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    QuerySessionConf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** The batch kernel is a throughput stage: several even scheduling waves
    * of small tasks beat the latency-optimal one-wave shape — a task count
    * of ~1.25x cores leaves most cores idle for the whole second wave
    * (measured: 40 tasks at 32 cores = wall 2x median task). Floors the
    * post-shuffle coalesce at 4x parallelism with enough initial partitions
    * to coalesce DOWN from; the index's salt-group count caps the effective
    * fan-out.
    */
  private def newBatchSession(spark: SparkSession): SparkSession = {
    val s = newQuerySession(spark)
    val p = spark.sparkContext.defaultParallelism
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionNum", (4 * p).toString)
    s.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (32 * p).toString)
    s
  }

  /** Global df per key from per-segment dfs (absent keys omitted); the
    * identity for one segment.
    */
  private def sumDfs(keys: Set[(String, String)],
                     perSegment: Seq[Map[(String, String), Long]]): Map[(String, String), Long] =
    if (perSegment.size == 1) perSegment.head
    else keys.iterator.map(key => key -> perSegment.iterator.map(_.getOrElse(key, 0L)).sum)
      .filter(_._2 > 0).toMap

  /** Exact global average field lengths: each segment's integer length sum
    * is recovered as round(avgLen · nDocs) — exact while sums stay below
    * 2^51 — and the Long total is divided by N once. For one segment this
    * gives back the builder's own `sum / nDocs` bit for bit; for several it
    * equals a merged index's value, where summing `avgLen · nDocs` as
    * doubles could be off in the last bit.
    */
  private[graft] def mergeAvgLen(metas: Seq[IndexMeta]): Map[String, Double] = {
    val n = metas.iterator.map(_.nDocs).sum
    metas.flatMap(_.avgLen.keys).distinct.map { f =>
      f -> metas.iterator.map(m => Math.round(m.avgLen.getOrElse(f, 0.0) * m.nDocs)).sum
        .toDouble / n
    }.toMap
  }

  /** Kernel exclusion predicate: tombstoned OR, when an fq rides along,
    * outside the filter's set (both [[graft.index.DocSet]]s of local
    * docIds). STATIC so executor closures capture the two sets, never a
    * Searcher.
    */
  private[query] def excludedFn(ts: RoaringBitmap, fq: Option[RoaringBitmap]): Long => Boolean = {
    val del: Long => Boolean =
      if (ts.isEmpty) _ => false
      else d => ts.contains(d.toInt)
    fq match {
      case None => del
      case Some(f) => d => del(d) || !f.contains(d.toInt)
    }
  }

  /** `f` over a broadcast of `value`, destroyed when `f` returns. */
  private def withBroadcast[A: scala.reflect.ClassTag, T](spark: SparkSession, value: A)(
      f: Broadcast[A] => T): T = {
    val bc = spark.sparkContext.broadcast(value)
    try f(bc) finally destroyQuietly(bc)
  }

  /** Destroy a broadcast, swallowing only NON-fatal failures (a broadcast
    * already destroyed elsewhere, a stopped context); InterruptedException
    * re-flags the thread so callers see the interrupt.
    */
  private[query] def destroyQuietly(bc: Broadcast[_]): Unit =
    try bc.destroy() catch {
      case _: InterruptedException => Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) =>
    }

  /** Cap on CONCURRENT Spark-job-launching searches across all searchers
    * in this JVM. Concurrent callers whose segments route to an executor
    * strategy would otherwise launch as many concurrent Spark ACTIONS, a
    * thundering herd on the scheduler (head-term jobs serialize on executor
    * slots anyway, so concurrency past a few buys nothing and inflates
    * every job's wall time). The driver kernel never touches this gate.
    */
  val MaxConcurrentDistributedQueries: Int =
    math.min(4, math.max(2, Runtime.getRuntime.availableProcessors() / 8))
  private val distributedGate =
    new java.util.concurrent.Semaphore(MaxConcurrentDistributedQueries, true)
  private val inFlightDistributed = new java.util.concurrent.atomic.AtomicInteger(0)
  /** High-water mark of concurrent gated job launches (test/telemetry). */
  private[graft] val maxInFlightObserved = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run one distributed-query Spark action under the global gate. NOT for
    * nested use — the body must not itself acquire the gate (it does not:
    * gated sections are leaf `.collect()` actions).
    */
  private[query] def gatedJob[T](body: => T): T = {
    distributedGate.acquire()
    val n = inFlightDistributed.incrementAndGet()
    maxInFlightObserved.updateAndGet(m => math.max(m, n))
    try body
    finally { inFlightDistributed.decrementAndGet(); distributedGate.release() }
  }

  /** One salt group's runs, grouped by (field, term) once, for scoring a
    * batch's plans: each plan scores only its own terms' runs, and plans
    * sharing a term share ONE decoded-block cache per (field, term) (lazily,
    * block-at-a-time — blocks every plan skips never decode). Without it,
    * each plan re-decoded the shared head terms' blocks from scratch
    * (measured ~80× redundant decode per salt task at batch 1024 over the
    * bench vocabulary). The cache is thread-safe, so the driver kernel fans
    * plans over [[kernelPool]]. With no `sharedDecodeMaxPostings` (a batch
    * of one), or when the group's summed block postings exceed it, each
    * plan's iterators decode into their own reused buffers instead (same
    * decode calls, bit-identical hits).
    */
  private[graft] final class SaltGroup(runs: Array[PostingRun],
                                       sharedDecodeMaxPostings: Option[Long]) {
    private val byKey = runs.groupBy(r => (r.field, r.term))
    private val decCache: Map[(String, String), DecodedBlocks] = sharedDecodeMaxPostings match {
      case Some(max) if runs.iterator.flatMap(_.blocks).map(_.n.toLong).sum <= max =>
        byKey.map { case (key, rs) =>
          key -> new DecodedBlocks(rs.sortBy(_.salt).flatMap(_.blocks))
        }
      case _ => Map.empty
    }

    def score(p: BatchPlan, quantLenOf: (Int, Long) => Int, fields: Array[String],
              avgLen: Map[String, Double], k: Int, deleted: Long => Boolean): Iterator[Hit] =
      if (!p.idfMap.keysIterator.exists(byKey.contains)) Iterator.empty
      else Kernel.scoreGrouped(byKey, quantLenOf, p.clauses, fields, p.idfMap,
        avgLen, p.minMatch, k, deleted, decCache)
  }

  /** Score every plan of a batch against ONE salt group's runs — the
    * executor side of [[Searcher.searchMany]]'s distributed kernel,
    * emitting (queryIdx, Hit). STATIC: the task closure must capture
    * plans/norm/tombstone broadcasts only, never a Searcher.
    */
  private[graft] def scoreBatch(
      runs: Array[PostingRun],
      plans: Array[BatchPlan],
      quantLenOf: (Int, Long) => Int,
      fields: Array[String],
      avgLen: Map[String, Double],
      k: Int,
      deleted: Long => Boolean,
      maxDecodePostings: Long = SharedDecodeMaxPostings): Iterator[(Int, Hit)] =
    if (runs.isEmpty) Iterator.empty
    else {
      val group = new SaltGroup(runs, Some(maxDecodePostings))
      plans.iterator.flatMap(p =>
        group.score(p, quantLenOf, fields, avgLen, k, deleted).map(h => (p.qi, h)))
    }

  /** `f` over `xs` in parallel on `pool`, order-preserving; zero or one
    * element runs inline (no pool hop). Failures propagate.
    */
  private def inParallel[A, T](spark: SparkSession, xs: Seq[A], pool: ExecutorService)(
      f: A => T): Seq[T] =
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else xs.map(x => forked(spark, pool)(f(x))).map(await)

  /** `body` on `pool` under the caller's Spark local properties (job group,
    * description, scheduler pool) and active session. A pool thread
    * otherwise keeps the properties of the caller that happened to create
    * it, so its jobs would be charged to that caller's group.
    */
  private def forked[T](spark: SparkSession, pool: ExecutorService)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], pool)(body)

  /** The future's value, rethrowing the task's own failure. */
  private def await[T](f: CompletableFuture[T]): T =
    try f.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }

  private def daemonPool(threads: Int, name: String): ExecutorService =
    Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, name)
      t.setDaemon(true)
      t
    })

  /** Shared bounded pool for the driver kernel's per-plan fan-out, sized
    * to the driver's cores (the kernels are CPU-bound; its tasks never wait
    * on a pool). Daemon threads — never blocks JVM exit.
    */
  private lazy val kernelPool: ExecutorService =
    daemonPool(math.max(2, Runtime.getRuntime.availableProcessors()), "graft-searchmany")

  /** Shared bounded pool for the per-segment fan-out: Spark jobs submitted
    * from separate threads overlap in the scheduler, while the bound keeps
    * a very wide segment list from flooding it. Distinct from
    * [[kernelPool]], which segment tasks wait on and whose tasks wait on
    * nothing, so a search blocking on its segments cannot deadlock.
    */
  private lazy val segmentPool: ExecutorService =
    daemonPool(8, "graft-multisearch")

  /** Pool for a resident segment's load: its docstats and tombstone scans
    * run here while the segment's own thread collects the postings. The
    * tasks are single collects that never wait on a pool, so a segment
    * task blocking on them cannot deadlock.
    */
  private lazy val loadPool: ExecutorService = daemonPool(8, "graft-load")
}

/** The per-salt-range scoring kernel. Pure Scala over primitive arrays — the
  * idiomatic high-performance escape hatch (SURVEY.md §4). DAAT with WAND
  * threshold pruning: clauses are scored document-at-a-time; norm lookup is
  * injected (a lookup into the segment's broadcast norm table).
  */
object Kernel extends Serializable {

  /** One posting iterator per (clause, field); duplicate (field, term) pairs
    * get independent iterators (Lucene scores duplicate clauses
    * independently). Object-level (not a per-call local class) so the WAND
    * sort comparator below can be ONE shared instance instead of a lambda
    * allocated per scoreSalt call — the batch kernel calls scoreSalt
    * ~batch × saltGroups times per job.
    */
  private final class Leg(val clauseIdx: Int, val fi: Int, val idf: Double,
                          val it: PostingIterator, val ub: Double) {
    // current block's upper bound, cached per block index (the shallow
    // bound is consulted once per pivot round; blocks advance rarely)
    private var ubBlockIdx = -1
    private var ubBlock = 0.0
    def blockUb(avg: Double): Double = {
      val b = it.curBlockIndex
      if (b != ubBlockIdx) {
        ubBlockIdx = b
        ubBlock = BM25.maxTermScore(idf, it.curBlockMaxTf, it.curBlockMinQuantLen, avg)
      }
      ubBlock
    }
  }

  private val LegByDoc: java.util.Comparator[Leg] =
    (a: Leg, b: Leg) => java.lang.Long.compare(a.it.curDoc, b.it.curDoc)

  /** Score all postings of one salt range. `runs` must all share one salt.
    * `quantLenOf(fieldIdx, docId)` returns the SmallFloat-quantized length.
    */
  def scoreSalt(
      runs: Array[PostingRun],
      quantLenOf: (Int, Long) => Int,
      clauses: Array[Clause],
      fields: Array[String],
      idfMap: Map[(String, String), Double],
      avgLen: Map[String, Double],
      minMatch: Int,
      k: Int,
      deleted: Long => Boolean = _ => false): Iterator[Hit] =
    scoreGrouped(runs.groupBy(r => (r.field, r.term)), quantLenOf, clauses, fields,
      idfMap, avgLen, minMatch, k, deleted, Map.empty)

  /** [[scoreSalt]] over runs already grouped by (field, term): the batch
    * kernel builds that lookup ONCE per salt group instead of per plan (the
    * groupBy allocated tuples + maps batch × saltGroups times per job).
    * `decCache` holds the group's shared decoded blocks per (field, term);
    * a term without an entry decodes into its iterator's reused buffers.
    */
  private[graft] def scoreGrouped(
      byKey: Map[(String, String), Array[PostingRun]],
      quantLenOf: (Int, Long) => Int,
      clauses: Array[Clause],
      fields: Array[String],
      idfMap: Map[(String, String), Double],
      avgLen: Map[String, Double],
      minMatch: Int,
      k: Int,
      deleted: Long => Boolean,
      decCache: Map[(String, String), DecodedBlocks]): Iterator[Hit] = {
    if (byKey.isEmpty) return Iterator.empty
    val fieldIdx: Map[String, Int] = fields.zipWithIndex.toMap
    val avgArr: Array[Double] = fields.map(avgLen)

    val legs = mutable.ArrayBuffer.empty[Leg]
    var ci = 0
    while (ci < clauses.length) {
      val c = clauses(ci)
      c.perField.foreach { case (f, term) =>
        val key = (f, term)
        (byKey.get(key), idfMap.get(key)) match {
          case (Some(rs), Some(idf)) =>
            val maxTf = rs.map(_.maxTf).max
            val minQL = rs.flatMap(_.blocks).map(_.minQuantLen).min
            val ub = BM25.maxTermScore(idf, maxTf, minQL, avgLen(f))
            val cached = decCache.getOrElse(key, null)
            legs += new Leg(ci, fieldIdx(f), idf, new PostingIterator(rs, cached), ub)
          case _ =>
        }
      }
      ci += 1
    }
    if (legs.isEmpty) return Iterator.empty

    val clauseUb = new Array[Double](clauses.length)
    legs.groupBy(_.clauseIdx).foreach { case (cIdx, ls) =>
      clauseUb(cIdx) = BM25.dismax(ls.map(_.ub).toArray)
    }
    val totalUb = clauseUb.sum

    val top = new TopK(k)
    val perClausePerField = Array.ofDim[Double](clauses.length, fields.length)
    val clauseTouched = new Array[Boolean](clauses.length)

    // ---- block-max WAND main loop ----
    // Invariant: every live leg's iterator is positioned at the first
    // posting >= any docId already processed, so a doc d can only match
    // legs with curDoc <= d. Each round:
    //   1. sort live legs by curDoc;
    //   2. pivot = first prefix whose summed upper bounds EXCEED the heap
    //      threshold (no prefix can -> terminate: later docs only shrink
    //      the reachable bound, and score ties lose to earlier docIds);
    //   3. if the lowest leg already sits on the pivot doc, score it fully
    //      (mm gate applies at scoring); otherwise skipTo(pivot) the legs
    //      before it — whole blocks are skipped via their lastDoc metadata
    //      ([[PostingIterator.skipTo]]), which is the "block-max" part.
    // r7: the live-leg set is managed IN PLACE (length `liveLen`, compacted
    // only when a leg exhausts) — the previous `live.filter(...)` per round
    // allocated a fresh array every WAND round (hundreds of millions of
    // allocations per 1024-query batch; StageMetrics showed ~10 GC-s per
    // timed leg), and the sort comparator is a shared static instead of a
    // per-call lambda.
    val live = legs.toArray
    var liveLen = live.length
    locally {
      var w = 0; var r = 0
      while (r < liveLen) {
        if (!live(r).it.exhausted) { live(w) = live(r); w += 1 }
        r += 1
      }
      liveLen = w
    }
    var done = liveLen == 0
    while (!done) {
      java.util.Arrays.sort(live, 0, liveLen, LegByDoc)
      val theta = top.threshold
      // pivot = first prefix (always at least one leg) whose summed upper
      // bounds exceed theta
      var acc = live(0).ub
      var p = 1
      while (p < liveLen && !(acc > theta)) { acc += live(p).ub; p += 1 }
      if (!(acc > theta)) done = true // even all remaining legs can't beat theta
      else {
        val pivotDoc = live(p - 1).it.curDoc
        // ---- BMW shallow check (Ding & Suel): refine the term-level
        // prefix bound with the CURRENT blocks' (maxTf, minQuantLen) upper
        // bounds. For each leg that can contribute to pivotDoc (curDoc <=
        // pivot): if its current block CONTAINS the pivot (lastDoc >=
        // pivot) use the block's exact bound, else fall back to the term
        // bound (the pivot would land in a later, unseen block). When even
        // that sum can't beat theta, no doc in [pivotDoc, spanEnd] can
        // enter the top-k, where spanEnd = min(contained blocks' lastDoc,
        // next leg's curDoc - 1) — every block bound is valid through its
        // lastDoc, term bounds are valid everywhere, and legs beyond
        // nextLegDoc contribute nothing before it. Skip the WHOLE span
        // without decoding a single tf. Score ties are safe for the same
        // reason as the pivot terminator: a later doc with score == theta
        // has a larger docId and loses the tie.
        var bs = 0.0
        var contained = Long.MaxValue // min lastDoc among pivot-containing blocks
        var si = 0
        while (si < liveLen && live(si).it.curDoc <= pivotDoc) {
          val leg = live(si)
          if (leg.it.curBlockLastDoc >= pivotDoc) {
            bs += leg.blockUb(avgArr(leg.fi))
            if (leg.it.curBlockLastDoc < contained) contained = leg.it.curBlockLastDoc
          } else bs += leg.ub
          si += 1
        }
        if (contained != Long.MaxValue && !(bs > theta)) {
          val nextLegDoc = if (si < liveLen) live(si).it.curDoc else Long.MaxValue
          val spanEnd =
            if (nextLegDoc == Long.MaxValue) contained
            else math.min(contained, nextLegDoc - 1)
          // spanEnd >= pivotDoc (contained >= pivot by containment;
          // nextLegDoc > pivot by the sort), so this always advances
          val next = spanEnd + 1
          var li = 0
          while (li < liveLen && live(li).it.curDoc < next) {
            live(li).it.skipTo(next)
            li += 1
          }
        } else if (live(0).it.curDoc == pivotDoc) {
          // all legs at pivotDoc are within live(0..p-1..); score fully
          var matched = 0
          var score = 0.0
          java.util.Arrays.fill(clauseTouched, false)
          var li = 0
          while (li < liveLen && live(li).it.curDoc == pivotDoc) {
            val leg = live(li)
            val norm = BM25.lengthNorm(quantLenOf(leg.fi, pivotDoc), avgArr(leg.fi))
            perClausePerField(leg.clauseIdx)(leg.fi) =
              BM25.termScore(leg.idf, leg.it.curTf, norm)
            clauseTouched(leg.clauseIdx) = true
            li += 1
          }
          var c2 = 0
          while (c2 < clauses.length) {
            if (clauseTouched(c2)) {
              matched += 1
              score += BM25.dismax(perClausePerField(c2))
              java.util.Arrays.fill(perClausePerField(c2), 0.0)
            }
            c2 += 1
          }
          // tombstoned docs are skipped HERE (not post-filtered) so the
          // top-k never under-fills because deleted docs held slots
          if (matched >= minMatch && !deleted(pivotDoc)) top.offer(Hit(pivotDoc, score))
          li = 0
          while (li < liveLen && live(li).it.curDoc == pivotDoc) {
            live(li).it.advance()
            li += 1
          }
        } else {
          // advance the legs below the pivot up to it (block-skipping)
          var li = 0
          while (li < liveLen && live(li).it.curDoc < pivotDoc) {
            live(li).it.skipTo(pivotDoc)
            li += 1
          }
        }
        // in-place compaction of exhausted legs — no per-round allocation
        var w2 = 0; var r2 = 0
        while (r2 < liveLen) {
          if (!live(r2).it.exhausted) { live(w2) = live(r2); w2 += 1 }
          r2 += 1
        }
        liveLen = w2
        if (liveLen == 0) done = true
      }
    }
    top.sortedHits.iterator
  }
}
