package graft.core

/** Input row shape pinned by the build contract: an Iceberg-style table of
  * source-code files (repo, path, commit, lang, content).
  */
case class CodeDoc(repo: String, path: String, commit: String, lang: String, content: String)

/** Per-document statistics row — one per (docId); per-field token lengths.
  * `sha` is sha256(content), the per-row integrity invariant vs the source
  * table (BASELINE.json input_hint).
  */
case class DocStats(
    docId: Long,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    sha: String,
    salt: Int,
    lenContent: Int,
    lenPath: Int,
    lenRepo: Int)

/** The indexed fields in fieldId order: a [[BlockChunk]]'s `fieldId` is a
  * field's position in `Names`, and [[DocStats]] holds its token count in
  * the matching `LengthCols` column. The builder, the merge, the searchers
  * and the filter compiler all take the field list from here.
  */
object IndexFields {
  val Names: IndexedSeq[String] = Vector("content", "path", "repo")
  val LengthCols: IndexedSeq[String] = Names.map(f => s"len${f.capitalize}")

  /** A docstats row's field lengths, in fieldId order. */
  def lengths(s: DocStats): Array[Int] = Array(s.lenContent, s.lenPath, s.lenRepo)
}

/** An encoded posting block: up to `blockSize` consecutive postings of one
  * (field, term). `firstDoc` is absolute; `docsDelta` holds FOR bit-packed
  * gaps behind a format byte ([[Codec.encodeDocIds]]); `maxTf`/`minQuantLen`
  * feed block-max WAND upper bounds ([[BM25.maxTermScore]]).
  */
case class PostingBlock(
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    minQuantLen: Int,
    docsDelta: Array[Byte],
    tfs: Array[Byte])

/** A map-side pre-encoded posting block, the posting shuffle's row format.
  * Because docId assignment is a rank over range-partitioned keys, every map
  * partition holds a contiguous docId range, so blocks can be delta+varint
  * encoded BEFORE the wide exchange: the term string crosses the shuffle once
  * per (term, chunk) instead of once per posting, and docIds/tfs cross as
  * packed varint bytes instead of longs — the round-1 measurement put term
  * strings at ~70% of shuffled bytes. Chunks from different map partitions
  * cover disjoint docId ranges, so the reduce side concatenates them into
  * runs after an in-partition (term, field, salt, firstDoc) sort; no decode
  * or re-encode happens on the reduce side.
  */
case class BlockChunk(
    fieldId: Byte,
    term: String,
    salt: Int,
    firstDoc: Long,
    lastDoc: Long,
    n: Int,
    maxTf: Int,
    minQuantLen: Int,
    cf: Long,
    docsDelta: Array[Byte],
    tfs: Array[Byte])

/** Fused-build emission row: the single tokenize pass over the corpus feeds
  * BOTH the docstats table (one `stats` row per doc, written map-side with no
  * shuffle) and the posting shuffle (`chunk` rows). Exactly one of the two is
  * set.
  */
case class BuildEmit(chunk: Option[BlockChunk], stats: Option[DocStats])

/** One posting-list run: all postings of (field, term) whose docIds fall in
  * the docId range of `salt` (range-salting — runs concatenate in salt order
  * into the globally docId-sorted posting list). `bucket` = hash(term) % B,
  * the partition-pruning key the postings table is laid out by.
  */
case class PostingRun(
    bucket: Int,
    field: String,
    term: String,
    salt: Int,
    df: Long,
    cf: Long,
    maxTf: Int,
    blocks: Array[PostingBlock])

/** Dictionary row: global per-(field, term) stats, derived from runs. */
case class DictEntry(bucket: Int, field: String, term: String, df: Long, cf: Long)

/** Per-partition lineage row checkpointed at build time so a killed job can
  * resume from committed work (north rule). `segmentSha` = sha256 over the
  * canonical encoded postings bytes of the partition, in (field, term, salt)
  * order — the resume test asserts these match an uninterrupted build.
  */
case class LineageRow(
    partitionId: Int,
    bucket: Int,
    termLo: String,
    termHi: String,
    nRuns: Long,
    nPostings: Long,
    bytes: Long,
    segmentSha: String)

/** A search hit. Ties broken by docId ascending (Lucene behavior). */
case class Hit(docId: Long, score: Double)
