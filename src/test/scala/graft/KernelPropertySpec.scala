package graft

import graft.core._
import graft.query.{BatchPlan, Clause, DecodedBlocks, Kernel, Searcher, TopK}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Randomized adversarial gate for the block-max WAND kernel (T4): hundreds
  * of random posting universes — random dfs, tf distributions, block sizes,
  * salt splits, per-field lengths, mm tiers, tiny k — scored by
  * [[Kernel.scoreSalt]] and by a NAIVE exhaustive scorer over the same
  * posting data. Rank AND score must match bit for bit on every case.
  *
  * Complements EngineSpec's text-level oracle (which attacks the analyzer +
  * build); this one attacks the kernel's pruning machinery directly — pivot
  * selection, block skipping via lastDoc metadata, threshold termination,
  * duplicate (field, term) legs, deleted-doc skipping — where an admissible-
  * but-wrong upper bound or a skip overshoot would silently drop hits.
  * Pure JVM (no Spark session), so 300 cases run in seconds.
  */
class KernelPropertySpec extends AnyFunSuite {

  private val fields = Array("content", "path", "repo")

  /** Build blocks of `blockSize` from sorted (docId, tf) postings with EXACT
    * per-block maxTf/minQuantLen metadata (the admissible bounds the build
    * produces).
    */
  private def mkBlocks(postings: Seq[(Long, Int)], blockSize: Int,
                       quantLenOf: (Int, Long) => Int, fi: Int): Array[PostingBlock] =
    postings.grouped(blockSize).map { g =>
      val ids = g.map(_._1).toArray
      val tfs = g.map(_._2).toArray
      PostingBlock(ids.head, ids.last, ids.length, tfs.max,
        ids.map(d => quantLenOf(fi, d)).min,
        Codec.encodeDocIds(ids), Codec.encodeTfs(tfs))
    }.toArray

  /** Exhaustive reference: score EVERY doc exactly like BM25/edismax says,
    * no pruning anywhere, same tie-break.
    */
  private def naive(
      byKey: Map[(String, String), Seq[(Long, Int)]],
      clauses: Array[Clause],
      idfMap: Map[(String, String), Double],
      quantLenOf: (Int, Long) => Int,
      avgLen: Map[String, Double],
      minMatch: Int, k: Int,
      deleted: Long => Boolean): Seq[Hit] = {
    val fieldIdx = fields.zipWithIndex.toMap
    val tfOf: Map[(String, String), Map[Long, Int]] =
      byKey.map { case (key, ps) => key -> ps.toMap }
    val allDocs = byKey.valuesIterator.flatMap(_.map(_._1)).toSet
    val top = new TopK(k)
    allDocs.toSeq.sorted.foreach { d =>
      if (!deleted(d)) {
        var matched = 0
        var score = 0.0
        clauses.foreach { c =>
          val per = c.perField.toSeq.flatMap { case (f, term) =>
            val key = (f, term)
            for {
              idf <- idfMap.get(key)
              tf <- tfOf.getOrElse(key, Map.empty).get(d)
            } yield BM25.termScore(idf, tf,
              BM25.lengthNorm(quantLenOf(fieldIdx(f), d), avgLen(f)))
          }
          if (per.nonEmpty) { matched += 1; score += BM25.dismax(per.toArray) }
        }
        if (matched >= minMatch) top.offer(Hit(d, score))
      }
    }
    top.sortedHits.toSeq
  }

  test("kernel == exhaustive scorer on 300 random posting universes") {
    val rng = new scala.util.Random(20260817L)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    var compared = 0
    var nonEmptyResults = 0
    (1 to 300).foreach { caze =>
      val nDocs = 1 + rng.nextInt(250)
      val saltRange = 1 + rng.nextInt(2) match {
        case 1 => 64 + rng.nextInt(64)
        case _ => 1024 // single-salt case
      }
      val blockSize = 1 + rng.nextInt(16)
      // per-doc per-field lengths (quantized like the build does)
      val lens = Array.tabulate(3, nDocs)((_, _) => 1 + rng.nextInt(400))
      def quantLenOf(fi: Int, d: Long): Int = SmallFloat.quantizeLength(lens(fi)(d.toInt))
      val avgLen = fields.zipWithIndex.map { case (f, fi) =>
        f -> lens(fi).map(_.toDouble).sum / nDocs
      }.toMap

      // random postings per (field, term): density mixes head terms (60%)
      // with tail terms (2%)
      val byKey = mutable.Map.empty[(String, String), Seq[(Long, Int)]]
      fields.zipWithIndex.foreach { case (f, _) =>
        vocab.take(3 + rng.nextInt(7)).foreach { term =>
          val density = if (rng.nextBoolean()) 0.02 + rng.nextDouble() * 0.1
                        else 0.3 + rng.nextDouble() * 0.4
          val ps = (0L until nDocs.toLong)
            .filter(_ => rng.nextDouble() < density)
            .map(d => d -> (1 + rng.nextInt(6)))
          if (ps.nonEmpty) byKey((f, term)) = ps
        }
      }
      if (byKey.nonEmpty) {
        // runs: one per (key, salt), with exact block metadata
        val fieldIdx = fields.zipWithIndex.toMap
        val runs: Array[PostingRun] = byKey.toArray.flatMap { case ((f, term), ps) =>
          ps.groupBy(p => (p._1 / saltRange).toInt).toSeq.sortBy(_._1).map {
            case (salt, saltPs) =>
              val blocks = mkBlocks(saltPs.sortBy(_._1), blockSize,
                quantLenOf, fieldIdx(f))
              PostingRun(0, f, term, salt, saltPs.length.toLong,
                saltPs.map(_._2.toLong).sum, saltPs.map(_._2).max, blocks)
          }
        }

        // query: 1-5 words; ~20% of words have a per-field term that does
        // not exist (absent-term legs); occasional duplicate words
        val nWords = 1 + rng.nextInt(5)
        val words = (0 until nWords).map { _ =>
          if (rng.nextDouble() < 0.15 && nWords > 1) vocab(0) // duplicate
          else vocab(rng.nextInt(vocab.length))
        }
        val clauses = words.map { w =>
          Clause(w, fields.filter(_ => rng.nextDouble() < 0.8).map(_ -> w).toMap)
        }.filter(_.perField.nonEmpty).toArray
        if (clauses.nonEmpty) {
          val n = nDocs.toLong
          val idfMap = clauses.flatMap(_.perField.toSeq).distinct.flatMap { key =>
            byKey.get(key).map(ps => key -> BM25.idf(n, ps.length.toLong))
          }.toMap
          if (idfMap.nonEmpty) {
            val minMatch = BM25.minShouldMatch(clauses.length)
            val k = 1 + rng.nextInt(12)
            // random tombstones on ~10% of docs (kernel must skip + backfill)
            val deletedSet =
              (0L until nDocs.toLong).filter(_ => rng.nextDouble() < 0.1).toSet
            val deleted: Long => Boolean = deletedSet.contains

            val kernelHits = runs.groupBy(_.salt).toSeq.sortBy(_._1)
              .flatMap { case (_, rs) =>
                Kernel.scoreSalt(rs, quantLenOf, clauses, fields, idfMap,
                  avgLen, minMatch, k, deleted)
              }
            val merged = {
              val top = new TopK(k)
              kernelHits.foreach(top.offer)
              top.sortedHits.toSeq
            }
            val expect = naive(byKey.toMap, clauses, idfMap, quantLenOf,
              avgLen, minMatch, k, deleted)
            assert(merged == expect,
              s"case $caze: nDocs=$nDocs saltRange=$saltRange blockSize=$blockSize " +
                s"k=$k mm=$minMatch clauses=${clauses.map(_.word).mkString(",")}")
            compared += 1
            if (expect.nonEmpty) nonEmptyResults += 1
          }
        }
      }
    }
    // the property must not be vacuous: nearly every case compares, and the
    // majority of comparisons have actual hits (pruning paths exercised)
    assert(compared >= 250, s"only $compared of 300 cases compared")
    assert(nonEmptyResults >= 150, s"only $nonEmptyResults non-empty result sets")
  }

  test("BMW span skip: outlier doc right after a low-bound block boundary survives") {
    // Deterministic off-by-one gate for the block-max shallow skip: term
    // "alpha" has tf=1 in docs 0..63 (sixteen 4-posting blocks with
    // identical low bounds) and tf=50 in doc 64 — the FIRST posting of a
    // new block. Once the heap fills at k=3, theta exceeds every tf=1
    // block's bound, so the kernel must skip whole spans — but the span
    // must end at the block boundary (spanEnd+1 = 64), not swallow the
    // outlier. A second outlier at the LAST posting of a later block (doc
    // 99) guards the other edge.
    val postings = (0L to 63L).map(d => d -> 1) ++ Seq(64L -> 50) ++
      (65L to 98L).map(d => d -> 1) ++ Seq(99L -> 40)
    def quantLenOf(fi: Int, d: Long): Int = SmallFloat.quantizeLength(100)
    val blocks = mkBlocks(postings, blockSize = 4, quantLenOf, 0)
    // block boundaries: doc 64 starts block 16; doc 99 ends block 24
    assert(blocks(16).firstDoc == 64L && blocks(16).maxTf == 50)
    assert(blocks.last.lastDoc == 99L)
    val runs = Array(PostingRun(0, "content", "alpha", 0,
      postings.length.toLong, postings.map(_._2.toLong).sum,
      postings.map(_._2).max, blocks))
    val clauses = Array(Clause("alpha", Map("content" -> "alpha")))
    val idfMap = Map(("content", "alpha") -> BM25.idf(100L, postings.length.toLong))
    val avgLen = Map("content" -> 100.0, "path" -> 100.0, "repo" -> 100.0)
    val hits = Kernel.scoreSalt(runs, quantLenOf, clauses, fields, idfMap,
      avgLen, minMatch = 1, k = 3).toSeq
    val expect = naive(
      Map(("content", "alpha") -> postings), clauses, idfMap, quantLenOf,
      avgLen, minMatch = 1, k = 3, deleted = _ => false)
    assert(hits == expect)
    assert(hits.map(_.docId).take(2) == Seq(64L, 99L),
      "both block-edge outliers must rank first")
  }

  /** One random batch universe for the scoreBatch specs: salted runs with
    * exact block metadata, 2-6 plans whose queries overlap on a small
    * vocabulary, a random k and random deletes.
    */
  private case class BatchUniverse(nDocs: Int, runs: Array[PostingRun],
                                   plans: Array[BatchPlan], nQueries: Int,
                                   quantLenOf: (Int, Long) => Int,
                                   avgLen: Map[String, Double], k: Int,
                                   deleted: Long => Boolean)

  /** None when the draw has no postings or no plan with a known term. */
  private def batchUniverse(rng: scala.util.Random): Option[BatchUniverse] = {
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val nDocs = 1 + rng.nextInt(200)
    val saltRange = 32 + rng.nextInt(96)
    val blockSize = 1 + rng.nextInt(8)
    val lens = Array.tabulate(3, nDocs)((_, _) => 1 + rng.nextInt(300))
    def quantLenOf(fi: Int, d: Long): Int = SmallFloat.quantizeLength(lens(fi)(d.toInt))
    val avgLen = fields.zipWithIndex.map { case (f, fi) =>
      f -> lens(fi).map(_.toDouble).sum / nDocs
    }.toMap
    val byKey = mutable.Map.empty[(String, String), Seq[(Long, Int)]]
    fields.foreach { f =>
      vocab.foreach { term =>
        val density = if (rng.nextBoolean()) 0.05 else 0.4
        val ps = (0L until nDocs.toLong)
          .filter(_ => rng.nextDouble() < density)
          .map(d => d -> (1 + rng.nextInt(5)))
        if (ps.nonEmpty) byKey((f, term)) = ps
      }
    }
    if (byKey.isEmpty) return None
    val fieldIdx = fields.zipWithIndex.toMap
    val runs: Array[PostingRun] = byKey.toArray.flatMap { case ((f, term), ps) =>
      ps.groupBy(p => (p._1 / saltRange).toInt).toSeq.sortBy(_._1).map {
        case (salt, saltPs) =>
          val blocks = mkBlocks(saltPs.sortBy(_._1), blockSize,
            quantLenOf, fieldIdx(f))
          PostingRun(0, f, term, salt, saltPs.length.toLong,
            saltPs.map(_._2.toLong).sum, saltPs.map(_._2).max, blocks)
      }
    }
    val n = nDocs.toLong
    // 2-6 overlapping queries: words drawn from a small vocab so plans
    // share (field, term) groups within a salt
    val nQueries = 2 + rng.nextInt(5)
    val plans = (0 until nQueries).flatMap { qi =>
      val words = (0 to rng.nextInt(3)).map(_ => vocab(rng.nextInt(vocab.length)))
      val clauses = words.map { w =>
        Clause(w, fields.filter(_ => rng.nextDouble() < 0.8).map(_ -> w).toMap)
      }.filter(_.perField.nonEmpty).toArray
      val idfMap = clauses.flatMap(_.perField.toSeq).distinct.flatMap { key =>
        byKey.get(key).map(ps => key -> BM25.idf(n, ps.length.toLong))
      }.toMap
      if (clauses.isEmpty || idfMap.isEmpty) None
      else Some(BatchPlan(qi, clauses, idfMap, BM25.minShouldMatch(clauses.length)))
    }.toArray
    if (plans.isEmpty) return None
    val k = 1 + rng.nextInt(8)
    val deletedSet =
      (0L until nDocs.toLong).filter(_ => rng.nextDouble() < 0.1).toSet
    Some(BatchUniverse(nDocs, runs, plans, nQueries, quantLenOf, avgLen, k, deletedSet.contains))
  }

  test("scoreBatch == per-plan scoreSalt on 100 random universes x random batches") {
    // the batched executor kernel (Searcher.scoreBatch) must be EXACTLY the
    // per-query kernel run plan-by-plan: same runs selected per plan (shared
    // (field, term) groups), same per-salt top-k, same tagging — attacked
    // with random universes and batches whose queries OVERLAP on terms
    val rng = new scala.util.Random(20260818L)
    var compared = 0
    var nonEmpty = 0
    (1 to 100).foreach { caze =>
      batchUniverse(rng).foreach { u =>
        import u._
        val bySalt = runs.groupBy(_.salt).toSeq.sortBy(_._1)

        // batched path: scoreBatch per salt group, merged per query
        val batchTops = Array.fill(nQueries)(new TopK(k))
        bySalt.foreach { case (_, rs) =>
          Searcher.scoreBatch(rs, plans, quantLenOf, fields, avgLen, k, deleted)
            .foreach { case (qi, h) => batchTops(qi).offer(h) }
        }
        // reference: the per-query kernel, plan by plan
        plans.foreach { p =>
          val top = new TopK(k)
          bySalt.foreach { case (_, rs) =>
            val qRuns = rs.filter(r => p.idfMap.contains((r.field, r.term)))
            Kernel.scoreSalt(qRuns, quantLenOf, p.clauses, fields, p.idfMap,
              avgLen, p.minMatch, k, deleted).foreach(top.offer)
          }
          val expect = top.sortedHits.toSeq
          val got = batchTops(p.qi).sortedHits.toSeq
          assert(got == expect,
            s"case $caze qi=${p.qi}: nDocs=$nDocs k=$k " +
              s"words=${p.clauses.map(_.word).mkString(",")}")
          compared += 1
          if (expect.nonEmpty) nonEmpty += 1
        }
      }
    }
    assert(compared >= 200, s"only $compared plan comparisons")
    assert(nonEmpty >= 100, s"only $nonEmpty non-empty result sets")
  }

  test("scoreBatch past its decode cap: no shared DecodedBlocks, bit-identical hits") {
    // a salt group whose block postings exceed the cap decodes per
    // iterator instead of through the shared cache; a cap of 0 forces that
    // on every group and must not change a single bit
    val rng = new scala.util.Random(20261017L)
    var compared = 0
    (1 to 60).foreach { caze =>
      batchUniverse(rng).foreach { u =>
        import u._
        val bySalt = runs.groupBy(_.salt).toSeq.sortBy(_._1).map(_._2)
        def tagged(cap: Option[Long]): Seq[(Int, Hit)] = bySalt.flatMap { rs =>
          cap.fold(Searcher.scoreBatch(rs, plans, quantLenOf, fields, avgLen, k, deleted))(
            c => Searcher.scoreBatch(rs, plans, quantLenOf, fields, avgLen, k, deleted, c))
        }
        val builtBefore = DecodedBlocks.built.get()
        val cached = tagged(None)
        val builtCached = DecodedBlocks.built.get()
        assert(builtCached > builtBefore, s"case $caze: default cap must share decodes")
        val capped = tagged(Some(0L))
        assert(DecodedBlocks.built.get() == builtCached,
          s"case $caze: capped run built a DecodedBlocks")
        assert(capped == cached, s"case $caze: capped hits differ (nDocs=$nDocs k=$k)")
        compared += 1
      }
    }
    assert(compared >= 30, s"only $compared universes compared")
  }
}
