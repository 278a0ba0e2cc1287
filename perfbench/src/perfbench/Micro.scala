package perfbench

import graft.analysis.Analyzer
import graft.core._
import graft.corpus.CodeCorpus
import graft.index.{ChunkEncoder, RunAssembler}
import graft.query.{Kernel, QueryPlan}

/** Spark-free timings of the pure-JVM kernels, on in-memory posting runs
  * that the program's own map-side encoder and run assembler produce from
  * seeded corpus docs:
  *  - `analysis.tokens_per_s`: `Analyzer.analyzeField` on content;
  *  - `core.encode_ns_per_posting` / `core.decode_ns_per_posting`: `Codec`
  *    over every block; `core.bytes_per_posting`: encoded block bytes;
  *  - `query.wand_ns_per_posting`: `Kernel.scoreSalt` over the runs of a
  *    seeded query set, per posting of the legs it scores.
  * Each timing warms up, then repeats its loop until `MinMs` has passed and
  * reports the median of the repeats.
  */
object Micro {
  val Docs = 1500
  val Repos = 40
  val SaltRange = 1024L
  val MinMs = 300.0

  /** Median of the repeats after two untimed warm-up passes. */
  private def repeat(body: => Double): Double = {
    body; body
    val xs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (xs.size < 3 || (System.nanoTime() - t0) / 1e6 < MinMs) xs += body
    Stats.median(xs)
  }

  def run(seed: Long): Map[String, Double] = {
    val docs = (0 until Docs).map(i => CodeCorpus.genDoc(seed * 100000L + i, Repos))

    var tokens = 0L
    val tokNsPerDoc = repeat {
      val t0 = System.nanoTime()
      var n = 0L
      docs.foreach(d => n += Analyzer.analyzeField("content", d.content).length)
      tokens = n
      (System.nanoTime() - t0).toDouble
    }

    val enc = new ChunkEncoder(128, SaltRange, 16384)
    val lens = Array.ofDim[Int](3, Docs)
    val chunks = scala.collection.mutable.ArrayBuffer.empty[BlockChunk]
    docs.zipWithIndex.foreach { case (d, i) =>
      val (cs, st) = enc.addDoc(i.toLong, "", d.repo, d.path, d.commit, d.lang, d.content)
      chunks ++= cs
      lens(0)(i) = st.lenContent; lens(1)(i) = st.lenPath; lens(2)(i) = st.lenRepo
    }
    chunks ++= enc.flushAll()
    val asm = new RunAssembler(16)
    val runs = chunks.sortBy(c => (c.term, c.fieldId, c.salt, c.firstDoc))
      .flatMap(c => asm.add(c)).toArray ++ asm.flush()
    val blocks = runs.flatMap(_.blocks)
    val postings = blocks.map(_.n.toLong).sum
    val packedBytes = blocks.map(b => b.docsDelta.length + b.tfs.length).sum

    val maxN = blocks.map(_.n).max
    val docBuf = new Array[Long](maxN)
    val tfBuf = new Array[Int](maxN)
    val decodeNs = repeat {
      val t0 = System.nanoTime()
      blocks.foreach { b =>
        Codec.decodeDocIdsInto(b.docsDelta, b.n, docBuf)
        Codec.decodeTfsInto(b.tfs, b.n, tfBuf)
      }
      (System.nanoTime() - t0).toDouble
    }
    val decoded = blocks.map(b => (Codec.decodeDocIds(b.docsDelta, b.n), Codec.decodeTfs(b.tfs, b.n)))
    var sink = 0L
    val encodeNs = repeat {
      val t0 = System.nanoTime()
      decoded.foreach { case (ds, ts) =>
        sink += Codec.encodeDocIds(ds).length + Codec.encodeTfs(ts).length
      }
      (System.nanoTime() - t0).toDouble
    }

    // WAND: every salt group of a seeded query set, scored like the driver
    // kernel does (idf from whole-corpus df, exact norms from the doc lengths)
    val fields = Array("content", "path", "repo")
    val avgLen = fields.indices.map(fi => fields(fi) -> lens(fi).map(_.toDouble).sum / Docs).toMap
    val dfOf = runs.groupBy(r => (r.field, r.term)).map { case (k, rs) => k -> rs.map(_.df).sum }
    val bySalt = runs.groupBy(_.salt)
    val rng = new java.util.Random(seed)
    val plans = Queries.pool(rng, 24).flatMap { q =>
      val cls = QueryPlan.clauses(q, fields.toSeq)
      val keys = cls.flatMap(_.perField.toSeq).toSet.filter(dfOf.contains)
      if (keys.isEmpty) None
      else Some((cls, keys.map(k => k -> BM25.idf(Docs.toLong, dfOf(k))).toMap,
        BM25.minShouldMatch(cls.length)))
    }
    val quant = (fi: Int, d: Long) => SmallFloat.quantizeLength(lens(fi)(d.toInt))
    var scored = 0L
    val wandNs = repeat {
      var n = 0L
      val t0 = System.nanoTime()
      plans.foreach { case (cls, idf, mm) =>
        bySalt.valuesIterator.foreach { rs =>
          val legs = rs.filter(r => idf.contains((r.field, r.term)))
          if (legs.nonEmpty) {
            n += legs.iterator.flatMap(_.blocks).map(_.n.toLong).sum
            Kernel.scoreSalt(legs, quant, cls, fields, idf, avgLen, mm, 10).foreach(h => sink += h.docId)
          }
        }
      }
      scored = n
      (System.nanoTime() - t0).toDouble
    }
    if (sink == 42L) Console.err.println("micro")
    Map(
      "analysis.tokens_per_s" -> tokens / (tokNsPerDoc / 1e9),
      "core.encode_ns_per_posting" -> encodeNs / postings,
      "core.decode_ns_per_posting" -> decodeNs / postings,
      "core.bytes_per_posting" -> packedBytes.toDouble / postings,
      "query.wand_ns_per_posting" -> wandNs / math.max(1L, scored))
  }
}

/** Seeded query text shared by the workloads: 1–8 terms drawn from the
  * corpus vocabulary by its own Zipf weights, so most terms exist and head
  * terms recur the way they do in the documents.
  */
object Queries {
  private def zipfTerm(rng: java.util.Random): String = {
    val cdf = CodeCorpus.ZipfCdf
    val u = rng.nextDouble()
    var lo = 0
    var hi = cdf.length - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    CodeCorpus.Vocab(lo)
  }

  // term-count weights for 1..8 terms: short queries dominate
  private val TermWeights = Array(0.30, 0.28, 0.16, 0.10, 0.06, 0.04, 0.03, 0.03)

  def one(rng: java.util.Random): String = {
    var u = rng.nextDouble()
    var n = 0
    while (n < TermWeights.length - 1 && u >= TermWeights(n)) { u -= TermWeights(n); n += 1 }
    Seq.fill(n + 1)(zipfTerm(rng)).mkString(" ")
  }

  def pool(rng: java.util.Random, size: Int): IndexedSeq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < size) out += one(rng)
    out.toIndexedSeq
  }

  def shuffled[T](rng: java.util.Random, xs: Seq[T]): Seq[T] = {
    val a = new java.util.ArrayList[T](xs.size)
    xs.foreach(a.add)
    java.util.Collections.shuffle(a, rng)
    Seq.tabulate(a.size)(a.get)
  }

  /** A stream of up to `n` queries whose popularity is Zipf(1) over pool
    * ranks, with a fixed count per rank (at least one while `n` allows) and
    * a fixed share of fq-carrying entries cycling through `fqs`. Which
    * entries carry which fq is fixed too; `rng` only deals the order, so any
    * two seeds see the same multiset of (query, fq) pairs.
    */
  def stream(rng: java.util.Random, pool: IndexedSeq[String], n: Int, fqShare: Double,
             fqs: Seq[String]): Seq[(String, Option[String])] = {
    val h = pool.indices.map(r => 1.0 / (r + 1)).sum
    val counts = pool.indices.map(r => math.max(1, math.round(n / h / (r + 1)).toInt))
    val qs = pool.indices.flatMap(r => Seq.fill(counts(r))(pool(r))).take(n)
    val withFq = math.round(qs.size * fqShare).toInt
    val fqCol = Seq.tabulate(qs.size)(i => if (i < withFq) Some(fqs(i % fqs.size)) else None)
    shuffled(rng, qs.zip(shuffled(new java.util.Random(n), fqCol)))
  }
}
