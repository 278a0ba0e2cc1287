package perfbench

import graft.core.{CodeDoc, Hit}
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexOps}
import graft.query.{MultiSearcher, Searcher}
import org.apache.spark.sql.functions.{broadcast, col, sha2}

import scala.collection.mutable

/** The write phase of `engine`, on the index the read phase served: an
  * `upsertDelta` of a batch that mixes replaced keys and new docs, a fresh
  * `MultiSearcher` over base + delta that must find the batch (visibility),
  * `deleteInPlace` of a few base keys, a few pool queries on that searcher,
  * and then `maintain`, which folds the delta into a new base. IndexOps,
  * Tombstones, Snapshot, IndexBuilder (delta builds) and MultiSearcher do
  * most of the work.
  */
object Ingest {
  val Replaced = 30
  val Added = 60
  val Deletes = 10
  val SegQueries = 3
  val CheckQueries = 3
  val K = Serve.K
  def cfg(cores: Int): IndexConfig = Serve.cfg(cores)

  type Key = (String, String, String)
  private def key(d: CodeDoc): Key = (d.repo, d.path, d.commit)
  private def docBytes(d: CodeDoc): Long =
    Seq(d.repo, d.path, d.commit, d.lang, d.content).map(_.getBytes("UTF-8").length.toLong).sum

  /** Stage seconds of one build from its stage markers and snapshot pointer. */
  def stageTimes(dir: String, startMs: Long): Map[String, Double] = {
    def mtime(rel: String): Option[Long] = {
      val f = new java.io.File(dir, rel)
      if (f.exists()) Some(f.lastModified()) else None
    }
    val marks = Seq("docstats" -> "_build/stage.docstats.done",
      "postings" -> "_build/stage.postings.done",
      "dictionary" -> "_build/stage.dictionary.done",
      "commit" -> "SNAPSHOT").flatMap { case (n, rel) => mtime(rel).map(n -> _) }
    var prev = startMs
    marks.map { case (n, t) =>
      val d = math.max(0L, t - prev) / 1000.0
      prev = math.max(prev, t)
      s"index.build.${n}_s" -> d
    }.toMap
  }

  def run(ctx: Ctx, buildDir: String, src: String): WorkloadResult = {
    import ctx._
    import spark.implicits._
    val mismatches = mutable.ArrayBuffer.empty[String]
    val base0 = Serve.offset(seed)
    val baseDocs = (0 until Serve.Docs).map(i => CodeCorpus.genDoc(base0 + i, Serve.Repos))
    val inputBytes = baseDocs.map(docBytes).sum

    // the benchmark's own model of the index: live key -> sha of its content
    val live = mutable.LinkedHashMap.empty[Key, String]
    baseDocs.foreach(d => live(key(d)) = Files.sha256Hex(d.content))
    val upserted = mutable.LinkedHashMap.empty[Key, CodeDoc]
    val inBase = mutable.LinkedHashSet.empty[Key] ++ live.keys
    val rng = new java.util.Random(seed * 17 + 3)
    val pool = Queries.pool(new java.util.Random(Serve.PoolSeed), Serve.PoolSize)

    var base = buildDir
    var deltas = Vector.empty[String]
    val baseBytes = Files.sizeBytes(buildDir)
    var bytesWritten = baseBytes
    var ingestedBytes = inputBytes
    val visibleMs, upsertMs, openMs, deleteMs, segMs, mergeMs = mutable.ArrayBuffer.empty[Double]
    val segCounts = mutable.ArrayBuffer.empty[Double]
    val tombS, deltaS = mutable.ArrayBuffer.empty[Double]
    val mergeMb, mergeDocsPerS = mutable.ArrayBuffer.empty[Double]
    // a far index range no seed's base or added docs reach
    val bodies = 1L << 40
    val marker = s"zmark$seed"

    val window0 = System.nanoTime()
    val ms0 = rec.opMs
    rec.phase("window") {
      val replacedKeys = inBase.iterator.drop(rng.nextInt(math.max(1, inBase.size - Replaced)))
        .take(Replaced).toVector
      val fresh = (0 until Added).map(i => CodeCorpus.genDoc(base0 + Serve.Docs + i, Serve.Repos))
      val incoming = replacedKeys.zipWithIndex.map { case ((r, p, c), i) =>
        val body = CodeCorpus.genDoc(bodies + base0 + i, Serve.Repos).content
        CodeDoc(r, p, c, "md", s"$body\n$marker")
      } ++ fresh.map(d => d.copy(content = s"${d.content}\n$marker"))
      val deltaDir = dir("engine/delta")
      val upStartMs = System.currentTimeMillis()
      val up = rec.op("upsert", "docs" -> incoming.size) {
        IndexOps.upsertDelta(spark, base, spark.createDataset(incoming), deltaDir, cfg(cores))
      }
      up.value.foreach { _ =>
        upsertMs += up.ms
        incoming.foreach { d =>
          live(key(d)) = Files.sha256Hex(d.content)
          upserted(key(d)) = d
          inBase -= key(d)
        }
        deltas :+= deltaDir
        bytesWritten += Files.sizeBytes(deltaDir)
        ingestedBytes += incoming.map(docBytes).sum
        val baseCommit = new java.io.File(base, "SNAPSHOT").lastModified()
        tombS += math.max(0L, baseCommit - upStartMs) / 1000.0
        deltaS += (up.ms - math.max(0L, baseCommit - upStartMs)) / 1000.0
      }

      val open = rec.op("open", "segments" -> (1 + deltas.size)) { new MultiSearcher(spark, base +: deltas) }
      open.value.foreach { multi =>
        openMs += open.ms
        segCounts += 1 + deltas.size
        val vis = rec.op("visible_query") { multi.search(marker, incoming.size + K) }
        vis.value.foreach { hits =>
          if (up.value.isDefined) {
            visibleMs += up.ms + open.ms + vis.ms
            if (hits.length != incoming.size || !hits.forall(h => multi.locate(h.docId)._1 == deltaDir))
              mismatches += s"engine: found ${hits.length} of ${incoming.size} upserted docs"
          }
        }
        val victims = inBase.iterator.drop(rng.nextInt(math.max(1, inBase.size - Deletes)))
          .take(Deletes).toVector
        val del = rec.op("delete", "keys" -> victims.size) { IndexOps.deleteInPlace(spark, base, victims) }
        del.value.foreach { _ =>
          deleteMs += del.ms
          victims.foreach { k => live -= k; inBase -= k }
        }
        (0 until SegQueries).foreach { _ =>
          val q = rec.op("segment_query") { multi.search(pool(rng.nextInt(pool.size)), K) }
          if (q.value.isDefined) segMs += q.ms
        }
        multi.close()
      }

      val out = dir("engine/merged")
      val m = rec.op("maintain", "deltas" -> deltas.size) {
        IndexOps.maintain(spark, base, deltas, out, cfg(cores), maxDeltas = 0)
      }
      m.value.flatten.foreach { meta =>
        mergeMs += m.ms
        val bytes = Files.sizeBytes(out)
        bytesWritten += bytes
        mergeMb += bytes / 1048576.0
        mergeDocsPerS += meta.nDocs / (m.ms / 1000)
        base = out
        deltas = Vector.empty
      }
    }
    val windowS = Stats.secondsSince(window0)
    val writeMs = rec.opMs - ms0
    rec.sampleHeap()

    // ---- correctness, outside the window ----
    rec.phase("check") {
      // the index holds exactly the live keys, each with its latest content
      val indexed = (base +: deltas).flatMap { d =>
        IndexOps.liveDocs(spark, d).select("repo", "path", "commit", "sha")
          .as[(String, String, String, String)].collect().map(r => ((r._1, r._2, r._3), r._4))
      }
      val indexedMap = indexed.toMap
      if (indexed.size != indexedMap.size) mismatches += "engine: a key is live in two segments"
      val missing = live.count { case (k, sha) => !indexedMap.get(k).contains(sha) }
      val extra = indexedMap.keySet.count(k => !live.contains(k))
      if (missing > 0) mismatches += s"engine: $missing live docs missing or stale in the index"
      if (extra > 0) mismatches += s"engine: $extra deleted or replaced docs still visible"

      // docstats.sha is sha256(content) for every row of the first build
      val badSha = spark.read.parquet(src).withColumn("want", sha2(col("content"), 256))
        .join(spark.read.parquet(s"$buildDir/docstats"), Seq("repo", "path", "commit"))
        .filter(col("want") =!= col("sha")).count()
      val rows = spark.read.parquet(s"$buildDir/docstats").count()
      if (badSha > 0 || rows != Serve.Docs) mismatches += s"engine: docstats sha wrong on $badSha rows ($rows rows)"

      // a compaction of what is left answers like a fresh build of the survivors;
      // maintain already compacted everything unless it failed
      val compacted =
        if (deltas.isEmpty && base != buildDir) base
        else {
          val out = dir("engine/compacted")
          IndexOps.mergeSegments(spark, base +: deltas, out, cfg(cores))
          out
        }
      val survivors = spark.read.parquet(src).as[CodeDoc]
        .join(broadcast(live.keys.filterNot(upserted.contains).toSeq.toDF("repo", "path", "commit")),
          Seq("repo", "path", "commit"), "left_semi").as[CodeDoc]
        .unionByName(spark.createDataset(upserted.values.filter(d => live.contains(key(d))).toSeq))
      val freshDir = dir("engine/fresh")
      IndexBuilder.build(spark, survivors, freshDir, cfg(cores))
      mismatches ++= sameAnswers(ctx, compacted, freshDir,
        pool.take(CheckQueries) :+ marker)
    }

    val layers = mutable.LinkedHashMap[String, Double](
      "query.multi_open_ms" -> Stats.median(openMs),
      "query.segments" -> (if (segCounts.isEmpty) 0.0 else segCounts.sum / segCounts.size),
      "index.upsert.tombstone_s" -> Stats.median(tombS),
      "index.upsert.delta_build_s" -> Stats.median(deltaS),
      "index.delete_ms" -> Stats.median(deleteMs),
      "index.merge.mb_rewritten" -> Stats.median(mergeMb),
      "index.merge.docs_per_s" -> Stats.median(mergeDocsPerS),
      "index.write_amp" -> bytesWritten.toDouble / ingestedBytes)
    WorkloadResult(
      e2e = Map("work_s" -> writeMs / 1000),
      report = Seq(
        ("upsert_p50_ms", Stats.median(upsertMs), "ms"),
        ("visible_p50_ms", Stats.median(visibleMs), "ms"),
        ("segment_query_p50_ms", Stats.median(segMs), "ms"),
        ("merge_s", Stats.median(mergeMs) / 1000, "s"),
        ("index_bytes_per_input_byte", baseBytes.toDouble / inputBytes, "ratio"),
        ("write_window_s", windowS, "s")),
      layers = layers.toMap,
      mismatches = mismatches.toSeq)
  }

  /** Two indexes over the same documents but different docId spaces must
    * give the same scores rank by rank, and the same documents for every
    * score that is not cut by k.
    */
  private def sameAnswers(ctx: Ctx, a: String, b: String, queries: Seq[String]): Seq[String] = {
    import ctx.spark.implicits._
    def keys(dir: String): Map[Long, Key] =
      ctx.spark.read.parquet(s"$dir/docstats").select("docId", "repo", "path", "commit")
        .as[(Long, String, String, String)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val (ka, kb) = (keys(a), keys(b))
    val (sa, sb) = (new Searcher(ctx.spark, a), new Searcher(ctx.spark, b))
    try queries.flatMap { q =>
      val (ha, hb) = (sa.search(q, 2 * K), sb.search(q, 2 * K))
      def groups(hs: Array[Hit], ks: Map[Long, Key]) =
        hs.groupBy(_.score).map { case (s, g) => s -> g.map(h => ks(h.docId)).toSet }
      val cut = ha.lastOption.map(_.score)
      val ga = groups(ha, ka) -- cut
      val gb = groups(hb, kb) -- cut
      if (ha.map(_.score).toSeq != hb.map(_.score).toSeq || ga != gb)
        Some(s"engine: [$q] compacted index differs from a fresh build")
      else None
    } finally { sa.close(); sb.close() }
  }
}
