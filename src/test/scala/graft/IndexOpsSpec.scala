package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexMeta, IndexOps, QueryFilter, Snapshot}
import graft.query.Searcher
import org.scalatest.funsuite.AnyFunSuite

class IndexOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val cfg: IndexConfig = IndexConfig(buckets = 8, blockSize = 64,
    saltRange = 256, shufflePartitions = 4)
  lazy val tmp: String = java.nio.file.Files.createTempDirectory("graftops").toString
  lazy val docs = CodeCorpus.generate(spark, 600, nRepos = 10, partitions = 4)
  lazy val meta = IndexBuilder.build(spark, docs, tmp, cfg)

  test("query filter: term, exists, NOT, OR, *:* (importer.py:187-204,499)") {
    meta
    // *:* matches everything
    assert(QueryFilter.matchingDocs(spark, tmp, "*:*").count() == 600)
    // field exists
    assert(QueryFilter.matchingDocs(spark, tmp, "content:*").count() == 600)
    // keyword term on a raw field
    val r7 = QueryFilter.matchingDocs(spark, tmp, "repo:repo-0007").count()
    assert(r7 == docs.filter(_.repo == "repo-0007").count())
    // NOT exists
    assert(QueryFilter.matchingDocs(spark, tmp, "NOT content:*").count() == 0)
    // analyzed term on content: planted phrase word in known docs
    val withBinary = QueryFilter.matchingDocs(spark, tmp, "content:binary").count()
    assert(withBinary == docs.filter(_.content.contains("binary search tree")).count())
    // OR union
    val or = QueryFilter.matchingDocs(spark, tmp, "repo:repo-0007 OR repo:repo-0008").count()
    val exp = docs.filter(d => d.repo == "repo-0007" || d.repo == "repo-0008").count()
    assert(or == exp)
    // NOT term OR ... (delete-by-query shape, importer.py:199-204)
    val notQ = QueryFilter.matchingDocs(spark, tmp, "NOT repo:repo-0007").count()
    assert(notQ == 600 - r7)
  }

  test("a segment past the Int docId range is refused at open and by a merge") {
    val dir = java.nio.file.Files.createTempDirectory("graftmaxdocs").toString
    IndexBuilder.build(spark, CodeCorpus.generate(spark, 40, nRepos = 2, partitions = 2), dir, cfg)
    // local docIds are Ints: a snapshot claiming 2^31 docs must not open
    // and then fail on its first query's norm table
    val snap = new Snapshot(dir)
    snap.commit(snap.readProps() + ("nDocs" -> "2147483648"))
    val limit = IndexMeta.MaxDocs.toString
    val atOpen = intercept[IllegalArgumentException](new Searcher(spark, dir))
    assert(atOpen.getMessage.contains(limit), atOpen.getMessage)
    val out = java.nio.file.Files.createTempDirectory("graftmaxdocsmerged").toString
    val atMerge = intercept[IllegalArgumentException](
      IndexOps.mergeSegments(spark, Seq(dir), out, cfg))
    assert(atMerge.getMessage.contains(limit), atMerge.getMessage)
  }

  test("overlapping re-deletes: tombstoneCount exact, each id stored once") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftredel").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    import graft.index.Tombstones
    // dedupSkipBound = 0 forces the DEDUP regime (the default bound is far
    // above this test's counts; production enters it once the history
    // passes the bound). In-batch duplicate + later overlapping batches:
    // the upsert-heavy history that used to inflate the routing property
    // (VERDICT r4 nit)
    Tombstones.commitDeletes(spark, dir, Seq(1L, 2L, 3L, 3L), dedupSkipBound = 0L)
    assert(Tombstones.count(dir) == 3)
    Tombstones.commitDeletes(spark, dir, Seq(2L, 3L, 4L), dedupSkipBound = 0L)
    assert(Tombstones.count(dir) == 4, "re-deletes must not inflate the count")
    // distributed form overlapping everything so far
    Tombstones.commitDeletesDF(spark, dir, Seq(3L, 4L, 5L).toDF("docId"), dedupSkipBound = 0L)
    assert(Tombstones.count(dir) == 5)
    assert(Tombstones.docSet(spark, dir).toArray.toSeq == Seq(1, 2, 3, 4, 5))
    // raw file rows (NOT deduped on read): one stored row per deleted id
    val raw = spark.read.parquet(Tombstones.files(dir): _*).count()
    assert(raw == 5, "each deleted docId stored exactly once across files")
  }

  test("below DedupSkipBound commits skip the history re-scan; readers dedupe") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftredelskip").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    import graft.index.Tombstones
    // default bound (far above these counts): re-deletes double-store —
    // count = stored rows (the honest reader cost), never the anti-join
    Tombstones.commitDeletes(spark, dir, Seq(1L, 2L, 3L))
    Tombstones.commitDeletes(spark, dir, Seq(2L, 3L, 4L))
    assert(Tombstones.count(dir) == 6, "skip regime counts stored rows")
    assert(spark.read.parquet(Tombstones.files(dir): _*).count() == 6)
    // reader surfaces are dedup-exact regardless of storage duplicates
    assert(Tombstones.docSet(spark, dir).toArray.toSeq == Seq(1, 2, 3, 4))
    assert(Tombstones.table(spark, dir).get.count() == 4)
  }

  test("deleteInPlace of 10 keys writes one tombstone file in 3 jobs") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftdel10").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val victims = IndexOps.docs(spark, dir)
      .select($"repo", $"path", $"commit").as[(String, String, String)].take(10).toSeq
    // the key resolution and the commit's write: the ids are already
    // distinct, so no dedup job runs, and no reader needs the file sorted,
    // so no range-sampling job runs
    val jobs = SparkJobs.count(spark, "graft-delete-ten") {
      IndexOps.deleteInPlace(spark, dir, victims)
    }
    assert(jobs == 3, s"deleteInPlace of 10 keys ran $jobs Spark jobs")
    assert(graft.index.Tombstones.count(dir) == 10)
    val written = graft.index.Tombstones.files(dir).flatMap(f =>
      new java.io.File(f).listFiles().filter(_.getName.endsWith(".parquet")))
    assert(written.length == 1, s"a small delete wrote ${written.length} files")
  }

  /** Broadcast values in the driver's block manager that hold a set of
    * docIds, as a DocSet or a Long array.
    */
  private def docIdBroadcasts(): Set[org.apache.spark.storage.BlockId] = {
    val bm = org.apache.spark.SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case org.apache.spark.storage.BroadcastBlockId(_, "") => true
      case _ => false
    }.filter { id =>
      // reading every value releases the block's read lock
      bm.getLocalValues(id).exists(_.data.toList.exists {
        case _: org.roaringbitmap.RoaringBitmap | _: Array[Long] => true
        case _ => false
      })
    }.toSet
  }

  test("mergeSegments leaves no tombstone broadcast on the driver") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftmergebc").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexOps.deleteByQueryInPlace(spark, dir, "repo:repo-0004")
    val before = docIdBroadcasts()
    val out = java.nio.file.Files.createTempDirectory("graftmergebcO").toString
    val merged = IndexOps.mergeSegments(spark, Seq(dir), out, cfg)
    assert(merged.nDocs == IndexOps.liveDocs(spark, dir).count())
    // destroy() drops the driver's copy asynchronously
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    eventually(timeout(Span(10, Seconds))) {
      val left = docIdBroadcasts() -- before
      assert(left.isEmpty, s"the merge left its tombstone broadcasts: $left")
    }
  }

  test("a merge resumed before its dictionary stage commits the clean merge's dictionary") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftmergeres").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    IndexOps.deleteByQueryInPlace(spark, dir, "repo:repo-0005")
    val out = java.nio.file.Files.createTempDirectory("graftmergeresO").toString
    val clean = IndexOps.mergeSegments(spark, Seq(dir), out, cfg)
    def dictRows(): Set[graft.core.DictEntry] =
      spark.read.schema(IndexBuilder.DictionarySchema).parquet(s"$out/dictionary")
        .as[graft.core.DictEntry].collect().toSet
    val cleanDict = dictRows()
    assert(cleanDict.nonEmpty)
    // a merge killed after its postings marker, before its dictionary marker
    new scala.reflect.io.Directory(new java.io.File(s"$out/dictionary")).deleteRecursively()
    java.nio.file.Files.delete(java.nio.file.Paths.get(out, "_build", "stage.dictionary.done"))
    val resumed = IndexOps.mergeSegments(spark, Seq(dir), out, cfg)
    assert(resumed == clean)
    assert(dictRows() == cleanDict, "the resumed merge must write the same dictionary")
  }

  test("hit count + facet over query results (A2/Q6)") {
    assert(IndexOps.hitCount(spark, tmp, "repo:repo-0003") > 0)
    val facets = IndexOps.facet(spark, tmp, "*:*", "lang").collect()
    assert(facets.map(_.getLong(1)).sum == 600)
    assert(facets.forall(_.getLong(1) >= 1)) // mincount=1
  }

  test("realtime get by natural keys (S4)") {
    val keys = docs.take(3).map(d => (d.repo, d.path, d.commit)).toSeq
    val got = IndexOps.realtimeGet(spark, tmp, keys)
    assert(got.count() == 3)
  }

  test("delete-by-ids produces index without the deleted docs (K4)") {
    val victims = docs.take(5).map(d => (d.repo, d.path, d.commit)).toSeq
    val out = java.nio.file.Files.createTempDirectory("graftdel").toString
    val m2 = IndexOps.deleteByIds(spark, docs, victims, out, cfg)
    assert(m2.nDocs == 595)
    assert(IndexOps.realtimeGet(spark, out, victims).count() == 0)
  }

  test("upsert replaces docs with the same natural key (Q8)") {
    val d0 = docs.take(1)(0)
    val replacement = d0.copy(content = "totally replaced content zyzzyx")
    val out = java.nio.file.Files.createTempDirectory("graftup").toString
    val m2 = IndexOps.upsert(spark, docs, Seq(replacement).toDS(), out, cfg)
    assert(m2.nDocs == 600) // replaced, not added
    val hits = new graft.query.Searcher(spark, out).search("zyzzyx", 5)
    assert(hits.length == 1)
  }

  test("jsonl dump + reload round trip (K5/S2)") {
    val out = java.nio.file.Files.createTempDirectory("graftdump").toString
    IndexOps.dumpJsonl(spark, tmp, out, batchSize = 100)
    val back = IndexOps.loadJsonl(spark, out)
    assert(back.count() == 600)
    assert(back.select("sha").distinct().count() ==
      IndexOps.docs(spark, tmp).select("sha").distinct().count())
    // batch-size paging produced multiple files (1000/file default in ref)
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".json"))
    assert(files >= 2)
  }

  test("in-place delete: tombstone commit, no rebuild; all readers exclude") {
    meta
    // fresh copy of the index so other tests see no tombstones
    val dir = java.nio.file.Files.createTempDirectory("graftts").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val searcher0 = new graft.query.Searcher(spark, dir)
    val before = searcher0.search("buffer", 10)
    assert(before.nonEmpty)
    val victims = spark.read.parquet(s"$dir/docstats")
      .filter(org.apache.spark.sql.functions.col("docId")
        .isin(before.take(3).map(_.docId): _*))
      .select("repo", "path", "commit").as[(String, String, String)].collect()
    val snapBefore = new graft.index.Snapshot(dir).currentId
    IndexOps.deleteInPlace(spark, dir, victims.toSeq)
    assert(new graft.index.Snapshot(dir).currentId == snapBefore + 1, "commit-gated")
    // postings untouched: no rebuild happened
    val deletedIds = before.take(3).map(_.docId).toSet
    val after = new graft.query.Searcher(spark, dir).search("buffer", 10)
    assert(after.nonEmpty)
    assert(after.forall(h => !deletedIds.contains(h.docId)), "search excludes tombstones")
    // top-k does not under-fill: deleted slots are backfilled by later docs
    assert(after.length == before.length)
    val fq = QueryFilter.matchingDocs(spark, dir, "*:*").count()
    assert(fq == 600 - 3, "filter queries exclude tombstones")
    // readers of the OLD searcher instance (pinned snapshot) are unaffected
    assert(searcher0.search("buffer", 10).toSeq == before.toSeq)
  }

  test("mass delete-by-query: distributed tombstones, executor route identical, no driver set") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftmass").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    val before = new graft.query.Searcher(spark, dir).search("buffer", 10)
    // bulk delete: every doc of one repo, resolved + committed WITHOUT any
    // .collect() (deleteByQueryInPlace writes the tombstone file straight
    // from the matching-docs DataFrame)
    val repo = spark.read.parquet(s"$dir/docstats").select("repo").as[String].head()
    val nRepo = spark.read.parquet(s"$dir/docstats")
      .filter(org.apache.spark.sql.functions.col("repo") === repo).count()
    assert(nRepo > 0)
    IndexOps.deleteByQueryInPlace(spark, dir, s"repo:$repo")
    assert(graft.index.Tombstones.count(dir) == nRepo,
      "snapshot carries the committed tombstone count")

    // the tombstones ride the kernel as a DocSet, tested on the driver
    val sBc = new graft.query.Searcher(spark, dir)
    val bcHits = sBc.search("buffer", 10)
    // driverKernelMaxPostings=0 routes search() to the distributed kernel,
    // where the DocSet is tested on executors
    val sSh = new graft.query.Searcher(spark, Seq(dir),
      graft.query.SearchConfig(driverKernelMaxPostings = 0))
    val shHits = sSh.search("buffer", 10)
    assert(bcHits.toSeq == shHits.toSeq, "both routes rank-identical")
    val deletedIds = spark.read.parquet(s"$dir/docstats")
      .filter(org.apache.spark.sql.functions.col("repo") === repo)
      .select("docId").as[Long].collect().toSet
    assert(shHits.forall(h => !deletedIds.contains(h.docId)))
    assert(bcHits.nonEmpty && bcHits.length == before.length, "top-k backfills")
    // realtime-get respects the committed deletes (ADVICE r2)
    val victim = spark.read.parquet(s"$dir/docstats")
      .filter(org.apache.spark.sql.functions.col("repo") === repo)
      .select("repo", "path", "commit").as[(String, String, String)].head()
    assert(IndexOps.realtimeGet(spark, dir, Seq(victim)).count() == 0)
  }

  test("maintain: tombstone-ratio compaction -> one clean segment, identical scores") {
    meta
    val dir = java.nio.file.Files.createTempDirectory("graftmaint").toString
    IndexBuilder.build(spark, docs, dir, cfg)
    // fresh index, no deltas: the policy declines (props-only decision)
    val out0 = java.nio.file.Files.createTempDirectory("graftmaintO0").toString
    assert(IndexOps.maintain(spark, dir, Nil, out0, cfg).isEmpty,
      "clean index must not compact")
    // delete ~30% (3 of 10 repos) in place -> ratio > default 0.2
    Seq("repo-0000", "repo-0001", "repo-0002").foreach(r =>
      IndexOps.deleteByQueryInPlace(spark, dir, s"repo:$r"))
    val live = IndexOps.liveDocs(spark, dir).count()
    assert(live < 600)
    def shasOf(d: String): Map[Long, String] =
      spark.read.parquet(s"$d/docstats").select("docId", "sha")
        .as[(Long, String)].collect().toMap
    val qs = Seq("buffer", "def class import return", "buffer sort merge")

    val out = java.nio.file.Files.createTempDirectory("graftmaintO1").toString
    val merged = IndexOps.maintain(spark, dir, Nil, out, cfg)
    assert(merged.nonEmpty, "30% tombstones must trigger compaction")
    assert(merged.get.nDocs == live, "merged segment holds exactly the survivors")
    assert(graft.index.Tombstones.count(out) == 0 &&
      graft.index.Tombstones.files(out).isEmpty, "compaction squeezes tombstones out")

    // compaction updates BM25 stats to the survivor set (like a Lucene
    // merge: deleted docs count in N/df/avgLen until merged away), so the
    // identity gate is merged == FRESH BUILD over exactly the survivors
    val survivors = docs.filter(d =>
      !Seq("repo-0000", "repo-0001", "repo-0002").contains(d.repo))
    val freshDir = java.nio.file.Files.createTempDirectory("graftmaintF").toString
    IndexBuilder.build(spark, survivors, freshDir, cfg)
    val postShas = shasOf(out)
    val freshShas = shasOf(freshDir)
    val post = new graft.query.Searcher(spark, out)
    val fresh = new graft.query.Searcher(spark, freshDir)
    qs.foreach { q =>
      val got = post.search(q, 10).toSeq.map(h => (postShas(h.docId), h.score))
      val expect = fresh.search(q, 10).toSeq.map(h => (freshShas(h.docId), h.score))
      assert(got.map(_._2) == expect.map(_._2), s"[$q] score sequence")
      if (expect.nonEmpty) {
        val boundary = expect.last._2
        assert(got.filter(_._2 > boundary).map(_._1).toSet ==
          expect.filter(_._2 > boundary).map(_._1).toSet, s"[$q] above-boundary docs")
      }
    }

    // delta-accretion trigger: one delta with maxDeltas=0 compacts even with
    // zero tombstones; the default policy declines the same single delta
    val deltaDocs = spark.range(600, 650).as[Long].map(i => CodeCorpus.genDoc(i, 10))
    val deltaDir = java.nio.file.Files.createTempDirectory("graftmaintD").toString
    IndexBuilder.build(spark, deltaDocs, deltaDir, cfg)
    val out2 = java.nio.file.Files.createTempDirectory("graftmaintO2").toString
    assert(IndexOps.maintain(spark, out, Seq(deltaDir), out2, cfg).isEmpty,
      "one delta is below the default maxDeltas")
    val m2 = IndexOps.maintain(spark, out, Seq(deltaDir), out2, cfg, maxDeltas = 0)
    assert(m2.nonEmpty && m2.get.nDocs == live + 50,
      "delta trigger folds base + delta into one segment")
  }

  test("upsert via delta segment + tombstones: new version visible, old gone") {
    meta
    val baseDir = java.nio.file.Files.createTempDirectory("graftup").toString
    IndexBuilder.build(spark, docs, baseDir, cfg)
    // replace doc 0 with new content containing a unique marker term
    val old = docs.filter(_.path.contains("/File0.")).head()
    val replacement = old.copy(content = old.content + " zanzibarmarker zanzibarmarker")
    val deltaDir = java.nio.file.Files.createTempDirectory("graftupD").toString
    IndexOps.upsertDelta(spark, baseDir,
      spark.createDataset(Seq(replacement)), deltaDir, cfg)
    val multi = new graft.query.Searcher(spark, Seq(baseDir, deltaDir))
    val hits = multi.search("zanzibarmarker", 5)
    assert(hits.length == 1, "replacement doc findable via its marker")
    val (dir, local) = multi.locate(hits(0).docId)
    assert(dir == deltaDir && local == 0)
    // the old version is tombstoned: content terms of doc 0 no longer return
    // the base copy AND the delta copy appears instead
    val oldWord = graft.analysis.Analyzer.analyze(old.content).head
    val all = multi.search(oldWord, 600)
    val baseIds = all.map(_.docId).filter(_ < 600) // base segment offsets 0..599
    val oldBaseId = spark.read.parquet(s"$baseDir/docstats")
      .filter(org.apache.spark.sql.functions.col("path") === old.path)
      .select("docId").as[Long].head()
    assert(!baseIds.contains(oldBaseId), "old version excluded from base segment")
  }

  test("format version: unstamped (pre-v2) snapshot refused loudly; old stage markers invalid") {
    meta
    import java.nio.file.{Files, Paths}
    import java.nio.charset.StandardCharsets
    val dir = java.nio.file.Files.createTempDirectory("graftfmt").toString
    IndexBuilder.build(spark, docs.limit(50).as[graft.core.CodeDoc], dir, cfg)
    // a freshly built snapshot carries the stamp and opens cleanly
    val snap = new graft.index.Snapshot(dir)
    assert(snap.readProps()("formatVersion") == graft.core.Codec.FormatVersion.toString)
    new graft.query.Searcher(spark, dir).close()
    // simulate a pre-v2 index: strip the stamp from the committed snapshot.
    // Opening it must throw the NAMED mismatch error (never sniff-decode).
    val snapFile = Paths.get(dir, "snapshots", s"snap-${snap.currentId}.properties")
    val stripped = Files.readAllLines(snapFile, StandardCharsets.UTF_8)
    val tmp2 = Paths.get(dir, "snapshots", ".strip.tmp")
    Files.write(tmp2, stripped.toArray.map(_.toString)
      .filterNot(_.startsWith("formatVersion="))
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp2, snapFile, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[graft.index.IndexMeta.FormatVersionMismatch] {
      new graft.query.Searcher(spark, dir)
    }
    assert(e.getMessage.contains("v1") && e.getMessage.contains("v2"))
    // stage-resume markers from an older format generation ("done", the
    // pre-r7 content) must NOT count as done — a resumed build re-runs the
    // stage instead of committing a fresh snapshot over old-format blocks
    // (the exact r6 upsertDelta chain)
    Files.write(Paths.get(dir, "_build", "stage.postings.done"),
      "done".getBytes(StandardCharsets.UTF_8))
    assert(!snap.stageDone("postings"), "old-format marker must be invalid")
    snap.markStageDone("postings")
    assert(snap.stageDone("postings"), "current-format marker valid")
  }
}
