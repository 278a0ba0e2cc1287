package graft

import graft.functions.GraftFunctions
import graft.ops.{Dedup, Multimodal, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val docsPath = "/root/testdata/sf0.001/documents.parquet"
  val embPath = "/root/testdata/sf0.001/embeddings.parquet"

  test("simhash: identical texts collide, near-identical are close") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different content about spark inverted index builds")
    ).toDF("id", "text")
    val sigs = df.select($"id",
        Dedup.simhash64(split(lower(trim($"text")), "\\s+")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(3L)) < ham(sigs(1L), sigs(4L)))
  }

  test("native one-pass simhash64 expression == column form, bit for bit") {
    GraftFunctions.register(spark)
    val rows = spark.read.parquet(docsPath).limit(50)
      .withColumn("w", split(lower(trim($"text")), "\\s+"))
      .select(Dedup.simhash64($"w").as("columnar"),
        call_function("graft_simhash64", $"w").as("native"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // SQL surface resolves too
    spark.read.parquet(docsPath).limit(1).createOrReplaceTempView("sh_docs")
    val viaSql = spark.sql(
      "SELECT graft_simhash64(split(lower(trim(text)), '\\\\s+')) FROM sh_docs")
      .collect()(0).getLong(0)
    assert(viaSql != 0L)
    // arrays containing null elements: both forms must cast no vote for the
    // null (native skips it; column form guards the vote with isNull)
    val withNulls = Seq(
      (1, Seq("alpha", null, "beta", "gamma")),
      (2, Seq(null, null, "alpha")),
      (3, Seq[String](null))).toDF("id", "w")
      .select(Dedup.simhash64($"w").as("columnar"),
        call_function("graft_simhash64", $"w").as("native"))
      .collect()
    withNulls.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"null-element divergence: columnar=${r.getLong(0)} native=${r.getLong(1)}"))
  }

  test("connected components: chains close transitively, labels are min ids") {
    // components: {1,2,3,4} via chain 1-2,2-3,3-4; {10,11}; {20,21,22} via
    // star 20-21,20-22. 99 is isolated (no edge) and must not appear.
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (21L, 20L), (20L, 22L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // driver union-find path (default cutoff) and the distributed min-label
    // loop (cutoff 0) must produce the same labels
    val local = Dedup.connectedComponents(edges).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(edges, driverMaxEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == want)
    assert(dist == want)
  }

  test("GraftExtensions injects graft_simhash64 via spark.sql.extensions") {
    // TestSpark is built with spark.sql.extensions=graft.functions.GraftExtensions
    // (the spark-submit path); a fresh newSession() has a FRESH function
    // registry, so resolution below comes from the extensions injection, not
    // from any GraftFunctions.register() call made by other tests
    val fresh = spark.newSession()
    val sig = fresh.sql(
      "SELECT graft_simhash64(array('alpha','beta','gamma')) AS s").collect()(0).getLong(0)
    val viaRegister = {
      graft.functions.GraftFunctions.register(spark)
      spark.sql("SELECT graft_simhash64(array('alpha','beta','gamma')) AS s")
        .collect()(0).getLong(0)
    }
    assert(sig == viaRegister)
  }

  test("simhash banded pairs find exact dup with hamming 0") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words nothing shared here at all ok")
    ).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("LSH ANN recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(embPath)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val rest = emb.filter($"vec_id" =!= 0)
    val brute = Similarity.bruteForceTopK(rest, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.lshTopK(spark, rest, "vec_id", "embedding", query, 10,
      nBits = 8, probeHamming = 2)
      .collect().map(_.getLong(0)).toSet
    // random embeddings are the worst case for sign-LSH (no cluster
    // structure); with nBits=8/probe=2 the probe set is ~14% of vectors, so
    // random-guess recall would be ~0.14 — require at least ~2x that
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall >= 0.25, s"recall $recall too low (brute=$brute ann=$ann)")

    // the persisted signature index returns EXACTLY what the per-query LSH
    // filter returns (same planes, same signatures, same probe ball) — but
    // its per-query plan is a pushed `sig IN (...)` probe of the sig-sorted
    // table, not a full-corpus signature recompute
    val annDir = java.nio.file.Files.createTempDirectory("graftann").toString
    graft.ops.AnnIndex.build(spark, rest, "vec_id", "embedding", annDir, nBits = 8)
    val indexed = graft.ops.AnnIndex.topK(spark, annDir, query, 10, probeHamming = 2)
    assert(indexed.collect().map(_.getLong(0)).toSet == ann)
    val pushed = indexed.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("In(sig"),
      s"sig probe must push to parquet:\n$pushed")
  }

  test("q_cosine_topk without a query vector: empty result with the usual schema") {
    val dir = java.nio.file.Files.createTempDirectory("graftcos").toString
    spark.read.parquet(embPath).filter($"vec_id" =!= 0)
      .write.parquet(s"$dir/embeddings.parquet")
    val q = RelationalQueries.queries("q_cosine_topk")
    val none = q(spark, dir) // planned without a plan-time throw
    assert(none.collect().isEmpty)
    assert(none.schema == q(spark, new java.io.File(embPath).getParent).schema)
  }

  test("embedding near-dup: LSH pairs are a subset of exact pairs, decent recall") {
    val emb = spark.read.parquet(embPath).filter($"vec_id" < 150)
    val exact = Similarity.cosinePairs(emb, "vec_id", "embedding", minCos = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = Similarity.lshNearDupPairs(emb, "vec_id", "embedding", minCos = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(viaLsh.subsetOf(exact), "bucketed pairs must pass the same exact filter")
    // near-dups have high cosine, which correlates with sharing a signature;
    // random pairs at the 0.1 threshold are the hard case — require nontrivial
    val recall = viaLsh.size.toDouble / exact.size
    assert(recall >= 0.15, s"recall $recall (lsh=${viaLsh.size} exact=${exact.size})")
    // true near-duplicates (cos >= 0.9 after planting) are always found
    val base = emb.select($"vec_id", $"embedding")
    val planted = base.filter($"vec_id" === 1)
      .select(lit(9999L).as("vec_id"), $"embedding")
    val withDup = base.unionByName(planted)
    val dupPairs = Similarity.lshNearDupPairs(withDup, "vec_id", "embedding", minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dupPairs.contains((1L, 9999L)), s"planted exact dup must be found: ${dupPairs.toSeq}")
  }

  test("LSH probe set is a real subset (it actually prunes)") {
    val emb = spark.read.parquet(embPath)
    val query = emb.filter($"vec_id" === 0).select("embedding")
      .as[Array[Float]].head()
    val planes = Similarity.hyperplanes(12, query.length)
    val n = emb.count()
    val probed = emb
      .withColumn("sig", Similarity.lshSignature(
        Similarity.asDouble($"embedding"), planes))
      .groupBy("sig").count().count()
    assert(probed > 1, "signatures must spread over multiple buckets")
  }

  test("winnowing guarantee: docs sharing a run of >= w+k-1 words share a fingerprint") {
    // Schleimer et al. 2003, theorem 1: with window w over k-grams, any
    // common substring of length >= w + k - 1 produces at least one common
    // fingerprint. 60 seeded random pairs, one Spark job.
    val k = 3; val w = 4
    val rng = new scala.util.Random(7)
    def words(n: Int) = Seq.fill(n)("w" + rng.nextInt(500))
    val rows = (0 until 60).map { i =>
      val shared = words(w + k - 1 + rng.nextInt(10))
      val a = words(rng.nextInt(30)) ++ shared ++ words(rng.nextInt(30))
      val b = words(rng.nextInt(30)) ++ shared ++ words(rng.nextInt(30))
      (i, a, b)
    }
    val df = rows.toDF("pair_id", "wa", "wb")
    val common = df.select($"pair_id",
      size(array_intersect(
        graft.ops.TextOps.winnowFingerprints($"wa", k, w),
        graft.ops.TextOps.winnowFingerprints($"wb", k, w))).as("n_common"))
      .collect()
    common.foreach(r =>
      assert(r.getInt(1) >= 1, s"pair ${r.getInt(0)} shares no fingerprint"))
  }

  test("native graft_winnow == builtins winnowFingerprints, element for element") {
    import org.apache.spark.sql.functions.{call_function, lit}
    graft.functions.GraftFunctions.register(spark)
    val k = 3; val w = 4
    val rng = new scala.util.Random(11)
    val cases = (0 until 40).map(i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(60))("t" + rng.nextInt(20)).mkString(" "))) ++
      Seq(
        (100L, ""), // one empty word -> no grams -> empty array
        (101L, "a b"), // fewer than k words -> empty array
        (102L, "a b c"), // exactly one gram (< w windows) -> global min
        (103L, "a b c d e"), // grams < w -> global min
        (104L, "x x x x x x x x x x"), // all-identical grams (dedup path)
        (105L, "the quick brown fox jumps over the lazy dog near the bank"))
    val rows = cases.toDF("id", "text")
      .withColumn("w", split($"text", " "))
      .select($"id",
        graft.ops.TextOps.winnowFingerprints($"w", k, w).as("ref"),
        call_function("graft_winnow", $"w", lit(k), lit(w)).as("got"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id ${r.getLong(0)}: native winnow must match builtins")
    }
  }

  test("native graft_hash64 == builtins tokenHash64, bit for bit") {
    // the native form skips the hex-string intermediate on the hot gram
    // streams (SubstringDedup, Decontaminate) — it must agree with the
    // conv-based column form (which the DuckDB oracles mirror) on every
    // value class: ascii, unicode, empty, long, null
    val rows = (0 until 500).map(i => s"tok$i gram ${i * 37}") ++
      Seq("", "café 中文 😀", "a" * 4096)
    val df = rows.toDF("t")
      .select(graft.ops.Dedup.tokenHash64($"t").as("ref"),
        graft.ops.Dedup.tokenHash64Native(spark, $"t").as("got"))
    assert(df.filter($"ref" =!= $"got").count() == 0)
    assert(df.filter($"ref".isNull || $"got".isNull).count() == 0)
    val nulls = Seq[Option[String]](Some("x"), None).toDF("t")
      .select(graft.ops.Dedup.tokenHash64Native(spark, $"t").as("got"))
      .collect()
    assert(nulls.count(_.isNullAt(0)) == 1, "null input -> null, like md5()")
  }

  test("PII redaction: planted classes scrubbed, clean text untouched, counts right") {
    import graft.ops.TextOps
    val rows = Seq(
      (1L, "mail bob.smith+tag@sub.example.co.uk now"), // email with +tag, multi-label domain
      (2L, "hosts 10.0.0.1 and 192.168.255.254 up"), // two IPs
      (3L, "call +1-555-867-5309 or +44-20-7946-0958"), // two phones
      (4L, "v1.2.3 released; pi is 3.14.15.92x ok"), // version + no \b-terminated quad
      (5L, "plain text with no identifiers at all"),
      (6L, "a@b.co 127.0.0.1 +9-99999999")) // all three, minimal forms
    val out = rows.toDF("id", "t")
      .select($"id",
        TextOps.piiCount($"t", TextOps.EmailPattern).as("e"),
        TextOps.piiCount($"t", TextOps.Ipv4Pattern).as("i"),
        TextOps.piiCount($"t", TextOps.PhonePattern).as("p"),
        TextOps.redactPii($"t").as("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((1L, 0L, 0L, "mail <EMAIL> now")))
    assert(out(2L) == ((0L, 2L, 0L, "hosts <IP> and <IP> up")))
    assert(out(3L) == ((0L, 0L, 2L, "call <PHONE> or <PHONE>")))
    // "3.14.15.92x": trailing x kills the \b quad... no — \b sits between
    // '2' and 'x'? both word chars, so NO boundary: quad must not match
    assert(out(4L) == ((0L, 0L, 0L, "v1.2.3 released; pi is 3.14.15.92x ok")))
    assert(out(5L)._4 == "plain text with no identifiers at all")
    assert(out(6L) == ((1L, 1L, 1L, "<EMAIL> <IP> <PHONE>")))
  }

  test("multimodal stub pipeline: schema, integrity, determinism") {
    val media = Multimodal.asMediaTable(
      spark.read.parquet(docsPath).limit(50), "doc_id", "text", "image")
    val feats = Multimodal.extractFeatures(media)
    assert(feats.columns.toSeq ==
      Seq("media_id", "kind", "n_bytes", "payload_sha", "width", "height", "features"))
    val rows = feats.collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      assert(r.getAs[Int]("width") == 224 && r.getAs[Int]("height") == 224)
      assert(r.getAs[scala.collection.Seq[Float]]("features").length == 8)
      assert(r.getAs[String]("payload_sha").length == 64)
    }
    // deterministic: rerun hashes identical
    val again = Multimodal.extractFeatures(media).collect()
    assert(rows.map(_.getAs[String]("payload_sha")).toSeq ==
      again.map(_.getAs[String]("payload_sha")).toSeq)
  }

  test("dedupCorpus star edges: planted 10k-dup cluster costs O(m) edges, one survivor") {
    // 10,000 exact duplicates + 50 distinct docs. All-pairs banding would
    // enumerate ~50M candidate pairs per band for the hot bucket; the star
    // layout must emit at most bands*(m-1) edges total.
    val m = 10000
    val dupText = "spark inverted index posting list block max wand scoring kernel"
    val dups = spark.range(0, m).select($"id",
      when($"id" >= 0, dupText).otherwise("x").as("text"))
    // every token id-derived: zero shared shingles between distinct docs
    val uniques = spark.range(m, m + 50).select($"id",
      concat_ws(" ", (0 until 6).map(j => concat(lit(s"t${j}_"),
        ($"id" * (7919 + j)).cast("string"))): _*).as("text"))
    val corpus = dups.unionByName(uniques)
    val bands = 8
    val edges = Dedup.minhashStarEdges(corpus, "id", "text", shingleK = 3, bands = bands)
    val edgeCount = edges.count()
    assert(edgeCount <= bands.toLong * (m + 50),
      s"star edges must be linear in cluster size, got $edgeCount")
    assert(edgeCount >= (m - 1).toLong, "the dup cluster must be spanned")
    val deduped = Dedup.dedupCorpus(corpus, "id", "text", 3, bands)
      .select("id").as[Long].collect().toSet
    assert(deduped.contains(0L), "min-id representative survives")
    assert(deduped.intersect((1L until m.toLong).toSet).isEmpty,
      "all other duplicates dropped")
    assert((m.toLong until (m + 50).toLong).forall(deduped.contains),
      "distinct docs survive")
  }

  test("IVF ANN: recall vs brute force, exact at nprobe=k, dim guard, probe pruning") {
    val emb = spark.read.parquet(embPath)
    val query = emb.filter($"vec_id" === 0).select($"embedding")
      .as[Seq[Float]].head().toArray
    val corpus = emb.filter($"vec_id" =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    graft.ops.IvfIndex.build(spark, corpus, "vec_id", "embedding", dir,
      nCentroids = 16, iters = 4, partitions = 4)

    val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding", query, 10)
      .select("id").as[Long].collect().toSet
    val got = graft.ops.IvfIndex.topK(spark, dir, query, 10, nprobe = 4)
      .select("id").as[Long].collect().toSet
    val recall = brute.intersect(got).size / 10.0
    assert(recall >= 0.6, s"IVF recall@10 with nprobe=4/16: $recall")

    // nprobe = k probes every list -> exact
    val all = graft.ops.IvfIndex.topK(spark, dir, query, 10, nprobe = 16)
      .select("id").as[Long].collect().toSet
    assert(all == brute, "nprobe=k must equal brute force")

    // the probe actually prunes: candidate rows < corpus rows
    val probed = spark.read.parquet(s"$dir/lists")
      .filter($"cid".isin(0, 1, 2, 3)).count()
    assert(probed < corpus.count(), "inverted lists must partition the corpus")

    // wrong-dimension query fails loudly
    intercept[IllegalArgumentException] {
      graft.ops.IvfIndex.topK(spark, dir, query.take(8), 5)
    }
  }

  test("IVF k-means map-side partials: centroids bit-identical to sequential reference") {
    // Dyadic-rational components (k/16): every partial sum is EXACT in
    // IEEE754, so no summation order can change a bit — the map-side-combine
    // build (per-partition partials + sorted driver merge) must produce
    // centroids bit-identical to a plain sequential Lloyd's run.
    val dim = 4
    val n = 64L
    def vec(id: Long): Array[Double] =
      Array.tabulate(dim)(j => ((id * 7 + j * 3) % 32).toDouble / 16.0)
    val emb = spark.range(0L, n, 1L, 4) // 4 deterministic partitions
      .map(i => (i, vec(i).map(_.toFloat).toSeq)).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfdet").toString
    graft.ops.IvfIndex.build(spark, emb, "vec_id", "embedding", dir,
      nCentroids = 4, iters = 3, partitions = 2)

    // sequential reference: same init (smallest md5(id)), same Lloyd's
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byId = (0L until n).map(i => i -> vec(i).map(x => x.toFloat.toDouble)).toMap
    var cs: Array[Array[Double]] = (0L until n).sortBy(i => md5hex(i.toString))
      .take(4).map(i => byId(i).clone).toArray
    def nearest(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val t = v(i) - cs(c)(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    (1 to 3).foreach { _ =>
      val sums = Array.fill(4)(new Array[Double](dim))
      val counts = new Array[Long](4)
      (0L until n).foreach { i =>
        val v = byId(i); val c = nearest(v)
        var j = 0; while (j < dim) { sums(c)(j) += v(j); j += 1 }
        counts(c) += 1
      }
      cs = Array.tabulate(4)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cs(c))
    }
    val got = graft.ops.IvfIndex.readCentroids(dir)
    assert(got.length == 4)
    got.zip(cs).zipWithIndex.foreach { case ((g, r), i) =>
      assert(g.toSeq == r.toSeq, s"centroid $i must be bit-identical")
    }
  }

  test("banding plan shape: exactly one split and one md5 (no HOF re-inlining)") {
    // the word array and the digest array must survive as their own
    // projections: an inlined split re-tokenizes O(words²)/doc inside the
    // interpreted shingle lambda (found at the 1M-doc DedupScaleBench run);
    // an inlined md5 pays one digest per band instead of per shingle
    // parquet-backed input: a literal LocalRelation would be constant-folded
    // away by ConvertToLocalRelation and gate nothing
    val df = spark.read.parquet(docsPath)
    val plan = Dedup.bandedProjection(df, "doc_id", "text", 3, 8)
      .queryExecution.optimizedPlan.toString
    def count(needle: String): Int = needle.r.findAllIn(plan).length
    assert(count("split\\(") == 1, s"expected ONE split in plan:\n$plan")
    assert(count("graft_shingle_sigs") == 1,
      s"expected ONE fused shingle-sigs pass in plan:\n$plan")
    assert(count("md5\\(") == 0,
      s"native digest path must not fall back to md5:\n$plan")
    assert(count("graft_hash64") == 0,
      s"fused path must not also hash per-gram strings:\n$plan")
    assert(count("concat_ws") == 0,
      s"fused path must not build shingle strings:\n$plan")
  }

  test("native minhash hashes == builtins form, element for element") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "")),
      (2L, Seq("café 中文", "x"))).toDF("id", "sh")
    val rows = df.select($"id",
        Dedup.minhashHashes($"sh").as("ref"),
        Dedup.minhashHashesNative(spark, $"sh").as("got"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}")
    }
  }

  test("fused shingle hash64s == shingles->graft_hash64 chain, element for element") {
    import org.apache.spark.sql.functions.{call_function, lit, transform => htransform}
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"), // fewer than k words -> empty array on both paths
      (3L, "café 中文 naïve x café 中文 naïve"), // unicode + repeats
      (4L, "x y z")) // exactly k
      .toDF("id", "text")
      .withColumn("w", org.apache.spark.sql.functions.split($"text", " "))
    val rows = df.select($"id",
        htransform(Dedup.shingles($"w", 3),
          s => Dedup.tokenHash64Native(spark, s)).as("ref"),
        call_function("graft_shingle_hash64s", $"w", lit(3)).as("got"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id ${r.getLong(0)}")
    }
    assert(rows.find(_.getLong(0) == 2L).get.getSeq[Long](1).isEmpty)
  }

  test("fused shingle sigs == full builtins banding chain, band for band") {
    import org.apache.spark.sql.functions.{array_distinct, call_function, lit}
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"), // shingle-less -> NULL sigs on both paths
      (3L, "café 中文 naïve x café 中文 naïve x café 中文"), // repeated shingles
      (4L, "x y z"))
      .toDF("id", "text")
      .withColumn("w", org.apache.spark.sql.functions.split($"text", " "))
    val rows = df.select($"id",
        Dedup.minhashBandsFromHashes(
          Dedup.minhashHashesNative(spark,
            array_distinct(Dedup.shingles($"w", 3))), 8).as("ref"),
        call_function("graft_shingle_sigs", $"w", lit(3), lit(8), lit(4)).as("got"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val ref = r.getSeq[org.apache.spark.sql.Row](1)
        .map(b => if (b.isNullAt(1)) null else b.getLong(1))
      if (id == 2L) assert(r.isNullAt(2) && ref.forall(_ == null), s"id $id")
      else assert(ref == r.getSeq[Long](2).map(x => x: Any), s"id $id")
    }
  }

  test("native one-pass minhash sigs == builtins bands, element for element") {
    import org.apache.spark.sql.functions.{call_function, lit}
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq.empty[String]), // shingle-less: both paths must yield null sigs
      (3L, Seq("café 中文", "x y", "x y"))).toDF("id", "sh")
    graft.functions.GraftFunctions.register(spark)
    val rows = df
      .withColumn("hs", Dedup.minhashHashesNative(spark, $"sh"))
      .select($"id",
        Dedup.minhashBandsFromHashes($"hs", 8).as("ref"),
        call_function("graft_minhash_sigs", $"hs", lit(8), lit(4)).as("got"))
      .collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      val ref = r.getSeq[org.apache.spark.sql.Row](1)
        .map(b => (b.getInt(0), if (b.isNullAt(1)) null else b.getLong(1)))
      if (id == 2L) {
        assert(r.isNullAt(2), "empty hash array must yield NULL sigs")
        assert(ref.forall(_._2 == null), "builtins form agrees: null sigs")
      } else {
        val got = r.getSeq[Long](2).zipWithIndex.map { case (s, b) => (b, s) }
        assert(ref.map(b => (b._1, b._2.asInstanceOf[Long])) == got, s"id $id")
      }
    }
  }

  test("minhash bands: identical shingle sets share every band signature") {
    val df = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("c d e", "a b c", "b c d")) // same set, different order
    ).toDF("id", "sh")
    val sigs = df.select($"id", Dedup.minhashBands($"sh", 8).as("bands"))
      .select($"id", explode($"bands").as("b"))
      .select($"id", $"b.band", $"b.sig")
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getInt(1), r.getLong(2))).toSet).toMap
    assert(sigs(1L) == sigs(2L))
  }

  // ---- line-level dedup (LineDedup) ----------------------------------

  /** Deterministic multi-line corpus: shared banner on every doc, shared
    * footer on every third, pseudo-random content lines from a small pool
    * (so some content lines recur across docs), and doc 7 repeats one of
    * its own lines twice.
    */
  private def lineCorpus(n: Int): Seq[(Long, String)] = {
    val pool = Vector("alpha beta gamma", "delta epsilon zeta", "eta theta iota",
      "kappa lambda mu", "nu xi omicron", "pi rho sigma", "tau upsilon phi")
    (0 until n).map { d =>
      val content = (0 until 3 + d % 3).map(i => pool((d * 5 + i * 3) % pool.size))
      val lines = Seq("cookie banner line") ++ content ++
        (if (d == 7) Seq(content.head) else Nil) ++
        (if (d % 3 == 0) Seq("footer all rights") else Nil)
      (d.toLong, lines.mkString("\n"))
    }
  }

  private def bruteLineDedup(corpus: Seq[(Long, String)],
                             keep: Seq[(Long, Int, String)] => ((Long, Int, String)) => Boolean)
      : Map[Long, (Long, Long, String)] = {
    val occ = corpus.flatMap { case (d, t) =>
      t.split("\n", -1).zipWithIndex.map { case (l, p) => (d, p, l) } }
    val keepF = keep(occ)
    occ.groupBy(_._1).map { case (d, os) =>
      val kept = os.sortBy(_._2).filter(keepF)
      d -> (os.size.toLong, kept.size.toLong, kept.map(_._3).mkString("\n"))
    }
  }

  test("LineDedup.keepFirst == brute force; within-doc repeats cut; order kept") {
    val corpus = lineCorpus(30)
    val expected = bruteLineDedup(corpus, { occ =>
      val first = occ.groupBy(_._3).view
        .mapValues(_.minBy(o => (o._1, o._2))).toMap
      o => first(o._3) == o
    })
    val got = graft.ops.LineDedup.keepFirst(
        corpus.toDF("doc_id", "text").repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
    // the banner survives exactly once corpus-wide
    assert(got.values.count(_._3.contains("cookie banner line")) == 1)
    // doc 7's self-repeat was cut (its repeat line is not kept twice in 7)
    val d7 = got(7L)._3.split("\n", -1)
    assert(d7.distinct.length == d7.length)
  }

  test("LineDedup.dropFrequent == brute force; all-boilerplate doc -> empty text") {
    val corpus = lineCorpus(30) :+ (99L, "cookie banner line\nfooter all rights")
    val expected = bruteLineDedup(corpus, { occ =>
      val nd = occ.groupBy(_._3).view.mapValues(_.map(_._1).distinct.size).toMap
      o => nd(o._3) < 3
    })
    val got = graft.ops.LineDedup.dropFrequent(
        corpus.toDF("doc_id", "text").repartition(5), "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
    assert(got(99L)._3 == "" && got(99L)._2 == 0L,
      "a doc of pure boilerplate must come back empty, not disappear")
    assert(got.values.forall(!_._3.contains("cookie banner line")))
  }

  test("LineDedup: empty lines, trailing newlines, and empty docs match brute force") {
    // trailing "\n" must yield a final empty line on BOTH the engine and the
    // brute split("\n", -1) — Spark's split keeps trailing empties at the
    // default limit -1, DuckDB string_split likewise; this pins it
    val corpus = Seq(
      (1L, "a b c\nd e f\n"), // trailing empty line
      (2L, ""), // one empty line
      (3L, "a b c\n\nd e f"), // interior empty line
      (4L, "\n\n"), // three empty lines
      (5L, "d e f\na b c"))
    val expected = bruteLineDedup(corpus, { occ =>
      val first = occ.groupBy(_._3).view
        .mapValues(_.minBy(o => (o._1, o._2))).toMap
      o => first(o._3) == o
    })
    val got = graft.ops.LineDedup.keepFirst(
        corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == expected)
    // the empty line dedups like any other line: exactly one empty-line
    // occurrence survives corpus-wide (it first occurs in doc 1's tail)
    assert(got.map(_._2._2).sum == expected.map(_._2._2).sum)
    assert(got(1L) == (3L, 3L, "a b c\nd e f\n"),
      "doc 1 keeps its trailing empty line (first empty-line occurrence)")
    assert(got(4L) == (3L, 0L, ""), "doc 4 is all-duplicate empty lines")
    // NULL text = empty doc (one empty line), not a vanished row
    val withNull = graft.ops.LineDedup.keepFirst(
        Seq((1L, Some("a b\n")), (2L, Option.empty[String]))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(withNull(2L) == (1L, 0L, ""),
      "null text must come back as an empty doc, not disappear")
  }

  test("LineDedup results are parallelism-independent") {
    val corpus = lineCorpus(40)
    def run(parts: Int) = graft.ops.LineDedup.keepFirst(
        corpus.toDF("doc_id", "text").repartition(parts), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(run(2) == run(16))
  }

  test("Curation.preprocess: scrub-before-dedup cuts PII variants as boilerplate; swapped order cannot") {
    val docs = (0 until 12).map { d =>
      (d.toLong, s"shared banner line here\ncontent alpha beta $d gamma delta\n" +
        s"contact person$d@mail.example.com for details")
    }.toDF("doc_id", "text")
    val out = graft.ops.Curation.preprocess(docs, "doc_id", "text",
        minDocs = 3, minTokens = 1)
      .collect().map(r => r.getLong(0) -> r.getString(r.fieldIndex("clean_text"))).toMap
    assert(out.size == 12)
    // scrub first: 12 distinct emails -> one identical "<EMAIL>" line ->
    // line-frequency cut removes it (and the banner) everywhere
    assert(out.values.forall(t => !t.contains("<EMAIL>") && !t.contains("@")))
    assert(out.values.forall(!_.contains("shared banner")))
    assert(out.values.forall(_.contains("content alpha")), "content lines survive")
    // swapped order: each raw email line is unique (df=1), survives the
    // line dedup, and the scrub then only masks it — the variants stay
    val swapped = graft.ops.LineDedup.dropFrequent(
        docs, "doc_id", "text", minDocs = 3)
      .select(col("doc_id"), graft.ops.TextOps.redactPii(col("clean_text")).as("t"))
      .collect().map(_.getString(1))
    assert(swapped.forall(_.contains("<EMAIL>")),
      "dedup-before-scrub must leave one masked PII line per doc — the ordering matters")
  }

  // ---- Count-Min sketch aggregate (graft_cms) ------------------------

  test("CMS: estimates upper-bound exact counts; exact at wide width; absent key can read 0") {
    val words = spark.read.parquet(docsPath)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
    val exact = words.groupBy($"word").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def estimates(width: Int): Map[String, Long] = {
      val sk = words.agg(graft.functions.Cms.sketch(spark, $"word", 4, width).as("sk"))
      exact.keys.toSeq.toDF("word").crossJoin(broadcast(sk))
        .select($"word",
          graft.functions.Cms.estimate(spark, $"sk", $"word", 4, width).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val narrow = estimates(16) // heavy collisions: min-over-rows is doing the work
    exact.foreach { case (w, c) =>
      assert(narrow(w) >= c, s"CMS estimate must never undercount ($w)") }
    assert(narrow.exists { case (w, e) => e > exact(w) },
      "width 16 over this vocabulary must collide somewhere")
    val wide = estimates(1 << 16)
    exact.foreach { case (w, c) => assert(wide(w) == c, s"wide CMS exact for $w") }
  }

  test("CMS sketch is merge-order independent (bit-identical at any parallelism)") {
    val words = spark.read.parquet(docsPath)
      .select(explode(split(lower(trim($"text")), "\\s+")).as("word"))
    def sketch(parts: Int): Seq[Long] =
      words.repartition(parts)
        .agg(graft.functions.Cms.sketch(spark, $"word", 4, 64).as("sk"))
        .collect().head.getSeq[Long](0)
    val a = sketch(1)
    val b = sketch(13)
    assert(a == b)
    assert(a.sum == 4L * words.count(), "every row increments each of the 4 sketch rows")
  }

  test("CMS skips nulls and resolves from SQL") {
    graft.functions.GraftFunctions.register(spark)
    Seq(Some("a"), None, Some("a"), Some("b")).toDF("w")
      .createOrReplaceTempView("cms_in")
    val sk = spark.sql("SELECT graft_cms(w, 2, 8) AS sk FROM cms_in")
      .collect().head.getSeq[Long](0)
    assert(sk.sum == 6L, "3 non-null values x 2 rows")
  }
}
