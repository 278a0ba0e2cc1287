package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{SearchConfig, Searcher}
import org.apache.spark.sql.SparkSession

/** One-off query-strategy benchmark (results land in BENCH/BASELINE.md):
  * per-strategy p50/p95 latency (driver-local vs forced-distributed
  * broadcast vs docstats-cogroup shuffle), multi-segment latency as delta
  * segments accrete (base + 1/4/16), and batched throughput via searchMany.
  *
  * Usage: runMain graft.QueryBench [nDocs] [cores]   (defaults 200000, 16)
  *
  * The driver-local kernel is the toy-scale path; at the 10^12-doc target
  * only the distributed strategies exist, so their job-floor latency is the
  * number a capacity plan needs (VERDICT r3 "What's missing" #1).
  */
object QueryBench {

  def time[T](body: => T): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, (p * s.length).toInt))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val cores = args.lift(1).map(_.toInt).getOrElse(16)
    val spark: SparkSession = Bench.newSession(cores.toString)
    import spark.implicits._

    val benchRoot = java.nio.file.Paths.get(
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-qbench-tmp"
      else System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(benchRoot)
    def tmpDir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(benchRoot, prefix).toString

    val cfg = IndexConfig(buckets = 64, saltRange = 1L << 16,
      shufflePartitions = cores * 2, bucketDirs = true)

    // ---- base index (untimed build) ----
    val srcTable = tmpDir("qbsrc")
    CodeCorpus.generate(spark, nDocs, nRepos = 100, partitions = cores * 2)
      .write.mode("overwrite").parquet(srcTable)
    val docs = spark.read.parquet(srcTable).as[graft.core.CodeDoc]
    val baseDir = tmpDir("qbbase")
    IndexBuilder.build(spark, docs, baseDir, cfg)

    val qs = Bench.BenchQueries
    def measure(label: String, s: String => Array[graft.core.Hit]): Unit = {
      s(qs.head) // warm: JIT + parquet footers + dictionary resolution
      // 3 passes over the query set -> 21 samples per strategy
      val lats = (1 to 3).flatMap(_ => qs.map(q => time(s(q))))
      println(f"$label%-28s p50 ${pct(lats, 0.50) * 1000}%8.1f ms   " +
        f"p95 ${pct(lats, 0.95) * 1000}%8.1f ms   max ${lats.max * 1000}%8.1f ms")
    }

    println(s"== query strategies, nDocs=$nDocs cores=$cores (21 samples each) ==")
    val local = new Searcher(spark, baseDir)
    measure("driver-local kernel", q => local.search(q, 10))
    val dist = new Searcher(spark, Seq(baseDir), SearchConfig(driverKernelMaxPostings = 0))
    measure("distributed broadcast", q => dist.search(q, 10))
    val shuf = new Searcher(spark, Seq(baseDir), SearchConfig(normsMaxDocs = 0))
    measure("docstats-cogroup shuffle", q => shuf.search(q, 10))

    // ---- q + fq (Solr filter query) on each regime: broadcast predicate
    // (resolved once, rides the kernel) vs forced semi-join (filter set
    // joins docstats per query) ----
    val fqStr = Some("lang:scala OR lang:java")
    measure("driver-local kernel + fq", q => local.search(q, 10, fq = fqStr))
    measure("distributed bcast + fq", q => dist.search(q, 10, fq = fqStr))
    // every fq routes to the docstats semi-join
    val fqSemi = new Searcher(spark, Seq(baseDir), SearchConfig(fqMaxBroadcast = 0))
    measure("fq semi-join regime", q => fqSemi.search(q, 10, fq = fqStr))
    fqSemi.close()

    // ---- batched throughput ----
    val words = qs.flatMap(_.split(" ")).distinct
    val batch = (0 until 64).map(i =>
      s"${words(i % words.size)} ${words((i * 7 + 3) % words.size)}")
    val batcher = new Searcher(spark, baseDir)
    val tBatch = time(batcher.searchMany(batch, 10))
    println(f"searchMany batch=64: ${batch.size / tBatch}%8.1f queries/sec " +
      f"(${tBatch * 1000 / batch.size}%6.2f ms/query amortized)")
    // the scale-regime batch shape: whole batch in ONE Spark job — at the
    // 10^12-doc target this is the only batch path (no driver kernel)
    val batcherD = new Searcher(spark, baseDir)
    batcherD.searchManyDistributed(batch.take(4), 10) // warm
    val tBatchD = (1 to 3).map(_ => time(batcherD.searchManyDistributed(batch, 10))).min
    println(f"searchManyDistributed batch=64: ${batch.size / tBatchD}%8.1f queries/sec " +
      f"(${tBatchD * 1000 / batch.size}%6.2f ms/query amortized, one job)")

    // ---- searcher latency vs delta-segment count ----
    val deltaDirs = (0 until 16).map { d =>
      val ddir = tmpDir(s"qbdelta$d")
      val ddocs = spark.range(nDocs + d * 2000L, nDocs + (d + 1) * 2000L)
        .as[Long].map(i => CodeCorpus.genDoc(i, 100))
      IndexBuilder.build(spark, ddocs, ddir,
        IndexConfig(buckets = 16, saltRange = 1L << 14, shufflePartitions = cores))
      ddir
    }
    Seq(1, 4, 16).foreach { n =>
      val multi = new Searcher(spark, baseDir +: deltaDirs.take(n))
      measure(s"multisearch base+$n deltas", q => multi.search(q, 10))
      multi.close()
    }
    // batched multi-segment: one job per segment for the whole batch
    val multiB = new Searcher(spark, baseDir +: deltaDirs.take(4))
    multiB.searchManyDistributed(batch.take(4), 10) // warm
    val tMultiB = (1 to 3).map(_ => time(multiB.searchManyDistributed(batch, 10))).min
    println(f"multisearch batched base+4 batch=64: ${batch.size / tMultiB}%8.1f queries/sec " +
      f"(${tMultiB * 1000 / batch.size}%6.2f ms/query amortized, one job/segment)")
    multiB.close()
    Seq(local, dist, shuf, batcher, batcherD).foreach(_.close())

    import scala.reflect.io.Directory
    (Seq(srcTable, baseDir) ++ deltaDirs)
      .foreach(d => new Directory(new java.io.File(d)).deleteRecursively())
    spark.stop()
  }
}
