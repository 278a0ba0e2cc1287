package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run of one workload in one JVM:
  *
  *   --workload engine|battery --seed N --trace 0|1
  *   --work DIR --out FILE [--data DIR]   (battery only)
  *
  * Writes a JSON result to `--out` (metrics, report figures, op counts and
  * correctness mismatches). Every run times the load sentinels at its start
  * and end, so that runs disturbed by neighbours show. With `--trace 1` it
  * also registers the span tracer, times the Spark-free kernels (engine
  * only), and writes the spans to `trace.jsonl` beside `--out`.
  */
object Main {
  def session(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // the generated-code cache holds every class the workloads' plans
      // compile, so repeated work reuses them; at the default of 100, the
      // seeded op order decides which classes get evicted and recompiled
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, work)
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val rec = new Recorder(tracer)
    val ctx = Ctx(spark, opt("seed").toLong, work, cores, rec)

    val layers = mutable.LinkedHashMap.empty[String, Double]
    layers("env.sentinel_ms") = graft.Bench.spinSentinelMs()
    layers("env.sentinel_mt_ms") = graft.Bench.spinSentinelMtMs()
    val top = tracer.map(_.begin("workload", workload))
    val res = workload match {
      case "engine" => Engine.run(ctx)
      case "battery" => Battery.run(ctx, opt("data"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.foreach { t =>
      top.foreach(t.end(_))
      t.drain()
      val window = t.spansOf("phase", "window")
      val ops = window.flatMap(t.opsUnder)
      layers ++= t.sparkLayer(ops, cores)
      val windowMs = window.map(_.ms).sum
      layers("trace.self_ms") = t.selfNs / 1e6
      layers("trace.overhead_pct") = 100.0 * t.selfNs / 1e6 / math.max(1.0, windowMs)
      t.write(new java.io.File(new java.io.File(opt("out")).getParentFile, "trace.jsonl").getPath)
      t.stop()
      if (workload == "engine") layers ++= Micro.run(ctx.seed)
    }
    layers("env.sentinel_end_ms") = graft.Bench.spinSentinelMs()
    layers("env.sentinel_end_mt_ms") = graft.Bench.spinSentinelMtMs()
    layers ++= res.layers
    val sentinels = layers.collect { case (n, v) if n.startsWith("env.") => (n, v, "ms") }

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "mismatches" -> res.mismatches,
      "e2e" -> res.e2e,
      "report" -> (res.report ++ sentinels).map { case (n, v, u) => Map("name" -> n, "value" -> v, "unit" -> u) },
      "layers" -> layers)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.value(out))
    spark.stop()
  }
}
