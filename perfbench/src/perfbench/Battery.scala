package perfbench

import graft.{RelationalQueries, SparkEntry, UrsusRecordQueries}

import scala.collection.mutable

/** `battery`: a fixed slice of the relational, docprep, ops and functions
  * queries over seeded tables, one client. Set-up builds every query's
  * DataFrame through the program's query functions and plans it
  * (`queryExecution.executedPlan`), three times; `setup_s` is the median.
  *
  * The window is a fixed number of rounds, each query once per round in a
  * seeded order. Every op builds the query's DataFrame anew, forces its plan
  * (timed apart), then computes the whole output and writes it out, never
  * `count()` (a count lets the optimizer prune the projection it is meant to
  * time). Round 0 is the first execution in the JVM, mostly code generation
  * and JIT: it writes parquet, which the DuckDB oracle check reads, and gives
  * the per-query and plan/exec/codegen figures. Rounds 1.. write to the
  * `noop` sink. The gated time is the sum over the queries of each one's
  * fastest time in those rounds: a neighbour's burst of load has to hit
  * every round of a query to move it.
  */
object Battery {
  /** The slice and the module each query exercises. One run of all 60
    * queries takes about a minute on 4 cores even on the smallest tables, so
    * the slice keeps the queries that reach each module at the least cost.
    * The streaming query (`q_stream_window`) is left out: it checkpoints
    * under `/dev/shm`, outside the benchmark's directory.
    */
  val Slice: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational",
    "q_ursus_record" -> "docprep",
    "q_dedup_clusters" -> "ops",
    "q_cms_wordfreq" -> "functions")
  val SetupRepeats = 3
  val WarmRounds = 2

  private val all = RelationalQueries.queries ++ UrsusRecordQueries.queries

  private def compileMs(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def run(ctx: Ctx, data: String): WorkloadResult = {
    import ctx._
    val rng = new java.util.Random(seed)
    val outDir = dir("battery/out")
    val oracle = Slice.map(_._1).flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap

    val setupS = rec.phase("setup") {
      (0 until SetupRepeats).map { _ =>
        Stats.time(Slice.foreach { case (q, _) => all(q)(spark, data).queryExecution.executedPlan })._2 / 1000
      }
    }
    rec.sampleHeap()

    val planMs = mutable.LinkedHashMap.empty[String, Double]
    val firstMs = mutable.LinkedHashMap.empty[String, Double]
    val warmMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val (c0, compile0) = compileMs()
    var compileS = 0.0
    var warmCompiles0 = 0L
    rec.phase("window") {
      (0 to WarmRounds).foreach { round =>
        Queries.shuffled(rng, Slice.map(_._1)).foreach { q =>
          var plan = 0.0
          val t = rec.op(q, "round" -> round) {
            val df = all(q)(spark, data)
            plan = Stats.time(df.queryExecution.executedPlan)._2
            if (round == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
          if (t.value.isDefined && round == 0) { planMs(q) = plan; firstMs(q) = t.ms }
          else if (t.value.isDefined) warmMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t.ms
        }
        if (round == 0) {
          // the histogram's reservoir holds every sample while it has fewer than 1028
          val (c1, compile1) = compileMs()
          compileS = (if (c1 <= 1028) compile1 - compile0 else (c1 - c0) * (compile1 / c1)) / 1000
          warmCompiles0 = c1
          rec.sampleHeap()
        }
      }
    }
    rec.sampleHeap()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), Json.value(oracle))
    val batteryS = warmMs.values.map(_.min).sum / 1000
    val firstS = firstMs.values.sum / 1000
    val planS = planMs.values.sum / 1000
    val module = Slice.toMap
    val layers = mutable.LinkedHashMap.empty[String, Double]
    firstMs.foreach { case (q, ms) => layers(s"battery.${q}_s") = ms / 1000 }
    warmMs.foreach { case (q, ms) => layers(s"battery.warm.${q}_ms") = ms.min }
    layers ++= Seq(
      "battery.first_round_s" -> firstS,
      "battery.plan_s" -> planS,
      "battery.exec_s" -> (firstS - planS),
      "battery.codegen_compile_s" -> compileS,
      "battery.warm.codegen_compiles" -> (compileMs()._1 - warmCompiles0).toDouble)
    Seq("docprep", "ops", "relational", "functions").foreach { m =>
      layers(s"battery.${m}_s") = firstMs.collect { case (q, ms) if module(q) == m => ms }.sum / 1000
    }
    // one measurement, three gated forms: the warm battery's time, its mean
    // op time, and queries per second
    WorkloadResult(
      e2e = Map(
        "setup_s" -> Stats.median(setupS),
        "op_mean_ms" -> batteryS * 1000 / Slice.size,
        "work_s" -> batteryS,
        "items_per_s" -> Slice.size / batteryS,
        "heap_peak_mb" -> rec.heapPeakMb),
      report = Seq(
        ("setup_s", Stats.median(setupS), "s"),
        ("battery_s", batteryS, "s"),
        ("battery_first_round_s", firstS, "s"),
        ("battery_queries", Slice.size.toDouble, "count"),
        ("warm_rounds", WarmRounds.toDouble, "count")),
      layers = layers.toMap,
      // outputs are checked against their DuckDB oracles by run.py
      mismatches = Nil)
  }
}
