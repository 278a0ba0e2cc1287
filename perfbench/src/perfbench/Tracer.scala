package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A span: workload phase → op (one public call) → Spark job. */
final class Span(val id: Long, val parent: Long, val kind: String, val name: String,
                 val startNs: Long) {
  @volatile var endNs: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def ms: Double = (endNs - startNs) / 1e6
}

/** Task metrics summed over one stage attempt, plus each task's run time. */
final class StageAgg {
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var input = 0L
  var spill = 0L
  val durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

final class JobRec(val jobId: Int, val span: Long, val startMs: Long, val stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

/** Spans in memory plus a SparkListener that links each Spark job to the op
  * that launched it through a local property the op sets on its thread.
  * Jobs launched from threads that do not carry the property are linked to
  * the op whose interval contains their start (the benchmark runs one client,
  * so at most one op is open). Everything is written out at the end.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val SpanProp = "perfbench.span"
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new java.util.ArrayDeque[Span]()

  // listener state: written on the listener-bus thread, read after drain()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAggs = mutable.HashMap.empty[(Int, Int), StageAgg]
  @volatile private var openJobs = 0
  @volatile private var lastEventNs = System.nanoTime()
  @volatile private var listenerNs = 0L
  private var spanNs = 0L

  spark.sparkContext.addSparkListener(this)

  def begin(kind: String, name: String, attrs: (String, Any)*): Span = synchronized {
    val t = System.nanoTime()
    val parent = if (open.isEmpty) 0L else open.peek().id
    val s = new Span(nextId.getAndIncrement(), parent, kind, name, System.nanoTime())
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    spans += s
    open.push(s)
    spanNs += System.nanoTime() - t
    s
  }

  def end(s: Span, attrs: (String, Any)*): Unit = synchronized {
    s.endNs = System.nanoTime()
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    open.remove(s)
  }

  /** Runs `body` with the span id as the thread's job property. */
  def within[T](s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  private def timedListener(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    lastEventNs = System.nanoTime()
    listenerNs += lastEventNs - t
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timedListener {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(-1L)
    val ids = e.stageInfos.map(_.stageId)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time, ids)
    ids.foreach(id => stageJob(id) = e.jobId)
    openJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedListener {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    openJobs -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedListener {
    val agg = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
    agg.tasks += 1
    if (e.taskInfo != null) agg.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      agg.cpuNs += m.executorCpuTime
      agg.gcMs += m.jvmGCTime
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      agg.input += m.inputMetrics.bytesRead
      agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Waits until every started job has ended and the bus has gone quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (openJobs > 0 || System.nanoTime() - lastEventNs < 300000000L)) Thread.sleep(20)
  }

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Nanoseconds spent inside the benchmark's own tracing code. */
  def selfNs: Long = listenerNs + spanNs

  private def relMs(ns: Long): Double = (ns - t0Ns) / 1e6
  private def jobStartRel(j: JobRec): Double = (j.startMs - t0Ms).toDouble
  private def jobEndRel(j: JobRec): Double = (math.max(j.endMs, j.startMs) - t0Ms).toDouble

  def spansOf(kind: String, name: String): Seq[Span] = synchronized {
    spans.filter(s => s.kind == kind && s.name == name && s.endNs > 0).toSeq
  }

  def opsUnder(phase: Span): Seq[Span] = synchronized {
    spans.filter(s => s.kind == "op" && s.parent == phase.id && s.endNs > 0).toSeq
  }

  /** Jobs per op span, after linking unlabelled jobs by start time. */
  def jobsByOp(): Map[Long, Seq[JobRec]] = synchronized {
    val ops = spans.filter(s => s.kind == "op" && s.endNs > 0)
    jobs.values.toSeq.flatMap { j =>
      if (j.span > 0) Some(j.span -> j)
      else ops.find(o => relMs(o.startNs) <= jobStartRel(j) + 1 &&
        jobStartRel(j) <= relMs(o.endNs) + 1).map(o => o.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  private def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = {
    val ids = js.flatMap(_.stageIds).toSet
    stageAggs.collect { case ((sid, _), a) if ids(sid) => a }.toSeq
  }

  /** Worst max/median task time over stages with at least `minTasks` tasks. */
  def taskSkew(js: Seq[JobRec], minTasks: Int): Double = {
    val ratios = stagesOf(js).filter(_.durations.size >= minTasks).map { a =>
      val d = a.durations.map(_.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def cpuSeconds(js: Seq[JobRec]): Double = stagesOf(js).map(_.cpuNs).sum / 1e9
  def shuffleMb(js: Seq[JobRec]): Double =
    stagesOf(js).map(a => a.shuffleRead + a.shuffleWrite).sum / 1048576.0
  def inputBytes(js: Seq[JobRec]): Long = stagesOf(js).map(_.input).sum
  def jobMs(j: JobRec): Double = jobEndRel(j) - jobStartRel(j)

  /** The `spark.*` layer over a set of op spans. */
  def sparkLayer(ops: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val byOp = jobsByOp()
    val js = ops.flatMap(o => byOp.getOrElse(o.id, Nil))
    val st = stagesOf(js)
    val covered = ops.map { o =>
      val lo = relMs(o.startNs)
      val hi = relMs(o.endNs)
      val iv = byOp.getOrElse(o.id, Nil)
        .map(j => (math.max(lo, jobStartRel(j)), math.min(hi, jobEndRel(j))))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0.0
      var curLo = Double.NaN
      var curHi = Double.NaN
      iv.foreach { case (a, b) =>
        if (curHi.isNaN || a > curHi) {
          if (!curHi.isNaN) total += curHi - curLo
          curLo = a; curHi = b
        } else curHi = math.max(curHi, b)
      }
      if (!curHi.isNaN) total += curHi - curLo
      total
    }.sum
    val opMs = ops.map(_.ms).sum
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
      "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
      "spark.input_mb" -> st.map(_.input).sum / 1048576.0,
      "spark.spill_mb" -> st.map(_.spill).sum / 1048576.0,
      "spark.task_skew" -> taskSkew(js, cores),
      "spark.job_share" -> (if (opMs > 0) covered / opMs else 0.0))
  }

  /** Writes every span, and each Spark job as a child span of its op. */
  def write(path: String): Unit = synchronized {
    val byOp = jobsByOp()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Json.value(mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_ms" -> relMs(s.startNs), "dur_ms" -> (if (s.endNs > 0) s.ms else -1.0)) ++
          s.attrs))
        byOp.getOrElse(s.id, Nil).foreach { j =>
          val st = stagesOf(Seq(j))
          w.println(Json.value(mutable.LinkedHashMap[String, Any](
            "id" -> s"job-${j.jobId}", "parent" -> s.id, "kind" -> "job",
            "name" -> s"job ${j.jobId}", "start_ms" -> jobStartRel(j),
            "dur_ms" -> jobMs(j), "tasks" -> st.map(_.tasks).sum,
            "cpu_ms" -> st.map(_.cpuNs).sum / 1e6, "gc_ms" -> st.map(_.gcMs).sum,
            "shuffle_bytes" -> st.map(a => a.shuffleRead + a.shuffleWrite).sum,
            "input_bytes" -> st.map(_.input).sum, "spill_bytes" -> st.map(_.spill).sum)))
        }
      }
    } finally w.close()
  }
}
