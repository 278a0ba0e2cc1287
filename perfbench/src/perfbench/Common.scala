package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (Hyndman-Fan type 7); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** One timed public call of the program. `value` is None when it threw. */
final case class Timed[T](value: Option[T], ms: Double, span: Long)

/** Times the benchmark's calls into the program. Each call is one op: an
  * exception counts it as failed and the run goes on. With a tracer, each op
  * is also a span, and the Spark jobs it launches are linked to it.
  */
final class Recorder(val tracer: Option[Tracer]) {
  var attempted = 0L
  var failed = 0L
  /** Summed duration of every op so far, ms. */
  var opMs = 0.0
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var heapPeak = 0.0

  def op[T](name: String, attrs: (String, Any)*)(body: => T): Timed[T] = {
    attempted += 1
    val span = tracer.map(_.begin("op", name, attrs: _*))
    val t0 = System.nanoTime()
    val r =
      try Some(span.fold(body)(s => tracer.get.within(s)(body)))
      catch {
        case e: Exception =>
          failed += 1
          if (errors.size < 20) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    opMs += ms
    span.foreach(s => tracer.get.end(s, "failed" -> r.isEmpty))
    Timed(r, ms, span.map(_.id).getOrElse(-1L))
  }

  /** A phase of the run (setup, window, check), logged to stderr and, when
    * traced, a span around `body`.
    */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer match {
      case None => body
      case Some(t) =>
        val s = t.begin("phase", name)
        try t.within(s)(body) finally t.end(s)
    } finally Console.err.println(f"[perfbench] $name%-7s ${Stats.secondsSince(t0)}%7.2f s")
  }

  /** Driver heap after a full GC, in MB; the run keeps the peak. Called only
    * between ops, never inside a timed region. The pause between two GCs
    * lets Spark's ContextCleaner drop the blocks of RDDs the first GC found
    * unreachable, so the sample does not depend on cleanup timing.
    */
  def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    heapPeak = math.max(heapPeak, used)
  }

  def heapPeakMb: Double = heapPeak
}

/** What one workload hands back to [[Main]]. `e2e` holds the metrics the
  * driver gates on; `report` the named user-facing figures (value, unit);
  * `layers` the per-layer figures of a traced run.
  */
final case class WorkloadResult(
    e2e: Map[String, Double],
    report: Seq[(String, Double, String)],
    layers: Map[String, Double],
    mismatches: Seq[String])

final case class Ctx(
    spark: SparkSession,
    seed: Long,
    work: java.io.File,
    cores: Int,
    rec: Recorder) {
  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.getParentFile.mkdirs()
    d.getPath
  }
}

object Files {
  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteQuietly(f)
  }

  def sizeBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
