package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of code starts, by job group. */
object SparkJobs {
  def count(spark: SparkSession, group: String)(body: => Unit): Int = {
    val counter = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          counter.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // listener bus is async; poll until the count is stable
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        val now = counter.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      last
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
