package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block of code starts, by job group. */
object SparkJobs {
  def count(spark: SparkSession, group: String)(body: => Unit): Int =
    countBoth(spark, group)(body)._1

  /** (jobs started under `group`, all jobs started) while `body` runs. */
  def countBoth(spark: SparkSession, group: String)(body: => Unit): (Int, Int) = {
    val inGroup = new AtomicInteger(0)
    val all = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        all.incrementAndGet()
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          inGroup.incrementAndGet()
      }
    }
    val sc = spark.sparkContext
    // earlier jobs' events must not reach the listener
    ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      // every job `body` started has posted its start event; the bus is
      // asynchronous, so wait until the listener has seen them all
      ListenerBusAccess.drain(sc)
      (inGroup.get(), all.get())
    } finally sc.removeSparkListener(listener)
  }
}
