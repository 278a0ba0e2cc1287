package graft

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs (and a stage's tasks) a block of code starts, by
  * job group.
  */
object SparkJobs {
  def count(spark: SparkSession, group: String)(body: => Unit): Int =
    countBoth(spark, group)(body)._1

  /** The task count of the last stage started under `group` while `body`
    * runs: an action's result stage (a skipped stage never starts).
    */
  def lastStageTasks(spark: SparkSession, group: String)(body: => Unit): Int = {
    val last = new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((-1, 0))
    val listener = new SparkListener {
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (Option(ss.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          val info = ss.stageInfo
          last.updateAndGet(l => if (info.stageId > l._1) (info.stageId, info.numTasks) else l)
        }
    }
    listening(spark, group, listener)(body)(last.get()._2)
  }

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
    listening(spark, group, listener)(body)((inGroup.get(), all.get()))
  }

  /** `result` once `listener` has seen every event of `body`, run under
    * job group `group`.
    */
  private def listening[T](spark: SparkSession, group: String, listener: SparkListener)(
      body: => Unit)(result: => T): T = {
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
      result
    } finally sc.removeSparkListener(listener)
  }
}
