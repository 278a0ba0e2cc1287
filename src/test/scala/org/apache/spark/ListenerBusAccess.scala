package org.apache.spark

/** Test-side access to the context's listener bus, which Spark keeps
  * package-private.
  */
object ListenerBusAccess {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
