package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every event posted so far has been delivered before it reads its
  * counters, so this one call is made from inside Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
