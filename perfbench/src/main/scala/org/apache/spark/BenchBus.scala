package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The tracer drains the bus at the end of each traced request so every
  * listener event of that request has been delivered before its numbers
  * are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
