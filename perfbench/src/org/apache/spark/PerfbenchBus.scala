package org.apache.spark

/** The listener bus's drain is private to Spark; the tracer needs it so
  * that counters are complete before a pass is summed. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
