package org.apache.spark

/** The listener bus's drain is package-private to Spark; this is the one
  * call the tracer needs from it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
