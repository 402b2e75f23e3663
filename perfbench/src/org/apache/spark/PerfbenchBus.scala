package org.apache.spark

/** Drains the listener bus so that every event of the work done so far
  * has reached the benchmark's listeners before a span closes. Lives in
  * Spark's package because `listenerBus` is package-private.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
