package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark; this helper lives in
  * Spark's package so the benchmark can wait for every event posted so far
  * to reach its listeners before it reads their counters. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
