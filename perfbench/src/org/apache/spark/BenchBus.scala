package org.apache.spark

/** The listener bus is private to Spark; the traced benchmark drains it
  * between ops so every job, stage, task and query-execution event of
  * one op is attributed to that op before the next one starts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
