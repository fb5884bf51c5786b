package org.apache.spark

/** The listener bus is private to Spark; specs that count jobs drain it
  * so every event of the action under test has been delivered.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
