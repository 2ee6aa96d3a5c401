package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark; the tracer needs it to close
  * an operation's counters before the next one starts.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
