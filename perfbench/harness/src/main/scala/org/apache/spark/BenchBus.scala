package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so a pass's job and task records are complete before they are read.
  * Lives in Spark's package because the listener bus is private to it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
