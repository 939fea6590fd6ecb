package org.apache.spark

/** Test access to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached every listener, so a spec can count
  * the jobs a call submitted.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
