package org.apache.spark

/** Test access to the `private[spark]` listener bus: blocks until every
  * event posted so far has reached the registered listeners, so a count a
  * listener keeps is final when this returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
