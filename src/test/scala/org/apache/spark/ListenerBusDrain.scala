package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached its listeners, so a listener's counts are
  * complete when an action returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
