package org.apache.spark

/** Bridge to the private[spark] listener bus: block until every event
  * posted so far has reached the listeners, so a listener's tally of
  * an action's jobs is complete once that action has returned. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
