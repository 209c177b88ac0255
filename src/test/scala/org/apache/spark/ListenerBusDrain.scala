package org.apache.spark

/** Test access to the `private[spark]` listener bus: block until every
  * posted event has reached the listeners, so a test that counts jobs
  * or captures query executions reads complete numbers. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
