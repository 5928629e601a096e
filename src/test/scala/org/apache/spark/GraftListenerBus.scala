package org.apache.spark

/** Test access to the SparkContext's listener bus, which is `private[spark]`:
  * listener events are delivered asynchronously, so a test that counts
  * them drains the bus before it reads its counters.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
