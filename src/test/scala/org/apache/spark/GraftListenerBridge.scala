package org.apache.spark

/** Test access to the `private[spark]` listener bus: specs that count
  * listener events must wait until every posted event is delivered. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
