package org.apache.spark

/** Test access to `SparkContext.listenerBus`, which is `private[spark]`:
  * a spec that asserts over listener events must first wait until the
  * asynchronous bus has delivered every event posted so far. */
object GraftTestShims {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
