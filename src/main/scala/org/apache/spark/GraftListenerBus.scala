package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; this shim lets
  * [[graft.Meter]] wait for every posted event to reach its listener
  * before it reads the counters, instead of sleeping a fixed time. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
