package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`. */
object ListenerBusAccess {

  /** Returns once every event posted so far has reached its listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
