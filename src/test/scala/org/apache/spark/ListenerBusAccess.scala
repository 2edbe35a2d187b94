package org.apache.spark

/** Test bridge to the listener bus, which is `private[spark]`: a spec that
  * counts jobs with a SparkListener drains the bus before reading it. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
