package org.apache.spark

/** Test access to the context's listener bus, which is
  * `private[spark]`: a spec that counts events with a `SparkListener`
  * drains the bus first, so every event posted so far has arrived. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
