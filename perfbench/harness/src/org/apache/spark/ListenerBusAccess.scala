package org.apache.spark

/** The listener bus delivers events on its own thread; the tracer reads its
  * counters only after every event posted so far has been handled.
  * `waitUntilEmpty` is `private[spark]`, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
