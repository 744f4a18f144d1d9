package org.apache.spark

/** Listener events are delivered asynchronously; a spec that counts
  * them waits until every event posted so far has been delivered. The
  * bus is package-private, hence this file. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
