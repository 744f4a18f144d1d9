package org.apache.spark

/** Listener events are delivered asynchronously; before the benchmark
  * reads its listeners' counters it waits until every event posted so
  * far has been delivered. The bus is package-private, hence this file. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
