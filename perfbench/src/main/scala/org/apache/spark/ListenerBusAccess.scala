package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark drains it
  * before reading its listeners' counters. `listenerBus` is spark-private,
  * hence this one-line bridge in Spark's package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
