package org.apache.spark

/** Blocks until Spark's listener bus has delivered every queued event,
  * so a traced run attributes all of its jobs before it reports. The
  * bus is package-private, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
