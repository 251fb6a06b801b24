package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so
  * a `SparkListener` that counts jobs (`graft.Bench`'s per-query
  * `jobs`, the specs' job pins) sees all of them. The bus is
  * private[spark], hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
