package org.apache.spark

/** Test-only: blocks until the listener bus has delivered every queued
  * event, so a spec that counts jobs with a `SparkListener` sees all
  * of them. The bus is private[spark], hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
