package org.apache.spark

/** Listeners run on Spark's asynchronous listener bus: a spec that
  * counts events drains the bus before it reads its counts. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
