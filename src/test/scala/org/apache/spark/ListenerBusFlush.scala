package org.apache.spark

/** Blocks until every listener has seen every event posted so far. The
  * listener bus is asynchronous and its flush is `private[spark]`, so a
  * test that counts jobs through a `SparkListener` flushes through here.
  */
object ListenerBusFlush {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
