package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * counters read after an operation include all of that operation's
  * tasks. The bus is internal to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
