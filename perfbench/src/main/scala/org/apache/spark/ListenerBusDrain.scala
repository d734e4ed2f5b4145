package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced op's job, stage and query-execution callbacks are attributed
  * before the next op starts. The bus is private to the spark package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
