package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far (`listenerBus` is `private[spark]`), so a run's
  * listener totals are complete before they are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
