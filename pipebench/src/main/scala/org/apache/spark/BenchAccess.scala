package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action would miss its last tasks. `waitUntilEmpty` is
  * package-private to Spark, hence this shim in Spark's package.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
