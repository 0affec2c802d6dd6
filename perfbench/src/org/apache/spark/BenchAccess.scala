package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the
  * listener bus has delivered every event posted so far, so counters
  * read after an op include all of its tasks.
  */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
