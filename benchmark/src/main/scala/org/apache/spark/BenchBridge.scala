package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * posted listener event has been delivered, so per-op aggregates read
  * from a [[org.apache.spark.scheduler.SparkListener]] are complete.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
