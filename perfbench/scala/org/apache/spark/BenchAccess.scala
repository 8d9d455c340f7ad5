package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: block until every posted listener event has been
  * delivered, so per-operation counter deltas are complete when read.
  */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
