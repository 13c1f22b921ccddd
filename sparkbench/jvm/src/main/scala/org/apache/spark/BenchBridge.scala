package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps
  * package-private: block until every posted listener event has been
  * delivered, so a segment's ledger is complete before it is read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
