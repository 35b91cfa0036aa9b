package org.apache.spark

/** The one scheduler hook the benchmark needs that Spark keeps package
  * private: wait until every posted listener event has been delivered, so
  * counters read after an op include all of that op's tasks.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
