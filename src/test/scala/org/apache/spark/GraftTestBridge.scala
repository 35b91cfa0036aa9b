package org.apache.spark

/** The one scheduler hook the specs need that Spark keeps package private:
  * wait until every posted listener event has been delivered, so a
  * listener's counts read after an action include all of its jobs.
  */
object GraftTestBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
