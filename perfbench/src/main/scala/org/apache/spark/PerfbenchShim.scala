package org.apache.spark

/** The one package-private Spark call the benchmark needs: block until every
  * posted listener event has been delivered, so listener counters are
  * complete before they are attributed to spans. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
