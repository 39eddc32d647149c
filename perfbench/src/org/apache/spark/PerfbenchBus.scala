package org.apache.spark

/** The one non-public call the benchmark makes: waiting for the listener
  * bus to deliver every posted event, so a traced run's attribution sees
  * all of its jobs and stages. Recording itself uses only public
  * listener APIs. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
