package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every listener event posted so far
  * has been delivered, so counts read from a listener are complete. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
