package org.apache.spark

/** Lets the benchmark wait until Spark has delivered every listener event
  * posted so far, so counts read after an operation are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
