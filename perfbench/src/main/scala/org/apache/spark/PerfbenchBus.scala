package org.apache.spark

/** Lets the benchmark wait until its Spark listener has seen every event
  * of the run (the listener bus is package-private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
