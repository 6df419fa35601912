package org.apache.spark

/** Lets the benchmark wait for Spark's asynchronous listener bus to deliver
  * every queued event (the bus is private to the `spark` package). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
