package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark
  * needs it to read an operation's counters only after every event of
  * that operation has been delivered. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
