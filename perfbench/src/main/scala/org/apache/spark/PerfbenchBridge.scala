package org.apache.spark

/** The one non-public Spark call the benchmark makes: wait until the
  * listener bus has delivered every event posted so far, so a traced run's
  * counters are complete before they are read. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
