package org.apache.spark

/** The listener bus's drain is package-private; the benchmark's tracer
  * needs it so a pass's last events are counted before it reads them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
