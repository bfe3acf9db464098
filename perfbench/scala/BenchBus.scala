package org.apache.spark

/** The listener bus's drain is package-private; traced runs need it so that
  * every job and stage event is counted before the counters are read.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
