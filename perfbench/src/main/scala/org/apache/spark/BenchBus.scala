package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so that a traced round's events are all counted before the
  * round's listener is removed. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
