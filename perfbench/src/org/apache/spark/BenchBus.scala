package org.apache.spark

/** Drains Spark's listener bus, so counters a listener accumulates are
  * complete before they are read. `SparkContext.listenerBus` is
  * package-private to Spark; this one-line bridge is the benchmark's only
  * use of a non-public Spark member. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
