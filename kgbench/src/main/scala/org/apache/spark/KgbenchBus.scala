package org.apache.spark

/** The listener bus drain is package-private in Spark; the benchmark
  * drains it once at the end of a traced run so every task-end event has
  * been attributed before the per-layer numbers are read. */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
