package org.apache.spark

/** Exposes the listener bus drain, which Spark keeps package-private:
  * the traced run must see every job, stage and task event before it
  * reads its listener's totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
