package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * drains it before rolling task metrics up, so no task that ran
  * inside the run is missing from the per-layer numbers.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
