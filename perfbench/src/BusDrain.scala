package org.apache.spark

/** The listener bus delivers events asynchronously; the tracer reads its
  * totals only after every event of the traced run has been delivered.
  * `listenerBus` is package-private, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
