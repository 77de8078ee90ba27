package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that counts
  * events drains it before reading its counts. `listenerBus` is
  * package-private, hence this file's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
