package org.apache.spark

/** How many listeners the context's listener bus holds, for a spec that
  * bounds how many a code path adds. `listenerBus` is package-private, hence
  * this file's package. */
object TestListenerCount {
  def apply(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
