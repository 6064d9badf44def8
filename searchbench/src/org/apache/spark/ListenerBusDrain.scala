package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark reads its
  * listener's totals only after every event posted so far has been handled.
  * `listenerBus` is package-private, hence this helper's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
