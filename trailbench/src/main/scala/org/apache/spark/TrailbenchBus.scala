package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before reading the per-span counts. `listenerBus` is
  * package-private to Spark, hence this one-line bridge.
  */
object TrailbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
