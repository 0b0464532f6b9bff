package org.apache.spark

/** The listener bus delivers events asynchronously; a recorder must wait
  * for it to drain before its counts are complete. `listenerBus` is
  * package-private, hence this accessor in Spark's own package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
