package org.apache.spark

/** The listener bus delivers task-end events asynchronously; the
  * harness drains it before reading the metrics the listener added up.
  * `listenerBus` is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
