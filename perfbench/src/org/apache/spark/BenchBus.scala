package org.apache.spark

/** Drains Spark's listener bus so a listener's totals are complete
  * before they are read. The bus is private to the `spark` package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
