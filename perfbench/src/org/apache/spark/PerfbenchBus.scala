package org.apache.spark

/** Waits until every event posted to the listener bus so far has been
  * delivered. The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
