package org.apache.spark

/** Waits until every posted scheduler event reached the listeners; the
  * bus is package-private to Spark.
  */
object SqlbenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
