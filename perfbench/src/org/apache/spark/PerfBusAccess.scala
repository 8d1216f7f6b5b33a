package org.apache.spark

/** The listener bus delivers events on its own thread; a traced span is
  * only complete once every event it caused has been handled. The drain
  * call is package-private to Spark, hence this one-line bridge. */
object PerfBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
