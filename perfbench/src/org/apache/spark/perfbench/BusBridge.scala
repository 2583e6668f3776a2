package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package
  * private. The tracer drains the bus at every span boundary so that
  * each span's task and block events are all counted before the span
  * is read.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
