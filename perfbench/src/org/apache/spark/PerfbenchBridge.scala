package org.apache.spark

/** The listener bus drain is Spark-private; tracing needs it so every
  * event a traced call caused is processed before the call's span closes.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
