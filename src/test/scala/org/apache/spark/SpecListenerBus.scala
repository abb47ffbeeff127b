package org.apache.spark

/** The listener bus drain is Spark-private; a spec that asserts on
  * listener counts needs every event its checked call caused to be
  * delivered first.
  */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
