package org.apache.spark

/** Drains Spark's listener bus so listener-side counts are complete before
  * they are read. `LiveListenerBus` is package-private; this one-line
  * bridge is the only non-public Spark API the benchmark touches.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
