package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far.
  * The bus is internal to Spark, hence this object's package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
