package org.apache.spark

/** The listener bus's drain is package-private to Spark; traced runs need
 * it so that no task event is still in flight when spans are read. */
object ErbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
