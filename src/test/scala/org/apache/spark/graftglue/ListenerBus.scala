package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; tests that
  * count task metrics with a SparkListener drain it before reading.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
