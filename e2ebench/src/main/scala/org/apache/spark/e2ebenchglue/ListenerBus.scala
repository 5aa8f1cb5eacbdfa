package org.apache.spark.e2ebenchglue

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the trace
  * needs it so that counts read after a pass include all of its tasks.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
