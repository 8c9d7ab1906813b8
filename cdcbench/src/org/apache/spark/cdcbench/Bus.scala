package org.apache.spark.cdcbench

import org.apache.spark.SparkContext

/** Listener events are delivered asynchronously; a traced op reads its
  * jobs only after the bus has delivered everything posted so far. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
