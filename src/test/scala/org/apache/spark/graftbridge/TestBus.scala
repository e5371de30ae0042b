package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the listener bus, which Spark keeps package-private:
  * listener events are posted asynchronously, so a count read before
  * the bus drains under-reports. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
