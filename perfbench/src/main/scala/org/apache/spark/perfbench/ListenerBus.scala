package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this object is the benchmark's one
  * way in. Listener events are delivered asynchronously, so the tracer waits
  * for the bus to empty before it reads what an operation produced.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
