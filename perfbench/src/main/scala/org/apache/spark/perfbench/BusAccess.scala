package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Package-qualified accessor for the one `private[spark]` call the
  * benchmark's tracer needs: listener events are delivered on an async
  * bus, so a pass's stage records are complete only once it is drained. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
