package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Bridge to the driver's listener bus (which is `private[spark]`):
  * [[graft.StageMeter]] drains it so its counters are complete when read.
  * Lives in an `org.apache.spark` subpackage solely to satisfy that access
  * qualifier; contains no logic.
  */
object ListenerBusBridge {
  /** Blocks until every posted event has been delivered; throws
    * `TimeoutException` when the bus does not empty within Spark's bound. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
