package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.{BlockId, BroadcastBlockId}

/** Driver-side views that Spark keeps package-private: the listener-bus
  * drain (so listener counters are complete when read) and the block
  * manager's contents (persisted RDD blocks AND broadcast pieces, which
  * `SparkContext.getRDDStorageInfo` does not cover). In local mode the
  * driver's block manager is the only one. */
object BlockStats {

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Memory + disk bytes of every block the block manager holds. */
  def heldBytes(): Long = heldBytesByKind().values.sum

  /** The same bytes by kind of block: `rdd` (persisted and checkpointed
    * frames), `shuffle` (map outputs), `broadcast` and `other`. */
  def heldBytesByKind(): Map[String, Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds(_ => true).toSeq
      .flatMap(id => bm.getStatus(id).map(s => kind(id) -> (s.memSize + s.diskSize)))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def kind(id: BlockId): String =
    if (id.isRDD) "rdd" else if (id.isShuffle) "shuffle" else if (id.isBroadcast) "broadcast"
    else "other"

  /** Broadcast variables with at least one block still held. */
  def liveBroadcasts(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }.distinct.size
}
