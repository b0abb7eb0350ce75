package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BlockId

/** Driver-side views that Spark keeps package-private, for specs: the
  * block manager's contents (persisted and checkpointed RDD blocks AND
  * broadcast pieces, which `SparkContext.getRDDStorageInfo` does not cover)
  * and the CacheManager's entry count. In local mode the driver's block
  * manager is the only one. */
object BlockStats {

  def cacheEntries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries

  /** Names of the RDD and broadcast blocks the block manager holds. */
  def rddAndBroadcastBlocks(): Set[String] =
    SparkEnv.get.blockManager.getMatchingBlockIds(id => id.isRDD || id.isBroadcast)
      .map((_: BlockId).name).toSet

  /** Lets the ContextCleaner free what no live object reaches: drains the
    * listener bus (its queued events can hold a query's plan), then runs a
    * full GC and polls until none of `blocks` is held or about 10 s have
    * passed. Returns those of `blocks` still held. */
  def releaseUnreachable(sc: SparkContext, blocks: Set[String]): Set[String] = {
    sc.listenerBus.waitUntilEmpty()
    var left = blocks & rddAndBroadcastBlocks()
    var polls = 0
    while (left.nonEmpty && polls < 40) {
      System.gc()
      Thread.sleep(250)
      left = blocks & rddAndBroadcastBlocks()
      polls += 1
    }
    left
  }
}
