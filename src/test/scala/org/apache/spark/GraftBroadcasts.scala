package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The driver block manager's broadcast blocks, which the specs count
  * (the block manager is `private[spark]`). */
object GraftBroadcasts {
  /** Ids of the broadcasts the driver holds blocks of. Ids grow, so the
    * ones above an earlier call's maximum were created since. */
  def ids(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case b: BroadcastBlockId => b.broadcastId }.toSet
}
