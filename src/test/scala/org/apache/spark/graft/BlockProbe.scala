package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Test view of the driver's block manager, which is `private[spark]`; in
  * local mode it is also the executor's block store.
  */
object BlockProbe {

  /** Ids of the RDDs holding at least one block in memory or on disk. */
  def rddsWithBlocks: Set[Int] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD)
      .collect { case RDDBlockId(id, _) => id }.toSet
}
