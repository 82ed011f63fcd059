package org.apache.spark.sql.graftbridge

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.{BlockId, RDDBlockId}

/** Spark internals that specs read: the block managers' contents and
  * the listener bus are not public API.
  */
object SparkInternals {
  /** The blocks of RDD `rddId` that a block manager holds now, asked
    * of the block managers themselves.
    */
  def rddBlocks(rddId: Int): Seq[BlockId] =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true)

  /** Wait until every event posted so far reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
