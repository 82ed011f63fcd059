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

  /** The trigger a running streaming query was started with. */
  def trigger(q: org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.Trigger = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      w.streamingQuery.trigger
  }

  /** Wait until every event posted so far reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
