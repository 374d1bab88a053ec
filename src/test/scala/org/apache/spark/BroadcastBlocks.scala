package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test view of the broadcast blocks in the local block store. It lives in
  * Spark's package because the block manager's memory store is private to
  * Spark. */
object BroadcastBlocks {

  /** Every broadcast id with a block in the store, each with whether it is
    * a scheduler task binary: the serialized closure each stage ships as a
    * broadcast of bytes, which only the ContextCleaner frees, once the
    * stage is garbage. A broadcast whose value block is gone (a destroy in
    * flight) counts as not a task binary. */
  def live(): Map[Long, Boolean] = {
    val bm = SparkEnv.get.blockManager
    bm.master.getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case b: BroadcastBlockId => b.broadcastId }.distinct
      .map(id => id -> bm.memoryStore.getValues(BroadcastBlockId(id))
        .exists(vs => vs.hasNext && vs.next().isInstanceOf[Array[Byte]]))
      .toMap
  }
}
