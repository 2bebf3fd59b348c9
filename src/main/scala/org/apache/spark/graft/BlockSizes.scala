package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Stored block bytes of RDDs, read from the block-manager master. A task
  * reports each block it stores to the master before the task ends, so a
  * frame materialized by a finished job is visible here at once — unlike
  * `SparkContext.getRDDStorageInfo`, which reads the listener-fed status
  * store and lags the job by however far the listener bus is behind.
  * Lives under `org.apache.spark` because the master is `private[spark]`. */
object BlockSizes {

  /** Memory + disk bytes per RDD id, for the ids in `rddIds` that hold at
    * least one block. One RPC to the in-driver master, no job. */
  def rddBytes(sc: SparkContext, rddIds: Set[Int]): Map[Int, Long] =
    sc.env.blockManager.master.getStorageStatus.toSeq
      .flatMap(_.rddBlocks.collect {
        case (RDDBlockId(id, _), st) if rddIds(id) => id -> (st.memSize + st.diskSize)
      })
      .groupMapReduce(_._1)(_._2)(_ + _)
}
