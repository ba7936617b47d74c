package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Spark-internal reads the specs need, kept in one place. */
object TestHooks {

  /** Bytes the (local-mode) block manager holds for RDD `rddId`'s blocks,
    * in memory and on disk. */
  def rddBlockBytes(rddId: Int): Long = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }.map(b => bm.getStatus(b).map(s => s.memSize + s.diskSize).getOrElse(0L)).sum
  }
}
