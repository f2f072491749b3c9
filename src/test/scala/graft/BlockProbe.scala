package org.apache.spark.graftprobe

import org.apache.spark.SparkEnv

/** Test-side view of the driver's block manager: the RDD blocks it holds
  * and their bytes (memory + disk), as the block-manager master reports
  * them. Lives under `org.apache.spark` because the master is internal. */
object BlockProbe {
  def rddBlocks(): Map[String, Long] = {
    val master = SparkEnv.get.blockManager.master
    master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).map { id =>
      id.name -> master.getBlockStatus(id).values.map(s => s.memSize + s.diskSize).sum
    }.toMap
  }
}
