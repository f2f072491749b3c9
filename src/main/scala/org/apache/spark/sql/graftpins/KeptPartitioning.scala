package org.apache.spark.sql.graftpins

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** A local checkpoint that keeps the partitioning and ordering its rows
  * were computed with. Under adaptive execution `localCheckpoint` reads
  * them from an `AdaptiveSparkPlanExec`, which reports none, so every
  * later exchange over the pin runs at the session width; the final
  * adaptive plan reports the real ones. (A coalesced read reports a
  * partitioning no other side can be shuffled to match.) In Spark's
  * package because `Dataset.ofRows` is private to it. */
object KeptPartitioning {

  /** `pinned`, a local checkpoint of `source` taken through `source`'s own
    * query execution, over the same blocks and statistics, with the
    * partitioning and ordering of the final plan that computed them; the
    * frame as it is when that plan is not adaptive or not final. */
  def apply(source: DataFrame, pinned: DataFrame): DataFrame =
    (source.queryExecution.executedPlan, pinned.queryExecution.logical) match {
      case (a: AdaptiveSparkPlanExec, r: LogicalRDD) if a.isFinalPlan =>
        val done = a.executedPlan
        val session = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          r.copy(outputPartitioning = firstLeaf(done.outputPartitioning),
            outputOrdering = done.outputOrdering)(
            session, Some(r.computeStats()), Some(r.constraints)))
      case _ => pinned
    }

  /** As `LogicalRDD.fromDataset`: deep joins' collections grow exponentially. */
  @scala.annotation.tailrec
  private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }
}
