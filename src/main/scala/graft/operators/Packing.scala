package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Shard packing for training-data pipelines: assign documents to
  * fixed-token-budget shards by a running token count — the batch analog
  * of sequence packing. The core is a distributed EXCLUSIVE prefix sum
  * within groups, the generalization of [[Sitemap.withGlobalOrdinal]]'s
  * two-phase count (there the summed value is the constant 1).
  *
  * Scale design: a naive `sum().over(Window.partitionBy(group).orderBy(...))`
  * funnels each whole group through ONE task — with a handful of languages
  * as groups that is a 4-partition plan at 100 TB. Here instead:
  * range-partition on (group, order) so each partition holds a contiguous
  * slice of one-or-few groups, aggregate one subtotal per (partition,
  * group) — at most #partitions + #groups rows, collected to the driver —
  * compute per-group exclusive offsets from the subtotals, broadcast them
  * back, and finish with a window partitioned by (partition, group):
  * partition-LOCAL, so no task ever sees more than one partition's rows.
  * The partitioning is pinned by a cache between the subtotal job and the
  * window job (range partitioning samples, so an uncached recompute could
  * move rows between partitions); callers release it (label
  * [[CumsumPins]] in [[graft.Pins]]) once the result is materialized
  * downstream.
  */
object Packing {

  val CumsumPins = "packing.cumsum"

  /** `out` = sum of `valueCol` over all rows of the same `groupCol` that
    * sort strictly before this row by `orderCol` (exclusive running sum;
    * first row of each group gets 0). `orderCol` must be unique per group
    * for a deterministic result. */
  def exclusiveGroupCumsum(df: DataFrame, groupCol: String, orderCol: String,
      valueCol: String, out: String, numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val parts = graft.Pins.cache(df.repartitionByRange(n, col(groupCol), col(orderCol))
      .withColumn("__pid", spark_partition_id()), CumsumPins)
    // one subtotal per (partition, group): groups are contiguous under
    // range partitioning, so this is ≤ numPartitions + #groups rows
    val subs = parts.groupBy(col("__pid"), col(groupCol))
      .agg(sum(col(valueCol)).as("__sub"))
      .collect()
      .map(r => (r.getAs[Int]("__pid"), r.get(1), r.getAs[Long]("__sub")))
    val offsets = subs.groupBy(_._2).toSeq.flatMap { case (g, rows) =>
      val sorted = rows.sortBy(_._1)
      sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._3).init).map {
        case (pid, off) => (pid, g, off)
      }
    }
    val offDf = broadcast(spark.createDataFrame(
      offsets.map { case (pid, g, off) =>
        org.apache.spark.sql.Row(pid, g, off) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__opid",
          org.apache.spark.sql.types.IntegerType),
        df.schema(groupCol).copy(name = "__grp"),
        org.apache.spark.sql.types.StructField("__offset",
          org.apache.spark.sql.types.LongType)))))
    // partition-local running sum; rowsBetween excludes the current row
    val w = Window.partitionBy(col("__pid"), col(groupCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts
      .withColumn("__local", coalesce(sum(col(valueCol)).over(w), lit(0L)))
      .join(offDf, col("__pid") === col("__opid") &&
        col(groupCol) === col("__grp"))
      .withColumn(out, col("__offset") + col("__local"))
      .drop("__pid", "__opid", "__grp", "__local", "__offset")
  }

  /** Budgeted shard assignment: within each group (ordered by `orderCol`),
    * a document lands in shard ⌊(running tokens before it) / budget⌋ —
    * first-fit in order, a document straddling a boundary stays in the
    * shard where it starts. Adds `cum_before` and `shard_id`. */
  def packByBudget(df: DataFrame, groupCol: String, orderCol: String,
      tokenCol: String, budget: Long): DataFrame =
    exclusiveGroupCumsum(df, groupCol, orderCol, tokenCol, "cum_before")
      .withColumn("shard_id", floor(col("cum_before") / budget).cast("long"))
}
