package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of pinned frames. Iterative operators (the alias
  * fixpoint, connected components, the sitemap global ordinal, packing
  * prefix sums) and the catalog queries built on them pin intermediate
  * frames in two ways:
  *
  *  - [[cache]] pins partitions: a range-partitioned frame whose count job
  *    and rank job must see the same partition boundaries (the sampler
  *    could move them on a recompute), or a memoized result ([[memo]]);
  *  - [[checkpoint]] pins lineage: an eager checkpoint, so later plans
  *    read materialized rows instead of re-planning (or, in a loop,
  *    geometrically growing) the subtree under them.
  *
  * Every pin is held here under a label until it is released by handle,
  * by label or all at once. Releasing a cache unpersists it (it can still
  * be recomputed); releasing a checkpoint frees its blocks, after which a
  * frame planned over it cannot be evaluated, so a pin is released only
  * once every frame that reads it has been materialized.
  *
  * Checkpoints are executor-local blocks by default. With
  * `spark.graft.reliableCheckpoint=true` in the pinning session's conf and
  * a `SparkContext.setCheckpointDir`, each checkpoint is instead a parquet
  * round trip under the checkpoint dir, which survives executor loss;
  * releasing it deletes the directory. (RDD checkpoint files would only be
  * reclaimed by the GC-driven cleaner, off by default.)
  */
object Pins {
  val ReliableCheckpoint = "spark.graft.reliableCheckpoint"

  private final class Pin(val label: String, val df: DataFrame, val free: () => Unit)
  private val live = scala.collection.mutable.ArrayBuffer.empty[Pin]
  private def hold(label: String, df: DataFrame)(free: => Unit): DataFrame =
    live.synchronized { live += new Pin(label, df, () => free); df }

  private[graft] def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableCheckpoint).exists(_.equalsIgnoreCase("true")) &&
      spark.sparkContext.getCheckpointDir.isDefined

  /** `df` cached and held under `label`. A plan that is already cached is
    * already pinned by its owner and is returned as it is: a second
    * `cache()` would only log "Asked to cache already cached data". */
  def cache(df: DataFrame, label: String): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else hold(label, df.cache())(df.unpersist())

  /** `df` eagerly checkpointed and held under `label`. */
  def checkpoint(df: DataFrame, label: String): DataFrame = {
    val spark = df.sparkSession
    if (reliable(spark)) {
      val dir = new Path(spark.sparkContext.getCheckpointDir.get,
        s"graft-pin-${java.util.UUID.randomUUID()}")
      df.write.parquet(dir.toString)
      hold(label, spark.read.parquet(dir.toString))(
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true))
    } else {
      val pinned = df.localCheckpoint(true)
      // the checkpointed RDD sits under the frame's LogicalRDD; clearing
      // the session's cache cannot reach its blocks
      val rdd = pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
      hold(label, pinned)(rdd.unpersist(blocking = false))
    }
  }

  /** The live pin labelled `label` in `spark`, else `build` cached under
    * that label: the memo for frames a driver-side loop produces, which
    * Spark's plan cache cannot dedupe across queries. (Two racing callers
    * may both build; both pins are held and released alike.) */
  def memo(spark: SparkSession, label: String)(build: => DataFrame): DataFrame =
    live.synchronized(live.find(p => p.label == label && (p.df.sparkSession eq spark)))
      .fold(cache(build, label))(_.df)

  def release(pin: DataFrame): Unit = drop(_.df eq pin)
  def release(label: String): Unit = drop(_.label == label)
  def releaseAll(): Unit = drop(_ => true)

  private def drop(which: Pin => Boolean): Unit = {
    val gone = live.synchronized { val out = live.filter(which); live --= out; out }
    gone.foreach(_.free())
  }
}
