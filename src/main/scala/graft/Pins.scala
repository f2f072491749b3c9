package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, sum, when}
import org.apache.spark.sql.graftpins.KeptPartitioning
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
  * A local checkpoint keeps the partitioning and ordering its rows were
  * computed with ([[KeptPartitioning]]): a pin of `df.repartition(n, k)`
  * satisfies a later join or aggregation on `k` without an exchange, and
  * the other side of such a join is shuffled to `n` partitions, not to the
  * session width. So an iterative operator sets its own width with one
  * explicit repartition and keeps it across rounds, in its caller's
  * session.
  *
  * Every pin is held here under a label until it is released by handle,
  * by label, by its [[scope]] or all at once. Releasing a cache unpersists
  * it (it can still be recomputed); releasing a checkpoint frees its
  * blocks, after which a frame planned over it cannot be evaluated, so a
  * pin is released only once every frame that reads it has been
  * materialized.
  *
  * A [[scope]] (a batch, a sitemap cadence, a CLI command) owns the pins
  * taken on its thread inside it and releases them when it exits:
  * normally, by an exception or by a `return` out of the block. Scopes
  * nest, and the innermost open one on the thread owns a pin; a pin taken
  * on another thread (a streaming micro-batch) belongs to that thread's
  * scope, or to none. No frame that reads a scoped pin may escape the
  * scope. A pin taken outside every scope (a catalog query's, a memo, the
  * result pin `operators.Components.assign` hands its caller) is held
  * until it is released by handle, by label or by [[releaseAll]].
  *
  * Checkpoints are executor-local blocks by default. With
  * `spark.graft.reliableCheckpoint=true` in the pinning session's conf and
  * a `SparkContext.setCheckpointDir`, each checkpoint is instead a parquet
  * round trip under the checkpoint dir, which survives executor loss;
  * releasing it deletes the directory. (RDD checkpoint files would only be
  * reclaimed by the GC-driven cleaner, off by default.) A parquet pin
  * keeps no partitioning: exchanges over it run at the session width, and
  * results are the same.
  */
object Pins {
  val ReliableCheckpoint = "spark.graft.reliableCheckpoint"

  private final class Scope(val label: String)
  private final class Pin(val label: String, val df: Dataset[_], val owner: Option[Scope],
      val free: () => Unit)
  private val live = scala.collection.mutable.ArrayBuffer.empty[Pin]
  private val scopes = ThreadLocal.withInitial[List[Scope]](() => Nil)
  private def hold[T](label: String, df: Dataset[T])(free: => Unit): Dataset[T] =
    live.synchronized { live += new Pin(label, df, scopes.get.headOption, () => free); df }

  /** `body`, run in a scope named `label` that releases every pin taken on
    * this thread inside it when `body` exits, however it exits. */
  def scope[A](label: String)(body: => A): A = {
    val s = new Scope(label)
    scopes.set(s :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      drop(_.owner.contains(s))
    }
  }

  /** The live pins, each as its label, after its scope's label when a
    * scope owns it. */
  private[graft] def held: Seq[String] = live.synchronized(
    live.map(p => p.owner.fold(p.label)(o => s"${o.label}/${p.label}")).toSeq)

  private[graft] def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableCheckpoint).exists(_.equalsIgnoreCase("true")) &&
      spark.sparkContext.getCheckpointDir.isDefined

  /** `df` cached and held under `label`. A plan that is already cached is
    * already pinned by its owner and is returned as it is: a second
    * `cache()` would only log "Asked to cache already cached data". */
  def cache[T](df: Dataset[T], label: String): Dataset[T] =
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
      val pinned = KeptPartitioning(df, df.localCheckpoint(true))
      // the checkpointed RDD sits under the frame's LogicalRDD; clearing
      // the session's cache cannot reach its blocks
      val rdd = pinned.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }.get
      hold(label, pinned)(rdd.unpersist(blocking = false))
    }
  }

  /** `df` checkpointed under `label`, and the number of its rows whose
    * boolean column `flag` is true: one round of a loop that runs until no
    * row changes. The count is a metric observed under `label` by the
    * checkpoint's own job and read from its executed plan, so no listener
    * is registered. A reliable pin is written by a command of its own, so
    * there the count is a second job over the written rows. */
  def checkpointCounting(df: DataFrame, flag: String, label: String): (DataFrame, Long) = {
    val observed = df.observe(label, sum(when(col(flag), 1L).otherwise(0L)))
    val pin = checkpoint(observed, label)
    val n =
      if (reliable(df.sparkSession)) pin.filter(col(flag)).count()
      else observed.queryExecution.observedMetrics.get(label)
        .flatMap(r => Option(r.get(0))).fold(0L)(_.asInstanceOf[Long]) // no rows: null
    (pin, n)
  }

  /** The live pin labelled `label` in `spark`, else `build` cached under
    * that label: the memo for frames a driver-side loop produces, which
    * Spark's plan cache cannot dedupe across queries. (Two racing callers
    * may both build; both pins are held and released alike.) */
  def memo(spark: SparkSession, label: String)(build: => DataFrame): DataFrame =
    live.synchronized(live.find(p => p.label == label && (p.df.sparkSession eq spark)))
      .fold(cache(build, label))(_.df.toDF())

  def release(pin: Dataset[_]): Unit = drop(_.df eq pin)
  def release(label: String): Unit = drop(_.label == label)
  def releaseAll(): Unit = drop(_ => true)

  private def drop(which: Pin => Boolean): Unit = {
    val gone = live.synchronized { val out = live.filter(which); live --= out; out }
    gone.foreach(_.free())
  }
}
