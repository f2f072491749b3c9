package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Shared local SparkSession for specs — one JVM-wide session so the suite
  * doesn't pay session startup per test class. */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Every node of an executed plan, descending into adaptive plans (their
    * current plan: the final one once the query has run) and their query
    * stages. A reused exchange is a leaf, so a shared stage appears once. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => planNodes(s.plan)
    case other => other.children.flatMap(planNodes)
  })

  /** The shuffle exchanges among [[planNodes]]. */
  def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    planNodes(p).collect { case e: ShuffleExchangeExec => e }

  /** `body`'s result and the number of Spark jobs it started, counted by a
    * listener under a job group of its own. */
  def countingJobs[T](group: String)(body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = group + "-marker"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try body finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job's start is
      // seen, every job `body` started has been counted
      sc.setJobGroup(marker, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(marker), "the listener saw the marker job")
      import scala.jdk.CollectionConverters._
      (result, groups.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and what it printed to `System.err`, from any thread
    * (a streaming query's micro-batches run on their own). */
  def capturingStderr[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val result = try body finally System.setErr(saved)
    (result, buf.toString("UTF-8"))
  }

  /** A store root whose only generation pointer is a directory: reads of
    * the store's pointers fail, so its `vacuum` throws on every call,
    * while a batch that never writes to the store is unaffected. */
  def unvacuumableRoot(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_unvacuumable")
    java.nio.file.Files.createDirectories(root.resolve("gen_000000000001"))
    root.toString
  }

  /** The number of times `marker` occurs in `text`. */
  def occurrences(text: String, marker: String): Int =
    text.sliding(marker.length).count(_ == marker)
}
