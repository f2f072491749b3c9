package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are milliseconds on one clock
  * ([[Trace.nowMs]]); `parent` is the id of the enclosing span, 0 at top. */
final class Span(val id: Int, val parent: Int, val name: String,
    val family: String, val t0: Double) {
  var t1: Double = t0
  def wallS: Double = (t1 - t0) / 1e3
}

/** Spark work attributed to one span: counts from the jobs and stages
  * whose job group names the span, and the stage intervals used to split
  * the span's wall into stage time and driver time. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var exchanges = 0L
  val stageIntervals: mutable.ArrayBuffer[(Double, Double)] = mutable.ArrayBuffer.empty
}

/** The benchmark-side tracer. Spans live in memory and are written once,
  * at the end of a run. With tracing off every call is a plain call: no
  * listener is registered and no job group is set, so the end-to-end run
  * measures the program alone.
  *
  * Attribution: [[span]] sets the job group of the calling thread to the
  * span id; a [[SparkListener]] maps each job (and its stages) to that
  * group. Streaming micro-batches run on the stream's own thread, so their
  * jobs are keyed by the `streaming.sql.batchId` property instead and
  * attributed to the `wave.batch` span of that batch, a child of the
  * `wave` span that waited for it. The stages `Pipeline.runBatch`
  * reports through its `stageTimer` are children of the call's span; their
  * jobs stay attributed to the call. Self time is a span's wall minus the
  * part its children cover. */
final class Trace(val enabled: Boolean, spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val origin = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = origin + (System.nanoTime() - originNs) / 1e6

  private var nextId = 1
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  // group id (span id, or "batch:<id>" for streaming) -> counts
  private val counts = mutable.HashMap.empty[String, SparkCounts]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private var pendingExchanges = 0L

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty("streaming.sql.batchId"))
        .map(b => s"batch:${p.getProperty("sql.streaming.queryId")}:$b")
        .orElse(Option(p.getProperty("spark.jobGroup.id"))
          .filter(_.startsWith("pb-")).map(_.stripPrefix("pb-")))
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      groupOf(e.properties).foreach { g =>
        counts.getOrElseUpdate(g, new SparkCounts).jobs += 1
        e.stageIds.foreach(s => stageGroup(s) = g)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      stageGroup.remove(info.stageId).foreach { g =>
        val c = counts.getOrElseUpdate(g, new SparkCounts)
        c.stages += 1
        c.tasks += info.numTasks
        for (s <- info.submissionTime; f <- info.completionTime)
          c.stageIntervals += ((s.toDouble, f.toDouble))
        Option(info.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
      pendingExchanges += planHelper.collect(qe.executedPlan) { case x: Exchange => x }.size
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Waits until every Spark event posted so far has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  /** Times `body` as a top-level span whose id is the job group of the
    * calling thread while it runs; returns its result and the span. */
  def timed[T](name: String, family: String)(body: Span => T): (T, Span) = {
    val s = new Span(nextId, 0, name, family, nowMs)
    nextId += 1
    if (enabled) {
      spans += s
      sc.setJobGroup("pb-" + s.id, name)
    }
    val r = try body(s) finally {
      s.t1 = nowMs
      if (enabled) sc.clearJobGroup()
    }
    (r, s)
  }

  /** Times `body` as a span; returns its result and wall seconds. */
  def span[T](name: String, family: String)(body: Span => T): (T, Double) = {
    val (r, s) = timed(name, family)(body)
    (r, s.wallS)
  }

  /** Records a span measured elsewhere: a streaming micro-batch, whose
    * times come from its progress event, or a stage of a call. */
  def record(name: String, family: String, t0: Double, t1: Double, parent: Int = 0): Span = {
    val s = new Span(nextId, parent, name, family, t0)
    nextId += 1
    s.t1 = t1
    if (enabled) spans += s
    s
  }

  /** Records a child of `parent` that ends now and lasted `seconds` (the
    * shape of `Pipeline.runBatch`'s `stageTimer` callbacks). */
  def child(parent: Span, name: String, seconds: Double): Span = {
    val t1 = nowMs
    record(name, parent.family + "." + name, t1 - seconds * 1e3, t1, parent.id)
  }

  /** Moves the exchanges counted since the last call onto `s`. */
  def takeExchanges(s: Span): Unit = if (enabled) synchronized {
    counts.getOrElseUpdate(s.id.toString, new SparkCounts).exchanges += pendingExchanges
    pendingExchanges = 0
  }

  /** Moves a streaming batch's counts onto the span recorded for it. */
  def attachBatch(s: Span, queryId: String, batchId: Long): Unit = synchronized {
    counts.remove(s"batch:$queryId:$batchId").foreach(c => counts(s.id.toString) = c)
  }

  def countsOf(s: Span): SparkCounts = synchronized {
    counts.getOrElse(s.id.toString, new SparkCounts)
  }

  def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Spark counts of a span and all its descendants. */
  def treeCounts(s: Span): SparkCounts = {
    val all = (s +: descendants(s)).map(countsOf)
    val t = new SparkCounts
    all.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.cpuNs += c.cpuNs; t.gcMs += c.gcMs
      t.shuffleBytes += c.shuffleBytes
      t.exchanges += c.exchanges; t.stageIntervals ++= c.stageIntervals
    }
    t
  }

  /** A span's wall minus the part its child spans cover, in seconds. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.t0, k.t1)).toSeq
    (s.t1 - s.t0 - Trace.unionMs(kids, s.t0, s.t1)) / 1e3
  }

  /** Every span with its parent, wall, self time and Spark counts. */
  def toJson: String =
    spans.map { s =>
      val c = countsOf(s)
      Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "family" -> Json.str(s.family),
        "t0_ms" -> Json.num(s.t0), "t1_ms" -> Json.num(s.t1),
        "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfS(s)),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString)
        .map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  /** Length in ms of the union of `intervals`, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}
