package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the seeded generator, the
  * tracer, the timed ops, the measured metrics and the correctness tally.
  *
  * A workload runs a fixed sequence: set-up (inputs, warm-up of every op
  * shape), then [[Run.opsFor]] timed ops, each wrapped in [[timedOp]]. The
  * sequence does not depend on the program's speed, so store layers and
  * compactions fall at the same positions in every run. */
final class Run(val spark: SparkSession, val gen: Gen, val trace: Trace,
    val seconds: Double, val work: String, jvmStartMs: Double) {
  val endToEnd: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** A progress line on stderr (the harness log), stamped with seconds
    * since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f s] $msg")

  /** One correctness gate: counted as attempted, and as failed when `ok`
    * is false. Gates run outside the timed walls. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"$name: $detail" }
  }

  // ── JVM readings ────────────────────────────────────────────────────

  private val mx = java.lang.management.ManagementFactory.getPlatformMXBeans(
    classOf[com.sun.management.OperatingSystemMXBean]).get(0)

  /** CPU seconds this JVM has used, on all its threads. */
  def processCpuS(): Double = mx.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent compiling, summed over their
    * threads. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark has generated and compiled so far; a plan whose code is
    * in Spark's codegen cache adds none. */
  def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** Block-manager storage memory in use (cached and checkpointed blocks). */
  def storageMemBytes(): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => (max - free).toDouble }.sum

  private var heapPeakMb = 0.0

  /** Driver heap in use after a full collection, in MB, taken at an idle
    * point between ops; the largest is the run's `heap_peak_mb`. */
  def heapAfterGcMb(): Double = {
    // the pauses let the context cleaner drop blocks whose references the
    // first collection cleared, so the reading does not depend on its timing
    System.gc(); Thread.sleep(100); System.gc(); Thread.sleep(100); System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    heapPeakMb = math.max(heapPeakMb, mb)
    mb
  }

  // ── the timed region ────────────────────────────────────────────────

  /** One timed op: its wall and what the JVM spent over it. */
  final case class OpReading(wall: Double, cpu: Double, jit: Double, codegen: Double)
  val ops: mutable.ArrayBuffer[OpReading] = mutable.ArrayBuffer.empty
  private var steal0: Option[(Long, Long)] = None

  /** Ends set-up: `setup_s` is JVM start to here, plus `preSetupS` spent
    * before the JVM started (input generation). */
  def beginTimed(preSetupS: Double = 0.0): Unit = {
    endToEnd("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3 + preSetupS
    log(f"set-up done: ${endToEnd("setup_s")}%.2f s")
    heapAfterGcMb()
    steal0 = Run.cpuTicks()
  }

  /** Times `body` as one op of the run. */
  def timedOp[T](body: => T): T = {
    val (cpu0, jit0, cg0) = (processCpuS(), jitS(), codegenCompiles())
    val t0 = System.nanoTime()
    val r = body
    val wall = Run.secs(t0)
    ops += OpReading(wall, processCpuS() - cpu0, jitS() - jit0, codegenCompiles() - cg0)
    val o = ops.last
    log(f"op ${ops.size}: $wall%.3f s (cpu ${o.cpu}%.1f s, jit ${o.jit}%.1f s, " +
      f"${o.codegen}%.0f classes generated)")
    r
  }

  /** Ends the timed region: `op_p50_s`, `heap_peak_mb` and the per-op JVM
    * and steadiness readings. `throughput_per_s` is the workload's own. */
  def endTimed(): Unit = {
    val walls = ops.map(_.wall).toSeq
    endToEnd("op_p50_s") = Run.median(walls)
    endToEnd("heap_peak_mb") = heapPeakMb
    layer("jvm.cpu_s") = Run.median(ops.map(_.cpu).toSeq)
    layer("jvm.jit_s") = Run.median(ops.map(_.jit).toSeq)
    layer("jvm.codegen_compiles") = Run.median(ops.map(_.codegen).toSeq)
    layer("ops.position_drift") = Run.drift(walls)
    layer("host.steal_frac") = (for ((s0, t0) <- steal0; (s1, t1) <- Run.cpuTicks() if t1 > t0)
      yield (s1 - s0).toDouble / (t1 - t0)).getOrElse(0.0)
  }

  /** Spark per-family readings: mean per call over the family's spans. */
  def familyMetrics(family: String): Unit = {
    trace.drain()
    val spans = trace.spans.filter(_.family == family).toSeq
    val n = math.max(spans.size, 1).toDouble
    var jobs, stages, tasks, cpu, driver, shuffle, gc = 0.0
    spans.foreach { s =>
      val c = trace.treeCounts(s)
      jobs += c.jobs; stages += c.stages; tasks += c.tasks
      cpu += c.cpuNs / 1e9; shuffle += c.shuffleBytes; gc += c.gcMs / 1e3
      driver += (s.t1 - s.t0 - Trace.unionMs(c.stageIntervals.toSeq, s.t0, s.t1)) / 1e3
    }
    layer(s"$family.jobs") = jobs / n
    layer(s"$family.stages") = stages / n
    layer(s"$family.tasks") = tasks / n
    layer(s"$family.executor_cpu_s") = cpu / n
    layer(s"$family.driver_s") = driver / n
    layer(s"$family.shuffle_bytes") = shuffle / n
    layer(s"$family.gc_s") = gc / n
  }

  /** The resource readings every run ends with. */
  def resourceReadings(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    layer("jvm.storage_mem_after_bytes") = storageMemBytes()
    layer("jvm.listeners") =
      org.apache.spark.PerfbenchAccess.listenerCount(spark.sparkContext).toDouble
    layer("jvm.heap_after_gc_mb") = heapAfterGcMb()
  }
}

object Run {
  /** Timed ops of a run: `seconds` over the op's nominal wall at HEAD on a
    * 4-core host, at least `min`. It depends on the arguments only, never
    * on how fast the program runs. */
  def opsFor(seconds: Double, nominalS: Double, min: Int): Int =
    math.max(min, math.round(seconds / nominalS).toInt)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Median of the last third of `walls` over the median of the first
    * third: above 1 means later ops ran slower than early ones. */
  def drift(walls: Seq[Double]): Double = {
    val k = math.max(1, walls.size / 3)
    if (walls.size < 2) 1.0 else median(walls.takeRight(k)) / median(walls.take(k))
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (steal, total) jiffies of all CPUs from /proc/stat; None where the
    * file is not there. */
  def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val line = try f.getLines().next() finally f.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guest_nice]:
      // guest time is already counted in user and nice
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    }.toOption

  /** Every regular file under `root` with its size. */
  def treeFiles(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally st.close()
    }
  }
}
