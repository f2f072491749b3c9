package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by `perfbench/run.py`:
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                --work DIR --result FILE [--tables DIR --pre-setup-s X]
  * }}}
  *
  * Sized for four cores: one JVM, `local[4]`, four shuffle partitions, one
  * closed-loop client, and otherwise the session settings `Cli.main`
  * applies (FAIR scheduler pools; UTC as build.sbt's run sets it). No
  * codegen, JIT or GC setting is changed: a tuned session would measure
  * another program. Writes the metrics and the correctness tally to FILE
  * as JSON (and, traced, every span to DIR/trace.json). */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val builder = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${opt("work")}/warehouse")
    graft.operators.Scheduling.fairSessionConfigs().foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced, spark)
    val run = new Run(spark, new Gen(opt("seed").toLong), trace, opt("seconds").toDouble,
      opt("work"), jvmStartMs)
    run.log("session started")
    try workload match {
      case "bulk_reindex" => BulkReindex.run(run)
      case "catalog_iter" => CatalogIter.run(run, opt("tables"), opt("pre-setup-s").toDouble)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        run.check("workload completed", ok = false, t.toString)
    }
    run.resourceReadings()
    if (traced) Files.writeString(Paths.get(s"${opt("work")}/trace.json"), trace.toJson)
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("--add-opens")).filterNot(_.contains("ALL-UNNAMED"))
    Files.writeString(Paths.get(opt("result")),
      s"""{"end_to_end":${obj(run.endToEnd)},"per_layer":${obj(run.layer)},""" +
        s""""attempted":${run.attempted},"failed":${run.failed},""" +
        s""""jvm_flags":${Json.str(jvmFlags.mkString(" "))},""" +
        s""""failures":${run.failures.take(20).map(Json.str).mkString("[", ",", "]")}}""")
    spark.stop()
  }
}

object Json {
  /** JSON string literal: quotes, backslashes and control characters escaped. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
