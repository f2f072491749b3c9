package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec

import scala.collection.immutable.ListMap

/** One runner for the scale scenarios: the large-corpus runs recorded in
  * `*_BENCH.md` and SCALING.md, kept out of the product code.
  *
  * Usage: `sbt "Test/runMain graft.scale.Scale <scenario> [rows] [args…]"`.
  * `rows` is the scenario's input size (its default is the recorded
  * size); the arguments after it are the knobs that recorded runs set to
  * different values (see each scenario). The runner owns what every
  * scenario shares: a `local[SPARK_GRAFT_CPUS]` session (default: all
  * cores) with as many shuffle partitions as cores, UTC and WARN logging;
  * a cleared work directory `target/scale/<scenario>`; and the result
  * lines, one JSON object per record the scenario returns. */
object Scale {

  /** One result line: its fields in print order. */
  type Record = ListMap[String, Any]
  def record(fields: (String, Any)*): Record = ListMap(fields: _*)

  /** What a scenario runs over: the session, the input size, its own
    * empty work directory and the arguments after the row count. */
  final case class Run(spark: SparkSession, rows: Long, dir: String, args: Seq[String]) {
    def arg(i: Int, default: String): String = args.lift(i).getOrElse(default)
  }

  final case class Scenario(defaultRows: Long, body: Run => Seq[Record])

  val scenarios: ListMap[String, Scenario] = ListMap(
    "bootstrap" -> Scenario(BootstrapScenario.ReferenceRows, BootstrapScenario.run),
    "store" -> Scenario(1000000L, StoreScenario.run),
    "transform" -> Scenario(1000000L, TransformScenario.run),
    "pipeline" -> Scenario(250000L, PipelineScenario.run),
    "ops" -> Scenario(BootstrapScenario.ReferenceRows, OpsScenario.run),
    "dedup" -> Scenario(1000000L, DedupScenario.run),
    "stream" -> Scenario(1000000L, StreamScenario.run),
    "ann" -> Scenario(1000000L, AnnScenario.run),
    "fixture" -> Scenario(0L, FixtureScenario.run),
    "plan" -> Scenario(0L, PlanScenario.run))

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The parquet files under `root`. */
  def parquetFiles(root: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.isDirectory(p)) return Nil
    val w = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.filter(f => java.nio.file.Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toList
    } finally w.close()
  }

  def parquetBytes(root: String): Long = parquetFiles(root).map(java.nio.file.Files.size(_)).sum

  /** The files a frame's scans open. */
  def filesOpened(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.inputFiles)

  /** `r` as one JSON line, with every number rounded to 3 decimals. */
  def render(r: Record): String = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.compact(Extraction.decompose(r)(DefaultFormats).transform {
      case JDouble(d) if !d.isNaN && !d.isInfinite =>
        JDouble(BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    })
  }

  /** Runs `name` in `spark` over a cleared `root/name`, inside a
    * `Pins.scope`, so every product pin the scenario takes on this thread
    * is released when it ends. `args` are the command line after the
    * scenario name: a leading number is the row count. */
  def run(spark: SparkSession, name: String, args: Seq[String],
      root: String = "target/scale"): Seq[Record] = {
    val s = scenarios.getOrElse(name, sys.error(
      s"unknown scenario $name; one of ${scenarios.keys.mkString(", ")}"))
    val rows = args.headOption.flatMap(_.toLongOption)
    val dir = s"$root/$name"
    graft.sources.FsUtil.deleteTree(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    graft.Pins.scope(s"scale $name")(s.body(Run(spark, rows.getOrElse(s.defaultRows), dir,
      if (rows.isDefined) args.tail else args)))
  }

  def main(argv: Array[String]): Unit = {
    require(argv.nonEmpty,
      s"usage: Scale <${scenarios.keys.mkString("|")}> [rows] [args…]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName(s"graft-scale-${argv(0)}")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, argv(0), argv.toSeq.tail).foreach(r => println(render(r)))
    finally spark.stop()
  }
}
