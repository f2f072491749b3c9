package graft.scale

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.scale.Scale.timed

/** Plan and timing of catalog queries, the optimization rounds' plan
  * evidence: per query its construction time (operators with eager
  * steps at construction, such as the packing prefix-sum collect or the
  * components rounds, do their work there), two timed runs and its
  * formatted physical plan, written to `<outDir>/<query>.txt`. Each query
  * runs in its own `Pins.scope`, so its pins are gone before the next.
  *
  * Arguments: `<q1,q2,…> <sfDir> [outDir]` (outDir defaults to the work
  * directory). */
object PlanScenario {

  def run(r: Scale.Run): Seq[Scale.Record] = {
    require(r.args.size >= 2, "usage: plan <q1,q2,…> <sfDir> [outDir]")
    val outDir = r.arg(2, r.dir)
    Files.createDirectories(Paths.get(outDir))
    r.args(0).split(",").toSeq.map(name => graft.Pins.scope(s"plan $name") {
      val (df, constructS) = timed(SparkEntry.queries(name)(r.spark, r.args(1)))
      val plan = s"$outDir/$name.txt"
      Files.writeString(Paths.get(plan),
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      val runs = (1 to 2).map(_ => timed(df.count()))
      Scale.record("query" -> name, "construct_sec" -> constructS,
        "rows" -> runs.head._1, "run_sec" -> runs.map(_._2), "plan" -> plan)
    })
  }
}
