package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.catalog.Catalog

/** `catalog_iter`: a fixed list of multi-job catalog queries over the
  * seeded tables (`perfbench/tables.py`), run in rounds in list order with
  * `Catalog.unpersistAll` after each query, as `graft.Bench` runs them
  * (`count()` of the query's frame). One op is one round. The list holds
  * two of the iterative operators the roadmap names (connected components
  * and the alias fixpoint): checkpointed and pinned state, driver round
  * trips and codegen churn. It touches neither the store nor the sinks.
  *
  * Three untimed rounds, counted as the timed ones are, run before them,
  * the first of them cold. One more untimed round after the timed ones
  * writes every result for the oracle check (`perfbench/run.py`). */
object CatalogIter {
  val Queries: Seq[String] = Seq("dd_cluster_assign", "j7_alias_fixpoint")
  /** Untimed rounds before the timed ones. */
  val WarmRounds = 3
  /** Nominal wall of one round at HEAD (sets the round count from --seconds). */
  val NominalOpS = 4.0
  val MinOps = 4

  def run(r: Run, tables: String, preSetupS: Double): Unit = {
    val spark = r.spark
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Queries.foreach(q => r.check(s"$q has an oracle", oracle.contains(q) && queries.contains(q)))

    val outDir = s"${r.work}/outputs"

    /** One round: every query counted (or, `write`, its result written for
      * the oracle check), its wall (s) and row count. */
    def round(family: String, write: Boolean = false): Seq[(String, Double, Long)] = Queries.map { q =>
      val (rows, s) = r.trace.span(q, family) { sp =>
        val df = queries(q)(spark, tables)
        val n =
          if (!write) df.count()
          else {
            df.coalesce(1).write.parquet(s"$outDir/$q")
            spark.read.parquet(s"$outDir/$q").count()
          }
        Catalog.unpersistAll(spark)
        if (r.trace.enabled) { r.trace.drain(); r.trace.takeExchanges(sp) }
        n
      }
      (q, s, rows)
    }

    // every later round must return the row counts of the first, cold one
    var expected: Map[String, Long] = Map.empty
    for (i <- 1 to WarmRounds) {
      val res = round("warmup")
      if (i == 1) expected = res.map(x => x._1 -> x._3).toMap
      else res.foreach { case (q, _, rows) =>
        r.check(s"warm-up round $i $q rows", rows == expected(q),
          s"$rows rows, the first round had ${expected(q)}")
      }
      r.log(s"warm-up round $i: " + res.map(x => f"${x._1} ${x._2}%.2f").mkString(", "))
    }
    r.beginTimed(preSetupS)

    // ── timed: a fixed number of rounds ─────────────────────────────────
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val n = Run.opsFor(r.seconds, NominalOpS, MinOps)
    for (i <- 1 to n) {
      val res = r.timedOp(round("catalog"))
      r.log(res.map(x => f"${x._1} ${x._2}%.2f").mkString(", "))
      res.foreach { case (q, s, rows) =>
        walls.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        r.check(s"round $i $q rows", rows == expected(q),
          s"$rows rows, the first round had ${expected(q)}")
      }
      r.heapAfterGcMb()
    }
    r.endTimed()
    r.endToEnd("throughput_per_s") = n * Queries.size / r.ops.map(_.wall).sum
    r.layer("catalog.storage_mem_after_bytes") = r.storageMemBytes()
    Queries.foreach(q => r.layer(s"catalog.$q.s") = Run.median(walls(q).toSeq))
    if (r.trace.enabled) {
      r.familyMetrics("catalog")
      val spans = r.trace.spans.filter(_.family == "catalog").toSeq
      r.layer("catalog.exchanges") =
        spans.map(s => r.trace.countsOf(s).exchanges).sum.toDouble / n
    }

    // untimed: the results for the oracle check
    round("oracle", write = true).foreach { case (q, _, rows) =>
      r.check(s"written $q rows", rows == expected(q),
        s"$rows rows written, the counted rounds had ${expected(q)}")
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Queries.map(q => Json.str(q) + ": " + Json.str(oracle(q))).mkString("{", ",\n", "}"))
  }
}
