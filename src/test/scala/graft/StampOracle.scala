package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.MergeEngine.sinkColumns
import graft.sources.Sinks.SinkStatus

/** The frame-level sink stamp, kept as a test oracle for the per-row one
  * (`MergeEngine.stamp`, applied inside the index pass): one aggregation
  * of the delivery outcomes per bibcode and one left join onto the master.
  * The pipeline stamped this way before the index pass stamped each chunk
  * as it delivered it. */
object StampOracle {

  /** A sink's status frame as stamp input: the (bibcode, sink, ok,
    * checksum) rows [[stampSinks]] reads, tagged with `sink`. */
  def outcomes(sink: String, status: Dataset[SinkStatus]): DataFrame =
    status.toDF().select(col("bibcode"), lit(sink).as("sink"), col("ok"), col("checksum"))

  /** M4/ST6 — stamp a batch's delivery outcomes onto the master
    * (adsmp/app.py:381-468). `outcomes` has one row per delivered payload,
    * (bibcode, sink, ok, checksum) with `sink` one of `sinkColumns`. A
    * bibcode with outcomes gets `processed` = now and, for each sink it has
    * outcomes for, `<sink>_processed` = now and either
    *   - on any failure: a NULL checksum and status `<sink>-failed`;
    *   - otherwise the delivered checksum (the largest, should a sink
    *     deliver two payloads) and status `success`.
    * `status` ends as the last stamped sink's, in `sinkColumns` order.
    *
    * One aggregation per bibcode and one left join onto the master, with
    * no broadcast hint: a forced sweep's key set is the corpus, so the
    * planner chooses the join from the outcomes' size. */
  def stampSinks(master: DataFrame, outcomes: DataFrame,
      now: java.sql.Timestamp): DataFrame = {
    val sinks = sinkColumns.map(_._1)
    val aggs = sinks.flatMap { s =>
      val mine = col("sink") === s
      Seq(count_if(mine).as(s"__n_$s"),
        count_if(mine && !col("ok")).as(s"__failed_$s"),
        max(when(mine && col("ok"), col("checksum"))).as(s"__checksum_$s"))
    }
    val per = outcomes.groupBy(col("bibcode").as("__stamp_key"))
      .agg(aggs.head, aggs.tail: _*)
    // unmatched master rows carry null counts: coalesce keeps them unhit
    def hit(s: String) = coalesce(col(s"__n_$s") > 0, lit(false))
    def failed(s: String) = coalesce(col(s"__failed_$s") > 0, lit(false))
    val stamps = sinkColumns.flatMap { case (s, (tsCol, cksCol)) =>
      Seq(tsCol -> when(hit(s), lit(now)).otherwise(col(tsCol)),
        cksCol -> when(failed(s), lit(null).cast("string"))
          .when(hit(s), col(s"__checksum_$s")).otherwise(col(cksCol)))
    } ++ Seq(
      "processed" -> when(sinks.map(hit).reduce(_ || _), lit(now))
        .otherwise(col("processed")),
      "status" -> sinks.foldLeft(col("status")) { (earlier, s) =>
        when(failed(s), lit(s"$s-failed")).when(hit(s), lit("success")).otherwise(earlier)
      })
    val byName = stamps.toMap
    master.join(per, col("bibcode") === col("__stamp_key"), "left_outer")
      .select(master.columns.toIndexedSeq.map(c => byName.getOrElse(c, col(c)).as(c)): _*)
  }

  /** M4 for one sink (adsmp/app.py:432-468 `mark_processed`): stamp
    * `processed`, `<type>_processed`, `<type>_checksum` and `status` for
    * the (bibcode, checksum) rows of `done`. The status is one of the two
    * the reference stamps: `success`, or `<type>-failed`, which stamps a
    * null checksum. The one-sink case of [[stampSinks]]. */
  def markProcessed(master: DataFrame, done: DataFrame, sinkType: String,
      status: Option[String], now: java.sql.Timestamp): DataFrame = {
    require(sinkColumns.exists(_._1 == sinkType), s"invalid sink type $sinkType")
    val failure = s"$sinkType-failed"
    require(status.exists(Set("success", failure)),
      s"status must be success or $failure, got $status")
    stampSinks(master,
      done.select(col("bibcode"), lit(sinkType).as("sink"),
        lit(!status.contains(failure)).as("ok"), col("checksum")),
      now)
  }
}
