package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Packing

/** Distributed grouped prefix sum vs the single-partition window it
  * replaces: same numbers, across partition boundaries, groups of every
  * shape (many-partition group, one-row group, group aligned on a
  * boundary). */
class PackingSpec extends AnyFunSuite with SparkSpec {

  test("exclusiveGroupCumsum matches the windowed reference across " +
    "partition boundaries") {
    import spark.implicits._
    // 3 groups × uneven sizes, values chosen so any off-by-one shows;
    // 7 range partitions force every group to straddle boundaries
    val rows = (1 to 200).map(i => (s"g${i % 3}", i.toLong, (i % 13 + 1).toLong))
    val df = rows.toDF("grp", "ord", "v")
    val got = Packing.exclusiveGroupCumsum(df, "grp", "ord", "v", "cum",
        numPartitions = 7)
      .select(col("grp"), col("ord"), col("cum"))
    val w = Window.partitionBy(col("grp")).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df.select(col("grp"), col("ord"),
      coalesce(sum(col("v")).over(w), lit(0L)).as("cum"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0,
      "distributed cumsum must equal the windowed reference")
    Pins.release(Packing.CumsumPins)
  }

  test("packByBudget: first-fit shards, boundary-straddling doc stays in " +
    "its starting shard, per-group restart") {
    import spark.implicits._
    val df = Seq(
      ("en", 1L, 900L), ("en", 2L, 900L), ("en", 3L, 900L), // cum 0,900,1800
      ("en", 4L, 50L),                                      // cum 2700 → shard 1
      ("fr", 10L, 2500L),                                   // cum 0 → shard 0
      ("fr", 11L, 10L)                                      // cum 2500 → shard 1
    ).toDF("lang", "doc_id", "n_tokens")
    val got = Packing.packByBudget(df, "lang", "doc_id", "n_tokens", budget = 2000L)
      .select(col("lang"), col("doc_id"), col("shard_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got(("en", 1L)) == 0 && got(("en", 2L)) == 0)
    assert(got(("en", 3L)) == 0, "doc starting at 1800 < 2000 stays in shard 0")
    assert(got(("en", 4L)) == 1, "cum 2700 opens shard 1")
    assert(got(("fr", 10L)) == 0, "each group restarts at shard 0")
    assert(got(("fr", 11L)) == 1, "oversized doc fills shard 0 alone")
    Pins.release(Packing.CumsumPins)
  }
}
