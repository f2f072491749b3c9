package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named, oracle-checkable query per operator in SURVEY.md §2.
  *
  * Contract (driver-side): `queries(name)(spark, sfDir)` must return a
  * DataFrame whose sorted-by-name columns hash-match the DuckDB result of
  * `oracle(name)` run over the same parquet tables. Operators that DuckDB
  * SQL cannot express (streaming, custom state) appear in `queries` only —
  * the driver then records a weaker rows>0 check.
  *
  * Both sides alias every computed column to the same name, pin value types
  * (BIGINT vs HUGEINT sums, INT vs BIGINT lengths), sort array payloads, and
  * end with a total-order ORDER BY so the comparison is bit-deterministic.
  */
trait Catalog {
  type QFn = (SparkSession, String) => DataFrame
  def queries: Map[String, QFn]
  def oracle: Map[String, String]
}

object Catalog {
  /** Release every pin ([[graft.Pins.releaseAll]]: the queries' caches,
    * which each take under its query's or helper's name, their
    * checkpoints and memoized components) and whatever else the session
    * has cached (`spark.catalog.clearCache`). Unlike a cache, a released
    * checkpoint cannot be recomputed: a frame planned over one fails when
    * evaluated, so call this only between queries, never while a result
    * frame is still to be read. Bench and Verify call it after each query
    * so timings and memory stay independent; a long-lived service calls it
    * between requests or corpus swaps. */
  def unpersistAll(spark: SparkSession): Unit = {
    graft.Pins.releaseAll()
    spark.catalog.clearCache()
  }
}
