package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1.0-class fixture: scale every sf0.1 table by K with
  * key-consistent replication, so the correctness harness gets a third
  * scale factor without touching the read-only source data.
  *
  * Replica r of a row shifts every key column by r·(maxKey+1) IN THE SAME
  * key domain, so FK joins (orders→customer, lineitem→orders/part/supplier)
  * stay exactly as dense as the source. Dimension tables (region, nation)
  * copy through unchanged — facts per nation grow K×, which is what a
  * bigger corpus does. Content columns vary deterministically per replica:
  *  - documents: every 5th word (offset r mod 5) gains a "~r" suffix, so
  *    replicas are distinct documents with sf0.1-like dedup density (a
  *    3-gram survives with p≈(4/5)³, cross-replica Jaccard ≈ 0.34 — below
  *    every catalog threshold) instead of a 10-deep exact-dup explosion;
  *  - embeddings: a small per-(replica, dim) offset keeps vectors distinct
  *    while preserving the label/cell geometry.
  * Everything is pure column arithmetic on the source rows — re-runs are
  * byte-identical, nothing random, nothing collected.
  *
  * Arguments: `<srcDir> <dstDir> [K]` (K default 10).
  */
object FixtureScenario {

  def run(r: Scale.Run): Seq[Scale.Record] = {
    require(r.args.size >= 2, "usage: fixture <srcDir> <dstDir> [K]")
    val (spark, src, dst) = (r.spark, r.args(0), r.args(1))
    val k = r.arg(2, "10").toInt

    val reps = spark.range(k).toDF("__r")
    def rep(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))
    def shift(key: String, span: Long) = (col(key) + col("__r") * span).as(key)
    def span(table: DataFrame, key: String): Long =
      table.agg(max(col(key))).first().getLong(0) + 1

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // dimensions: straight copies
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet").coalesce(1)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    val customer = spark.read.parquet(s"$src/customer.parquet")
    val supplier = spark.read.parquet(s"$src/supplier.parquet")
    val part = spark.read.parquet(s"$src/part.parquet")
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val (cSpan, sSpan, pSpan, oSpan) = (span(customer, "c_custkey"),
      span(supplier, "s_suppkey"), span(part, "p_partkey"),
      span(orders, "o_orderkey"))

    write(rep(customer).select(shift("c_custkey", cSpan), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer", 4)
    write(rep(supplier).select(shift("s_suppkey", sSpan), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier", 1)
    write(rep(part).select(shift("p_partkey", pSpan), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part", 2)
    write(rep(orders).select(shift("o_orderkey", oSpan), shift("o_custkey", cSpan),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders", 8)
    write(rep(spark.read.parquet(s"$src/lineitem.parquet"))
      .select(shift("l_orderkey", oSpan), shift("l_partkey", pSpan),
        shift("l_suppkey", sSpan), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem", 32)

    val events = spark.read.parquet(s"$src/events.parquet")
    val (eSpan, uSpan) = (span(events, "event_id"), span(events, "user_id"))
    write(rep(events).select(shift("event_id", eSpan), col("ts"),
      shift("user_id", uSpan), col("event_type"), col("value"), col("props")),
      "events", 8)

    val documents = spark.read.parquet(s"$src/documents.parquet")
    val dSpan = span(documents, "doc_id")
    val mutated = when(col("__r") === 0, col("text")).otherwise(
      array_join(zip_with(split(col("text"), " "),
        sequence(lit(0), size(split(col("text"), " ")) - 1),
        (w, i) => when(pmod(i, lit(5)) === pmod(col("__r"), lit(5)),
          concat(w, lit("~"), col("__r").cast("string"))).otherwise(w)), " "))
    write(rep(documents).select(shift("doc_id", dSpan),
      mutated.as("text"), col("lang"), col("source"),
      length(mutated).cast("long").as("n_chars")), "documents", 4)

    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    val vSpan = span(embeddings, "vec_id")
    write(rep(embeddings).select(shift("vec_id", vSpan),
      zip_with(col("embedding"),
        sequence(lit(0), size(col("embedding")) - 1),
        // Replica 0 is the UNTOUCHED source vector (mirrors the documents
        // handling) so the scaled fixture is a superset of the source and
        // cross-SF sim_* comparisons stay anchored.
        (x, i) => when(col("__r") === 0, x).otherwise(
          x + (pmod(col("__r") * 7 + i, lit(11)) - 5).cast("float")
            * lit(0.001f))).as("embedding"),
      col("label")), "embeddings", 2)

    Seq(Scale.record("fixture" -> dst, "k" -> k))
  }
}
