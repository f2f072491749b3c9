package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Pins, Tables}

/** Relational operator catalog: the predicate / join / aggregate / set-op /
  * sort / window inventory of SURVEY.md §2.2–§2.7, §2.9, each demonstrated on
  * the driver's TPC-H-ish tables with an exact DuckDB oracle.
  *
  * Scale notes (these run at 100 TB, not just sf0.1):
  *  - Money aggregates are summed as DECIMAL(18,2) and only then cast to
  *    double: decimal addition is associative+commutative, so partial
  *    (map-side) aggregation over any partitioning gives bit-identical
  *    results — double sums would drift per shuffle layout.
  *  - Small sides of joins (nation, literal key lists, flagged-file sets)
  *    are broadcast; large joins are plain shuffled hash/sort-merge equi-
  *    joins on the natural key so AQE can pick and skew-split.
  *  - Global-ordering windows appear only where the reference semantics
  *    require one (W1 file bucketing); the library version in
  *    graft.operators.SitemapBucketing shows the two-phase scalable form.
  */
object RelationalCatalog extends Catalog {

  /** Exact, partitioning-invariant sum of a money column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")
  private def dsumSql(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(18,2))) AS DOUBLE)"

  def queries: Map[String, QFn] = Map(

    // ── A1/flagship: grouped aggregation with decimal-exact partial aggs ──
    "q1_agg" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ── S2: pruned scan — filter + projection pushed to the parquet reader ──
    "s2_scan_prune" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── P1: incremental-change filter (updated >= since, skip processed>updated) ──
    "p1_incremental_filter" -> ((s, d) => {
      Tables.events(s, d)
        .filter(col("ts") >= lit("2024-01-15 00:00:00").cast("timestamp") && !(col("value") > 300.0))
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
    }),

    // ── P3: already-processed suppression with epoch default for null ──
    "p3_epoch_default" -> ((s, d) => {
      val lastOrder = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(max(col("o_orderdate")).as("last_order"))
      Tables.customer(s, d)
        .join(lastOrder, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          coalesce(col("last_order"), lit("1972-01-01 00:00:00").cast("timestamp")).as("effective_ts"))
        .filter(col("effective_ts") < lit("2001-06-01 00:00:00").cast("timestamp"))
        .orderBy(col("c_custkey"))
    }),

    // ── P5: obsolete-record predicate (payload null AND stale) ──
    "p5_obsolete_predicate" -> ((s, d) => {
      val withUrgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey")).distinct()
      Tables.customer(s, d)
        .join(withUrgent, col("c_custkey") === col("o_custkey"), "left_outer")
        .filter(col("o_custkey").isNull && col("c_acctbal") <= 5000.0)
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ── P6: failed-status predicate (NOT IN + not-null) ──
    "p6_failed_status" -> ((s, d) => {
      Tables.orders(s, d)
        .filter(!col("o_orderstatus").isin("O", "F") && col("o_orderpriority").isNotNull)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // ── P7: interval-arithmetic inclusion predicate (staleness > N days) ──
    "p7_interval_staleness" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      Tables.lineitem(s, d)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 110)
        .select(col("l_orderkey"), col("l_linenumber"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── P8: recent-change window — two filters ∪ distinct ──
    "p8_recent_window_union" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val byDate = o.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val byPrice = o.filter(col("o_totalprice") > 400000.0).select(col("o_custkey"))
      byDate.union(byPrice).distinct().orderBy(col("o_custkey"))
    }),

    // ── P10: collection whitelist — order-insensitive array intersect ──
    "p10_collection_whitelist" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(array_sort(array_intersect(
            array_distinct(split(col("text"), " ")),
            array(lit("join"), lit("merge"), lit("window"), lit("stream")))), "|").as("kept"))
        .orderBy(col("doc_id"))
    }),

    // ── J1: left outer join with has-payload flag ──
    "j1_left_outer_flag" -> ((s, d) => {
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      Tables.orders(s, d)
        .join(building, col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("c_name").isNotNull.as("has_customer"))
        .orderBy(col("o_orderkey"))
    }),

    // ── J2: IN-list lookup (broadcast hash join against literal keys) ──
    "j2_inlist_lookup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey").isin(1L, 7L, 32L, 100L, 129L, 4000L))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── J3: full-outer join replacing the reference's driver-side dict probe ──
    "j3_full_outer_merge" -> ((s, d) => {
      val cnt = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val cust = Tables.customer(s, d)
        .filter(col("c_custkey") % 3 =!= 0)
        .select(col("c_custkey"), col("c_acctbal"))
      cust.join(cnt, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          col("c_acctbal").isNotNull.as("has_master"))
        .orderBy(col("custkey"))
    }),

    // ── J4: anti-join (NOT IN subquery) ──
    "j4_anti_join" -> ((s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // ── J5: semi-join (IN subquery / EXISTS) ──
    "j5_semi_join" -> ((s, d) => {
      val pending = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "P").select(col("o_custkey"))
      Tables.customer(s, d)
        .join(pending, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ── J6: duplicate detection (self-group count > 1) ──
    "j6_dup_detect" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .orderBy(col("user_id"), col("event_type"))
    }),

    // ── J7: alias-chain resolution — iterative self-join to fixpoint.
    // Chain: key k points to k-1 unless k % 5 == 0 (a root). Resolving every
    // key to its root mirrors the reference's IdentifierMapping walk; the
    // loop runs in the driver over a tiny DataFrame (alias graphs are small)
    // while each step is a distributed join, so depth scales with the longest
    // chain, not the table size.
    // delegates to the merge engine's pointer-doubling fixpoint (each round
    // squares the resolved chain depth → log rounds, not one per hop)
    "j7_alias_fixpoint" -> ((s, d) => {
      import s.implicits._
      val aliases = Tables.nation(s, d)
        .select(col("n_nationkey").cast("long").as("key"),
          when(col("n_nationkey") % 5 === 0, col("n_nationkey"))
            .otherwise(col("n_nationkey") - 1).cast("long").as("target"))
        .map(r => graft.records.IdentifierAlias(r.getLong(0).toString, r.getLong(1).toString))
      graft.operators.MergeEngine.resolveAliases(aliases)
        .select(col("key").cast("long").as("key"),
          col("target").cast("long").as("root"))
        .orderBy(col("key"))
    }),

    // ── J8: LIKE-probe ──
    "j8_like_probe" -> ((s, d) => {
      Tables.documents(s, d)
        .filter(col("text").contains("window join"))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // ── A1: group-count per bucket ──
    "a1_group_count" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // ── A2: pending/total conditional counts (single row) ──
    "a2_pending_counts" -> ((s, d) => {
      Tables.orders(s, d).agg(
        count(lit(1)).as("total"),
        count(when(col("o_orderstatus") === "P", 1)).as("pending"),
        count(when(col("o_totalprice") > 300000.0, 1)).as("large"))
    }),

    // ── A3: latest-wins merge (newest value per key, deterministic tiebreak) ──
    "a3_latest_wins" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type").as("latest_type"), col("value").as("latest_value"))
        .orderBy(col("user_id"))
    }),

    // ── A4: row-wise greatest (max-timestamp rollup) ──
    "a4_greatest_rollup" -> ((s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 1000)
        .select(col("l_orderkey"), col("l_linenumber"),
          greatest(col("l_quantity"), col("l_discount") * 100.0, col("l_tax") * 100.0).as("hottest"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // ── A5: count-of-array with payload override (coalesce) ──
    "a5_array_counts" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("word_count"),
          coalesce(col("n_chars"), length(col("text")).cast("long")).as("char_count"))
        .orderBy(col("doc_id"))
    }),

    // ── A6: batch statistics accumulation (sum-when counters) ──
    "a6_batch_stats" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("value") >= 100.0, 1L).otherwise(0L)).as("successful"),
          sum(when(col("value") < 100.0, 1L).otherwise(0L)).as("failed"))
        .orderBy(col("event_type"))
    }),

    // ── A7/M7/D5: file-set reconciliation — group-counts before/after, except ──
    "a7_file_set_reconcile" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val before = li.select(col("l_orderkey")).distinct()
      val after = li.filter(col("l_quantity") <= 45.0).select(col("l_orderkey")).distinct()
      before.except(after).orderBy(col("l_orderkey"))
    }),

    // ── D1: DISTINCT projection ──
    "d1_distinct" -> ((s, d) =>
      Tables.documents(s, d).select(col("source")).distinct().orderBy(col("source"))),

    // ── D2: UNION with dedup ──
    "d2_union_distinct" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
        .union(o.filter(col("o_totalprice") > 450000.0).select(col("o_orderkey")))
        .distinct().orderBy(col("o_orderkey"))
    }),

    // ── D3: set-union dedup of arrays ──
    "d3_array_union" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          array_join(array_sort(array_union(
            array_distinct(slice(split(col("text"), " "), 1, 5)),
            array(lit("astrophysics"), lit("the")))), "|").as("merged"))
        .orderBy(col("doc_id"))
    }),

    // ── O1: one row per group by min id (order_by + limit 1 per group) ──
    "o1_min_per_group" -> ((s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"), col("event_id"), col("user_id"))
        .orderBy(col("event_type"))
    }),

    // ── O3: numeric-suffix sort of generated names ──
    "o3_numeric_name_sort" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("source")).distinct()
        .select(col("source"),
          regexp_extract(col("source"), "src(\\d+)", 1).cast("long").as("file_idx"))
        .orderBy(col("file_idx").desc)
        .limit(3)
    }),

    // ── O4: timestamp-priority ordering of payload slots per key ──
    "o4_priority_sort" -> ((s, d) => {
      Tables.events(s, d)
        .select(col("user_id"),
          concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
            lit("|"), col("event_type")).as("slot"))
        .groupBy(col("user_id"))
        .agg(array_join(sort_array(collect_list(col("slot"))), "#").as("ordered_slots"))
        .select(col("user_id"), col("ordered_slots"))
        .orderBy(col("user_id"))
    }),

    // ── O5: ordered limit (top-3 by price) ──
    "o5_ordered_limit" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_totalprice"))
        .limit(3)),

    // ── W1: sequential file bucketing (row_number → rolling file assignment).
    // Catalog form uses a single global window (fine at catalog scale); the
    // scalable two-phase version lives in graft.operators.SitemapBucketing.
    "w1_file_bucketing" -> ((s, d) => {
      val w = Window.orderBy(col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .select(col("o_orderkey"),
          concat(lit("sitemap_bib_"),
            (floor((col("rn") - 1) / 5000) + 1).cast("string"), lit(".xml")).as("sitemap_filename"))
        .orderBy(col("o_orderkey"))
    }),

    // ── W2: at-most-one flagged row per file (idempotent flag) ──
    "w2_one_per_group_flag" -> ((s, d) => {
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .withColumn("flagged", row_number().over(w) === 1)
        .select(col("doc_id"), col("source"), col("flagged"))
        .orderBy(col("doc_id"))
    }),

    // ── W3: Z-order file layout (Morton 1966; the Delta/Iceberg OPTIMIZE
    // ZORDER story done declaratively). A 1-D sort layout clusters ONE
    // column: sort lineitem by ship-date and every file's partkey min/max
    // spans the whole table, so a partkey predicate skips nothing. The
    // Z-curve interleaves the bits of both dimensions, so consecutive
    // z-values are close in BOTH — each 5000-row file covers a small
    // day-range AND a small partkey-range, and min/max pruning works for
    // either predicate. That file-skipping is THE 100 TB lever: the scan
    // never reads files whose [min,max] excludes the predicate.
    // Shape: day number is pure arithmetic; the partkey scale factor is a
    // 1-row broadcast max; the 24-bit interleave is a 12-term codegen'd
    // bit expression; the file cut rides the distributed ordinal (range
    // partition + offsets — the global-sort Exchange is the same one any
    // layout rewrite pays, and the only corpus-sized shuffle here). ──
    "w3_zorder_layout" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).cast("long").as("day"))
      val maxPk = li.agg(max(col("l_partkey")).cast("long").as("__maxpk"))
      val dims = li.crossJoin(broadcast(maxPk))
        .withColumn("pk12", expr("l_partkey * 4096L DIV (__maxpk + 1)"))
      val z = (0 until 12).map { j =>
        shiftright(col("day"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
          shiftright(col("pk12"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
      }.reduce(_ + _)
      // order by the numeric key columns directly, not a zero-padded
      // format_string composite: the same total order (such a string is
      // fixed-width decimal of the same non-negative longs),
      // but the range sampler / exchange / sort compare 3 longs, not a
      // 20-byte string built per row per pass
      graft.operators.Sitemap.withGlobalOrdinalBy(dims.withColumn("z", z),
          Seq(col("z"), col("l_orderkey"), col("l_linenumber")), "__ord")
        .withColumn("file_id", expr("__ord DIV 5000"))
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("day")).as("day_min"), max(col("day")).as("day_max"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"))
        .orderBy(col("file_id"))
    }),

    // ── W3b: Z-order PRUNING — the measured file-skipping claim. The
    // layout row above proves the files have tight min/max boxes; this
    // row proves what that BUYS: for 8 disjoint range probes on EACH
    // dimension, count the files a min/max-stats scan must read under
    // (a) the Z-order layout and (b) a 1-D ship-day sort of the SAME
    // rows into the SAME 5000-row files — the layout a naive OPTIMIZE
    // produces. Expected and measured: the 1-D layout prunes day probes
    // perfectly and partkey probes NOT AT ALL (every file spans the full
    // partkey range), while Z-order prunes BOTH — the entire reason
    // Delta/Iceberg ship ZORDER. rows_matched rides along so pruning can
    // be read against true selectivity. All probe arithmetic is integer
    // (lo/hi = p·(max+1) DIV 8), so both engines agree exactly; the two
    // global-sort Exchanges are the same ones any layout rewrite pays,
    // and the probe/stats joins are broadcasts of ≤16 and ≤⌈n/5000⌉
    // rows. ──
    "w3_zorder_prune" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          datediff(col("l_shipdate"), to_date(lit("1992-01-01"))).cast("long").as("day"))
      val mx = li.agg(max(col("day")).as("maxday"),
        max(col("l_partkey")).cast("long").as("maxpk"))
      // cache the 4-long-column dims proxy — the two layout sorts
      // each execute their input twice (range sampler + exchange) and the
      // rows_matched probe reads it again: 5 executions of the scan+
      // arithmetic collapse into one compute + cached reads. The cached
      // frame is the narrow decision proxy (guide §8), never the payload.
      val dims = Pins.cache(li.crossJoin(broadcast(mx))
        .withColumn("pk12", expr("l_partkey * 4096L DIV (maxpk + 1)")), "w3_zorder_prune")
      val z = (0 until 12).map { j =>
        shiftright(col("day"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
          shiftright(col("pk12"), j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
      }.reduce(_ + _)
      // numeric multi-key ordinal (see w3_zorder_layout) — same order as
      // the old zero-padded string composite, long-comparison cost
      def stats(keyed: org.apache.spark.sql.DataFrame, keys: Seq[Column]) =
        graft.operators.Sitemap.withGlobalOrdinalBy(keyed, keys, "__ord")
          .withColumn("file_id", expr("__ord DIV 5000"))
          .groupBy(col("file_id"))
          .agg(min(col("day")).as("day_min"), max(col("day")).as("day_max"),
            min(col("l_partkey")).cast("long").as("pk_min"),
            max(col("l_partkey")).cast("long").as("pk_max"))
      val zStats = stats(dims.withColumn("z", z),
        Seq(col("z"), col("l_orderkey"), col("l_linenumber")))
      val dStats = stats(dims,
        Seq(col("day"), col("l_orderkey"), col("l_linenumber")))
      val probes = s.range(8).toDF("probe").crossJoin(broadcast(mx))
        .select(explode(array(
          struct(lit("day").as("dim"), col("probe"),
            expr("probe * (maxday + 1) DIV 8").as("lo"),
            expr("(probe + 1) * (maxday + 1) DIV 8").as("hi")),
          struct(lit("pk").as("dim"), col("probe"),
            expr("probe * (maxpk + 1) DIV 8").as("lo"),
            expr("(probe + 1) * (maxpk + 1) DIV 8").as("hi")))).as("p"))
        .select(col("p.*"))
        // an EMPTY corpus has null maxima → no probes, report is empty
        // (not 16 rows of null bounds); the oracle filters identically
        .filter(col("lo").isNotNull)
      def overlap = when(col("dim") === "day",
          col("day_max") >= col("lo") && col("day_min") < col("hi"))
        .otherwise(col("pk_max") >= col("lo") && col("pk_min") < col("hi"))
      def scanned(st: org.apache.spark.sql.DataFrame, out: String) =
        st.crossJoin(broadcast(probes)).filter(overlap)
          .groupBy(col("dim"), col("probe")).agg(count(lit(1)).as(out))
      val rowsM = dims.crossJoin(broadcast(probes))
        .filter(when(col("dim") === "day",
            col("day") >= col("lo") && col("day") < col("hi"))
          .otherwise(col("l_partkey") >= col("lo") && col("l_partkey") < col("hi")))
        .groupBy(col("dim"), col("probe")).agg(count(lit(1)).as("rows_matched"))
      val filesTotal = zStats.agg(count(lit(1)).as("files_total"))
      // the assembly frames are all bounded by the 16-row probe set —
      // broadcast them so the plan never sorts for a join
      probes.join(broadcast(scanned(zStats, "files_z")), Seq("dim", "probe"), "left_outer")
        .join(broadcast(scanned(dStats, "files_1d")), Seq("dim", "probe"), "left_outer")
        .join(broadcast(rowsM), Seq("dim", "probe"), "left_outer")
        .crossJoin(broadcast(filesTotal))
        .select(col("dim"), col("probe"), col("lo"), col("hi"),
          col("files_total"), coalesce(col("files_z"), lit(0L)).as("files_z"),
          coalesce(col("files_1d"), lit(0L)).as("files_1d"),
          coalesce(col("rows_matched"), lit(0L)).as("rows_matched"))
        .orderBy(col("dim"), col("probe"))
    }),

    // ── Sessionization: gap-based session assignment per user (30-min
    // inactivity closes a session) — the classic event-analytics operator,
    // lag + running sum over a per-USER window. Scales horizontally: the
    // partition key is user_id (cardinality ∝ corpus), never a global
    // window; in Structured Streaming the same semantics run as
    // flatMapGroupsWithState with an inactivity timeout. Ordering ties
    // break on event_id so the assignment is deterministic. ──
    "ev_sessionize" -> ((s, d) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val newSession = when(lag(col("ts"), 1).over(byUser).isNull ||
        col("ts").cast("long") - lag(col("ts"), 1).over(byUser).cast("long") > 1800L, 1L)
        .otherwise(0L)
      Tables.events(s, d)
        .withColumn("session_idx",
          sum(newSession).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("event_id"), col("user_id"), col("session_idx"))
        .orderBy(col("event_id"))
    }),

    // ── Funnel analysis: per user, the earliest view → click → purchase
    // chain with each step landing within an hour of the previous — the
    // standard product-analytics conversion query. Three min-aggregations
    // and three joins, ALL keyed on user_id, so on a cluster the whole
    // funnel runs in one user-partitioned exchange reused across stages
    // (no step ever joins on a hot key: the funnel key is the user).
    // Epoch-second integers keep the step arithmetic engine-exact. ──
    "ev_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts").cast("long").as("t"))
      def step(evType: String, prev: DataFrame, prevCol: String, asCol: String) =
        e.filter(col("event_type") === evType)
          .join(prev, Seq("user_id"))
          .filter(col("t") > col(prevCol) && col("t") <= col(prevCol) + 3600L)
          .groupBy(col("user_id")).agg(min(col("t")).as(asCol))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("view_t"))
      val clicks = step("click", views, "view_t", "click_t")
      val purchases = step("purchase", clicks, "click_t", "purchase_t")
      views
        .join(clicks, Seq("user_id"), "left_outer")
        .join(purchases, Seq("user_id"), "left_outer")
        .select(col("user_id"), col("view_t"), col("click_t"), col("purchase_t"),
          (lit(1L) + when(col("click_t").isNotNull, 1L).otherwise(0L) +
            when(col("purchase_t").isNotNull, 1L).otherwise(0L)).as("reached_step"))
        .orderBy(col("user_id"))
    }),

    // ── Cohort retention: users grouped by first-activity day (the
    // cohort), counted by how many distinct users of each cohort are
    // active again N days later — the other standard product-analytics
    // rollup. Shapes: one user-keyed min-agg (cohort assignment), one
    // broadcast-friendly join back onto activity, then a count-distinct
    // keyed on (cohort, day_offset) — partial-aggregated map-side; no
    // user-level data survives past the first join, so the rollup's
    // shuffle width is |cohorts| × |offsets|, not |events|. ──
    "ev_retention" -> ((s, d) => {
      val acts = Tables.events(s, d)
        .select(col("user_id"),
          unix_timestamp(date_trunc("day", col("ts"))).as("day"))
        .distinct()
      val cohorts = acts.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      acts.join(cohorts, Seq("user_id"))
        .select(col("cohort_day"),
          ((col("day") - col("cohort_day")) / 86400L).cast("long").as("day_offset"),
          col("user_id"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // ── Tumbling-window aggregation: per (hour, event_type) counts and
    // value sums — the batch form of a Structured Streaming
    // watermark+window aggregation, and a map-side-combined groupBy here
    // (shuffle carries one partial row per (window, type, partition)).
    // The window key is emitted as epoch seconds so the oracle compare is
    // integer-exact across engines. ──
    "ev_tumbling_window" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("value_sum"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // ── As-of join: attribute each purchase to the user's latest view at
    // or before it — the canonical event-attribution operator Spark has
    // no built-in for (DuckDB's native ASOF JOIN is the oracle). The
    // distributed shape is NOT a range join (which Spark would nested-
    // loop or band-join): union both sides tagged, then one per-user
    // window where `last(_, ignoreNulls)` carries the most recent view
    // forward into every later purchase row — a single shuffle on
    // user_id (cardinality ∝ users, no hot key), linear scan per
    // partition, and the same plan at any scale. Determinism: views are
    // pre-deduped to one per (user, second) keeping the max event_id —
    // ASOF's tie behavior is otherwise engine-defined — and at equal
    // timestamps the view sorts before the purchase (inclusive ≤). ──
    "ev_asof_join" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts").cast("long").as("t"))
      val views = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("t"))
        .agg(max(col("event_id")).as("view_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"), col("value"))
      val tagged = purchases
        .select(col("user_id"), col("t"), lit(1).as("side"),
          col("event_id"), col("value"), lit(null).cast("long").as("view_id"))
        .unionByName(views.select(col("user_id"), col("t"), lit(0).as("side"),
          lit(null).cast("long").as("event_id"),
          lit(null).cast("double").as("value"), col("view_id")))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("side"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged
        .withColumn("m", last(
          when(col("side") === 0,
            struct(col("view_id").as("view_id"), col("t").as("view_t"))),
          ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("user_id"), col("t"), col("value"),
          col("m.view_id").as("view_id"), col("m.view_t").as("view_t"),
          (col("t") - col("m.view_t")).as("gap_sec"))
        .orderBy(col("event_id"))
    }),

    // ── Attribution window: for each purchase, how many views the same
    // user made in the preceding hour (exclusive of the purchase instant)
    // — the many-match companion of ev_asof_join's latest-one. The range
    // predicate rides INSIDE a user-keyed equi-join, so the plan is a
    // shuffle on user_id with per-user sort-merge — never a band join or
    // nested loop over time; per-user event counts bound the pair work
    // and the user key's cardinality scales with the corpus. ──
    // ── Top event-to-event transitions (the first-order Markov view of
    // user behavior — what funnels are built FROM): per user, order
    // events by time and pair each with its successor, count
    // transitions globally, keep each source type's top 3. The lead()
    // window shuffles once on user_id (cardinality ∝ users, same family
    // as sessionize); transition counts partial-aggregate over
    // |types|²-bounded keys; the top-k window runs over that tiny
    // frame. Ties pin to (count desc, successor asc). ──
    "ev_path_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val wU = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wT = Window.partitionBy(col("from_type"))
        .orderBy(col("n").desc, col("to_type"))
      Tables.events(s, d)
        .withColumn("to_type", lead(col("event_type"), 1).over(wU))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(wT))
        .filter(col("rank") <= 3)
        .orderBy(col("from_type"), col("rank"))
    }),

    // ── Volume-anomaly detection over the tumbling counts: each
    // (event_type, hour) window is z-scored against its type's TRAILING
    // 24-window baseline (no peeking at the future — the batch form of
    // what a streaming monitor alerts on). The per-type ordered window
    // is NOT a corpus-scale funnel: its rows are the hourly summaries
    // (bounded by elapsed time × |types|, ~10k rows/type-year), not
    // events — the corpus-sized work is the groupBy beneath it, which
    // partial-aggregates map-side. Degenerate baselines (fewer than 2
    // trailing windows, or zero variance) yield a NULL z and never
    // alert, rather than an engine-dependent inf. ──
    "ev_anomaly" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("window_start")).rowsBetween(-24, -1)
      Tables.events(s, d)
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("base_mean", avg(col("n")).over(w))
        .withColumn("base_std", stddev_samp(col("n")).over(w))
        .withColumn("z", when(col("base_std") > 0,
          round((col("n") - col("base_mean")) / col("base_std"), 6)))
        .select(col("window_start"), col("event_type"), col("n"),
          round(col("base_mean"), 6).as("base_mean"),
          round(col("base_std"), 6).as("base_std"), col("z"),
          coalesce(abs(col("z")) > 2.0, lit(false)).as("anomalous"))
        .orderBy(col("event_type"), col("window_start"))
    }),

    "ev_attribution_window" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("long").as("t"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("t").as("view_t"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t"))
      purchases.join(views,
          purchases("user_id") === views("user_id") &&
            col("view_t") >= col("t") - 3600L && col("view_t") < col("t"),
          "left_outer")
        .groupBy(col("event_id"), purchases("user_id").as("user_id"), col("t"))
        .agg(count(col("view_t")).as("n_views"),
          max(col("view_t")).as("last_view_t"))
        .orderBy(col("event_id"))
    }),

    // ── Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005)
    // over event users: d=4 hash rows × w=64 buckets, estimate = min over
    // rows of the key's bucket count — always ≥ the true count, within
    // εN with ε = e/w at confidence 1−e^−d. The sketch is the 100 TB
    // object: a FIXED 256-cell table built by ONE map-side-combined
    // groupBy over the event stream, mergeable across partitions/days by
    // cell-wise addition, queried for any key without touching the
    // corpus again (StreamingTopK is its streaming sibling). The exact
    // column exists to measure the sketch — it is the per-key shuffle
    // the sketch replaces; the output pins the CMS guarantee value-for-
    // value (overestimate ≥ 0 on every row). Top-20 ranked by the
    // ESTIMATE (what a sketch-only deployment would rank by), ties by
    // user_id. ──
    // ── Quantile sketch: per event type, exact discrete (type-1)
    // p50/p95/p99 of `value` next to the 32-bucket equi-width histogram
    // ESTIMATE of p95 — completing the sketch trio (KMV = cardinality,
    // CMS = frequency, histogram = quantiles). The histogram is the
    // 100 TB object: 32 integer cells per type, built by one map-side-
    // combined groupBy, mergeable across partitions/days by cell-wise
    // addition, and the quantile read never re-touches the corpus. The
    // exact columns are the per-type sort the sketch replaces — they
    // rank with row_number so the answer is an actual data value
    // (type-1), carrying no interpolation arithmetic to drift across
    // engines; the quantile RANKS are pure integer arithmetic
    // (⌈q·n⌉ = (q·100·n + 99) DIV 100-style), and the one float formula
    // (the histogram interpolation) is mirrored op-for-op and rounded.
    // ──
    "ev_quantile_sketch" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val wOrd = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wAll = Window.partitionBy(col("event_type"))
      val ranked = e.withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
      val qs = ranked.groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 1) DIV 2"), col("value"))).as("p50"),
          max(when(col("rn") === expr("(19 * n + 19) DIV 20"), col("value"))).as("p95"),
          max(when(col("rn") === expr("(99 * n + 99) DIV 100"), col("value"))).as("p99"))
      val mm = e.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val hist = e.join(mm, Seq("event_type"))
        .withColumn("bucket", when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(31),
            floor(((col("value") - col("lo")) / (col("hi") - col("lo"))) * 32.0)
              .cast("int"))))
        .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      val est = hist.withColumn("cum", sum(col("c")).over(wCum))
        .join(qs.select(col("event_type"), col("n").as("__n")), Seq("event_type"))
        .join(mm, Seq("event_type"))
        .withColumn("need", expr("(19 * __n + 19) DIV 20"))
        .filter(col("cum") >= col("need") && (col("cum") - col("c")) < col("need"))
        .select(col("event_type"),
          round(col("lo") + ((col("hi") - col("lo")) / lit(32.0)) *
            (col("bucket").cast("double") +
              (col("need") - (col("cum") - col("c"))).cast("double") /
                col("c").cast("double")), 6).as("est_p95"))
      qs.join(est, Seq("event_type"), "left_outer")
        .select(col("event_type"), col("n"), col("p50"), col("p95"), col("p99"),
          col("est_p95"))
        .orderBy(col("event_type"))
    }),

    "ev_cms_topk" -> ((s, d) => {
      import graft.functions.PortableHash
      val e = Tables.events(s, d).select(col("user_id"))
      val dRows = explode(array((0 until 4).map(lit): _*)).as("d")
      def bucket(dc: Column, key: Column) =
        pmod(PortableHash.hash64(concat(lit("cms"), dc.cast("string"),
          lit(":"), key.cast("string"))), lit(64L))
      val cells = e.select(col("user_id"), dRows)
        .withColumn("bucket", bucket(col("d"), col("user_id")))
        .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
      val keys = e.groupBy(col("user_id")).agg(count(lit(1)).as("exact"))
      keys.select(col("user_id"), col("exact"), dRows)
        .withColumn("bucket", bucket(col("d"), col("user_id")))
        .join(broadcast(cells), Seq("d", "bucket"))
        .groupBy(col("user_id"), col("exact")).agg(min(col("c")).as("cms_est"))
        .withColumn("overestimate", col("cms_est") - col("exact"))
        .orderBy(col("cms_est").desc, col("user_id")).limit(20)
        .select(col("user_id"), col("exact"), col("cms_est"), col("overestimate"))
    }),

    // ── PRODUCTION form of the quantile sketch: histogram-only. The
    // calibration row above runs the per-type row_number sort it exists
    // to replace; this form never ranks a corpus row — its corpus-wide
    // work is two map-side-combined aggregations (per-type min/max, then
    // per-(type, bucket) counts), and every window/join after that
    // touches ≤ 32 rows per type. n comes from summing the 32 bucket
    // cells, not from counting over the corpus. The interpolation is the
    // calibration row's formula token for token (and the streaming
    // form's — all three agree at equal bounds). PlanAuditSpec pins: no
    // row_number, no count_distinct, windows partitioned per type over
    // the bucket frame only. ──
    "ev_quantile_prod" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val mm = e.groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      val hist = e.join(mm, Seq("event_type"))
        .withColumn("bucket", when(col("hi") === col("lo"), lit(0))
          .otherwise(least(lit(31),
            floor(((col("value") - col("lo")) / (col("hi") - col("lo"))) * 32.0)
              .cast("int"))))
        .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      val wAll = Window.partitionBy(col("event_type"))
      hist.withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .join(mm, Seq("event_type"))
        .withColumn("q", explode(array(lit(50), lit(95))))
        .withColumn("need",
          expr("CASE WHEN q = 50 THEN (n + 1) DIV 2 ELSE (19 * n + 19) DIV 20 END"))
        .filter(col("cum") >= col("need") && (col("cum") - col("c")) < col("need"))
        .withColumn("est", round(col("lo") + ((col("hi") - col("lo")) / lit(32.0)) *
          (col("bucket").cast("double") +
            (col("need") - (col("cum") - col("c"))).cast("double") /
              col("c").cast("double")), 6))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("q") === 50, col("est"))).as("est_p50"),
          max(when(col("q") === 95, col("est"))).as("est_p95"))
        .orderBy(col("event_type"))
    }),

    // ── PRODUCTION form of the CMS top-k: estimate-only. The
    // calibration row above counts every key exactly to price the
    // one-sided error; here keys are only ENUMERATED (a map-side-
    // combined distinct — the candidate set any batch top-k needs) and
    // ranked purely by their sketch estimate, the ranking a sketch-only
    // deployment actually serves. The 256-cell table stays a broadcast;
    // the top-20 is a TakeOrdered, never a global sort materialized. ──
    "ev_cms_prod" -> ((s, d) => {
      import graft.functions.PortableHash
      val e = Tables.events(s, d).select(col("user_id"))
      val dRows = explode(array((0 until 4).map(lit): _*)).as("d")
      def bucket(dc: Column, key: Column) =
        pmod(PortableHash.hash64(concat(lit("cms"), dc.cast("string"),
          lit(":"), key.cast("string"))), lit(64L))
      val cells = e.select(col("user_id"), dRows)
        .withColumn("bucket", bucket(col("d"), col("user_id")))
        .groupBy(col("d"), col("bucket")).agg(count(lit(1)).as("c"))
      e.distinct().select(col("user_id"), dRows)
        .withColumn("bucket", bucket(col("d"), col("user_id")))
        .join(broadcast(cells), Seq("d", "bucket"))
        .groupBy(col("user_id")).agg(min(col("c")).as("cms_est"))
        .orderBy(col("cms_est").desc, col("user_id")).limit(20)
        .select(col("user_id"), col("cms_est"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "s2_scan_prune" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '2000-01-01'
         ORDER BY l_orderkey, l_linenumber""",
    "p1_incremental_filter" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE ts >= TIMESTAMP '2024-01-15' AND NOT (value > 300.0)
         ORDER BY event_id""",
    "p3_epoch_default" ->
      """SELECT c_custkey,
           COALESCE(lo.last_order, TIMESTAMP '1972-01-01') AS effective_ts
         FROM customer LEFT JOIN
           (SELECT o_custkey, MAX(o_orderdate) AS last_order FROM orders GROUP BY o_custkey) lo
           ON c_custkey = lo.o_custkey
         WHERE COALESCE(lo.last_order, TIMESTAMP '1972-01-01') < TIMESTAMP '2001-06-01'
         ORDER BY c_custkey""",
    "p5_obsolete_predicate" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
           AND c_acctbal <= 5000.0
         ORDER BY c_custkey""",
    "p6_failed_status" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE o_orderstatus NOT IN ('O','F') AND o_orderpriority IS NOT NULL
         ORDER BY o_orderkey""",
    "p7_interval_staleness" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS lag_days
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE datediff('day', o_orderdate, l_shipdate) > 110
         ORDER BY l_orderkey, l_linenumber""",
    "p8_recent_window_union" ->
      """SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01'
         UNION
         SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0
         ORDER BY o_custkey""",
    "p10_collection_whitelist" ->
      """SELECT doc_id,
           COALESCE(array_to_string(list_sort(list_intersect(list_distinct(string_split(text, ' ')),
                                    ['join','merge','window','stream'])), '|'), '') AS kept
         FROM documents ORDER BY doc_id""",
    "j1_left_outer_flag" ->
      """SELECT o_orderkey, (c.c_name IS NOT NULL) AS has_customer
         FROM orders LEFT JOIN
           (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
           ON o_custkey = c.c_custkey
         ORDER BY o_orderkey""",
    "j2_inlist_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
         WHERE l_orderkey IN (1, 7, 32, 100, 129, 4000)
         ORDER BY l_orderkey, l_linenumber""",
    "j3_full_outer_merge" ->
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
           COALESCE(o.n_orders, 0) AS n_orders,
           (c.c_acctbal IS NOT NULL) AS has_master
         FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0) c
         FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey
         ORDER BY custkey""",
    "j4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "j5_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "j6_dup_detect" ->
      """SELECT user_id, event_type, COUNT(*) AS n FROM events
         GROUP BY user_id, event_type HAVING COUNT(*) > 1
         ORDER BY user_id, event_type""",
    "j7_alias_fixpoint" ->
      """WITH RECURSIVE mapping AS (
           SELECT CAST(n_nationkey AS BIGINT) AS key,
                  CAST(CASE WHEN n_nationkey % 5 = 0 THEN n_nationkey ELSE n_nationkey - 1 END AS BIGINT) AS target
           FROM nation),
         walk(key, target) AS (
           SELECT key, target FROM mapping
           UNION ALL
           SELECT w.key, m.target FROM walk w JOIN mapping m ON w.target = m.key
           WHERE w.target <> m.target)
         SELECT key, MIN(target) AS root FROM walk GROUP BY key ORDER BY key""",
    "j8_like_probe" ->
      """SELECT doc_id, source FROM documents WHERE text LIKE '%window join%' ORDER BY doc_id""",
    "a1_group_count" ->
      """SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type ORDER BY event_type""",
    "a2_pending_counts" ->
      """SELECT COUNT(*) AS total,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS pending,
           COUNT(CASE WHEN o_totalprice > 300000.0 THEN 1 END) AS large
         FROM orders""",
    "a3_latest_wins" ->
      """SELECT user_id, event_type AS latest_type, value AS latest_value
         FROM (SELECT user_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    "a4_greatest_rollup" ->
      """SELECT l_orderkey, l_linenumber,
           GREATEST(l_quantity, l_discount * 100.0, l_tax * 100.0) AS hottest
         FROM lineitem WHERE l_orderkey <= 1000
         ORDER BY l_orderkey, l_linenumber""",
    "a5_array_counts" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS word_count,
           COALESCE(n_chars, CAST(length(text) AS BIGINT)) AS char_count
         FROM documents ORDER BY doc_id""",
    "a6_batch_stats" ->
      """SELECT event_type,
           CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS successful,
           CAST(SUM(CASE WHEN value < 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS failed
         FROM events GROUP BY event_type ORDER BY event_type""",
    "a7_file_set_reconcile" ->
      """SELECT DISTINCT l_orderkey FROM lineitem
         EXCEPT
         SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity <= 45.0
         ORDER BY l_orderkey""",
    "d1_distinct" ->
      """SELECT DISTINCT source FROM documents ORDER BY source""",
    "d2_union_distinct" ->
      """SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
         UNION SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0
         ORDER BY o_orderkey""",
    "d3_array_union" ->
      """SELECT doc_id,
           array_to_string(list_sort(list_distinct(list_concat(
             list_distinct(string_split(text, ' ')[1:5]), ['astrophysics','the']))), '|') AS merged
         FROM documents ORDER BY doc_id""",
    "o1_min_per_group" ->
      """SELECT event_type, event_id, user_id
         FROM (SELECT event_type, event_id, user_id,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
               FROM events) t
         WHERE rn = 1 ORDER BY event_type""",
    "o3_numeric_name_sort" ->
      """SELECT source, CAST(regexp_extract(source, 'src(\d+)', 1) AS BIGINT) AS file_idx
         FROM (SELECT DISTINCT source FROM documents) t
         ORDER BY file_idx DESC LIMIT 3""",
    "o4_priority_sort" ->
      """SELECT user_id,
           array_to_string(list_sort(list(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || '|' || event_type)), '#') AS ordered_slots
         FROM events GROUP BY user_id ORDER BY user_id""",
    "o5_ordered_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 3""",
    "w1_file_bucketing" ->
      """SELECT o_orderkey,
           'sitemap_bib_' || CAST((CAST(FLOOR((rn - 1) / 5000) AS BIGINT) + 1) AS VARCHAR) || '.xml' AS sitemap_filename
         FROM (SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders) t
         ORDER BY o_orderkey""",
    "w2_one_per_group_flag" ->
      """SELECT doc_id, source,
           (ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) = 1) AS flagged
         FROM documents ORDER BY doc_id""",
    "w3_zorder_layout" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS day
           FROM lineitem),
         mx AS (SELECT CAST(MAX(l_partkey) AS BIGINT) AS maxpk FROM li),
         dims AS (SELECT li.*, (l_partkey * 4096) // (maxpk + 1) AS pk12
           FROM li, mx),
         zed AS (SELECT *,
             CAST(list_sum(list_transform(range(0, 12), j ->
               ((day >> CAST(j AS INT)) & 1) * (CAST(1 AS BIGINT) << CAST(2*j AS INT)) +
               ((pk12 >> CAST(j AS INT)) & 1) * (CAST(1 AS BIGINT) << CAST(2*j + 1 AS INT)))) AS BIGINT) AS z
           FROM dims),
         o AS (SELECT *, ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber)
             - 1 AS ord FROM zed)
         SELECT CAST(ord // 5000 AS BIGINT) AS file_id, COUNT(*) AS n_rows,
           MIN(day) AS day_min, MAX(day) AS day_max,
           CAST(MIN(l_partkey) AS BIGINT) AS pk_min,
           CAST(MAX(l_partkey) AS BIGINT) AS pk_max
         FROM o GROUP BY 1 ORDER BY file_id""",
    "w3_zorder_prune" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
             CAST(date_diff('day', DATE '1992-01-01', l_shipdate) AS BIGINT) AS day
           FROM lineitem),
         mx AS (SELECT CAST(MAX(day) AS BIGINT) AS maxday,
             CAST(MAX(l_partkey) AS BIGINT) AS maxpk FROM li),
         dims AS (SELECT li.*, (l_partkey * 4096) // (maxpk + 1) AS pk12
           FROM li, mx),
         zed AS (SELECT *,
             CAST(list_sum(list_transform(range(0, 12), j ->
               ((day >> CAST(j AS INT)) & 1) * (CAST(1 AS BIGINT) << CAST(2*j AS INT)) +
               ((pk12 >> CAST(j AS INT)) & 1) * (CAST(1 AS BIGINT) << CAST(2*j + 1 AS INT)))) AS BIGINT) AS z
           FROM dims),
         zo AS (SELECT *, ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber)
             - 1 AS ord FROM zed),
         zstats AS (SELECT ord // 5000 AS file_id,
             MIN(day) AS day_min, MAX(day) AS day_max,
             CAST(MIN(l_partkey) AS BIGINT) AS pk_min,
             CAST(MAX(l_partkey) AS BIGINT) AS pk_max
           FROM zo GROUP BY 1),
         dd AS (SELECT *, ROW_NUMBER() OVER (ORDER BY day, l_orderkey, l_linenumber)
             - 1 AS ord FROM dims),
         dstats AS (SELECT ord // 5000 AS file_id,
             MIN(day) AS day_min, MAX(day) AS day_max,
             CAST(MIN(l_partkey) AS BIGINT) AS pk_min,
             CAST(MAX(l_partkey) AS BIGINT) AS pk_max
           FROM dd GROUP BY 1),
         ft AS (SELECT COUNT(*) AS files_total FROM zstats),
         probes AS (
           SELECT 'day' AS dim, CAST(t.p AS BIGINT) AS probe,
               t.p * (maxday + 1) // 8 AS lo, (t.p + 1) * (maxday + 1) // 8 AS hi
             FROM generate_series(0, 7) t(p), mx
           WHERE maxday IS NOT NULL
           UNION ALL
           SELECT 'pk', CAST(t.p AS BIGINT),
               t.p * (maxpk + 1) // 8, (t.p + 1) * (maxpk + 1) // 8
             FROM generate_series(0, 7) t(p), mx
           WHERE maxpk IS NOT NULL),
         sz AS (SELECT dim, probe, COUNT(*) AS files_z FROM probes, zstats
           WHERE CASE WHEN dim = 'day' THEN day_max >= lo AND day_min < hi
                 ELSE pk_max >= lo AND pk_min < hi END
           GROUP BY 1, 2),
         sd AS (SELECT dim, probe, COUNT(*) AS files_1d FROM probes, dstats
           WHERE CASE WHEN dim = 'day' THEN day_max >= lo AND day_min < hi
                 ELSE pk_max >= lo AND pk_min < hi END
           GROUP BY 1, 2),
         rm AS (SELECT dim, probe, COUNT(*) AS rows_matched FROM probes, dims
           WHERE CASE WHEN dim = 'day' THEN day >= lo AND day < hi
                 ELSE l_partkey >= lo AND l_partkey < hi END
           GROUP BY 1, 2)
         SELECT p.dim, p.probe, p.lo, p.hi, ft.files_total,
           COALESCE(sz.files_z, 0) AS files_z,
           COALESCE(sd.files_1d, 0) AS files_1d,
           COALESCE(rm.rows_matched, 0) AS rows_matched
         FROM probes p CROSS JOIN ft
         LEFT JOIN sz ON sz.dim = p.dim AND sz.probe = p.probe
         LEFT JOIN sd ON sd.dim = p.dim AND sd.probe = p.probe
         LEFT JOIN rm ON rm.dim = p.dim AND rm.probe = p.probe
         ORDER BY p.dim, p.probe""",
    "ev_sessionize" ->
      """WITH x AS (SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT event_id, user_id,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         FROM x ORDER BY event_id""",
    "ev_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         v AS (SELECT user_id, MIN(t) AS view_t FROM e
               WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, MIN(t) AS click_t FROM e JOIN v USING (user_id)
               WHERE event_type = 'click' AND t > view_t AND t <= view_t + 3600
               GROUP BY 1),
         p AS (SELECT e.user_id, MIN(t) AS purchase_t FROM e JOIN c USING (user_id)
               WHERE event_type = 'purchase' AND t > click_t AND t <= click_t + 3600
               GROUP BY 1)
         SELECT v.user_id, v.view_t, c.click_t, p.purchase_t,
           1 + (c.click_t IS NOT NULL)::BIGINT + (p.purchase_t IS NOT NULL)::BIGINT AS reached_step
         FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
         ORDER BY v.user_id""",
    "ev_retention" ->
      """WITH acts AS (SELECT DISTINCT user_id,
             CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day
           FROM events),
         cohorts AS (SELECT user_id, MIN(day) AS cohort_day FROM acts GROUP BY 1)
         SELECT cohort_day,
           CAST((day - cohort_day) / 86400 AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS n_users
         FROM acts a JOIN cohorts USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",
    "ev_tumbling_window" ->
      """SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start, event_type,
           COUNT(*) AS n, round(SUM(value), 6) AS value_sum
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",
    "ev_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, value,
             CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         v AS (SELECT user_id, t AS view_t, MAX(event_id) AS view_id
           FROM e WHERE event_type = 'view' GROUP BY 1, 2),
         p AS (SELECT event_id, user_id, t, value FROM e WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.t, p.value, v.view_id, v.view_t,
           p.t - v.view_t AS gap_sec
         FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.view_t <= p.t
         ORDER BY p.event_id""",
    "ev_path_topk" ->
      """WITH nxt AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS to_type
           FROM events),
         c AS (SELECT from_type, to_type, COUNT(*) AS n FROM nxt
           WHERE to_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type, n, rank FROM
           (SELECT *, ROW_NUMBER() OVER (PARTITION BY from_type
              ORDER BY n DESC, to_type) AS rank FROM c) t
         WHERE rank <= 3 ORDER BY from_type, rank""",
    "ev_anomaly" ->
      """WITH c AS (SELECT epoch(date_trunc('hour', ts))::BIGINT AS window_start,
             event_type, COUNT(*) AS n FROM events GROUP BY 1, 2),
         b AS (SELECT *, AVG(n) OVER w AS base_mean,
             stddev_samp(n) OVER w AS base_std FROM c
           WINDOW w AS (PARTITION BY event_type ORDER BY window_start
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
         SELECT window_start, event_type, n,
           round(base_mean, 6) AS base_mean, round(base_std, 6) AS base_std,
           CASE WHEN base_std > 0
             THEN round((n - base_mean) / base_std, 6) END AS z,
           COALESCE(abs(CASE WHEN base_std > 0
             THEN round((n - base_mean) / base_std, 6) END) > 2.0, false) AS anomalous
         FROM b ORDER BY event_type, window_start""",
    "ev_attribution_window" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
         v AS (SELECT user_id, t AS view_t FROM e WHERE event_type = 'view'),
         p AS (SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase')
         SELECT p.event_id, p.user_id, p.t,
           CAST(COUNT(v.view_t) AS BIGINT) AS n_views,
           MAX(v.view_t) AS last_view_t
         FROM p LEFT JOIN v ON p.user_id = v.user_id
           AND v.view_t >= p.t - 3600 AND v.view_t < p.t
         GROUP BY 1, 2, 3 ORDER BY p.event_id""",
    "ev_quantile_sketch" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM e),
         qs AS (SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
             MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN value END) AS p95,
             MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
           FROM r GROUP BY 1),
         mm AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
           FROM e GROUP BY 1),
         h AS (SELECT e.event_type,
             CASE WHEN hi = lo THEN 0
                  ELSE least(31, CAST(floor(((value - lo) / (hi - lo)) * 32.0) AS INT))
             END AS bucket,
             COUNT(*) AS c
           FROM e JOIN mm USING (event_type) GROUP BY 1, 2),
         cu AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
           FROM h),
         est AS (SELECT cu.event_type,
             round(lo + ((hi - lo) / 32.0) *
               (CAST(bucket AS DOUBLE) +
                 CAST(need - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS est_p95
           FROM (SELECT cu.*, (19 * qs.n + 19) // 20 AS need
                 FROM cu JOIN qs USING (event_type)) cu
           JOIN mm USING (event_type)
           WHERE cum >= need AND (cum - c) < need)
         SELECT qs.event_type, n, p50, p95, p99, est.est_p95
         FROM qs LEFT JOIN est ON qs.event_type = est.event_type
         ORDER BY qs.event_type""",
    "ev_cms_topk" ->
      s"""WITH e AS (SELECT user_id FROM events),
         ds AS (SELECT CAST(t.d AS BIGINT) AS d FROM generate_series(0, 3) t(d)),
         cells AS (SELECT d,
             ${PortableHashSql.bucketSql("d", "user_id")} AS bucket,
             COUNT(*) AS c
           FROM e CROSS JOIN ds GROUP BY 1, 2),
         keys AS (SELECT user_id, COUNT(*) AS exact FROM e GROUP BY 1),
         est AS (SELECT k.user_id, k.exact, MIN(cells.c) AS cms_est
           FROM keys k CROSS JOIN ds
           JOIN cells ON cells.d = ds.d
             AND cells.bucket = ${PortableHashSql.bucketSql("ds.d", "k.user_id")}
           GROUP BY 1, 2)
         SELECT user_id, exact, cms_est, cms_est - exact AS overestimate
         FROM est ORDER BY cms_est DESC, user_id LIMIT 20""",
    "ev_quantile_prod" ->
      """WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
         mm AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
           FROM e GROUP BY 1),
         h AS (SELECT e.event_type,
             CASE WHEN hi = lo THEN 0
                  ELSE least(31, CAST(floor(((value - lo) / (hi - lo)) * 32.0) AS INT))
             END AS bucket,
             COUNT(*) AS c
           FROM e JOIN mm USING (event_type) GROUP BY 1, 2),
         cu AS (SELECT *,
             CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
           FROM h),
         q AS (SELECT cu.*, mm.lo, mm.hi, t.q,
             CASE WHEN t.q = 50 THEN (n + 1) // 2 ELSE (19 * n + 19) // 20 END AS need
           FROM cu JOIN mm USING (event_type) CROSS JOIN (VALUES (50), (95)) t(q)),
         est AS (SELECT event_type, q, n,
             round(lo + ((hi - lo) / 32.0) *
               (CAST(bucket AS DOUBLE) +
                 CAST(need - (cum - c) AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS est
           FROM q WHERE cum >= need AND (cum - c) < need)
         SELECT event_type, MAX(n) AS n,
           MAX(CASE WHEN q = 50 THEN est END) AS est_p50,
           MAX(CASE WHEN q = 95 THEN est END) AS est_p95
         FROM est GROUP BY 1 ORDER BY 1""",
    "ev_cms_prod" ->
      s"""WITH e AS (SELECT user_id FROM events),
         ds AS (SELECT CAST(t.d AS BIGINT) AS d FROM generate_series(0, 3) t(d)),
         cells AS (SELECT d,
             ${PortableHashSql.bucketSql("d", "user_id")} AS bucket,
             COUNT(*) AS c
           FROM e CROSS JOIN ds GROUP BY 1, 2),
         keys AS (SELECT DISTINCT user_id FROM e),
         est AS (SELECT k.user_id, MIN(cells.c) AS cms_est
           FROM keys k CROSS JOIN ds
           JOIN cells ON cells.d = ds.d
             AND cells.bucket = ${PortableHashSql.bucketSql("ds.d", "k.user_id")}
           GROUP BY 1)
         SELECT user_id, cms_est
         FROM est ORDER BY cms_est DESC, user_id LIMIT 20"""
  )

  /** DuckDB fragments for the CMS bucket hash (PortableHash.hash64 of
    * "cms<d>:<user_id>" mod 64 — identical string rendering on both
    * engines: BIGINTs print without sign or decoration). */
  private object PortableHashSql {
    def bucketSql(d: String, key: String): String =
      s"""(('0x' || substr(md5('cms' || CAST($d AS VARCHAR) || ':' ||
         CAST($key AS VARCHAR)), 1, 15))::BIGINT % 64)"""
  }
}
