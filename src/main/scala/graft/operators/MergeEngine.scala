package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.records._
import graft.functions.ScixId
import graft.transform.SolrTransform

/** Master-table mutation operators (SURVEY.md §2.9; reference
  * adsmp/app.py:120-300, scripts/fix_db_duplicates.py).
  *
  * The reference mutates Postgres rows in place; on immutable columnar
  * storage every mutation is a merge-on-write: derive the next snapshot of
  * the master table as a DataFrame and atomically swap it in. All merges
  * key on `bibcode`, so at cluster scale the master table is bucketed by
  * bibcode and each of these joins is co-located (no repeated shuffle of
  * the 28.8M-row table; only the small delta shuffles).
  */
object MergeEngine {

  import MasterRecord.slots

  /** Result of one M1 batch: the next master snapshot plus the audit delta. */
  case class UpsertResult(master: DataFrame, changeLog: DataFrame)

  /** M1 — per-field typed upsert (reference update_storage,
    * adsmp/app.py:120-195), batched.
    *
    * A batch of (bibcode, type, payload, ts) messages becomes:
    *   1. one shuffle: groupBy(bibcode) pivoting each payload slot to a
    *      (latest payload, latest ts) column pair via `max_by` — map-side
    *      partial aggregation collapses hot bibcodes before the exchange;
    *   2. one full-outer join against the master snapshot on bibcode:
    *      arriving slot wins (`coalesce(new, old)`), `updated` advances to
    *      the newest arrival, scix_id is assigned when bib_data first
    *      appears (adsmp/app.py:181-186).
    *
    * ChangeLog gets one row per message with the pre-image of the slot
    * (intra-batch: the previous message's payload — a lag window seeded
    * with the master value), matching adsmp/app.py:174 where only the
    * bib/nonbib/orcid slots store old values.
    *
    * A batch whose plan holds no rows (`maxRows == Some(0)`, read without
    * running a job) plans no join: the merge then only fills `id` and
    * `scix_id` where they are missing, as the join would, and the change
    * log is empty.
    */
  def upsert(master: DataFrame, updates: Dataset[UpdateMessage]): UpsertResult =
    if (updates.queryExecution.optimizedPlan.maxRows.contains(0L))
      UpsertResult(
        master.select(masterColumns.map {
          case "id" => filledId(col("id"), col("bibcode")).as("id")
          case "scix_id" => filledScixId(col("scix_id"), col("bib_data")).as("scix_id")
          case c => col(c)
        }: _*),
        updates.select(col("bibcode").as("key"), col("mtype").as("ctype"),
          lit(null).cast("string").as("oldvalue"), lit(false).as("permanent"), col("ts")))
    else mergeBatch(master, updates)

  /** The stored id, or a synthetic stable one for a fresh bibcode
    * (reference: DB sequence); xxhash64 keeps it deterministic and
    * cluster-safe. Masked to the positive range (abs(Long.MinValue) stays
    * negative); 64-bit collisions at 28.8M keys are ~2e-5-probable and
    * harmless here — bibcode, not id, is the engine's key. */
  private def filledId(id: Column, key: Column): Column =
    coalesce(id, xxhash64(key).bitwiseAND(lit(Long.MaxValue)))

  /** The stored scix_id, or one assigned when bib_data first appears
    * (adsmp/app.py:181-186). */
  private def filledScixId(scixId: Column, bibData: Column): Column =
    when(scixId.isNotNull, scixId)
      .otherwise(when(bibData.isNotNull, scixUdf(bibData)))

  private def mergeBatch(master: DataFrame, updates: Dataset[UpdateMessage]): UpsertResult = {
    val slotOf = MasterRecord.typeToSlot
    val typed = updates
      .withColumn("slot", element_at(typedLit(slotOf), col("mtype")))
      .filter(col("slot").isNotNull)
      // a slot-typed message with status=deleted CLEARS the slot
      // (adsmp/tasks.py:60-77 protobuf status handling); its payload is
      // irrelevant and nulled so the latest-wins pick carries the clear
      .withColumn("__del", coalesce(col("status") === "deleted", lit(false)))
      .withColumn("payload",
        when(col("__del"), lit(null).cast("string")).otherwise(col("payload")))

    // 1. latest payload + ts + delete flag per (bibcode, slot), pivoted
    //    wide in one agg
    val pivoted = typed
      .groupBy(col("bibcode"))
      .pivot("slot", slots)
      .agg(max_by(col("payload"), col("ts")).as("payload"), max(col("ts")).as("ts"),
        max_by(col("__del"), col("ts")).as("del"))
    // pivot with three aggs names columns `<slot>_payload` / `<slot>_ts` / `<slot>_del`

    val m = master.as("m")
    val u = pivoted.as("u")
    val joined = m.join(u, col("m.bibcode") === col("u.bibcode"), "full_outer")

    val key = coalesce(col("m.bibcode"), col("u.bibcode"))
    val slotCols = slots.flatMap { s =>
      // a clear beats the coalesce: `coalesce(null, old)` would silently
      // resurrect the old value the delete message asked to remove
      val del = coalesce(col(s"u.${s}_del"), lit(false))
      Seq(
        when(del, lit(null).cast("string"))
          .otherwise(coalesce(col(s"u.${s}_payload"), col(s"m.$s"))).as(s),
        coalesce(col(s"u.${s}_ts"), col(s"m.${s}_updated")).as(s"${s}_updated"))
    }
    val newestArrival = greatest(slots.map(s => col(s"u.${s}_ts")): _*)

    val merged = joined.select(Seq(
      filledId(col("m.id"), key).as("id"),
      key.as("bibcode"),
      col("m.scix_id").as("scix_id_old")) ++ slotCols ++ Seq(
      coalesce(col("m.created"), newestArrival).as("created"),
      greatest(col("m.updated"), newestArrival).as("updated"),
      col("m.processed").as("processed"),
      col("m.solr_processed").as("solr_processed"),
      col("m.metrics_processed").as("metrics_processed"),
      col("m.datalinks_processed").as("datalinks_processed"),
      col("m.solr_checksum").as("solr_checksum"),
      col("m.metrics_checksum").as("metrics_checksum"),
      col("m.datalinks_checksum").as("datalinks_checksum"),
      col("m.status").as("status")): _*)
      .withColumn("scix_id", filledScixId(col("scix_id_old"), col("bib_data")))
      .drop("scix_id_old")
      .select(masterColumns.map(col): _*)

    // 2. audit trail: pre-image per message (lag over arrival order,
    //    seeded with the pre-batch master value; only the three slots the
    //    reference stores old values for)
    val storedSlots = Seq("bib_data", "nonbib_data", "orcid_claims")
    val w = Window.partitionBy(col("bibcode"), col("slot")).orderBy(col("ts"))
    val preImage = typed
      .join(master.select(col("bibcode"),
        col("bib_data").as("m_bib_data"), col("nonbib_data").as("m_nonbib_data"),
        col("orcid_claims").as("m_orcid_claims")), Seq("bibcode"), "left_outer")
      .withColumn("prev_in_batch", lag(col("payload"), 1).over(w))
      .withColumn("oldvalue",
        when(!col("slot").isin(storedSlots: _*), lit("not-stored"))
          .otherwise(coalesce(col("prev_in_batch"),
            when(col("slot") === "bib_data", col("m_bib_data"))
              .when(col("slot") === "nonbib_data", col("m_nonbib_data"))
              .when(col("slot") === "orcid_claims", col("m_orcid_claims")))))
      .select(col("bibcode").as("key"), col("mtype").as("ctype"),
        col("oldvalue"), lit(false).as("permanent"), col("ts"))

    UpsertResult(merged, preImage)
  }

  private val scixUdf = udf((bib: String) =>
    Option(bib).flatMap(b => ScixId.generate(SolrTransform.parse(b))).orNull)

  /** T18 maintenance sweep (adsmp/tasks.py:211-280, run.py --update-scix-id):
    * `update` assigns an id where one is missing and bib_data exists,
    * `force` regenerates for every record with bib_data (nulls those
    * without), `reset` nulls the column. `only` scopes the sweep to named
    * bibcodes (the non-`-all` CLI variants); rows outside the scope are
    * untouched. The unscoped sweep is one column rewrite with no shuffle;
    * a scoped run adds a marker left join against the key set (a shuffle
    * on bibcode at scale, never an isin literal). */
  def updateScixIds(master: DataFrame, flag: String,
      only: Option[DataFrame] = None): DataFrame = {
    require(Set("update", "force", "reset")(flag),
      s"scix-id flag must be update/force/reset, got $flag")
    // scope via a marker left join, not an isin literal — a -n file of a
    // million bibcodes must stay a join, never a million-node expression
    val (scoped, inScope) = only match {
      case Some(keys) =>
        (master.join(keys.select(col("bibcode")).distinct()
            .withColumn("__in_scope", lit(true)), Seq("bibcode"), "left"),
          coalesce(col("__in_scope"), lit(false)))
      case None => (master, lit(true))
    }
    val next = flag match {
      case "update" =>
        when(inScope && col("scix_id").isNull && col("bib_data").isNotNull,
          scixUdf(col("bib_data"))).otherwise(col("scix_id"))
      case "force" =>
        when(inScope && col("bib_data").isNotNull, scixUdf(col("bib_data")))
          .when(inScope, lit(null).cast("string"))
          .otherwise(col("scix_id"))
      case "reset" =>
        when(inScope, lit(null).cast("string")).otherwise(col("scix_id"))
    }
    scoped.withColumn("scix_id", next).drop("__in_scope")
  }

  /** Column order of the master snapshot (mirrors [[MasterRecord]]). */
  val masterColumns: Seq[String] =
    Seq("id", "bibcode", "scix_id") ++ slots ++ slots.map(_ + "_updated") ++
      Seq("created", "updated", "processed", "solr_processed",
        "metrics_processed", "datalinks_processed", "solr_checksum",
        "metrics_checksum", "datalinks_checksum", "status")

  /** An empty master snapshot with the canonical schema. */
  def emptyMaster(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[MasterRecord].toDF.select(masterColumns.map(col): _*)
  }

  /** M2 — cascading delete by bibcode (adsmp/app.py:237-277): remove the
    * master rows and their sitemap assignments, log the serialized old
    * record, and flag one surviving row per affected sitemap file so the
    * file regenerates. Anti-joins rewrite both tables; the per-file flag
    * is a rank-1 window (W2). */
  case class DeleteResult(master: DataFrame, sitemap: DataFrame, changeLog: DataFrame)

  def deleteByBibcodes(master: DataFrame, sitemap: DataFrame, doomed: DataFrame): DeleteResult = {
    val d = doomed.select(col("bibcode")).distinct()
    val newMaster = master.join(d, Seq("bibcode"), "left_anti")

    val affectedFiles = sitemap.join(d, Seq("bibcode"), "left_semi")
      .select(col("sitemap_filename"))
    val survivors = sitemap.join(d, Seq("bibcode"), "left_anti")
    // flag the min-id surviving row of each affected file — the shared W2
    // helper, so this path and the remove action flag identical survivors
    val newSitemap = SitemapState.flagSurvivors(survivors, affectedFiles)

    val log = master.join(d, Seq("bibcode"), "left_semi")
      .select(col("bibcode").as("key"), lit("deleted").as("ctype"),
        to_json(struct(col("*"))).as("oldvalue"), lit(true).as("permanent"),
        current_timestamp().as("ts"))
    DeleteResult(newMaster, newSitemap, log)
  }

  /** J7 — alias-chain resolution to fixpoint (adsmp/app.py:287-294,
    * 325-332): repoint every key to the terminal target of its chain.
    * A driver loop of self-joins with a convergence check; each step
    * halves the maximum chain depth (pointer doubling), so cycles/deep
    * chains converge in log rounds.
    *
    * An alias graph within the driver-size rule of
    * [[Components.driverRows]] (the usual case: identifier graphs are
    * small) is instead collected by one job and the same rounds are
    * replayed on the driver: each row joins every row whose key equals
    * its target, as the left-outer self-join does (so duplicate keys
    * multiply rows alike, and a null key or target never matches), with
    * the same `changed` rule and the same `maxIters` cap. The result is
    * the loop's multiset of rows, as a local frame. Should a replay round
    * outgrow the rule (duplicate keys multiply rows), the loop runs
    * instead, from the input. */
  def resolveAliases(aliases: Dataset[IdentifierAlias], maxIters: Int = 20): DataFrame = {
    val input = aliases.toDF("key", "target")
    val cap = Components.driverRows(input)
    val local =
      if (cap < 0) None
      else {
        val rows = input.limit(math.min(cap, Int.MaxValue - 1L).toInt + 1).collect()
          .map(r => (r.getString(0), r.getString(1)))
        if (rows.length > cap) None else replayAliases(rows, maxIters, cap)
      }
    local match {
      case Some(rows) =>
        val spark = aliases.sparkSession
        import spark.implicits._
        rows.toSeq.toDF("key", "target")
      case None => aliasLoop(input, maxIters)
    }
  }

  /** [[resolveAliases]]' rounds over collected rows; None once a round
    * would hold more than `cap` rows (sized before it is built). */
  private def replayAliases(rows: Array[(String, String)], maxIters: Int,
      cap: Long): Option[Array[(String, String)]] = {
    var current = rows
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val byKey = current.filter(_._1 != null).groupBy(_._1)
      if (current.iterator.map(r => byKey.get(r._2).fold(1L)(_.length)).sum > cap)
        return None
      var moved = 0L
      val next = current.flatMap { case (k, t) =>
        byKey.get(t) match {
          case None => Array((k, t)) // t is null or no key matches
          case Some(hops) => hops.map { case (_, bt) =>
            if (bt == null) (k, t)
            else { if (bt != t) moved += 1; (k, bt) }
          }
        }
      }
      current = next
      converged = moved == 0
      i += 1
    }
    Some(current)
  }

  private def aliasLoop(input: DataFrame, maxIters: Int): DataFrame = {
    var current = input
    var pinned: Option[DataFrame] = None
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      val step = current.as("a")
        .join(current.as("b"), col("a.target") === col("b.key"), "left_outer")
        .select(col("a.key"),
          coalesce(col("b.target"), col("a.target")).as("target"),
          // converged when no row's target actually moved this round (a
          // hop into a self-loop terminal lands on the same target and
          // must not count, or fixpoints would never be detected)
          (col("b.target").isNotNull && col("b.target") =!= col("a.target")).as("changed"))
      // the Components.assign round shape: convergence detection rides
      // the SAME job that materializes the round (Pins.checkpointCounting
      // counts moved rows as they stream past), so no separate probe job
      // runs per round. The checkpoint also truncates lineage: a cached
      // round keeps its whole plan, and each round's self-join DOUBLES it,
      // so the caller's final plan would carry 2^rounds copies of the seed
      // (~1,000 lines for m3_rename_alias's 5-row graph). Each round's pin
      // is released once the next one holds its rows; the last one is the
      // result.
      val (next, moved) = graft.Pins.checkpointCounting(step, "changed", "alias.round")
      pinned.foreach(graft.Pins.release)
      pinned = Some(next)
      current = next.drop("changed")
      converged = moved == 0
      i += 1
    }
    current
  }

  /** M3 — rename with alias-graph maintenance (adsmp/app.py:279-300):
    * master key update + new mapping edge + permanent ChangeLog row. */
  case class RenameResult(master: DataFrame, aliases: DataFrame, changeLog: DataFrame)

  def renameBibcode(master: DataFrame, aliases: Dataset[IdentifierAlias],
      oldBibcode: String, newBibcode: String): RenameResult = {
    val spark = master.sparkSession
    import spark.implicits._
    // repoint the whole existing chain at the new bibcode, then add old→new
    val repointed = aliases.toDF("key", "target")
      .withColumn("target",
        when(col("target") === oldBibcode, lit(newBibcode)).otherwise(col("target")))
      .unionByName(Seq((oldBibcode, newBibcode)).toDF("key", "target"))
      .distinct()
    val newMaster = master.withColumn("bibcode",
      when(col("bibcode") === oldBibcode, lit(newBibcode)).otherwise(col("bibcode")))
    val log = Seq((oldBibcode, "renamed", newBibcode, true))
      .toDF("key", "ctype", "oldvalue", "permanent")
      .withColumn("ts", current_timestamp())
    RenameResult(newMaster, repointed, log)
  }

  /** A3 — latest-wins duplicate merge (scripts/fix_db_duplicates.py:57-73):
    * collapse duplicate bibcode rows. Per slot the reference keeps the
    * value with the newest `<slot>_updated`, but only rows that HAVE the
    * value compete, the chosen timestamp travels with the chosen payload,
    * and a timestamp tie (including the all-null case) keeps the first
    * row — the reference merges the later rows INTO `recs[0]` and only
    * replaces a slot on a strictly newer timestamp. Every non-slot column
    * stays the first (min-id) row's value, because `process_bibcode` never
    * touches them. One hash aggregation; the struct ordering makes every
    * `max_by` deterministic (no arbitrary tie-winner under retries). */
  def mergeDuplicates(master: DataFrame): DataFrame = {
    val epoch = lit("1972-01-01").cast("timestamp")
    val slotAggs = slots.flatMap { s =>
      // (has value, newest slot ts, lowest id) — lexicographic max
      val ord = struct(col(s).isNotNull.as("has"),
        coalesce(col(s + "_updated"), epoch).as("t"), (-col("id")).as("tb"))
      Seq(max_by(col(s), ord).as(s),
        max_by(col(s + "_updated"), ord).as(s + "_updated"))
    }
    val firstRow = Seq("scix_id", "created", "updated", "processed",
      "solr_processed", "metrics_processed", "datalinks_processed",
      "solr_checksum", "metrics_checksum", "datalinks_checksum", "status")
      .map(f => min_by(col(f), col("id")).as(f))
    val aggs = Seq(min(col("id")).as("id")) ++ slotAggs ++ firstRow
    master.groupBy(col("bibcode"))
      .agg(aggs.head, aggs.tail: _*)
      .select(masterColumns.map(col): _*)
  }

  /** The sinks a delivery outcome stamps, in stamping order, each with the
    * master columns it owns: (processed timestamp, checksum). */
  val sinkColumns: Seq[(String, (String, String))] = Seq(
    "solr" -> ("solr_processed", "solr_checksum"),
    "metrics" -> ("metrics_processed", "metrics_checksum"),
    "links" -> ("datalinks_processed", "datalinks_checksum"))

  /** M4/ST6 — stamp one record with its delivery outcomes
    * (adsmp/app.py:381-468), per sink None (nothing delivered) or
    * (ok, delivered checksum). A record with any outcome gets `processed`
    * = now and, for each sink with one, `<sink>_processed` = now and either
    *   - on a failure: a None checksum and status `<sink>-failed`. The
    *     reference's `mark_processed(checksums=None)` nulls the column
    *     (app.py:465-468) so that a failed delivery re-drives: P4
    *     change-suppression cannot match a null;
    *   - otherwise the delivered checksum and status `success`.
    * `status` ends as the last stamped sink's, in [[sinkColumns]] order. A
    * record without outcomes comes back as it was. */
  def stamp(rec: MasterRecord, solr: Option[(Boolean, String)],
      metrics: Option[(Boolean, String)], links: Option[(Boolean, String)],
      now: java.sql.Timestamp): MasterRecord = {
    val outcomes = sinkColumns.map(_._1).zip(Seq(solr, metrics, links))
    if (outcomes.forall(_._2.isEmpty)) rec
    else {
      def at(o: Option[(Boolean, String)], old: Option[java.sql.Timestamp]) =
        if (o.isDefined) Some(now) else old
      def checksum(o: Option[(Boolean, String)], old: Option[String]) =
        o.fold(old) { case (ok, c) => if (ok) Option(c) else None }
      rec.copy(processed = Some(now),
        solr_processed = at(solr, rec.solr_processed),
        metrics_processed = at(metrics, rec.metrics_processed),
        datalinks_processed = at(links, rec.datalinks_processed),
        solr_checksum = checksum(solr, rec.solr_checksum),
        metrics_checksum = checksum(metrics, rec.metrics_checksum),
        datalinks_checksum = checksum(links, rec.datalinks_checksum),
        status = outcomes.foldLeft(rec.status) { case (status, (sink, o)) =>
          o.fold(status) { case (ok, _) => Some(if (ok) "success" else s"$sink-failed") }
        })
    }
  }
}
