package graft

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.records._
import graft.operators.{IndexJob, MergeEngine, Sitemap, SitemapCadence, SitemapMembers, SitemapState}
import graft.sources.{MasterStore, Sinks}
import graft.streaming.Watermark

/** The whole reference topology as one batch job (SURVEY.md §3):
  * ingest messages → merge into the master snapshot → eligibility gate →
  * one index pass that builds the three sink payloads, pushes them with
  * retry ladders and stamps processed/checksum/status per chunk of
  * records → next snapshot. What took the reference 13 Celery queues and
  * three databases is one batch over one snapshot store; every stage is
  * an operator tested on its own.
  */
object Pipeline {

  /** `merged` counts the batch's post-merge working set: the whole table
    * for a sweep-shaped run, the touched keys for a keyLocal queue batch.
    * `indexed` counts the due solr payloads, also when only the metrics or
    * links sink is selected; a merge-only run (no sink) builds no payload
    * and reports 0. */
  case class RunReport(
      version: Long,
      merged: Long,
      indexed: Long,
      solrOk: Long, solrFailed: Long,
      metricsOk: Long, linksOk: Long,
      boostOk: Long = 0L, boostFailed: Long = 0L,
      augmentOk: Long = 0L, augmentFailed: Long = 0L)

  /** One micro-batch: the batch analog of the reference's
    * `cron → reindex → task_index_records → sinks → mark_processed`.
    *
    * The merged master is read once, by one index pass
    * (IndexJob.deliver): each partition takes its due records in chunks
    * of the sink batch size, builds their payloads, sends them and emits
    * every row stamped, as reindex_records does per chunk
    * (adsmp/tasks.py:317-460). The pass is read once, in one of two shapes:
    *  - a forced full sweep (`force`, no `restrictTo`, neither `keyLocal`
    *    nor `keyedPublish`) with no messages and no metrics store: the
    *    snapshot write is the pass's only action. The store reads the
    *    snapshot, the pass rewrites every row and the bucketed write
    *    stores them with no cache and no repartition (MasterStore.rewrite),
    *    while a Spark Observation gathers the report's counts. Over a store
    *    with no live delta layer that is one Spark job with no shuffle,
    *    which PipelineSpec guards. A vanished-input retry inside the write
    *    re-runs the uncached pass and re-sends its payloads, safe because
    *    the sinks are idempotent (ST4); the report keeps the counts of the
    *    first complete run.
    *  - every other batch (keyed publishes, which need the outcome columns
    *    before the publish; a metrics store; messages): the pass is cached,
    *    one aggregation over it fires the transports and gives every count
    *    of the report, and the publish and the boost, augment and
    *    metrics-store legs read the cache.
    * The batch runs in one [[Pins.scope]], which releases every frame it
    * caches on every exit, exceptions included. */
  def runBatch(
      spark: SparkSession,
      store: MasterStore,
      updates: Dataset[UpdateMessage],
      solrTransport: Sinks.Transport,
      bulkTransport: Sinks.Transport,
      watermarkDir: Option[String] = None,
      force: Boolean = false,
      ignoreChecksums: Boolean = false,
      now: Timestamp = new Timestamp(0),
      metricsStore: Option[MasterStore] = None,
      sinks: Set[String] = Set("solr", "metrics", "links"),
      restrictTo: Option[Dataset[String]] = None,
      sinceOverride: Option[Timestamp] = None,
      updateProcessed: Boolean = true,
      forwardBoostRequests: Boolean = false,
      forwardAugmentRequests: Boolean = false,
      keyLocal: Boolean = false,
      changeLogDir: Option[String] = None,
      workRows: Option[DataFrame] = None,
      keyedPublish: Boolean = false,
      stageTimer: (String, Double) => Unit = (_, _) => ()): RunReport = {
    import spark.implicits._
    // stage attribution for callers that time the batch (perfbench's
    // traced reindex, the `ops` scale scenario's wave decomposition):
    // wall time between this batch's ACTIONS — "merge_read" covers the
    // doomed-key probe and any sink deletes, "publish" the index pass
    // (merge, gate, transform, sinks and stamp in the one job its counts
    // fire, or in the snapshot write itself for the forced full sweep),
    // then the layer write and the CAS + auto-compaction, "report"
    // what the report reads after the publish. Zero cost when left
    // defaulted.
    var stageT0 = System.nanoTime()
    def stage(name: String): Unit = {
      stageTimer(name, (System.nanoTime() - stageT0) / 1e9)
      stageT0 = System.nanoTime()
    }

    // keyLocal: the batch's working set is the UPDATES' key set, read via
    // the bucket-pruned keyed lookup — per-batch compute and scan cost
    // ∝ batch, never ∝ table. This is the reference's queue-consumer
    // shape (task_index_records fetches exactly the message's rows,
    // adsmp/tasks.py:300-360); the table-wide gate below is the CRON
    // sweep's shape (run.py reindex), which passes keyLocal=false. The
    // two select identical rows for a queue batch: an untouched record's
    // `updated` did not move, so P1's processed-vs-updated gate excludes
    // it from the table-wide sweep too — the subset drops only rows the
    // gate was about to drop. Publishes stay keyed regardless of `force`:
    // a full-table write from a subset frame would truncate the table.
    require(!keyLocal || restrictTo.isEmpty,
      "keyLocal reads the updates' keys; a restrictTo sweep is table-scoped")
    // workRows: the caller already HOLDS the key-local working set's live
    // rows (the change feed's rows for changed keys ARE the live rows —
    // latest-generation-wins on both sides), so the keyed store lookup is
    // skipped entirely. Caller contract: master-schema
    // rows, exactly the live row per working key, covering the updates'
    // keys too (the feed sweep's updates are empty). Same snapshot-then-
    // publish race window as the keyed lookup it replaces — both read
    // before the CAS publish, under the single-cron-writer contract
    require(workRows.isEmpty || keyLocal,
      "workRows is the key-local working set; a table-wide sweep scans anyway")

    // ST1: incremental window from the stored watermark; an explicit
    // --since wins over it (run.py's -s), and a targeted -b/-n run passes
    // neither — named bibcodes bypass the window entirely
    val since = sinceOverride.orElse(
      watermarkDir.flatMap(Watermark.read(spark, _, "last.reindex.normal")))

    // a metadata message with status=deleted deletes the whole record
    // (the reference routes it to task_delete_documents,
    // adsmp/tasks.py:60-77): drop the row after the merge and fan the
    // delete out to the sinks (S11). Slot-level deleted messages are
    // handled inside the upsert (slot clear). Sitemap state is swept by
    // the cleanup pass, which treats vanished records as invalid.
    // coalesce: status is usually null, and `mtype === "metadata" && null`
    // is NULL, which !filter would silently DROP — not keep
    val isFullDelete = col("mtype") === "metadata" &&
      coalesce(col("status") === "deleted", lit(false))
    // a batch whose plan holds no rows (the sweeps' empty batch) is known
    // empty without a job
    val noMessages = updates.queryExecution.optimizedPlan.maxRows.contains(0L)
    // a batch that throws in a long-lived driver (`Cli --consume`) leaves
    // no working set in executor storage
    Pins.scope("runBatch") {
      // the doomed set stays a Dataset end-to-end: anti-join for the row
      // drop, distributed count to fire the sink deletes — a mass-deletion
      // batch must never become a driver list or an isin literal (the same
      // scale bug class the -n/--index_failed paths already fixed). A probe
      // for one full delete comes first, so the usual batch, which has
      // none, caches nothing and shuffles nothing for it
      val doomed =
        if (noMessages || updates.filter(isFullDelete).head(1).isEmpty) None
        else Some(Pins.cache(updates.filter(isFullDelete)
          .select(col("bibcode")).distinct().as[String], "runBatch.doomed"))
      // the forced full sweep (run.py -f over the whole table, the
      // rebuild-collection loop) with no messages and no metrics store: the
      // snapshot write is the only reader of the index pass
      val oneAction = force && restrictTo.isEmpty && !keyLocal && !keyedPublish &&
        noMessages && metricsStore.isEmpty
      // M1 merge, P1-P3 gate and the index pass over one read of the master
      def indexPass(baseMaster: DataFrame): (MergeEngine.UpsertResult, DataFrame) = {
        val merged = MergeEngine.upsert(baseMaster, updates.filter(!isFullDelete))
        val master = doomed.fold(merged.master)(d =>
          merged.master.join(d.toDF("bibcode"), Seq("bibcode"), "left_anti"))
        // P1-P3 gate as a per-row due flag. The reference's `-f` sets force
        // AND ignore_checksums together (run.py:82-86): force widens
        // eligibility, ignoreChecksums re-sends payloads whose checksum still
        // matches the stored one. A -b/-n bibcode list (restrictTo) narrows
        // the due rows to the named records through a marker join against the
        // key frame, never an isin literal: a hand-list stays a broadcast
        // join (AQE sees a tiny side), while a mass --index_failed re-drive
        // shuffles on bibcode like any other join — no million-literal plan,
        // no driver list
        val gate = IndexJob.eligible(since, force)
        val (rows, due) = restrictTo match {
          case Some(keys) =>
            (master.join(keys.toDF("bibcode").distinct().withColumn("__named", lit(true)),
              Seq("bibcode"), "left_outer"), gate && coalesce(col("__named"), lit(false)))
          case None => (master, gate)
        }
        // the index pass: every master row once, the due ones built into
        // payloads, delivered per chunk and stamped; the -r letters (s/m/l,
        // run.py:687-694) choose which sinks it sends to and stamps.
        // update_processed=False (app.py:381-430, run.py --update-processed)
        // still delivers but touches NO records-table state — no processed
        // timestamps, checksums, or statuses, success or failure. Every
        // action over the pass re-sends its payloads. That is safe, because
        // the sinks are idempotent by design (ST4: upsert semantics +
        // checksum change-suppression make duplicate deliveries no-ops),
        // but each read is a full delivery, so the pass is read once:
        // either cached or as the snapshot write's input
        (merged, IndexJob.deliver(rows, due, sinks, solrTransport, bulkTransport,
          ignoreChecksums, stampAt = if (updateProcessed) Some(now) else None))
      }
      // the batch's counts over the pass: `merged` counts the rows,
      // `indexed` the due solr docs (built but not sent when solr is not
      // selected, so -r m / -r l print the same count)
      val counted = Seq(count(lit(1)).as("merged"), count_if(col("indexed")).as("indexed"),
        count_if(col("solrOk")).as("solrOk"), count_if(!col("solrOk")).as("solrFailed"),
        count_if(col("metricsOk")).as("metricsOk"), count_if(col("linksOk")).as("linksOk"),
        count_if(col("metricsOk").isNotNull).as("metricsSent"))
      doomed.foreach(Sinks.deleteByBibcodes(_, Seq(solrTransport, bulkTransport)).count())

      // the batch's tail once its publish has landed: the change log, the
      // watermark and the report
      def finish(version: Long, counts: Map[String, Long], changeLog: DataFrame,
          boost: (Long, Long), augment: (Long, Long)): RunReport = {
        stage("publish")
        // The audit log the reference appends on every mutation in the same
        // transaction (ChangeLog, adsmp/models.py:127-141; written at
        // app.py:175 for upserts and :250 for deletes with the serialized old
        // record). Here the batch is the transaction: written AFTER the CAS
        // publish lands, stamped with the published generation so an auditor
        // can join log rows to snapshots. Pre-images come from the batch's
        // input snapshot (the generation retention window keeps it readable).
        // Append-only parquet, rows ∝ batch; auditors must treat it as
        // AT-LEAST-ONCE keyed by (key, version): redelivery appends the
        // replayed batch's rows again — the same property the reference's
        // per-task-run inserts have, and the `version` stamp makes replays
        // distinguishable instead of silently merged. The append is not
        // atomic with the CAS publish (the reference gets that from its DB
        // transaction); writing the log BEFORE the watermark advance closes
        // the loss window — a crash between publish and append leaves the
        // watermark un-advanced, so the redriven batch re-emits the missing
        // rows (as duplicates of any that did land, per the keying above)
        changeLogDir.foreach { dir =>
          changeLog.withColumn("version", lit(version))
            .write.mode("append").parquet(dir)
        }
        watermarkDir.foreach(Watermark.advance(spark, _, "last.reindex.normal", now))

        val report = RunReport(version, counts("merged"),
          indexed = counts("indexed"),
          solrOk = counts("solrOk"),
          solrFailed = counts("solrFailed"),
          metricsOk = counts("metricsOk"),
          linksOk = counts("linksOk"),
          boostOk = boost._1, boostFailed = boost._2,
          augmentOk = augment._1, augmentFailed = augment._2)
        stage("report")
        report
      }

      if (oneAction) {
        // one Spark action: the store reads the snapshot, the pass rewrites
        // every row and the bucketed write stores them, while an
        // Observation gathers the counts (MasterStore.rewrite: one job, no
        // shuffle, over a snapshot with no live delta layer). Nothing is
        // cached and nothing else reads the pass. A vanished-input retry
        // re-runs the pass and re-sends its payloads (the idempotent sinks
        // above); the report keeps the counts of the first complete run
        stage("merge_read")
        val observed = scala.collection.mutable.ArrayBuffer.empty[Observation]
        var changeLog: DataFrame = null
        val v = store.rewrite(spark, { base =>
          val (merged, pass) = indexPass(base)
          changeLog = merged.changeLog
          val o = Observation()
          observed += o
          pass.observe(o, counted.head, counted.tail: _*)
            .select(MergeEngine.masterColumns.map(col): _*)
        })
        val first = observed.find(_.future.isCompleted).getOrElse(observed.last)
        return finish(v, first.get.map { case (k, c) => k -> c.asInstanceOf[Long] },
          changeLog, (0L, 0L), (0L, 0L))
      }

      // M1 merge over the batch's keyed working set when keyLocal
      val baseMaster =
        if (keyLocal) workRows.getOrElse(store.lookupFrame(spark, updates.select(col("bibcode"))))
        else store.read(spark)
      val (merged, uncached) = indexPass(baseMaster)
      stage("merge_read")
      // cached: the report, the publish and the request legs all read the
      // pass. NOTE: cache is best-effort; an evicted/lost partition
      // recomputes and re-sends (the idempotent sinks above); a strict
      // once-only guarantee would require persisting the pass to durable
      // storage first
      val pass = Pins.cache(uncached, "runBatch.pass")
      val stamped = pass.select(MergeEngine.masterColumns.map(col): _*)
      // the counts in one aggregation over the pass, run first: it fires
      // the transports and fills the cache that every later read uses
      val row = pass.agg(counted.head, counted.tail: _*).head()
      val counts = row.getValuesMap[Long](row.schema.fieldNames.toIndexedSeq)

      // the reference queues a boost-pipeline request for every record an
      // ingest message touched (task_update_record/task_augment_record →
      // task_boost_request, adsmp/tasks.py:104-111), except for boost
      // responses themselves — forwarding those would loop the pipeline.
      // Delivery counts surface in the report: a dead bulk endpoint must
      // not silently lose the whole boost leg. The requests read the pass:
      // the stamp leaves every column they project as it was
      val boost =
        if (!forwardBoostRequests || noMessages) (0L, 0L)
        else {
          val touched = updates.filter(!isFullDelete && col("mtype") =!= "boost")
            .select(col("bibcode")).distinct()
          val requests = stamped.join(touched, Seq("bibcode"), "left_semi")
            .as[MasterRecord]
            .map(r => (r.bibcode, org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(IndexJob.boostRequest(r)))))
            .toDF("bibcode", "payload")
          val (ok, total) = Sinks.counts(Sinks.writeBulk(requests, bulkTransport))
          (ok, total - ok)
        }

      // a metadata update additionally requests affiliation augmentation
      // (tasks.py:192-196 — the aff pipeline answers with its own augment
      // message later); only records whose bib data carries a non-empty aff
      // list produce a request (app.py:628-653), so the builder's None rows
      // drop out before the send. In the reference this fires UNCONDITIONALLY
      // on metadata updates — only the boost leg is gated (by
      // IGNORED_BOOST_PAYLOAD_TYPES/TESTING_MODE) — so augment has its OWN
      // gate here rather than riding the boost flag
      val augment =
        if (!forwardAugmentRequests || noMessages) (0L, 0L)
        else {
          val metaTouched = updates.filter(!isFullDelete && col("mtype") === "metadata")
            .select(col("bibcode")).distinct()
          val requests = stamped.join(metaTouched, Seq("bibcode"), "left_semi")
            .as[MasterRecord]
            .flatMap(r => IndexJob.affAugmentRequest(r).map(j =>
              (r.bibcode, org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(j)))))
            .toDF("bibcode", "payload")
          val (ok, total) = Sinks.counts(Sinks.writeBulk(requests, bulkTransport))
          (ok, total - ok)
        }

      // S7's store leg: merge the due metrics payloads into the metrics
      // snapshot (whole-row replace per bibcode, MetricsTable semantics).
      // Skipped for idle batches — otherwise every checksum-suppressed
      // micro-batch would rewrite the whole metrics table to a new version.
      // The payloads are rebuilt from the pass's rows that delivered one
      // (the stamp leaves the metrics slot as it was)
      metricsStore.foreach { ms =>
        if (sinks("metrics") && counts("metricsSent") > 0) {
          val metrics = pass.filter(col("metricsOk").isNotNull)
            .select(MergeEngine.masterColumns.map(col): _*).as[MasterRecord]
            .flatMap(IndexJob.payload("metrics", _))
          // one metrics payload per master row, so the in-batch arrival
          // order is vacuous and a constant seq is exact — but only while
          // the master holds one row per bibcode. Guard it loudly: if a
          // duplicate ever reaches here, the upsert would silently become
          // nondeterministic. One tiny job over the cached pass.
          val dup = metrics.groupBy(col("bibcode")).count()
            .filter(col("count") > 1).limit(1).count()
          require(dup == 0, "metrics batch carries multiple rows per bibcode; " +
            "derive a real arrival seq before upserting")
          val incoming = metrics
            .map(p => graft.operators.MetricsTable.fromJson(p.bibcode, p.payload, now))
            .toDF().withColumn("seq", lit(0L))
          // keyed merge: only the due payloads' rows move, so the store
          // appends a delta layer ∝ batch instead of rewriting the table
          ms.writeMergeKeyed(spark, incoming.select(col("bibcode")), cur =>
            graft.operators.MetricsTable.upsert(cur, incoming))
        }
      }

      // Publish. The batch's net effect on the table is KEY-LOCAL: rows it
      // upserted (the update messages' bibcodes, incl. full-deletes) plus
      // rows it stamped (the rows with any delivery outcome). A keyed CAS
      // merge rebases exactly those rows over the LIVE snapshot, so a CLI
      // sweep that CAS-published mid-batch keeps its changes to every other
      // key — the lost-update window the old blind write left open is
      // closed, and the store appends a delta layer ∝ batch instead of
      // rewriting the table. For the batch's own keys the batch wins (its
      // payloads were delivered from its input snapshot — same per-row
      // last-writer-wins the reference's row-level transactions give). The
      // one remaining blind write is the forced FULL sweep (the
      // one-action shape above when it has no messages and no metrics
      // store), whose key set IS the corpus: a keyed rebase would write
      // the table twice (layer + immediate size-triggered compaction) for
      // the same outcome, so it keeps the primary-writer full-write
      // contract.
      // keyedPublish forces the delta-layer publish even for sweep-shaped
      // batches: whole-table writeMerge/write RESET the store's change-feed
      // horizon (a rewritten base is not separable into per-key layers), so
      // a feed-driven cadence that fell back to a table-wide sweep would
      // otherwise knock out its own feed and fall back forever. The price —
      // a table-sized layer plus the auto-compaction that folds it — is
      // paid once per fallback (bootstrap, or a consumer that outslept the
      // feed retention), and the retained fold history keeps the feed
      // continuous across it.
      val version =
        if (force && restrictTo.isEmpty && !keyLocal && !keyedPublish)
          store.write(stamped)
        else {
          val delivered = col("solrOk").isNotNull || col("metricsOk").isNotNull ||
            col("linksOk").isNotNull
          val stampKeys =
            if (!updateProcessed) updates.select(col("bibcode"))
            else updates.select(col("bibcode")).toDF()
              .unionByName(pass.filter(delivered).select(col("bibcode")))
          if (keyLocal)
            // queue batch: keys are the batch's — always a delta layer
            store.writeMergeKeyed(spark, stampKeys, _ =>
              stamped.join(stampKeys.distinct(), Seq("bibcode"), "left_semi"))
          else {
            val sk = Pins.cache(stampKeys.distinct(), "runBatch.stampKeys")
            val nKeys = sk.count()
            if (!keyedPublish && nKeys > 0 && nKeys * 2 >= counts("merged"))
              // sweep-shaped: the touched set IS most of the table, so a
              // delta layer would trip the size-triggered fold and write
              // the table TWICE (layer + compaction). One CAS whole-table
              // merge writes it once and still rebases the batch's rows
              // onto the live snapshot — concurrent key-local writers'
              // other keys survive a lost race (their changes re-apply
              // under writeMerge's re-resolve)
              store.writeMerge(spark, cur =>
                cur.join(sk, Seq("bibcode"), "left_anti")
                  .unionByName(stamped.join(sk, Seq("bibcode"), "left_semi")))
            else
              store.writeMergeKeyed(spark, sk, _ =>
                stamped.join(sk, Seq("bibcode"), "left_semi"))
          }
        }
      // the change log's rows: the upserts' pre-images and, for full
      // deletes, the deleted records as the input snapshot held them
      val deleteLog = doomed.map(d => baseMaster
        .join(d.toDF("bibcode"), Seq("bibcode"), "left_semi")
        .select(col("bibcode").as("key"), lit("deleted").as("ctype"),
          to_json(struct(baseMaster.columns.map(col).toIndexedSeq: _*))
            .as("oldvalue"),
          lit(false).as("permanent"), lit(now).as("ts")))
      finish(version, counts, deleteLog.foldLeft(merged.changeLog)(_ unionByName _),
        boost, augment)
    }
  }

  /** What a feed-driven sweep did: the underlying run report, the
    * generation cursor the NEXT sweep should pass as `fromGen` (resolved
    * BEFORE this sweep's own publishes, so changes landing mid-sweep are
    * re-seen rather than skipped — at-least-once, deduped by the P1/P4
    * gates), and whether discovery actually used the change feed or fell
    * back to the table-wide watermark scan. */
  case class FeedSweepReport(run: RunReport, nextFromGen: Long, usedFeed: Boolean)

  /** Watermark-store key for the feed sweep's generation cursor. */
  val GenCursorKey = "last.reindex.generation"

  /** IN-regime crossover for the sitemap cadence's keyed state reads —
    * pinned at the hard cap rather than left to lookupFrame's
    * layer-aware auto: a cadence wave is read ONCE against a low-layer
    * store (the cron compacts behind itself), so even the auto rule's
    * worst-case layer discount doesn't apply here, while the pushed IN +
    * key-sorted layout turns the read into row-group-skipped IO ∝ wave
    * instead of the semi-join regime's full column scan of the 28.8M-row
    * state. Waves beyond this degrade to the semi join — correct, just
    * table-priced. */
  val CadenceLookupMaxDriverKeys = 25000

  /** The cron sweep with ∝-delta work discovery: instead of the
    * reference's per-cadence filter over the FULL master snapshot
    * (run.py:147-159 — the P1 watermark scan, which pays the corpus every
    * cycle), discover the cadence's candidate set from the store's change
    * feed (`changesSince(fromGen)` — cost ∝ rows changed since the last
    * sweep, read from the retained delta layers alone) and run the
    * identical gate → index → sink → stamp cycle key-locally over exactly
    * those rows. At 100 TB this is the difference between a 5-minute
    * cadence that reads gigabytes and one that reads the table.
    *
    * Selection parity with the watermark scan (spec-pinned in
    * FeedSweepSpec): a record passes the P1 gate only if its `updated`
    * moved past the time watermark, and every mutation that moves
    * `updated` publishes a generation > the cursor the watermark run
    * recorded — so the feed's key set is a superset of the gate's
    * selection, and the SAME gate then filters both to the same rows.
    * Net-deleted keys are dropped (their sink deletes were fanned out by
    * the batch that deleted them; there is no master row left to index).
    * The feed's rows ARE the working set's live rows (the newest change is
    * the live version, and the horizon contract keeps every change past
    * the cursor readable), so they go to runBatch as `workRows` and the
    * keyed store lookup is skipped.
    *
    * The cursor follows the [[FeedCursor]] protocol: AHEAD fails loudly,
    * behind the feed horizon falls back to the table-wide watermark scan
    * (exactly the run the reference always does) and the report says so.
    * The fallback publishes keyed: a whole-table rewrite would reset the
    * feed horizon and strand the cadence in fallback mode forever (see
    * runBatch.keyedPublish).
    *
    * `force = true` deliberately bypasses feed discovery: a forced sweep
    * (run.py -f, the post-wipe full rebuild) means "the corpus", and
    * force widens the GATE — discovery must widen with it, or a forced
    * rebuild would silently re-send only the window's delta.
    *
    * Discovery is state-driven: a delivered row leaves the next window
    * only because its stamp advanced `processed` past `updated`, so a
    * sweep always stamps (the stampless run.py --update-processed mode is
    * the table-wide runBatch's). A sweep has no messages, so it writes no
    * change log.
    *
    * `fromGen = None` reads the persisted cursor from `watermarkDir`
    * under [[GenCursorKey]] (advanced here after every sweep) — the
    * turn-key cadence mode: the first sweep ever finds no cursor, runs
    * table-wide once, and every later sweep discovers ∝ delta. */
  def runFeedSweep(
      spark: SparkSession,
      store: MasterStore,
      solrTransport: Sinks.Transport,
      bulkTransport: Sinks.Transport,
      fromGen: Option[Long] = None,
      watermarkDir: Option[String] = None,
      force: Boolean = false,
      ignoreChecksums: Boolean = false,
      now: Timestamp = new Timestamp(0),
      metricsStore: Option[MasterStore] = None,
      sinks: Set[String] = Set("solr", "metrics", "links")): FeedSweepReport = {
    import spark.implicits._
    val cursor = new FeedCursor(spark, store, watermarkDir, GenCursorKey, "reindex", fromGen)
    val feedRows = if (force) None else cursor.changes
    val report = runBatch(spark, store, spark.emptyDataset[UpdateMessage],
      solrTransport, bulkTransport, watermarkDir = watermarkDir, force = force,
      ignoreChecksums = ignoreChecksums, now = now, metricsStore = metricsStore,
      sinks = sinks, keyLocal = feedRows.isDefined, workRows = feedRows,
      keyedPublish = feedRows.isEmpty)
    cursor.advance()
    FeedSweepReport(report, nextFromGen = cursor.live, usedFeed = feedRows.isDefined)
  }

  /** A change-feed consumer's cursor: the generation through which it has
    * consumed the store's feed, persisted under `key` in the consumer's own
    * watermark dir and registered with the store as `consumer`, so feed
    * retention covers it when it runs slow (compaction keeps history for
    * the oldest registered cursor up to the hard cap). The one protocol of
    * every feed consumer (the feed sweep, the sitemap cron):
    *
    *  - `live`, the store's generation, is read first, before the feed and
    *    before the consumer's own publishes, and is what [[advance]]
    *    persists: changes landing mid-run are re-seen by the next run, not
    *    skipped (at-least-once, deduped by the consumers' gates);
    *  - `from` is the explicit cursor, else the persisted one;
    *  - a cursor AHEAD of `live` (a recreated store under a surviving
    *    cursor) raises CursorAheadException here, against `live`, not by
    *    a second changesSince, whose own snapshot could race a concurrent
    *    publish past the cursor and turn the loud failure into a silent
    *    table-wide run that then REGRESSES the persisted cursor;
    *  - [[changes]] falls back (None) only on the typed behind-horizon
    *    condition ([[behindHorizon]]); any other failure propagates.
    *
    * Without a dir (a one-shot caller passing an explicit cursor) nothing
    * is persisted or registered: such a caller is not a standing
    * consumer. */
  final class FeedCursor(spark: SparkSession, store: MasterStore, dir: Option[String],
      key: String, consumer: String, explicit: Option[Long] = None) {
    val live: Long = store.currentVersion.getOrElse(0L)
    val from: Option[Long] = explicit.orElse(dir.flatMap(Watermark.readGen(spark, _, key)))
    for (f <- from if f > live)
      throw new MasterStore.CursorAheadException(f, live,
        s"feed cursor $f is AHEAD of the live generation $live at " +
          s"${store.root} — the store was recreated or the cursor " +
          "belongs to another store. Re-baseline and reset the cursor")

    /** The live rows (master columns) of the keys changed after `from`,
      * net deletes dropped; None with no cursor or behind the horizon. */
    lazy val changes: Option[DataFrame] = from.flatMap { f =>
      try Some(store.changesSince(spark, f)
        .filter(!col("_deleted")).drop("_deleted", "_gen"))
      catch { case _: MasterStore.FeedHorizonException => None }
    }

    def behindHorizon: Boolean = from.isDefined && changes.isEmpty

    /** Persists `live` as the cursor and registers it with the store. */
    def advance(): Unit = dir.foreach { d =>
      Watermark.advanceGen(spark, d, key, live)
      store.registerConsumerCursor(consumer, live)
    }
  }

  /** Continuous ingest (ST1 as Structured Streaming): every micro-batch of
    * update messages runs the [[queueBatch]] body against the snapshot
    * store. The checkpoint gives at-least-once delivery; checksum
    * suppression (P4) and the upsert merge make replayed batches no-ops
    * (ST4), so end-to-end the pipeline is effectively exactly-once without
    * coordination. */
  def runStream(
      spark: SparkSession,
      store: MasterStore,
      updates: Dataset[UpdateMessage],
      solrTransport: Sinks.Transport,
      bulkTransport: Sinks.Transport,
      checkpointDir: String,
      forwardBoostRequests: Boolean = false,
      forwardAugmentRequests: Boolean = false,
      metricsStore: Option[MasterStore] = None,
      sinks: Set[String] = Set("solr", "metrics", "links"),
      changeLogDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[UpdateMessage], _: Long) =>
        queueBatch(spark, store, batch, solrTransport, bulkTransport,
          new Timestamp(System.currentTimeMillis()), metricsStore, sinks,
          forwardBoostRequests, forwardAugmentRequests, changeLogDir)(identity)
        ()
      }
      .start()

  /** One queue micro-batch: the body of every queue consumer
    * (`runStream`'s micro-batches, `Cli --ingest` and `--consume`), the
    * reference's one worker (adsmp/tasks.py:32-46).
    *
    * The batch is pinned once and `messagesOf` turns the pin into the
    * batch's update messages (a consumer that decodes raw envelopes
    * quarantines its rejects there), so runBatch's legs read the pin and
    * the source is read once. The batch runs key-local: it reads, gates
    * and publishes only its own keys, so its cost is ∝ batch (the
    * table-wide sweep stays the cron's job, as in the reference).
    *
    * Then the retention-driven maintenance of the publish cadence: without
    * it a 5-minute-cadence consumer accumulates one superseded generation
    * per batch without bound (the reference's Postgres overwrites rows in
    * place and never has this class of garbage). retain = 2 keeps one
    * superseded snapshot for slow in-flight readers — vacuum is
    * file-granular, so base files carried forward by reference survive and
    * an overlapped reader keeps working (MasterStoreSpec pins this); the
    * rare reader beyond the window retries via the vanished-input class.
    * The orphan sweep with the cadence grace removes crashed or CAS-losing
    * attempt dirs older than an hour; an in-flight writer's dir has fresh
    * mtimes and survives. Driver-side file ops only, zero Spark jobs.
    * Maintenance never fails a LANDED batch (its merge and deliveries are
    * already durable, the same discipline as writeMergeKeyed's
    * post-publish compaction): a vacuum racing a concurrent writer's own
    * cleanup is logged and retried by the next batch. NonFatal only: an
    * OOM or interrupt mid-maintenance still fails the batch. */
  private[graft] def queueBatch[T](
      spark: SparkSession,
      store: MasterStore,
      batch: Dataset[T],
      solrTransport: Sinks.Transport,
      bulkTransport: Sinks.Transport,
      now: Timestamp,
      metricsStore: Option[MasterStore],
      sinks: Set[String],
      forwardBoostRequests: Boolean,
      forwardAugmentRequests: Boolean,
      changeLogDir: Option[String])(
      messagesOf: Dataset[T] => Dataset[UpdateMessage]): RunReport = {
    val report = Pins.scope("queueBatch") {
      runBatch(spark, store, messagesOf(Pins.cache(batch, "queueBatch.batch")),
        solrTransport, bulkTransport, now = now, metricsStore = metricsStore,
        sinks = sinks, forwardBoostRequests = forwardBoostRequests,
        forwardAugmentRequests = forwardAugmentRequests, keyLocal = true,
        changeLogDir = changeLogDir)
    }
    try (store +: metricsStore.toSeq).foreach(_.vacuum(alsoOrphans = true, retain = 2,
      orphanGraceMs = MasterStore.CadenceOrphanGraceMs))
    catch {
      case scala.util.control.NonFatal(t) => System.err.println(
        "[pipeline] post-batch vacuum failed (the batch is safe; the next " +
          s"batch re-runs maintenance): $t")
    }
    report
  }

  /** State-driven sitemap regeneration (the reference's
    * task_update_sitemap_files → task_generate_single_sitemap →
    * task_generate_sitemap_index chain, tasks.py:1111-1182,969-1108):
    * render every file with at least one flagged row — all its member
    * rows — into each site's tree, then stamp the generated files
    * (filename_lastmoddate = now, flag cleared) and advance the state
    * store. The per-site index lists ALL files in the state with
    * lastmod = max member bib_data_updated, so untouched files keep
    * their index entry and lastmod. Returns the regenerated file count
    * and the [[SitemapCadence]] summary of the post-run state, derived
    * from the SAME per-file aggregation the site indexes already need —
    * the cron persists it so the next feed-driven cadence skips the
    * table-wide state reads entirely ([[runSitemapCadenceKeyed]]). */
  def runManagedSitemaps(spark: SparkSession, stateStore: MasterStore,
      outRoot: String, now: Timestamp,
      maxPerFile: Int = Sitemap.MaxRecordsPerSitemap,
      memberIndex: Option[SitemapMembers] = None): (Long, SitemapCadence.Summary) =
    Pins.scope("runManagedSitemaps") {
      val today = new java.text.SimpleDateFormat("yyyy-MM-dd").format(now)
      val state0 = Pins.cache(stateStore.read(spark), "sitemaps.state")
      val work = Pins.cache(SitemapState.renderable(state0, today), "sitemaps.work")
      val files = work.select(col("sitemap_filename")).distinct()
        .collect().map(_.getString(0)) // bounded: ≤ corpus / maxPerFile names
      for ((key, site) <- Sitemap.Sites)
        Sitemap.writeFiles(Sitemap.renderFiles(work, site), s"$outRoot/$key")
      // index entries for EVERY file in the table (tasks.py:888-899), not
      // just the regenerated ones; one tiny aggregation — the same pass
      // yields the cadence summary's per-file stats and fill cursor
      val (summary0, _) = SitemapCadence.rebuild(state0, 0L, maxPerFile)
      writeSiteMeta(spark, outRoot, summary0, today)
      import spark.implicits._
      // generated-flag clears are key-local (exactly the rendered files'
      // member rows), and the stamped rows are PRECOMPUTED from the cached
      // state0 — the same rows the render read — so the store's internal
      // keyed reconcile never evaluates (one fewer table scan per
      // regeneration). The closure ignoring `cur` makes this publish
      // SINGLE-WRITER by contract: a row another writer removed or
      // re-flagged between the render and this stamp would be overwritten
      // with the snapshot's version. That contract is enforced by the CLI's
      // shared sitemap cron lease (CronLease — every sitemap-state-writing
      // action takes it), not merely assumed; raw API users running
      // concurrent mutations must keep the `cur =>` rebase form instead
      val touchedRows = Sitemap.filesNeedingUpdate(state0)
      stateStore.writeMergeKeyed(spark, work.select(col("bibcode")),
        _ => SitemapState.markGenerated(touchedRows,
          files.toSeq.toDF("sitemap_filename"), now))
      // the full render already holds the whole table — rebuild the member
      // index in the same pass (the post-merge table IS state0 with the
      // rendered files' rows stamped), so the NEXT keyed cadence starts
      // with a fresh mirror instead of paying its own resync scan
      memberIndex.foreach { mi =>
        mi.store.write(SitemapState.markGenerated(state0,
          files.toSeq.toDF("sitemap_filename"), now))
        mi.commit(stateStore.currentVersion.getOrElse(0L))
      }
      (files.length.toLong,
        summary0.copy(generation = stateStore.currentVersion.getOrElse(0L)))
    }

  /** Per-site static sitemap + index + robots, shared by the full and the
    * keyed regeneration paths — the index lists only files physically
    * present in THIS site's tree (tasks.py:930-936): one listStatus per
    * site instead of the reference's per-filename os.path.exists —
    * ≤ corpus/50k names would otherwise mean tens of thousands of
    * sequential driver RPCs per regeneration cycle on HDFS/object
    * stores. */
  private def writeSiteMeta(spark: SparkSession, outRoot: String,
      summary: SitemapCadence.Summary, today: String): Unit = {
    val allFiles = summary.files
      .map(f => f.name -> summary.lastmodOf(f, today)).sortBy(_._1)
    for ((key, site) <- Sitemap.Sites) {
      val dir = new org.apache.hadoop.fs.Path(s"$outRoot/$key")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      def put(name: String, content: String): Unit = {
        val out = fs.create(new org.apache.hadoop.fs.Path(dir, name), true)
        try out.write(content.getBytes("UTF-8")) finally out.close()
      }
      put("sitemap_static.xml", Sitemap.renderStaticSitemap(site))
      val onDisk = fs.listStatus(dir).map(_.getPath.getName).toSet
      val present = allFiles.filter { case (name, _) => onDisk(name) }
      put("sitemap_index.xml", Sitemap.renderIndex(site, present,
        staticFirst = Seq("sitemap_static.xml" -> today)))
      put("robots.txt", Sitemap.renderRobots(site))
    }
  }

  /** The feed-driven sitemap cadence with STATE access ∝ delta — the
    * companion of the feed-driven DISCOVERY: instead of reconciling the
    * full sitemap state every cron (the flag anti-join, the fill
    * aggregation, the render worklist, the index lastmods) after
    * discovering the due set from the master change feed, this path
    * answers all four key-locally:
    *
    *  - due keys' current flags/existence: one bucket-pruned
    *    [[MasterStore.lookupFrame]] (files of other buckets never open);
    *  - the global fill cursor: carried in the persisted
    *    [[SitemapCadence.Summary]] and advanced arithmetically by the
    *    batch's new-assignment count ([[SitemapState.advanceFill]]);
    *  - the render worklist: affected files = files holding a flagged due
    *    row (from the addKeyed output already in hand) plus any
    *    stale-flagged files the summary rebuild surfaced — their member
    *    rows come from the [[SitemapMembers]] file-ordinal index (IO ∝
    *    touched files: only their buckets' files open,
    *    [[SitemapMembers.membersOf]]), overlaid with this run's merged
    *    rows, and the whole cadence then publishes ONE keyed merge per
    *    store (identical key/row frames to both layouts) at the end;
    *  - the index lastmods: untouched files keep their summary stats
    *    (valid by the generation check), affected files recompute EXACTLY
    *    from the member rows the render already has in hand.
    *
    * Correctness never rests on the summary being fresh: the caller
    * validates its generation against the live store and rebuilds (one
    * scan, surfacing stale flags) on any out-of-band mutation — see
    * [[SitemapCadence]] for the invariant. Returns the regenerated file
    * count and the NEXT summary (stamped with the post-run generation)
    * for the caller to persist. */
  def runSitemapCadenceKeyed(
      spark: SparkSession,
      stateStore: MasterStore,
      outRoot: String,
      now: Timestamp,
      dueMaster: DataFrame,
      summary: SitemapCadence.Summary,
      memberIndex: SitemapMembers,
      staleFlaggedFiles: Seq[String] = Nil,
      maxPerFile: Int = Sitemap.MaxRecordsPerSitemap): (Long, SitemapCadence.Summary) = {
    import spark.implicits._
    val today = new java.text.SimpleDateFormat("yyyy-MM-dd").format(now)
    // the member index mirrors the primary ∝ delta below; a stale mirror
    // (out-of-band mutation, crash between the primary publish and the
    // stamp, or a brand-new index) pays ONE resync scan HERE — before any
    // of this run's writes — and is exact from then on
    if (!memberIndex.isFresh(stateStore.currentVersion.getOrElse(0L)))
      memberIndex.resync(spark, stateStore)
    val dueKeys = dueMaster.select(col("bibcode")).distinct()
    // THE one keyed state read of the cadence: the due keys' current rows,
    // all columns, with the crossover raised so a cadence-sized wave stays
    // in the pushed-IN regime — the keys' literals reach the parquet scan
    // and the key-sorted-within-bucket layout skips row groups, where the
    // semi-join regime would column-scan the whole table. Everything else
    // the cadence needs (flag anti-join, new-assignment count, the
    // post-merge rows) derives from this frame and the merge's own output,
    // never from re-reading the store
    Pins.scope("runSitemapCadenceKeyed") {
      val preRows = Pins.cache(stateStore.lookupFrame(spark, dueKeys,
        maxDriverKeys = CadenceLookupMaxDriverKeys), "cadence.preRows")
      val due = Pins.cache(dueKeys.join(preRows.filter(col("update_flag"))
        .select(col("bibcode")), Seq("bibcode"), "left_anti"), "cadence.due")
      val newCnt = SitemapState.countNewAssignments(dueMaster, due, preRows)
      val fill = summary.fill
      val dueRows = preRows.join(due, Seq("bibcode"), "left_semi")
      // the merged rows are computed ONCE, from the rows already in hand,
      // and handed to the store as-is: the closure ignoring `cur` keeps
      // writeMergeKeyed's internal keyed reconcile unevaluated (lazy), so
      // the publish costs the layer write alone — the same
      // precomputed-rows publish contract runBatch's stamp publish uses,
      // under the same single-cron-writer assumption
      val newRows = Pins.cache(SitemapState.addKeyed(dueRows, dueMaster, due, fill,
        maxPerFile), "cadence.newRows")
      val nextFill = SitemapState.advanceFill(fill, newCnt, maxPerFile)
      // the merge output IS the post-merge state of the due keys. TWO
      // file sets fall out: the RENDER set (files holding a flagged due
      // row, plus the stale-flagged carryover) and the wider STATS set
      // (every file holding ANY due row) — a non-flagged hit still
      // refreshes the row's bib_data_updated, so its file's index lastmod
      // can move without the file being rendered, and the summary must
      // track that exactly or the keyed index diverges from the full
      // recompute
      val flaggedFiles = newRows.filter(col("update_flag"))
        .select(col("sitemap_filename")).distinct()
        .collect().map(_.getString(0)).toSeq
      val dueFiles = newRows.filter(col("sitemap_filename").isNotNull)
        .select(col("sitemap_filename")).distinct()
        .collect().map(_.getString(0)).toSeq
      val renderSet = (flaggedFiles ++ staleFlaggedFiles).distinct.sorted
      val statSet = (dueFiles ++ staleFlaggedFiles).distinct.sorted
      if (statSet.isEmpty) {
        // nothing moved: statSet empty means no due key HAS or GAINS a
        // state row, so the publish this run would make is pure
        // never-present-key tombstones — reconciled away on read. Skip
        // it on both stores (less feed noise than an empty merge,
        // identical live state); the per-site static/index/robots still
        // refresh, as the full path's would
        writeSiteMeta(spark, outRoot, summary, today)
        memberIndex.commit(stateStore.currentVersion.getOrElse(0L))
        return (0L, summary.copy(
          generation = stateStore.currentVersion.getOrElse(0L),
          fillIndex = nextFill.index, fillCount = nextFill.count))
      }
      // member rows of the touched files (a whole file regenerates when
      // any member changed; output rows bounded by files touched ×
      // maxPerFile): the member index opens the touched files' BUCKETS
      // only — IO ∝ touched files, the reference's indexed member fetch
      // (tasks.py:986-990). The read is PRE-publish (the cadence
      // publishes ONCE, at the end, to each store): overlay this run's
      // newRows for the due keys — both frames are in hand, ∝ delta — so
      // the view equals the post-publish state exactly
      val members = Pins.cache(memberIndex.membersOf(spark, statSet)
        .join(due, Seq("bibcode"), "left_anti")
        .unionByName(newRows.filter(col("sitemap_filename").isin(statSet: _*))),
        "cadence.members")
      val renderMembers = Pins.cache(members
        .filter(col("sitemap_filename").isin(renderSet: _*)), "cadence.renderMembers")
      val work = renderMembers.select(col("record_id").as("id"), col("bibcode"),
        col("sitemap_filename"),
        coalesce(date_format(col("bib_data_updated"), "yyyy-MM-dd"), lit(today))
          .as("lastmod"))
      if (renderSet.nonEmpty)
        for ((key, site) <- Sitemap.Sites)
          Sitemap.writeFiles(Sitemap.renderFiles(work, site), s"$outRoot/$key")
      // exact per-file stats of every touched file from the members
      // already in hand; untouched files keep their summary stats (valid
      // by the generation check — nothing else wrote the state)
      val touchedStats = members.groupBy(col("sitemap_filename"))
        .agg(max(date_format(col("bib_data_updated"), "yyyy-MM-dd")).as("max_nn"),
          max(when(col("bib_data_updated").isNull, 1).otherwise(0)).as("nulls"))
        .collect().map(r => SitemapCadence.FileStat(r.getString(0),
          Option(r.getString(1)), r.getInt(2) > 0)).toSeq
      val statNames = statSet.toSet
      // a stale-flagged file emptied out-of-band (all members removed)
      // renders nothing and drops from the stats
      val files2 = (summary.files.filterNot(f => statNames(f.name)) ++ touchedStats)
        .sortBy(_.name)
      val next = SitemapCadence.Summary(0L, nextFill.index, nextFill.count, files2)
      writeSiteMeta(spark, outRoot, next, today)
      // ONE publish per store for the whole cadence, identical (keys,
      // rows) on both: the due keys' post rows — stamped where their
      // file was rendered, newRows' version elsewhere (every flagged row
      // is in a rendered file by construction, so no flag survives
      // unrendered) — plus the rendered files' stamped members; a due
      // key with no row tombstones on both sides. Rows are precomputed
      // from frames already in hand (the closure ignores `cur`: no
      // second table read), under the single-writer contract the CLI
      // cron lease enforces. Crash windows: before the primary publish —
      // clean redrive (cursor unadvanced, renders idempotent and
      // byte-identical); between primary and index publishes or before
      // the stamp — the mirror stamp goes stale and the next cadence
      // resyncs. The isNull guard keeps a hypothetical null-filename row
      // from being dropped by the NOT-isin (null ⇒ filter false), which
      // would tombstone a live key
      val stampedRows =
        if (renderSet.isEmpty) None
        else Some(SitemapState.markGenerated(renderMembers,
          renderSet.toDF("sitemap_filename"), now))
      val (pubKeys, pubRows) = stampedRows match {
        case Some(st) => (
          due.select(col("bibcode"))
            .unionByName(renderMembers.select(col("bibcode"))),
          st.unionByName(newRows.filter(col("sitemap_filename").isNull ||
            !col("sitemap_filename").isin(renderSet: _*))))
        case None => (due.select(col("bibcode")), newRows)
      }
      stateStore.writeMergeKeyed(spark, pubKeys, _ => pubRows)
      memberIndex.merge(spark, pubKeys, pubRows)
      memberIndex.commit(stateStore.currentVersion.getOrElse(0L))
      (renderSet.size.toLong,
        next.copy(generation = stateStore.currentVersion.getOrElse(0L)))
    }
  }
}
