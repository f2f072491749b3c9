package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.operators.{IndexJob, MergeEngine, Sitemap, SitemapState}
import graft.records.IdentifierAlias
import graft.sources.{MasterStore, Sinks}
import graft.streaming.Watermark

/** Operator-facing entry point shaped like the reference's `run.py`
  * (run.py:631-840 argument surface, :360-520 dispatch):
  *
  * {{{
  * graft.Cli --store /data/master --sitemap-store /data/smstate \
  *           --out /data/sitemaps <command...>
  *
  *   -d | --diagnostics             store versions + row counts
  *   -k | --kv                      show watermark KV values
  *   -r [sml] | --index [sml]       reindex due records (s=solr m=metrics
  *                                  l=links), with:
  *   --index-from-feed [sml]        the same sweep with ∝-delta work
  *                                  discovery from the store's change
  *                                  feed (persisted generation cursor;
  *                                  bootstraps table-wide on first run)
  *     -f | --force_indexing          force + ignore checksums (run.py:82-86)
  *     -o | --force_processing        force eligibility only
  *     --ignore_checksums             re-send unchanged payloads
  *     -s | --since <ISO ts>          override the watermark window
  *     -b | --bibcodes "b1 b2"        restrict to named bibcodes
  *     -n | --filename <file>         restrict to bibcodes listed in a file
  *     --solr-collection <name|url>   rewrite this run's SOLR targets
  *                                  (collection_to_urls, run.py:235-255)
  *   --ingest <file|dir>            decode + run one batch of raw JSON
  *                                  queue envelopes (rejects quarantined)
  *   --consume <spool-dir>          checkpointed streaming drain of a
  *                                  queue spool directory — the celery
  *                                  worker analog; re-invocations resume
  *                                  from the checkpoint (--checkpoint
  *                                  overrides its location)
  *   --metrics-store <root>         maintain the metrics snapshot table
  *                                  alongside deliveries (-r m, --ingest,
  *                                  --consume)
  *   --changelog <dir> | --no-changelog  relocate or disable the
  *                                  append-only mutation audit log the
  *                                  ingest/consume front door writes
  *                                  (default <store>-changelog; one row
  *                                  per message with the slot pre-image,
  *                                  stamped with the published generation)
  *   --delete (-b | -n)             cascade-delete the named bibcodes
  *   --classify [--classify_verify] (-b | -n)  queue classifier requests;
  *     --manual -n <csv>              batch-classify a header CSV
  *                                  (bibcode[,title[,abstract]]) in
  *                                  --classifier_batch groups with
  *                                  output_path stamping (app.py:728-772)
  *     --validate_classifier          dump the request message to a file
  *                                  instead of queueing it
  *   --manage-sitemap --action add|force-update|remove|bootstrap|
  *                              delete-table|update-robots  (-b | -n)
  *                                  mutate the sitemap state table; the
  *                                  modifying actions chain a file
  *                                  regeneration (run.py:500-510)
  *   --update-sitemap-files         regenerate flagged sitemap files only
  *   --update-sitemaps-auto [--days-back N]  the sitemap cron: flag
  *                                  records whose bib_data/solr state
  *                                  moved in the lookback, then regenerate
  *                                  — due-set discovery is ∝ delta via the
  *                                  master change feed once its persisted
  *                                  cursor exists (table-scan bootstrap
  *                                  otherwise), and the state write is
  *                                  then a key-local delta layer; the
  *                                  member rows of touched files come
  *                                  from the file-ordinal member index at
  *                                  <sitemap-store>-members, which one
  *                                  scan resyncs after any out-of-band
  *                                  change to the state
  *   --lease-ttl-min N              cron lease TTL (default 120): the
  *                                  sitemap-writing actions share one
  *                                  single-writer lease, --index-from-feed
  *                                  its own; a second concurrent cron is
  *                                  refused loudly, a crashed holder's
  *                                  lease expires after the TTL
  *   --report-docs f1,f2,...        project search-doc fields over the
  *                                  master snapshot through the COLUMNAR
  *                                  transform (pruned scan + pruned JSON
  *                                  parse; no typed map) and write the
  *                                  report as parquet to --report-out
  *                                  (default <store>-reports/docs)
  *   --changes-since G [--report-out D]  export the per-key net change
  *                                  between generation G (exclusive) and
  *                                  the live snapshot from the store's
  *                                  retained delta layers — cost ∝
  *                                  changed rows; fails loudly behind
  *                                  the compaction horizon
  *   --vacuum [--retain N] [--orphans [--orphan-grace-min M]]
  *                                  drop superseded store generations
  *                                  beyond the newest N (default 2) on
  *                                  master + sitemap (+ metrics) stores;
  *                                  --orphans also sweeps crashed-attempt
  *                                  dirs — immediately (quiesced windows
  *                                  only) or, with --orphan-grace-min M,
  *                                  only those idle longer than M minutes
  *                                  (concurrency-safe; cadence paths
  *                                  use 60)
  * }}}
  *
  * A numeric or timestamp flag with a bad value ([[checkValues]]) is a
  * usage error: exit 2, no store touched.
  *
  * All effects go through the injectable [[Deps]] so the whole surface is
  * spec-testable end-to-end against temp stores; `main` wires stdout
  * logging transports (this build has no live HTTP sink).
  */
object Cli {

  case class Deps(
      solrTransport: Sinks.Transport,
      bulkTransport: Sinks.Transport,
      now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
      out: String => Unit = println(_),
      // -x/--rebuild-collection needs a live sink admin surface; absent
      // (e.g. this sandbox has no SOLR), the command reports unavailable.
      // Config/sleep/clock are injectable so specs run the monitor's
      // multi-minute cadences on a virtual clock
      rebuildProbe: Option[graft.operators.Rebuild.StatusProbe] = None,
      rebuildCfg: graft.operators.Rebuild.Config = graft.operators.Rebuild.Config(),
      rebuildSleep: Long => Unit = Thread.sleep(_),
      rebuildClock: () => Long = System.currentTimeMillis _,
      // -c/--validate_solr compares an old and a new search core; like the
      // rebuild probe, the two per-document fetchers are injected (the
      // sandbox has no live cores)
      validateFetchers: Option[(graft.operators.ValidateSolr.DocFetcher,
        graft.operators.ValidateSolr.DocFetcher)] = None,
      // --solr-collection resolves against these configured update URLs
      // (the reference's SOLR_URLS, config.py) via collection_to_urls;
      // the factory builds a transport per resolved target URL
      solrUrls: Seq[String] = Seq("http://localhost:9983/solr/collection1/update"),
      solrTransportFor: String => Sinks.Transport =
        url => new LogTransport(s"solr@$url", println(_)),
      // --classify --validate_classifier dumps the request message here
      // instead of queueing it (the reference writes
      // ./classifier_request.json, app.py:758-764)
      classifierRequestFile: String = "classifier_request.json")

  class LogTransport(name: String, out: String => Unit) extends Sinks.Transport {
    def send(payloads: Seq[String]): Unit =
      out(s"[$name] delivered batch of ${payloads.size}")
  }

  def main(argv: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("graft-cli")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
    // ST8: FAIR pools so a --priority run is not starved behind bulk jobs
    graft.operators.Scheduling.fairSessionConfigs()
      .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    val deps = Deps(new LogTransport("solr", println),
      new LogTransport("bulk", println))
    val rc = run(spark, argv.toIndexedSeq, deps)
    spark.stop()
    if (rc != 0) sys.exit(rc)
  }

  /** Parse + dispatch; returns a process exit code. The command runs in one
    * [[Pins.scope]]: every frame it pins (the -b/-n key set, the sitemap
    * ordinals) is released on every exit path. */
  def run(spark: SparkSession, argv: Seq[String], deps: Deps): Int =
    Pins.scope("Cli.run")(dispatch(spark, argv, deps))

  private def dispatch(spark: SparkSession, argv: Seq[String], deps: Deps): Int = {
    import deps.out
    val a = parse(argv).flatMap(checkValues) match {
      case Right(v) => v
      case Left(err) => out(s"error: $err"); return 2
    }
    val storeRoot = a.getOrElse("store",
      { out("error: --store <root> is required"); return 2 })
    val store = new MasterStore(storeRoot)
    val sitemapRoot = a.getOrElse("sitemap-store", s"$storeRoot-sitemap")
    def sitemapStore = new MasterStore(sitemapRoot, empty = SitemapState.empty)
    def outRoot = a.getOrElse("out", s"$storeRoot-sitemaps")
    // --metrics-store <root>: maintain the metrics snapshot table (the
    // reference's metrics Postgres DB) alongside the sink deliveries;
    // absent, the index runs deliver to the bulk transport only
    val metricsStoreOpt = a.get("metrics-store").map(r =>
      new MasterStore(r, empty = graft.operators.MetricsTable.emptyTable))
    val now = deps.now()

    // Single-writer lease around the cron entry points (the reference's
    // scripts/reindex.py:52-58 / cleanup_sitemaps.py:90-99 lockfiles):
    // every action that mutates the sitemap state shares ONE lease (the
    // fill cursor and the cadence's precomputed-rows publishes are
    // single-writer semantics across all of them — add, remove, cleanup,
    // cascade delete, the cadence itself), and the feed-driven index
    // sweep takes its own (two overlapping sweeps would race the reindex
    // cursor dir's non-CAS swap). A crashed holder's lease expires after
    // --lease-ttl-min (default 120); a live one fails the second cron
    // loudly, naming the holder, with state untouched.
    def withLease(root: String, file: String, owner: String)(body: => Int): Int = {
      val lease = new graft.sources.CronLease(java.nio.file.Paths.get(root, file),
        a.get("lease-ttl-min").fold(120L)(_.toLong) * 60000L)
      lease.tryAcquire(owner) match {
        case Left(held) =>
          out(s"error: another cron holds the lease: ${held.describe}. " +
            "Wait for it to finish; if it is certainly dead, delete the " +
            "lease file or pass a smaller --lease-ttl-min")
          2
        case Right(()) => try body finally lease.release()
      }
    }
    def withSitemapLease(owner: String)(body: => Int): Int =
      withLease(sitemapRoot, "cron.lease", owner)(body)

    // delete files the state no longer lists from every site tree
    // (tasks.py:639-641): --action remove and --cleanup-invalid-sitemaps
    def deleteFromSiteTrees(files: Seq[String]): Unit =
      for (f <- files; site <- Sitemap.Sites.keys) {
        val p = new org.apache.hadoop.fs.Path(s"$outRoot/$site/$f")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, false)
      }

    def namedBibcodes(): Seq[String] = {
      val fromList = a.get("bibcodes").toSeq.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      // S5 path: one bibcode per line (run.py:720-722)
      val fromFile = a.get("filename").toSeq.flatMap { f =>
        scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(java.nio.file.Paths.get(f))).asScala
          .map(_.trim).filter(_.nonEmpty)
      }
      (fromList ++ fromFile).distinct
    }

    // Distributed twin of namedBibcodes for the sweep commands: a -n file
    // is read as a Spark text source, so a million-line list never lands
    // on the driver — downstream selection is a left_semi join, not an
    // isin literal (the reference streams the same lists with yield_per,
    // run.py:431-436). The dataset is cached so every downstream action
    // sees ONE consistent materialization of the file (the delete path
    // evaluates it three times; a file mutated mid-run must not hand
    // different key sets to different jobs), and an existing-but-empty
    // file resolves to None so the '-b or -n' guards keep their exit-2
    // usage error instead of running a silent no-op.
    def namedBibcodesDS(): Option[org.apache.spark.sql.Dataset[String]] = {
      import spark.implicits._
      val fromList = a.get("bibcodes").toSeq.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      val listDs = if (fromList.nonEmpty) Some(fromList.toDS()) else None
      val fileDs = a.get("filename").map(f =>
        spark.read.textFile(f).map(_.trim).filter(_.nonEmpty))
      val combined = (listDs, fileDs) match {
        case (Some(l), Some(f)) => Some(l.union(f).distinct())
        case (Some(l), None)    => Some(l.distinct())
        case (None, Some(f))    => Some(f.distinct())
        case _                  => None
      }
      combined.flatMap { ds =>
        val pinned = Pins.cache(ds, "cli.keys")
        if (pinned.head(1).isEmpty) None else Some(pinned)
      }
    }
    def keysFlagged: Boolean = a.contains("bibcodes") || a.contains("filename")
    // usage error text: distinguish "no flag given" from "flag given but
    // the resolved key set is empty" (an empty -n file must not no-op)
    def needKeys(cmd: String): String =
      if (keysFlagged) s"error: $cmd resolved an empty bibcode set"
      else s"error: $cmd needs -b or -n"

    // --solr-collection (run.py:734-738, 1050): rewrite this run's SOLR
    // sink targets — the T22 URL rewrite applied to the configured update
    // URLs — and fan the batch out to every resolved target. Absent, the
    // run uses the configured default transport untouched.
    def solrSink(): Sinks.Transport = a.get("solr-collection").filter(_.nonEmpty) match {
      case None => deps.solrTransport
      case some =>
        val targets = Sinks.collectionToUrls(some, deps.solrUrls)
        out(s"reindexing to solr url ${targets.mkString(";")}")
        Sinks.fanout(targets.map(deps.solrTransportFor))
    }

    if (a.contains("diagnostics")) {
      val master = store.read(spark)
      out(s"store=$storeRoot version=${store.currentVersion.getOrElse(0L)} " +
        s"records=${master.count()}")
      val sm = sitemapStore
      out(s"sitemap-store version=${sm.currentVersion.getOrElse(0L)} " +
        s"entries=${sm.read(spark).count()}")
      return 0
    }

    if (a.contains("report-docs")) {
      // Columnar analytics surface over the master snapshot (SURVEY
      // §7.1(4)): the T1 fold's from_json twin projects the requested
      // search-doc fields per record WITHOUT the typed map — Catalyst
      // collapses SolrColumnar's struct into the projection, prunes the
      // from_json parse schemas to the accessed fields, and prunes the
      // parquet ReadSchema to the feeding payload columns (a 2-field
      // report over a 28.8M-row snapshot reads 3 columns, parses 2-key
      // schemas, and never materializes fulltext bytes). validated=true:
      // stored slots are parseable by construction — the ingest front
      // door quarantines malformed payloads (QueueDecode). The sink path
      // deliberately stays on the typed transform (checksums need the
      // canonical byte-exact render); this verb is the projection path.
      val fields = a("report-docs").split(",").map(_.trim).filter(_.nonEmpty)
        .toSeq.distinct
      if (fields.isEmpty) {
        out("error: --report-docs needs a comma-separated doc field list"); return 2
      }
      val known = graft.transform.SolrColumnar.DocFieldNames.toSet
      val unknown = fields.filterNot(known)
      if (unknown.nonEmpty) {
        out(s"error: unknown doc fields: ${unknown.mkString(",")}"); return 2
      }
      val dest = a.getOrElse("report-out", s"$storeRoot-reports/docs")
      graft.transform.SolrColumnar
        .project(store.read(spark), fields, validated = true)
        .write.mode("overwrite").parquet(dest)
      val n = spark.read.parquet(dest).count()
      out(s"report-docs: $n records x ${fields.size} fields " +
        s"(${fields.mkString(",")}) -> $dest")
      return 0
    }

    if (a.contains("changes-since")) {
      // Change-data feed for incremental downstream consumers: the
      // per-key net change between generation G (exclusive) and the live
      // snapshot, read from the store's retained delta layers alone —
      // cost ∝ changed rows, never ∝ table (MasterStore.changesSince;
      // reference analog: the ChangeLog table + run.py's changed-since
      // watermark selection, which pay an indexed table scan instead).
      // Behind the compaction horizon the verb fails loudly with the
      // first readable generation — re-baseline with a full export.
      val fromGen = a("changes-since").toLong
      val dest = a.getOrElse("report-out", s"$storeRoot-reports/changes")
      try {
        val feed = store.changesSince(spark, fromGen)
        feed.write.mode("overwrite").parquet(dest)
        // one aggregation pass over the written feed for both counts
        val c = spark.read.parquet(dest).agg(
          count(lit(1)),
          coalesce(sum(when(col("_deleted"), 1L).otherwise(0L)), lit(0L))).head()
        out(s"changes-since $fromGen: ${c.getLong(0)} changed keys " +
          s"(${c.getLong(1)} deleted) " +
          s"through v${store.currentVersion.getOrElse(0L)} -> $dest")
        return 0
      } catch {
        case e: IllegalStateException =>
          out(s"error: ${e.getMessage}"); return 1
      }
    }

    if (a.contains("vacuum")) {
      // Explicit maintenance verb for deployments that run the pipeline
      // as discrete batches (cron -r sweeps) where no streaming cadence
      // vacuums for them. --retain N keeps N newest generations (default
      // 2: the live one + one superseded window for slow readers);
      // --orphans additionally sweeps unreferenced crashed-attempt dirs;
      // without --orphan-grace-min it deletes them immediately, which is
      // for QUIESCED windows only (an in-flight writer's dir is
      // indistinguishable from a dead orphan by reference alone).
      // --orphan-grace-min N makes the sweep concurrency-safe: only
      // orphans whose newest mtime is older than N minutes are deleted
      // (the cadence paths use 60).
      val retain = a.get("retain").fold(2)(_.toInt)
      val orphans = a.contains("orphans")
      val graceMs = a.get("orphan-grace-min").fold(0L)(_.toLong * 60000L)
      def sweep(name: String, s: MasterStore): Unit = {
        val before = s.versions
        s.vacuum(alsoOrphans = orphans, retain = retain, orphanGraceMs = graceMs)
        val after = s.versions
        out(s"vacuum $name: ${before.size} -> ${after.size} generations " +
          s"(retained ${after.mkString(",")})")
      }
      sweep("master", store)
      sweep("sitemap-store", sitemapStore)
      metricsStoreOpt.foreach(sweep("metrics-store", _))
      return 0
    }

    if (a.contains("kv")) {
      val dir = a.getOrElse("watermark-dir", s"$storeRoot-watermarks")
      val v = Watermark.read(spark, dir, "last.reindex.normal")
      out(s"last.reindex.normal=${v.map(_.toString).getOrElse("(unset)")}")
      return 0
    }

    if (a.contains("consumers")) {
      // registry view of the feed consumers pinning retention: cursor,
      // registration age, staleness (a stale one no longer pins and
      // should be unregistered or its cron revived)
      val horizon = store.stats.map(_.feedFrom).getOrElse(0L)
      val cs = store.consumerCursorsDetailed.toSeq.sortBy(_._1)
      if (cs.isEmpty) out("no registered feed consumers")
      for ((name, c) <- cs)
        out(f"consumer $name: gen=${c.gen} age=${c.ageMs / 1000}s " +
          s"${if (c.stale) "STALE (no longer pins retention)"
              else if (c.gen < horizon) s"BEHIND horizon $horizon"
              else "ok"}")
      return 0
    }

    if (a.contains("unregister-consumer")) {
      val name = a("unregister-consumer")
      if (name.isEmpty) { out("error: --unregister-consumer <name>"); return 2 }
      if (!store.consumerCursors.contains(name)) {
        out(s"error: no registered consumer '$name' " +
          s"(have: ${store.consumerCursors.keys.toSeq.sorted.mkString(",") match {
            case "" => "none"; case s => s }})")
        return 2
      }
      store.unregisterConsumer(name)
      out(s"unregistered feed consumer $name (its retention pin ends at " +
        "the next fold; its own watermark dir is untouched)")
      return 0
    }

    if (a.contains("delete")) return withSitemapLease("delete") {
      val doomed = namedBibcodesDS().getOrElse(
        { out(needKeys("--delete")); return 2 })
      val sm = sitemapStore
      val (sinkOk, total) = Sinks.counts(Sinks.deleteByBibcodes(doomed,
        Seq(deps.solrTransport, deps.bulkTransport)))
      // each store CAS-merges its own delete against ITS current
      // snapshot (per-store deletes depend only on that store + the
      // doomed list), so a concurrent ingest landing mid-delete is
      // re-merged over, never overwritten. Cross-store atomicity is not
      // a thing two independent stores can offer — same as the
      // reference's two tables behind separate transactions
      val otherSm = sm.read(spark)
      store.writeMerge(spark, cur =>
        MergeEngine.deleteByBibcodes(cur, otherSm, doomed.toDF("bibcode")).master)
      val otherMaster = store.read(spark)
      sm.writeMerge(spark, curSm =>
        MergeEngine.deleteByBibcodes(otherMaster, curSm, doomed.toDF("bibcode")).sitemap)
      out(s"deleted $total bibcodes (sink ok=$sinkOk)")
      0
    }

    if (a.contains("manage-sitemap")) return withSitemapLease(
        s"manage-sitemap ${a.getOrElse("action", "?")}") {
      val action = a.getOrElse("action",
        { out("error: --manage-sitemap needs --action"); return 2 })
      val sm = sitemapStore
      import spark.implicits._
      action match {
        case "bootstrap" =>
          sm.writeMerge(spark, cur =>
            SitemapState.bootstrap(cur, store.read(spark)))
        case "add" | "force-update" =>
          val bibs = namedBibcodes()
          if (bibs.isEmpty) { out(s"error: --action $action needs -b or -n"); return 2 }
          sm.writeMerge(spark, cur => SitemapState.add(cur, store.read(spark),
            bibs.toDF("bibcode"), force = action == "force-update"))
        case "remove" =>
          val bibs = namedBibcodes()
          if (bibs.isEmpty) { out("error: --action remove needs -b or -n"); return 2 }
          // the file-deletion list must come from the snapshot the
          // published merge was computed from (a CAS-loss re-merge can
          // change it) — capture it inside the closure
          var removeFiles: Seq[String] = Nil
          sm.writeMerge(spark, { cur =>
            val res = SitemapState.remove(cur, bibs.toDF("bibcode"))
            removeFiles = res.filesToDelete
            res.state
          })
          deleteFromSiteTrees(removeFiles)
          out(s"removed ${bibs.length} bibcodes; " +
            s"deleted files: ${removeFiles.mkString(",")}")
        case "delete-table" =>
          // truncate + park the old snapshot, the M6 backup semantics;
          // rendered trees are parked too (app.py backup_sitemap_files)
          sm.truncate(spark, s"${sm.root}-backup")
          val parked = Sitemap.backupFiles(spark, outRoot, now)
          out("sitemap table truncated (old snapshot backed up" +
            parked.map(p => s"; files parked at $p").getOrElse("") + ")")
        case "update-robots" =>
          // per-site failures are logged and skipped (tasks.py:865-867);
          // the action fails wholesale only when NO site could be updated
          // (tasks.py:655-659 'Failed to update robots.txt files')
          var robotsUpdated = 0
          for (key <- Sitemap.Sites.keys.toSeq.sorted) {
            try {
              val site = Sitemap.Sites(key)
              val dir = new org.apache.hadoop.fs.Path(s"$outRoot/$key")
              val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
              if (!fs.mkdirs(dir) && !fs.getFileStatus(dir).isDirectory)
                throw new java.io.IOException(s"cannot create $dir")
              val o = fs.create(new org.apache.hadoop.fs.Path(dir, "robots.txt"), true)
              try o.write(Sitemap.renderRobots(site).getBytes("UTF-8")) finally o.close()
              robotsUpdated += 1
            } catch {
              case e: Exception =>
                out(s"failed to update robots.txt for site $key: ${e.getMessage}")
            }
          }
          if (robotsUpdated == 0) {
            out("error: failed to update robots.txt files"); return 2
          }
          out(s"robots.txt regenerated for $robotsUpdated sites")
        case other =>
          out(s"error: unknown --action $other"); return 2
      }
      // modifying actions chain the file regeneration (run.py:500-510)
      if (Set("add", "force-update", "remove", "bootstrap")(action)) {
        val n = Pipeline.runManagedSitemaps(spark, sm, outRoot, now)._1
        out(s"manage-sitemap $action done; regenerated $n files")
      }
      0
    }

    if (a.contains("update-sitemap-files")) return withSitemapLease(
        "update-sitemap-files") {
      val n = Pipeline.runManagedSitemaps(spark, sitemapStore, outRoot, now)._1
      out(s"regenerated $n sitemap files")
      0
    }

    if (a.contains("cleanup-invalid-sitemaps")) return withSitemapLease(
        "cleanup-invalid-sitemaps") {
      // entries whose record went solr-failed / lost bib_data / vanished
      // (run.py --cleanup-invalid-sitemaps → tasks.py:482-585)
      val sm = sitemapStore
      var cleanupFiles: Seq[String] = Nil
      sm.writeMerge(spark, { cur =>
        val res = SitemapState.cleanupInvalid(cur, store.read(spark))
        cleanupFiles = res.filesToDelete
        res.state
      })
      deleteFromSiteTrees(cleanupFiles)
      val n = Pipeline.runManagedSitemaps(spark, sm, outRoot, now)._1
      out(s"cleanup removed entries; deleted files: ${cleanupFiles.mkString(",")}; " +
        s"regenerated $n files")
      0
    }

    if (a.contains("update-sitemaps-auto")) return withSitemapLease(
        "update-sitemaps-auto") {
      // cron path (run.py:566-628): records whose bib_data or solr state
      // moved within the lookback window, minus already-flagged ones,
      // chained through the add action + file regeneration.
      //
      // Discovery is feed-driven when the persisted sitemap cursor is
      // live (the SECOND in-engine change-feed consumer, after the index
      // sweep): the feed's rows already carry the newest master columns,
      // so the due filter runs directly on the ∝-changed-rows frame and
      // the master table is never scanned; the state merge is then
      // key-local (SitemapState.addKeyed — a delta layer ∝ due keys
      // instead of the whole-state rewrite). No cursor yet, or a cursor
      // behind the feed retention horizon, falls back to the reference's
      // full-scan shape — and the first run persists the cursor so every
      // later cadence is ∝ delta.
      val daysBack = a.get("days-back").fold(1)(_.toInt)
      val cutoff = new Timestamp(now.getTime - daysBack * 86400000L)
      val sm = sitemapStore
      // the file-ordinal member index (SitemapMembers) rides beside the
      // state store: the keyed cadence's members read opens the touched
      // files' buckets instead of every state file, and any out-of-band
      // mutation is healed by one resync scan (stamp-validated)
      val members = new graft.operators.SitemapMembers(s"$sitemapRoot-members")
      // the cursor lives in its OWN dir: Watermark.advance is a whole-dir
      // read-modify-swap with no CAS, so two maintenance crons sharing a
      // dir could drop each other's keys on a race — per-consumer dirs
      // make the only writer of each dir that consumer's own cron
      val wmDir = a.getOrElse("watermark-dir", s"$storeRoot-sitemap-watermarks")
      val cursor = try new Pipeline.FeedCursor(spark, store, Some(wmDir),
        "last.sitemaps.generation", "sitemaps")
      catch {
        case e: MasterStore.CursorAheadException =>
          // a cursor AHEAD of the live store means the master was recreated
          // under it — silently re-baselining to a 1-day scan would skip
          // most of the new lineage AND regress the cursor. The operator
          // re-baselines deliberately: clear the cursor dir (or pass a
          // fresh --watermark-dir) and run a bootstrap/add over the new
          // corpus
          out(s"error: sitemap cursor ${e.cursor} is AHEAD of the live " +
            s"master generation ${e.live} — the master store was recreated. " +
            s"Clear $wmDir (or pass a fresh --watermark-dir) and re-baseline")
          return 2
      }
      // Feed mode applies NO time cutoff: the cursor already bounds
      // discovery to "changed since the last cadence", and per-key gating
      // is add()'s own lastmoddate logic — applying the scan's lookback
      // here would silently DROP changes older than the lookback (a cron
      // host down past it, a backfill carrying its original date) while
      // the advancing cursor makes the miss unrecoverable. Divergence
      // from the scan shape is one-sided and deliberate: feed mode also
      // CATCHES a new record backfilled with an old bib_data_updated,
      // which the reference's lookback scan misses entirely.
      //
      // behind-horizon recovery scans WITHOUT the lookback cutoff: the
      // cursor proves a previous cadence ran, so changes may be
      // arbitrarily older than any --days-back window (the cron host was
      // down past the feed retention) — a daysBack-bounded scan here,
      // with the cursor then re-advancing below, would drop them
      // PERMANENTLY. The cutoff-free reconcile is ∝ corpus once; add()'s
      // own lastmoddate gating keeps repeat-adds from spuriously
      // regenerating files. Only the true first run (no cursor at all)
      // uses the reference's lookback shape.
      val n: Long = cursor.changes match {
        case Some(dueMaster0) =>
          // state access ∝ delta: the due keys' flags
          // come from a bucket-pruned keyed lookup, the fill cursor and
          // the index lastmods from the persisted generation-validated
          // cadence summary — rebuilt in ONE scan whenever anything else
          // mutated the state since the last cron (surfacing stale flags
          // a crashed run left), instead of a full reconcile EVERY cron
          Pins.scope("sitemapCadence") {
            val dueMaster = Pins.cache(dueMaster0, "cadence.dueMaster")
            val smVer = sm.currentVersion.getOrElse(0L)
            val (summary, stale) =
              graft.operators.SitemapCadence.load(spark, wmDir)
                .filter(_.generation == smVer) match {
                case Some(s) => (s, Seq.empty[String])
                case None =>
                  graft.operators.SitemapCadence.rebuild(
                    sm.read(spark), smVer)
              }
            val (nf, next) = Pipeline.runSitemapCadenceKeyed(spark, sm,
              outRoot, now, dueMaster, summary, members, stale)
            cursor.advance()
            graft.operators.SitemapCadence.save(spark, wmDir, next)
            nf
          }
        case None =>
          sm.writeMerge(spark, { state =>
            val flagged = state.filter(col("update_flag")).select(col("bibcode"))
            val moved =
              if (cursor.behindHorizon)
                col("bib_data_updated").isNotNull || col("solr_processed").isNotNull
              else
                col("bib_data_updated") >= lit(cutoff) ||
                  col("solr_processed") >= lit(cutoff)
            val due = store.read(spark)
              .filter(moved)
              .select(col("bibcode"))
              .join(flagged, Seq("bibcode"), "left_anti")
            SitemapState.add(state, store.read(spark), due)
          })
          cursor.advance()
          // the full render also rebuilds + persists the summary AND the
          // member index, so the NEXT cadence (the steady state) runs
          // keyed end-to-end without its own resync scan
          val (nf, next) = Pipeline.runManagedSitemaps(
            spark, sm, outRoot, now, memberIndex = Some(members))
          graft.operators.SitemapCadence.save(spark, wmDir, next)
          nf
      }
      // the status line reports what the run actually covered: the cursor
      // window in feed mode (feed mode applies no time cutoff), the
      // cutoff-free recovery in behind-horizon mode, the lookback only in
      // the true bootstrap scan
      val coverage =
        if (cursor.changes.isDefined) s"cursor window (${cursor.from.get}, ${cursor.live}]"
        else if (cursor.behindHorizon)
          s"cursor ${cursor.from.get} behind feed horizon: full reconcile, no lookback"
        else s"lookback $daysBack d"
      // the files-opened accounting that PROVES the member-index prune:
      // parquet files the members read opened vs the index's total
      val memberScan =
        if (members.lastFilesOpened < 0) ""
        else s"; members read ${members.lastFilesOpened}/${members.lastFilesTotal} index files"
      out(s"auto update (${if (cursor.changes.isDefined) "feed" else "table-scan"} " +
        s"discovery): regenerated $n files ($coverage$memberScan)")
      0
    }

    if (a.contains("delete_obsolete")) return withSitemapLease(
        "delete_obsolete") {
      // P5 (run.py --delete_obsolete): records without bib_data older
      // than --since are cascade-deleted
      val since = a.get("since").map(Timestamp.valueOf).getOrElse(
        { out("error: --delete_obsolete needs --since <ts>"); return 2 })
      val sm = sitemapStore
      // the obsolete set is recomputed from the snapshot each merge
      // actually publishes over; per-store CAS merges as in --delete
      def obsoleteOf(master: org.apache.spark.sql.DataFrame) = master
        .filter(col("bib_data").isNull && col("updated") < lit(since))
        .select(col("bibcode"))
      var n = 0L
      var doomedFrame: Option[org.apache.spark.sql.DataFrame] = None
      val smSnap = sm.read(spark)
      store.writeMerge(spark, { cur =>
        // the doomed set must be captured from the snapshot the PUBLISHED
        // merge was computed from (a CAS-loss re-merge recomputes it, so
        // the last invocation's frame is the one that won) — recomputing
        // it AFTER the delete publishes would find nothing, and the
        // sitemap sweep below would silently no-op. Kept as a lazy frame,
        // never a driver list: the input snapshot's files stay readable
        // until vacuum, and a mass-obsolete sweep can be corpus-sized
        val ob = obsoleteOf(cur)
        doomedFrame = Some(ob)
        val res = MergeEngine.deleteByBibcodes(cur, smSnap, ob)
        n = res.changeLog.count()
        res.master
      })
      doomedFrame.foreach { ob =>
        sm.writeMerge(spark, curSm =>
          MergeEngine.deleteByBibcodes(store.read(spark), curSm, ob).sitemap)
      }
      out(s"deleted $n obsolete records")
      0
    }

    if (a.contains("rebuild-collection")) {
      // -x (run.py:739-743 + scripts/reindex.py): full rebuild into the
      // standby core, monitored and swapped by the Rebuild state machine;
      // the index job is a forced full sweep of the snapshot
      val probe = deps.rebuildProbe.getOrElse(
        { out("error: --rebuild-collection needs a sink admin probe " +
            "(no live search cluster configured)"); return 2 })
      val lock = new graft.operators.Rebuild.Lock(
        java.nio.file.Paths.get(storeRoot).resolve("rebuild.locked"))
      import spark.implicits._
      // the reference passes --solr-collection through to the rebuild
      // (run.py:979) so the full sweep lands in the standby collection
      val rebuildSolr = solrSink()
      val res = graft.operators.Rebuild.run(probe, () => {
        val r = Pipeline.runBatch(spark, store,
          spark.emptyDataset[graft.records.UpdateMessage],
          rebuildSolr, deps.bulkTransport,
          force = true, ignoreChecksums = true, now = now)
        r.solrFailed == 0
      }, lock, deps.rebuildCfg, deps.rebuildSleep, deps.rebuildClock)
      res match {
        case graft.operators.Rebuild.Swapped(ms) =>
          out(s"rebuild complete, cores swapped (${ms / 1000}s)")
        case graft.operators.Rebuild.Failed(stage, msg) =>
          out(s"rebuild failed at $stage: $msg (lock retained)")
      }
      return if (res.ok) 0 else 1
    }

    if (a.contains("boost-all")) {
      // run.py --boost-all (run.py:973-976 + process_all_boost
      // run.py:333-364): sweep every record in the store into boost-request
      // messages, delivered in -e/--batch_size groups. The reference pages
      // the table driver-side with yield_per; here the sweep is a
      // distributed map with partition-local batched sends — no driver loop
      val batchSize = a.get("batch_size").map(_.toInt).getOrElse(100)
      import spark.implicits._
      val requests = store.read(spark)
        .as[graft.records.MasterRecord]
        .map(r => (r.bibcode, org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(IndexJob.boostRequest(r)))))
      val (okCnt, total) = Sinks.counts(Sinks.writeBulk(
        requests.map { case (b, p) => (b, p, "", true) }
          .toDF("bibcode", "payload", "checksum", "changed"),
        deps.bulkTransport, batchSize = batchSize))
      out(s"boost-all requests sent: $okCnt/$total (batch size $batchSize)")
      return 0
    }

    if (a.contains("boost") || a.contains("augment")) {
      // run.py --boost / -a --augment: project the named records into
      // boost-scorer / aff-augment request messages and push them through
      // the bulk transport (the reference queues them to the respective
      // pipelines). Distributed build, partition-local sends.
      val keys = namedBibcodesDS().getOrElse(
        { out(needKeys("--boost/--augment")); return 2 })
      import spark.implicits._
      val selected = store.read(spark)
        .join(keys.toDF("bibcode"), Seq("bibcode"), "left_semi")
        .as[graft.records.MasterRecord]
      val requests =
        if (a.contains("boost"))
          selected.map(r => org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(IndexJob.boostRequest(r))))
        else
          selected.flatMap(r => IndexJob.affAugmentRequest(r).map(j =>
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(j))))
      val (okCnt, total) = Sinks.counts(Sinks.writeBulk(
        requests.map(p => ("", p, "", true)).toDF("bibcode", "payload", "checksum", "changed"),
        deps.bulkTransport))
      out(s"${if (a.contains("boost")) "boost" else "augment"} requests sent: " +
        s"$okCnt/$total")
      return 0
    }

    if (a.contains("classify") || a.contains("classify_verify")) {
      // run.py --classify / --classify_verify (run.py:912-948 +
      // app.request_classify): project the named records into classifier
      // request messages — bibcode, first title, abstract, operation_step
      // — and push them through the bulk transport. Records without a
      // title are skipped, as in prepare_bibcode.
      val step = if (a.contains("classify_verify")) "classify_verify" else "classify"
      if (a.contains("manual")) {
        // run.py --manual (app.py:728-772): the -n file is a CSV with a
        // header row (bibcode[,title[,abstract]]); rows carrying their own
        // title/abstract are classified as-is, the rest are looked up from
        // the store (one left join, never a per-row driver fetch); rows
        // resolving to no title are skipped. Entries go out in
        // --classifier_batch groups; with --validate_classifier the
        // message is dumped to a file instead of queued (check_boolean).
        val file = a.get("filename").filter(_.nonEmpty).getOrElse(
          { out("error: --classify --manual needs -n <csv>"); return 2 })
        val batch = a.get("classifier_batch").map(_.toInt).getOrElse(500)
        val outputPath = file.split('.').head // app.py:755 filename.split('.')[0]
        import spark.implicits._
        val csv = spark.read.option("header", "true").csv(file)
        if (!csv.columns.contains("bibcode")) {
          out("error: --manual CSV needs a bibcode column"); return 2
        }
        def opt(c: String) =
          if (csv.columns.contains(c)) col(c) else lit(null).cast("string")
        val entries = csv
          .select(col("bibcode"), opt("title").as("__t"), opt("abstract").as("__a"))
          .join(store.read(spark).select(col("bibcode"), col("bib_data")),
            Seq("bibcode"), "left_outer")
          .as[(String, Option[String], Option[String], Option[String])]
          .flatMap { case (bib, t, ab, bibData) =>
            IndexJob.manualClassifyEntry(bib, t, ab, bibData, step, outputPath)
              .map(j => org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(j)))
          }
        if (a.contains("validate_classifier")) {
          // stream the entries into one classify_requests message on disk;
          // toLocalIterator keeps driver memory at one row, so even a huge
          // manual file dumps without materializing
          val path = deps.classifierRequestFile
          val w = new java.io.PrintWriter(
            java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path)))
          try {
            w.print("{\"classify_requests\":[")
            val it = entries.toLocalIterator()
            var first = true
            while (it.hasNext) {
              if (!first) w.print(",")
              w.print(it.next()); first = false
            }
            w.print("]}")
          } finally w.close()
          out(s"classifier request written to $path")
          return 0
        }
        val (okCnt, total) = Sinks.counts(Sinks.writeBulk(
          entries.map(p => ("", p, "", true))
            .toDF("bibcode", "payload", "checksum", "changed"),
          deps.bulkTransport, batchSize = batch))
        out(s"classify requests ($step, manual) sent: $okCnt/$total " +
          s"(batch size $batch)")
        return 0
      }
      val keys = namedBibcodesDS().getOrElse(
        { out(needKeys("--classify")); return 2 })
      import spark.implicits._
      val requests = store.read(spark)
        .join(keys.toDF("bibcode"), Seq("bibcode"), "left_semi")
        .as[graft.records.MasterRecord]
        .flatMap(r => IndexJob.classifyRequest(r, step).map(j =>
          org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(j))))
      val (okCnt, total) = Sinks.counts(Sinks.writeBulk(
        requests.map(p => ("", p, "", true)).toDF("bibcode", "payload", "checksum", "changed"),
        deps.bulkTransport))
      out(s"classify requests ($step) sent: $okCnt/$total")
      return 0
    }

    if (a.contains("validate_solr")) {
      // run.py -c (run.py:864-889) → adsmp/validate.py compare_solr: pull
      // each named bibcode from both cores and field-compare with the
      // tolerance rules; summary counts mirror pipeline_mismatch logging
      val bibs = namedBibcodes()
      if (bibs.isEmpty) { out("error: --validate_solr needs -b or -n"); return 2 }
      val (oldCore, newCore) = deps.validateFetchers.getOrElse(
        { out("error: --validate_solr needs old/new core fetchers " +
            "(no live search cluster configured)"); return 2 })
      val reports = graft.operators.ValidateSolr
        .compareBibcodes(spark, bibs, oldCore, newCore)
        .collect().sortBy(_.bibcode)
      for (r <- reports) r.status match {
        case "missing-both" => out(s"${r.bibcode}: not in either core")
        case "missing-old"  => out(s"${r.bibcode}: missing from old core")
        case "missing-new"  => out(s"${r.bibcode}: missing from new core")
        case "ok" => out(s"${r.bibcode}: no mismatched fields")
        case _ =>
          out(s"${r.bibcode}: ${r.mismatched.size} mismatches " +
            s"(${r.mismatched.mkString(",")}), ${r.missingRequired} missing " +
            s"required new fields, ${r.notInOld} fields not in old, " +
            s"${r.notInNew} fields not in new, ${r.missing} in neither")
      }
      val bad = reports.count(r => r.status != "ok")
      out(s"validated ${reports.length} bibcodes: ${reports.length - bad} clean, $bad flagged")
      return 0
    }

    if (a.contains("update-scix-id")) {
      // run.py --update-scix-id --scix-id-flag ... (tasks.py:211-280);
      // the -all variants sweep the whole table, the rest need -b/-n
      val rawFlag = a.getOrElse("scix-id-flag",
        { out("error: --update-scix-id needs --scix-id-flag"); return 2 })
      val all = rawFlag.endsWith("-all")
      val flag = rawFlag.stripSuffix("-all")
      val only =
        if (all) None
        else namedBibcodesDS() match {
          case Some(ds) => Some(ds.toDF("bibcode"))
          case None =>
            out(needKeys(s"--scix-id-flag $rawFlag")); return 2
        }
      // a read-modify-write of the whole master: go through the CAS merge
      // path so a concurrent ingest batch landing mid-sweep is re-merged
      // over, never silently overwritten. The audit count is taken INSIDE
      // the merge closure, against the snapshot the published merge was
      // actually computed from — a pre-merge count could disagree after a
      // CAS-loss re-merge (a -b list may also name bibcodes the store
      // doesn't have; reporting the key-set size would inflate the trail)
      var applied: Option[String] = None
      store.writeMerge(spark, { cur =>
        applied = only.map(keys =>
          cur.join(keys, Seq("bibcode"), "left_semi").count().toString)
        MergeEngine.updateScixIds(cur, flag, only)
      })
      out(s"scix-id $flag applied (${applied.getOrElse("all")} records)")
      return 0
    }

    if (a.contains("index_failed")) {
      // run.py --index_failed (run.py:425-471): everything whose status is
      // neither success nor retrying, with bib_data, re-driven under
      // force + ignore_checksums across all three sinks. The failed set
      // stays a Dataset end-to-end (left_semi inside runBatch) — the
      // reference streams the same query with yield_per (run.py:431-436)
      // and after a mass sink outage this set is corpus-sized
      import spark.implicits._
      val failed = store.read(spark)
        .filter(col("bib_data").isNotNull &&
          col("status").isNotNull && !col("status").isin("success", "retrying"))
        .select(col("bibcode")).as[String]
      val nFailed = failed.count()
      if (nFailed == 0) { out("no failed bibcodes to reindex"); return 0 }
      val report = Pipeline.runBatch(spark, store,
        spark.emptyDataset[graft.records.UpdateMessage],
        deps.solrTransport, deps.bulkTransport,
        force = true, ignoreChecksums = true, now = now,
        restrictTo = Some(failed),
        updateProcessed = !a.contains("no-update-processed"))
      out(s"reindexed $nFailed previously failed bibcodes: " +
        s"solrOk=${report.solrOk} solrFailed=${report.solrFailed}")
      return if (report.solrFailed > 0) 1 else 0
    }

    // The decode→quarantine front of the queue body (Pipeline.queueBatch)
    // for --ingest (one batch) and --consume (one call per spool
    // micro-batch). Rejects land under a caller-chosen quarantine subdir
    // with mode OVERWRITE, so a crash-replayed streaming batch rewrites its
    // own rejects instead of appending duplicates — the quarantine analog
    // of the P3/P4 replay suppression on the sink side. Returns (report,
    // rejectCount).
    def ingestBatch(lines: org.apache.spark.sql.Dataset[String],
        nowB: Timestamp, quarantineDir: String): (Pipeline.RunReport, Long) = {
      var nRejects = 0L
      // ingest forwards a boost request per touched record, the queue
      // topology's task_update_record → task_boost_request edge
      // (tasks.py:104-111); --no-boost-requests turns it off. Affiliation
      // augment is gated SEPARATELY (--no-augment-requests): the reference
      // fires it on every metadata update regardless of the boost gate.
      // The reference's ChangeLog lives beside the records table and is
      // written by update_storage on every ingest mutation — same here: on
      // by default for the ingest/consume front door, appended only after
      // the batch's CAS publish lands (--no-changelog opts out,
      // --changelog DIR relocates)
      val report = Pipeline.queueBatch(spark, store,
        graft.streaming.QueueDecode.decode(lines, nowB),
        deps.solrTransport, deps.bulkTransport, nowB, metricsStoreOpt,
        Set("solr", "metrics", "links"),
        forwardBoostRequests = !a.contains("no-boost-requests"),
        forwardAugmentRequests = !a.contains("no-augment-requests"),
        changeLogDir =
          if (a.contains("no-changelog")) None
          else Some(a.getOrElse("changelog", s"$storeRoot-changelog"))) { decoded =>
        val rejects = graft.streaming.QueueDecode.rejects(decoded)
        nRejects = rejects.count()
        // Written unconditionally: a re-run of a since-corrected input must
        // CLEAR its previous rejects, not leave them misrepresenting the
        // latest run. nRejects == 0 deletes the subdir outright (an absent
        // dir is the unambiguous "clean run" signal; an empty JSON write
        // would leave Spark marker files a reader must interpret).
        if (nRejects > 0)
          rejects.toDF("raw", "reason").write.mode("overwrite").json(quarantineDir)
        else {
          val p = new org.apache.hadoop.fs.Path(quarantineDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
        graft.streaming.QueueDecode.messages(decoded)
      }
      (report, nRejects)
    }

    if (a.contains("ingest")) {
      // S1 front door in batch mode: the reference consumes typed
      // protobufs off its queues; here a file/dir of raw JSON envelopes
      // (one per line) is decoded, rejects are quarantined next to the
      // store, and the good messages run one full pipeline batch
      val path = a("ingest")
      if (path.isEmpty) { out("error: --ingest needs a file or directory"); return 2 }
      // per-input quarantine subdir: re-running the SAME file overwrites
      // its own rejects (idempotent), different inputs never clobber.
      // Keyed on a SHA-256 of the path — a 32-bit String.hashCode can
      // collide across distinct inputs, and with mode OVERWRITE a
      // collision would silently clobber the other input's rejects.
      val pathDigest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(path.getBytes("UTF-8")).take(16)
        .map(b => f"$b%02x").mkString
      val (report, nRejects) = ingestBatch(spark.read.textFile(path), now,
        s"$storeRoot-quarantine/ingest_$pathDigest")
      out(s"ingested=${report.merged} rejected=$nRejects " +
        s"solrOk=${report.solrOk} solrFailed=${report.solrFailed} " +
        s"boostOk=${report.boostOk} boostFailed=${report.boostFailed} " +
        s"augmentOk=${report.augmentOk} augmentFailed=${report.augmentFailed} " +
        s"version=${report.version}")
      return if (report.solrFailed > 0) 1 else 0
    }

    if (a.contains("consume")) {
      // The reference's queue-worker analog (celery worker consuming
      // update-record queues, adsmp/tasks.py): a CHECKPOINTED streaming
      // drain of a spool directory of raw JSON envelopes. Each new spool
      // file becomes a key-local micro-batch through the full pipeline
      // (decode → quarantine rejects → merge → gate → transform → sinks →
      // stamps → keyed CAS publish). Drain semantics: process everything
      // available, then exit — a re-invocation with the same checkpoint
      // resumes where the last one stopped (files already consumed are
      // never reprocessed; a crash mid-batch replays it and the P3/P4
      // suppression machinery absorbs the replay). Operators cron it,
      // exactly like the reference crons run.py.
      val dir = a("consume")
      if (dir.isEmpty) { out("error: --consume needs a spool directory"); return 2 }
      val ckpt = a.getOrElse("checkpoint", s"$storeRoot-consume-checkpoint")
      var batches = 0
      var mergedTotal, solrOkTotal, solrFailTotal, rejectTotal = 0L
      var boostOkTotal, boostFailTotal, augOkTotal, augFailTotal = 0L
      val q = spark.readStream.textFile(dir).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (lines: org.apache.spark.sql.Dataset[String], batchId: Long) =>
            // batch-scoped quarantine: a crash-replay of this batch
            // OVERWRITES its own rejects (idempotent), never appends a
            // second copy
            val (r, nRej) = ingestBatch(lines, deps.now(),
              s"$storeRoot-quarantine/batch_$batchId")
            batches += 1
            mergedTotal += r.merged
            solrOkTotal += r.solrOk
            solrFailTotal += r.solrFailed
            rejectTotal += nRej
            boostOkTotal += r.boostOk
            boostFailTotal += r.boostFailed
            augOkTotal += r.augmentOk
            augFailTotal += r.augmentFailed
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      // boost/augment delivery failures surface in the worker log too —
      // a dead bulk endpoint must not be invisible just because the solr
      // leg is healthy
      out(s"consumed batches=$batches merged=$mergedTotal " +
        s"solrOk=$solrOkTotal solrFailed=$solrFailTotal " +
        s"rejected=$rejectTotal " +
        s"boostOk=$boostOkTotal boostFailed=$boostFailTotal " +
        s"augmentOk=$augOkTotal augmentFailed=$augFailTotal " +
        s"checkpoint=$ckpt")
      return if (solrFailTotal > 0) 1 else 0
    }

    // --index-from-feed: the -r sweep with ∝-delta work DISCOVERY — the
    // cadence's candidate set comes from the store's change feed
    // (Pipeline.runFeedSweep: cost ∝ rows changed since the last sweep)
    // instead of the reference's gate over the full snapshot
    // (run.py:147-159). The generation cursor persists in the watermark
    // store; the first run (or one behind the feed retention horizon)
    // bootstraps with the table-wide scan and says so.
    if (a.contains("index-from-feed")) {
      // flags whose -r meaning this command CANNOT honor are rejected
      // loudly, not silently ignored: a targeted -b/-n run or a --since
      // window is table-scoped by definition, and the stampless debugging
      // mode breaks feed discovery's state contract (a feed sweep always
      // stamps)
      val unsupported = Seq("no-update-processed", "since", "bibcodes",
        "filename").filter(a.contains)
      if (unsupported.nonEmpty) {
        out(s"error: --index-from-feed does not take --${unsupported.head} " +
          "(use -r for targeted, --since, or stampless runs)")
        return 2
      }
      val (sinks, force, ignoreChecksums, priority) =
        sweepFlags(a, a.getOrElse("index-from-feed", "sml")) match {
          case Left(err) => out(s"error: --index-from-feed $err"); return 2
          case Right(f)  => f
        }
      val wmDir = a.getOrElse("watermark-dir", s"$storeRoot-watermarks")
      // two overlapping sweeps would race the reindex cursor dir's
      // non-CAS swap (and re-deliver each other's windows) — the sweep
      // cron is single-writer like the reference's locked reindex.py
      return withLease(storeRoot, "reindex.lease", "index-from-feed") {
        // an AHEAD persisted cursor (master recreated under a surviving
        // watermark dir) is an operator condition, not a crash: same clean
        // exit-2 recovery message as the sitemap twin, not a stack trace.
        // Dispatched on the TYPE (MasterStore.CursorAheadException), not
        // the message text — a rewording can't regress this into a trace,
        // and an unrelated IllegalStateException can't be mis-swallowed
        val r = try graft.operators.Scheduling.withPriority(spark, priority) {
          Pipeline.runFeedSweep(spark, store, solrSink(), deps.bulkTransport,
            watermarkDir = Some(wmDir), force = force,
            ignoreChecksums = ignoreChecksums, now = now,
            sinks = sinks, metricsStore = metricsStoreOpt)
        } catch {
          case e: MasterStore.CursorAheadException =>
            out(s"error: ${e.getMessage}. Clear $wmDir (or pass a fresh " +
              "--watermark-dir) and re-baseline")
            return 2
        }
        out(s"discovery=${if (r.usedFeed) "feed" else "table-scan"} " +
          s"indexed=${r.run.indexed} solrOk=${r.run.solrOk} " +
          s"solrFailed=${r.run.solrFailed} metricsOk=${r.run.metricsOk} " +
          s"linksOk=${r.run.linksOk} version=${r.run.version} " +
          s"cursor=${r.nextFromGen}")
        if (r.run.solrFailed > 0) 1 else 0
      }
    }

    if (a.contains("index")) {
      val (sinks, force, ignoreChecksums, priority) =
        sweepFlags(a, a.getOrElse("index", "sml")) match {
          case Left(err) => out(s"error: -r $err"); return 2
          case Right(f)  => f
        }
      val restrict = namedBibcodesDS()
      // an empty -b/-n must hard-fail: falling through with restrict=None
      // would silently turn a targeted run into a full watermark sweep
      if (restrict.isEmpty && keysFlagged) {
        out(needKeys("-r")); return 2
      }
      import spark.implicits._
      // a targeted -b/-n run bypasses the watermark window (the reference
      // queues named bibcodes directly) and must not advance it either
      val watermarkDir =
        if (a.contains("since") || restrict.isDefined) None
        else Some(a.getOrElse("watermark-dir", s"$storeRoot-watermarks"))
      val report = graft.operators.Scheduling.withPriority(spark, priority) {
        Pipeline.runBatch(spark, store,
          spark.emptyDataset[graft.records.UpdateMessage],
          solrSink(), deps.bulkTransport,
          watermarkDir = watermarkDir,
          force = force, ignoreChecksums = ignoreChecksums, now = now,
          sinks = sinks, restrictTo = restrict,
          metricsStore = metricsStoreOpt,
          sinceOverride = a.get("since").map(Timestamp.valueOf),
          // run.py --update-processed: here stamping defaults ON (P4
          // suppression depends on it); --no-update-processed turns the
          // run into the reference's deliver-without-stamping mode
          updateProcessed = !a.contains("no-update-processed"))
      }
      out(s"indexed=${report.indexed} solrOk=${report.solrOk} " +
        s"solrFailed=${report.solrFailed} metricsOk=${report.metricsOk} " +
        s"linksOk=${report.linksOk} version=${report.version}")
      return if (report.solrFailed > 0) 1 else 0
    }

    out("error: no command given (try -d, -k, -r, --index-from-feed, " +
      "--ingest, --consume, " +
      "--delete, --delete_obsolete, " +
      "--manage-sitemap, --update-sitemap-files, --update-sitemaps-auto, " +
      "--cleanup-invalid-sitemaps)")
    2
  }

  /** Shared sweep-flag parsing for -r and --index-from-feed — ONE place
    * for the sink-letter set, the reference's -f coupling (force +
    * ignore_checksums together, run.py:82-86), and the --priority (ST8
    * fair-scheduler pool, range-checked by [[checkValues]]), so a flag
    * added to one sweep command cannot silently diverge from the other. Left = usage-error
    * message (caller prefixes its command name and exits 2). */
  private def sweepFlags(a: Map[String, String], letters: String)
      : Either[String, (Set[String], Boolean, Boolean, Int)] = {
    val sinks = Set(
      if (letters.contains('s')) Some("solr") else None,
      if (letters.contains('m')) Some("metrics") else None,
      if (letters.contains('l')) Some("links") else None).flatten
    if (sinks.isEmpty) return Left("needs at least one of s/m/l")
    val force = a.contains("force_indexing") || a.contains("force_processing")
    val ignoreChecksums = a.contains("force_indexing") || a.contains("ignore_checksums")
    Right((sinks, force, ignoreChecksums, a.get("priority").fold(0)(_.toInt)))
  }

  /** Tiny flag parser: `--key value`, `--key` (boolean), plus the short
    * aliases the reference uses. Returns key→value ("" for booleans). */
  def parse(argv: Seq[String]): Either[String, Map[String, String]] = {
    val aliases = Map("-d" -> "--diagnostics", "-k" -> "--kv", "-r" -> "--index",
      "-f" -> "--force_indexing", "-o" -> "--force_processing",
      "-s" -> "--since", "-b" -> "--bibcodes", "-n" -> "--filename",
      "-a" -> "--augment", "-x" -> "--rebuild-collection",
      "-c" -> "--validate_solr", "-e" -> "--batch_size")
    val valued = Set("index", "index-from-feed", "since", "bibcodes", "filename", "action",
      "store", "sitemap-store", "out", "watermark-dir", "priority", "days-back",
      "scix-id-flag", "ingest", "consume", "checkpoint", "metrics-store",
      "batch_size", "solr-collection", "classifier_batch",
      "report-docs", "report-out", "retain", "orphan-grace-min",
      "changelog", "changes-since", "lease-ttl-min", "unregister-consumer")
    // -r's letters are optional (nargs='?'): a following token that is not
    // a flag is its value, otherwise the default applies
    val optionalValued = Set("index", "index-from-feed")
    var m = Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val raw = aliases.getOrElse(argv(i), argv(i))
      if (!raw.startsWith("--")) return Left(s"unexpected argument: ${argv(i)}")
      val key = raw.stripPrefix("--")
      val next = if (i + 1 < argv.length) Some(argv(i + 1)) else None
      val takesValue = valued(key) &&
        (!optionalValued(key) ||
          next.exists(v => v.nonEmpty && !v.startsWith("-")))
      if (takesValue) {
        next match {
          case Some(v) => m += key -> v; i += 2
          case None    => return Left(s"--$key needs a value")
        }
      } else {
        m += key -> (if (key == "index" || key == "index-from-feed") "sml" else "")
        i += 1
      }
    }
    Right(m)
  }

  /** The numeric and timestamp flags with their legal values, as (flag,
    * what it needs, check). */
  private val ValueChecks: Seq[(String, String, String => Boolean)] = {
    def int(min: Int)(v: String) = v.toIntOption.exists(_ >= min)
    def long(min: Long)(v: String) = v.toLongOption.exists(_ >= min)
    Seq(
      ("batch_size", "a positive integer", int(1)),
      ("classifier_batch", "a positive integer", int(1)),
      ("retain", "a positive integer", int(1)),
      ("days-back", "a positive integer", int(1)),
      ("priority", "an integer", int(Int.MinValue)),
      ("changes-since", "a generation number", long(0)),
      ("lease-ttl-min", "a positive number of minutes", long(1)),
      ("orphan-grace-min", "a non-negative number of minutes", long(0)),
      ("since", "a timestamp yyyy-mm-dd hh:mm:ss[.f]",
        v => scala.util.Try(Timestamp.valueOf(v)).isSuccess))
  }

  /** The one reader of [[ValueChecks]], run on the parsed flags before
    * any command: a bad value is a usage error (exit 2) that touches no
    * store, and every call site converts its flag without re-checking. */
  private def checkValues(a: Map[String, String]): Either[String, Map[String, String]] =
    ValueChecks.collectFirst { case (k, need, ok) if a.get(k).exists(!ok(_)) =>
      s"--$k needs $need, got '${a(k)}'"
    }.toLeft(a)
}
