package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.sources.Sinks

/** End-to-end CLI surface against temp stores (reference run.py dispatch):
  * ingest → bootstrap sitemaps → targeted forced reindex from a bibcode
  * file → remove → delete, checking stores and rendered trees after each
  * command. */
class CliSpec extends AnyFunSuite with SparkSpec {
  import CliSpec.CountingTransport

  private def deps(buf: collection.mutable.Buffer[String]) = {
    val t = new CountingTransport
    (t, Cli.Deps(t, t, now = () => Timestamp.valueOf("2024-06-01 00:00:00"),
      out = buf += _))
  }

  test("full operator session: ingest, bootstrap, reindex -f, remove, delete " +
    "(test_populate_sitemap_table_add_action, " +
    "test_populate_sitemap_table_remove_action, " +
    "test_populate_sitemap_table_delete_table_action, " +
    "test_populate_sitemap_table_update_robots_action, " +
    "test_populate_sitemap_table_all_actions, test_update_sitemap_files, " +
    "test_action_validation_missing_action, test_missing_action_causes_sys_exit, " +
    "test_valid_command_line_execution_flow, test_integration_with_task_calls, " +
    "test_backup_sitemap_files, " +
    "test_delete_contents, test_delete_sitemap_files, " +
    "test_task_manage_sitemap_delete_table_action, " +
    "test_task_manage_sitemap_update_robots_action)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (transport, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")

    // seed the master store through the normal pipeline path
    val msgs = Seq(
      records.UpdateMessage("2024Test.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00")),
      records.UpdateMessage("2024Test.....2....B", "metadata",
        """{"title": ["two"]}""", Timestamp.valueOf("2024-01-02 00:00:00"))).toDS()
    Pipeline.runBatch(spark, store, msgs, d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-03 00:00:00"))

    // no command → usage error
    assert(Cli.run(spark, argvBase, d) == 2)

    // missing store → usage error
    assert(Cli.run(spark, Seq("-d"), d) == 2)

    // diagnostics
    assert(Cli.run(spark, argvBase ++ Seq("-d"), d) == 0)
    assert(log.exists(_.contains("records=2")), s"got: $log")

    // --manage-sitemap without --action / with an unknown action is a
    // usage error (test_run.py:329-363 action validation)
    assert(Cli.run(spark, argvBase ++ Seq("--manage-sitemap"), d) == 2)
    assert(Cli.run(spark, argvBase ++
      Seq("--manage-sitemap", "--action", "frobnicate"), d) == 2)

    // bootstrap sitemaps: state populated, both site trees rendered
    assert(Cli.run(spark, argvBase ++
      Seq("--manage-sitemap", "--action", "bootstrap"), d) == 0)
    assert(new java.io.File(s"$root/sitemaps/ads/sitemap_bib_1.xml").exists)
    assert(new java.io.File(s"$root/sitemaps/scix/sitemap_bib_1.xml").exists)
    assert(new java.io.File(s"$root/sitemaps/ads/sitemap_index.xml").exists)
    assert(new java.io.File(s"$root/sitemaps/ads/robots.txt").exists)
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/sitemaps/ads/sitemap_bib_1.xml")), "UTF-8")
    assert(xml.contains("/abs/2024Test.....1....A/abstract") &&
      xml.contains("/abs/2024Test.....2....B/abstract"))

    // bootstrap refuses to clobber existing state
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--manage-sitemap", "--action", "bootstrap"), d) == 0)
    val smStore = new graft.sources.MasterStore(s"$root/smstate",
      empty = graft.operators.SitemapState.empty)
    assert(smStore.read(spark).count() == 2)

    // forced targeted reindex from a bibcode file (S5 path)
    val bibfile = java.nio.file.Paths.get(root, "bibs.txt")
    java.nio.file.Files.write(bibfile, "2024Test.....1....A\n".getBytes)
    val sent0 = CliSpec.batches.get()
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("-r", "-f", "-n", bibfile.toString), d) == 0)
    assert(log.exists(_.contains("indexed=1")), s"got: $log")
    assert(CliSpec.batches.get() > sent0, "forced re-send actually hit the sink")

    // solr-only reindex letters parse
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("-r", "s", "-f",
      "-b", "2024Test.....2....B"), d) == 0)
    assert(log.exists(l => l.contains("indexed=1") && l.contains("metricsOk=0")),
      s"letters restrict the sinks: $log")

    // force-update re-flags an already-generated record over the CLI
    // (test_populate_sitemap_table_force_update_action)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--manage-sitemap", "--action",
      "force-update", "-b", "2024Test.....1....A"), d) == 0)
    assert(log.exists(_.contains("manage-sitemap force-update done")), s"got $log")

    // remove one bibcode from the sitemap state; its file regenerates
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--manage-sitemap", "--action",
      "remove", "-b", "2024Test.....2....B"), d) == 0)
    assert(smStore.read(spark).count() == 1)
    val xml2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/sitemaps/ads/sitemap_bib_1.xml")), "UTF-8")
    assert(!xml2.contains("2024Test.....2....B"), "regenerated without the removed doc")

    // cascade delete removes from master and sitemap state
    assert(Cli.run(spark, argvBase ++
      Seq("--delete", "-b", "2024Test.....1....A"), d) == 0)
    assert(store.read(spark).count() == 1, "other record survives")
    assert(smStore.read(spark).count() == 0)

    // delete-table truncates with backup; rendered trees are parked under
    // a dated dir (app.py backup_sitemap_files semantics)
    assert(new java.io.File(s"$root/sitemaps/ads").exists)
    assert(Cli.run(spark, argvBase ++
      Seq("--manage-sitemap", "--action", "delete-table"), d) == 0)
    assert(smStore.read(spark).count() == 0)
    assert(!new java.io.File(s"$root/sitemaps/ads").exists, "tree moved aside")
    val parked = new java.io.File(s"$root/sitemaps-backup").listFiles()
    assert(parked != null && parked.length == 1 &&
      parked.head.getName.matches("sitemap_\\d{4}_\\d{1,2}_\\d{1,2}-\\d{6}"))
    assert(new java.io.File(parked.head, "ads/sitemap_bib_1.xml").exists,
      "backup keeps the rendered files")

    // kv shows the (unset) watermark
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("-k"), d) == 0)
    assert(log.exists(_.contains("last.reindex.normal=")))
  }

  test("--ingest: raw envelope file decodes, merges, quarantines rejects") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_ing").toString
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")

    val lines = Seq(
      """{"type":"metadata","bibcode":"2024Ing......1A","timestamp":1700000000000,"payload":{"bibcode":"2024Ing......1A","title":["I1"]}}""",
      """{"type":"nonbib_records","timestamp":1700000001000,"records":[{"bibcode":"2024Ing......1A","boost":1},{"bibcode":"2024Ing......2B","boost":2}]}""",
      """{"type":"frobnicate","bibcode":"junk"}""",
      """garbage line""")
    val f = java.nio.file.Paths.get(root, "queue.jsonl")
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))

    assert(Cli.run(spark, argvBase ++ Seq("--ingest", f.toString), d) == 0)
    assert(log.exists(l => l.contains("ingested=2") && l.contains("rejected=2")),
      s"got: $log")
    val store = new graft.sources.MasterStore(s"$root/master")
    val recs = store.read(spark).collect()
      .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("nonbib_data")).toMap
    assert(recs.keySet == Set("2024Ing......1A", "2024Ing......2B"),
      "list envelope fanned out into the store")
    assert(recs("2024Ing......2B").contains("\"boost\":2"))
    // rejects quarantined with reasons next to the store
    // rejects live in a per-input subdir (re-running the same file
    // overwrites its own rejects instead of appending duplicates)
    val q = spark.read.option("recursiveFileLookup", "true")
      .json(s"$root/master-quarantine").collect()
      .map(_.getAs[String]("reason")).toSet
    assert(q == Set("unknown type frobnicate", "not a JSON object"))

    // re-running the SAME path after the input was corrected must CLEAR
    // its quarantine subdir — stale rejects would misrepresent the
    // latest run (the subdir vanishing is the "clean run" signal)
    java.nio.file.Files.write(f, lines.take(2).mkString("\n").getBytes("UTF-8"))
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--ingest", f.toString), d) == 0)
    assert(log.exists(_.contains("rejected=0")), s"got: $log")
    val qDir = java.nio.file.Paths.get(s"$root/master-quarantine")
    val subdirs =
      if (!java.nio.file.Files.exists(qDir)) Nil
      else {
        val s = java.nio.file.Files.list(qDir)
        try s.iterator().asScala.toList finally s.close()
      }
    assert(subdirs.isEmpty, s"stale quarantine left behind: $subdirs")

    // --report-docs: the columnar projection path over the same store —
    // doc fields land as parquet columns with T1-fold values (here the
    // nonbib boost payload feeds cite_read_boost; title from bib_data)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--report-docs",
      "title,cite_read_boost", "--report-out", s"$root/report"), d) == 0)
    assert(log.exists(l => l.contains("report-docs: 2 records") &&
      l.contains("title,cite_read_boost")), s"got: $log")
    val rep = spark.read.parquet(s"$root/report").collect()
      .map(r => r.getAs[String]("bibcode") ->
        (Option(r.getAs[scala.collection.Seq[String]]("title")).map(_.mkString),
          r.getAs[Any]("cite_read_boost"))).toMap
    assert(rep("2024Ing......1A")._1.contains("I1"))
    assert(rep("2024Ing......2B")._2 == 2.0,
      s"nonbib boost feeds cite_read_boost: $rep")
    // unknown field names are a usage error, not a silent null column
    assert(Cli.run(spark, argvBase ++ Seq("--report-docs", "frobnicate"), d) == 2)
    // asking for the key field itself (or repeating a field) must not
    // produce duplicate columns — the parquet write rejects those
    assert(Cli.run(spark, argvBase ++ Seq("--report-docs", "bibcode,title,title",
      "--report-out", s"$root/report2"), d) == 0)
    assert(spark.read.parquet(s"$root/report2").columns.toSeq ==
      Seq("bibcode", "title"))
  }

  test("--consume: checkpointed spool drain — each invocation processes " +
    "only NEW files, rejects quarantine, --metrics-store maintained, " +
    "an empty drain is a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_con").toString
    val spool = s"$root/spool"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(spool))
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argv = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps",
      "--metrics-store", s"$root/metrics",
      "--consume", spool, "--checkpoint", s"$root/ckpt")

    def envelope(t: String, bib: String, ts: Long, payload: String) =
      s"""{"type":"$t","bibcode":"$bib","timestamp":$ts,"payload":$payload}"""
    def full(bib: String, title: String, ts: Long) = Seq(
      envelope("metadata", bib, ts, s"""{"bibcode":"$bib","title":["$title"]}"""),
      envelope("nonbib_data", bib, ts + 1, """{"boost":0.5}"""),
      envelope("orcid_claims", bib, ts + 2, """{"verified":[]}"""),
      envelope("metrics", bib, ts + 3, """{"reads":[7]}"""))
    def put(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(spool, name),
        lines.mkString("\n").getBytes("UTF-8"))

    // spool file 1: one complete record + a garbage line
    put("f1.jsonl", full("2024Con......1A", "one", 1700000000000L) :+ "garbage")
    assert(Cli.run(spark, argv, d) == 0)
    assert(log.exists(_.contains(
      "consumed batches=1 merged=1 solrOk=1 solrFailed=0 rejected=1")), s"got: $log")
    val store = new graft.sources.MasterStore(s"$root/master")
    assert(store.read(spark).count() == 1)
    // S7 store leg rode along: the metrics snapshot has the record
    val m1 = new graft.sources.MasterStore(s"$root/metrics",
      empty = graft.operators.MetricsTable.emptyTable).read(spark).collect()
    assert(m1.map(_.getAs[String]("bibcode")).toSeq == Seq("2024Con......1A"))

    // spool file 2: a second record + an update to the first (arrival
    // after its processed stamp, so it re-selects and re-delivers).
    // f1 is NOT reprocessed — the checkpoint remembers it
    log.clear()
    put("f2.jsonl", full("2024Con......2B", "two", 1700000100000L) ++ Seq(
      envelope("metadata", "2024Con......1A", 1719792000000L,
        """{"bibcode":"2024Con......1A","title":["one-v2"]}""")))
    assert(Cli.run(spark, argv, d) == 0)
    assert(log.exists(_.contains(
      "consumed batches=1 merged=2 solrOk=2 solrFailed=0 rejected=0")), s"got: $log")
    val rows = store.read(spark).collect()
      .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("bib_data")).toMap
    assert(rows.keySet == Set("2024Con......1A", "2024Con......2B"))
    assert(rows("2024Con......1A").contains("one-v2"), "slot update merged")

    // nothing new in the spool: the drain is a clean no-op
    log.clear()
    assert(Cli.run(spark, argv, d) == 0)
    assert(log.exists(_.contains("consumed batches=0 merged=0")), s"got: $log")

    // the batch cadence vacuums with retain=2: after two consuming drains
    // the stores hold at most 2 generations each — a long-running
    // consumer's disk is steady-state, not one superseded snapshot per
    // batch forever
    assert(store.versions.size <= 2,
      s"consume cadence must vacuum the master store, got ${store.versions}")

    // --vacuum verb: explicit maintenance for batch-only deployments
    log.clear()
    assert(Cli.run(spark, Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--metrics-store", s"$root/metrics",
      "--vacuum", "--retain", "1"), d) == 0)
    assert(store.versions.size == 1, s"got ${store.versions}")
    assert(log.exists(_.contains("vacuum master:")), s"got: $log")
    assert(log.exists(_.contains("vacuum metrics-store:")), s"got: $log")
    assert(store.read(spark).count() == 2, "live snapshot intact after vacuum")
    assert(Cli.run(spark, Seq("--store", s"$root/master",
      "--vacuum", "--retain", "0"), d) == 2, "retain < 1 is a usage error")
  }

  private def envelopes(bib: String, ts: Long): Seq[String] = Seq(
    s"""{"type":"metadata","bibcode":"$bib","timestamp":$ts,""" +
      s""""payload":{"bibcode":"$bib","title":["t $bib"],"aff":["Somewhere"]}}""",
    s"""{"type":"nonbib_data","bibcode":"$bib","timestamp":${ts + 1},"payload":{"boost":0.5}}""",
    s"""{"type":"orcid_claims","bibcode":"$bib","timestamp":${ts + 2},"payload":{"verified":[]}}""")

  private def spoolFile(dir: String, name: String, lines: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("--consume reads its spool once per batch: the micro-batch's source " +
    "rows equal the messages it consumed") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val root = java.nio.file.Files.createTempDirectory("graft_cli_once").toString
    val lines = (1 to 3).flatMap(i => envelopes(s"2024Once.....${i}A", 1700000000000L + i))
    spoolFile(s"$root/spool", "f1.jsonl", lines)
    // Spark's own count of the rows the micro-batch read from its source,
    // summed over every job that read it
    val sourceRows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) sourceRows.add(e.progress.numInputRows)
    }
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    spark.streams.addListener(listener)
    try {
      assert(Cli.run(spark, Seq("--store", s"$root/master", "--consume", s"$root/spool",
        "--checkpoint", s"$root/ckpt"), d) == 0)
      assert(log.exists(_.contains("consumed batches=1 merged=3 solrOk=3")), s"got: $log")
      val deadline = System.currentTimeMillis() + 10000
      while (sourceRows.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(sourceRows.asScala.toSeq == Seq(lines.size.toLong),
        s"source rows read per batch, for ${lines.size} messages")
    } finally spark.streams.removeListener(listener)
  }

  test("--consume: a throwing post-batch vacuum never fails a landed batch — " +
    "same report and exit code, one warning per batch, retried next batch") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_vac").toString
    val unvacuumable = unvacuumableRoot()
    val warning = "post-batch vacuum failed"
    // one drain of `file` into the store tagged `tag`: its exit code, its
    // report line without the checkpoint path, and its stderr
    def drain(tag: String, metricsRoot: String, file: String, bib: String) = {
      spoolFile(s"$root/$tag-spool", file, envelopes(bib, 1700000000000L))
      val log = collection.mutable.Buffer.empty[String]
      val (_, d) = deps(log)
      val (rc, err) = capturingStderr(Cli.run(spark, Seq("--store", s"$root/$tag-master",
        "--metrics-store", metricsRoot, "--consume", s"$root/$tag-spool",
        "--checkpoint", s"$root/$tag-ckpt"), d))
      val report = log.find(_.startsWith("consumed batches=")).getOrElse(s"no report in $log")
      (rc, report.replaceAll(" checkpoint=.*", ""), err)
    }
    for ((file, bib) <- Seq("f1.jsonl" -> "2024Vac......1A", "f2.jsonl" -> "2024Vac......2B")) {
      val (rcOk, reportOk, errOk) = drain("ok", s"$root/ok-metrics", file, bib)
      val (rc, report, err) = drain("bad", unvacuumable, file, bib)
      assert(rcOk == 0 && rc == 0, s"$file: exit codes $rcOk and $rc")
      assert(report == reportOk && report.startsWith("consumed batches=1 merged=1 solrOk=1"),
        s"$file: '$report' against the healthy store's '$reportOk'")
      assert(occurrences(errOk, warning) == 0 && occurrences(err, warning) == 1,
        s"$file logged: $err")
    }
    assert(new graft.sources.MasterStore(s"$root/bad-master").read(spark).count() == 2)
  }

  test("cron surface: auto sitemap update, cleanup, delete_obsolete " +
    "(test_update_sitemaps_auto_with_records, " +
    "test_update_sitemaps_auto_with_solr_processed_updates, " +
    "test_cleanup_invalid_sitemaps)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli2").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")

    val msgs = Seq(
      records.UpdateMessage("2024Auto.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-05-30 00:00:00")),
      records.UpdateMessage("2024Auto.....2....B", "metadata",
        """{"title": ["two"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()
    Pipeline.runBatch(spark, store, msgs, d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-05-31 00:00:00"))

    // auto update with a 7-day lookback picks up only the fresh record
    // (now = 2024-06-01; record B last moved in January)
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "7"), d) == 0)
    val smStore = new graft.sources.MasterStore(s"$root/smstate",
      empty = graft.operators.SitemapState.empty)
    val entries = smStore.read(spark).collect().map(_.getAs[String]("bibcode")).toSet
    assert(entries == Set("2024Auto.....1....A"), s"got $entries")
    assert(new java.io.File(s"$root/sitemaps/ads/sitemap_bib_1.xml").exists)

    // a record whose SOLR delivery moved recently is picked up too, even
    // with stale bib_data (test_run.py:546
    // test_update_sitemaps_auto_with_solr_processed_updates)
    store.write(store.read(spark).withColumn("solr_processed",
      when(col("bibcode") === "2024Auto.....2....B",
        lit(Timestamp.valueOf("2024-05-31 12:00:00")).cast("timestamp"))
        .otherwise(col("solr_processed"))))
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "7"), d) == 0)
    assert(smStore.read(spark).collect().map(_.getAs[String]("bibcode")).toSet ==
      Set("2024Auto.....1....A", "2024Auto.....2....B"),
      "solr_processed movement alone qualifies a record")

    // both records go solr-failed → cleanup sweeps them and deletes the file
    val failed = store.read(spark).withColumn("status", lit("solr-failed"))
    store.write(failed)
    assert(Cli.run(spark, argvBase ++ Seq("--cleanup-invalid-sitemaps"), d) == 0)
    assert(smStore.read(spark).count() == 0)
    assert(!new java.io.File(s"$root/sitemaps/ads/sitemap_bib_1.xml").exists,
      "emptied sitemap file removed from the site tree")

    // delete_obsolete: a record without bib_data older than --since goes away
    val noBib = store.read(spark).withColumn("bib_data",
      when(col("bibcode") === "2024Auto.....2....B", lit(null).cast("string"))
        .otherwise(col("bib_data")))
    store.write(noBib)
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--delete_obsolete", "--since", "2024-05-01 00:00:00"), d) == 0)
    assert(log.exists(_.contains("deleted 1 obsolete records")), s"got $log")
    assert(store.read(spark).collect().map(_.getAs[String]("bibcode")).toSet ==
      Set("2024Auto.....1....A"))
    // missing --since is a usage error
    assert(Cli.run(spark, argvBase ++ Seq("--delete_obsolete"), d) == 2)
  }

  test("feed-driven sitemap cron: the first cadence scans and persists a " +
    "cursor; the second discovers its due set from the master change feed " +
    "and appends a KEY-LOCAL state layer instead of rewriting the table") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_smf").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    def msg(bib: String, t: String) = records.UpdateMessage(bib, "metadata",
      s"""{"title": ["$bib"]}""", Timestamp.valueOf(t))

    // keyed merges throughout (the queue-consumer shape), so the feed
    // stays readable across cadences — a blind write would reset it
    Pipeline.runBatch(spark, store, Seq(msg("2024Smf......1A", "2024-05-30 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-05-31 00:00:00"), keyLocal = true)
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "7"), d) == 0)
    assert(log.exists(_.contains("auto update (table-scan discovery)")),
      s"first cadence bootstraps by scan: $log")

    Pipeline.runBatch(spark, store, Seq(msg("2024Smf......2B", "2024-05-30 12:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-05-31 12:00:00"), keyLocal = true)
    val smStore = new graft.sources.MasterStore(s"$root/smstate",
      empty = graft.operators.SitemapState.empty, keyCol = "bibcode")
    val baseGenBefore = smStore.stats.get.baseGen
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "7"), d) == 0)
    assert(log.exists(_.contains("auto update (feed discovery)")),
      s"second cadence discovers from the feed: $log")
    assert(smStore.read(spark).collect().map(_.getAs[String]("bibcode")).toSet ==
      Set("2024Smf......1A", "2024Smf......2B"),
      "feed discovery lands the same state the scan would")
    // a whole-table state rewrite would advance the store's base
    // generation; the feed cadence's writes are delta layers, so it
    // must not move (layerCount alone can't pin this — markGenerated's
    // keyed merge leaves a layer either way)
    assert(smStore.stats.get.baseGen == baseGenBefore,
      "the feed cadence's state writes are delta layers, never a rewrite")

    // a master recreated under a surviving cursor fails LOUDLY (usage
    // error naming the recovery), never a silent 1-day re-baseline
    graft.sources.FsUtil.deleteTree(java.nio.file.Paths.get(s"$root/master"))
    val store2 = new graft.sources.MasterStore(s"$root/master")
    Pipeline.runBatch(spark, store2, Seq(msg("2024Smf......3C", "2024-05-30 13:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-05-31 13:00:00"), keyLocal = true)
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "7"), d) == 2)
    assert(log.exists(_.contains("AHEAD")), s"got $log")
  }

  test("sitemap cron behind the feed horizon recovers WITHOUT the lookback " +
    "cutoff: a change older than --days-back but newer than the dead " +
    "cursor still lands (a daysBack-bounded fallback would drop it " +
    "permanently as the cursor re-advances)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_bh").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    def msg(bib: String, t: String) = records.UpdateMessage(bib, "metadata",
      s"""{"title": ["$bib"]}""", Timestamp.valueOf(t))

    Pipeline.runBatch(spark, store, Seq(msg("2024Bhz......1A", "2024-01-01 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-02 00:00:00"), keyLocal = true)
    // first cadence persists the cursor (deps' now = 2024-06-01, so the
    // January change needs the wide lookback here)
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "400"), d) == 0)
    // age the cursor out of the feed: a blind write resets the horizon
    store.write(store.read(spark))
    // a change whose dates are ~5 months older than a 1-day lookback
    Pipeline.runBatch(spark, store, Seq(msg("2024Bhz......2B", "2024-01-03 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-04 00:00:00"), keyLocal = true)
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "1"), d) == 0)
    assert(log.exists(_.contains("behind feed horizon")), s"got $log")
    val smStore = new graft.sources.MasterStore(s"$root/smstate",
      empty = graft.operators.SitemapState.empty)
    assert(smStore.read(spark).collect().map(_.getAs[String]("bibcode")).toSet
      .contains("2024Bhz......2B"),
      "the behind-horizon recovery must reconcile changes older than the lookback")
    // and the cadence after recovery is back on the feed, reporting its
    // cursor window instead of a lookback it does not apply
    Pipeline.runBatch(spark, store, Seq(msg("2024Bhz......3C", "2024-01-05 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-06 00:00:00"), keyLocal = true)
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--update-sitemaps-auto", "--days-back", "1"), d) == 0)
    assert(log.exists(l => l.contains("feed discovery") && l.contains("cursor window")),
      s"got $log")
    assert(!log.exists(_.contains("lookback")), s"feed mode must not claim a lookback: $log")
    assert(smStore.read(spark).collect().map(_.getAs[String]("bibcode")).toSet
      .contains("2024Bhz......3C"))
  }

  test("composed daily ops loop: ingest wave → --index-from-feed → " +
    "--update-sitemaps-auto → --vacuum over three cycles — both cursors " +
    "advance together, both cadences stay in feed mode, consumers stay " +
    "registered, and the stores end vacuumed and readable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_ops").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    def ran(args: String*): Unit = {
      log.clear()
      assert(Cli.run(spark, argvBase ++ args, d) == 0, s"${args.mkString(" ")}: $log")
    }
    // standing corpus: 50 fully-processed records
    store.write(Fixtures.fullMaster(spark, 50)
      .withColumn("processed", lit(Timestamp.valueOf("2024-05-01 00:00:00")))
      .withColumn("status", lit("success")))
    ran("--manage-sitemap", "--action", "bootstrap")
    // cursor bootstraps: table-wide once each, by design
    ran("--index-from-feed")
    assert(log.exists(_.contains("discovery=table-scan")), s"got $log")
    ran("--update-sitemaps-auto", "--days-back", "1")
    assert(log.exists(_.contains("table-scan discovery")), s"got $log")

    val wmIdx = s"$root/master-watermarks"
    val wmSm = s"$root/master-sitemap-watermarks"
    def cursor(dir: String, key: String): Long =
      graft.streaming.Watermark.readGen(spark, dir, key).getOrElse(-1L)
    val waveK = 20L
    for (c <- 1 to 3) {
      val preIdx = cursor(wmIdx, Pipeline.GenCursorKey)
      val preSm = cursor(wmSm, "last.sitemaps.generation")
      // merge-only wave (sinks off): lands pending, new keys each cycle
      // arrival ts past the fixed watermark (deps' now = 2024-06-01, which
      // every cadence re-stamps): the wave must look NEWER than the last
      // sweep or the P1 gate correctly skips it
      val m = Fixtures.messages(spark, 1000L * c, 1000L * c + waveK,
        rev = c, tsBase = Timestamp.valueOf("2024-06-02 00:00:00").getTime + c * 60000L)
        .as[records.UpdateMessage]
      Pipeline.runBatch(spark, store, m, d.solrTransport, d.bulkTransport,
        now = Timestamp.valueOf("2024-05-31 00:00:00"),
        sinks = Set.empty, keyLocal = true)
      ran("--index-from-feed")
      assert(log.exists(l => l.contains("discovery=feed") &&
        l.contains(s"solrOk=$waveK")), s"cycle $c: $log")
      ran("--update-sitemaps-auto", "--days-back", "1")
      assert(log.exists(l => l.contains("feed discovery") &&
        l.contains("cursor window")), s"cycle $c: $log")
      ran("--vacuum", "--retain", "2", "--orphans", "--orphan-grace-min", "60")
      assert(cursor(wmIdx, Pipeline.GenCursorKey) > preIdx,
        s"cycle $c: index cursor stuck")
      assert(cursor(wmSm, "last.sitemaps.generation") > preSm,
        s"cycle $c: sitemap cursor stuck")
    }
    // post-loop invariants
    assert(store.consumerCursors.keySet == Set("reindex", "sitemaps"))
    assert(store.stats.get.consumersBehind == 0)
    assert(store.versions.size <= 3, s"got ${store.versions}")
    val smStore = new graft.sources.MasterStore(s"$root/master-sitemap",
      empty = graft.operators.SitemapState.empty)
    assert(smStore.versions.size <= 3, s"got ${smStore.versions}")
    assert(smStore.read(spark).count() == 50 + 3 * waveK,
      "every wave's records reached the sitemap state")
    assert(store.read(spark).count() == 50 + 3 * waveK)
    assert(new java.io.File(s"$root/master-sitemaps/ads/sitemap_bib_1.xml").exists)
  }

  test("--index-from-feed maps an AHEAD cursor (recreated master under a " +
    "surviving watermark dir) to a clean exit-2 usage error naming the " +
    "recovery, like the sitemap twin — not a stack trace") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_ahd").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    def msg(bib: String, t: String) = records.UpdateMessage(bib, "metadata",
      s"""{"title": ["$bib"]}""", Timestamp.valueOf(t))
    // two keyed batches so the persisted cursor lands at generation ≥ 2
    Pipeline.runBatch(spark, store, Seq(msg("2024Ahd......1A", "2024-01-01 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-02 00:00:00"), keyLocal = true)
    Pipeline.runBatch(spark, store, Seq(msg("2024Ahd......2B", "2024-01-03 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-04 00:00:00"), keyLocal = true)
    assert(Cli.run(spark, argvBase ++ Seq("--index-from-feed"), d) == 0)
    // recreate the master under the surviving watermark dir, one gen deep
    graft.sources.FsUtil.deleteTree(java.nio.file.Paths.get(s"$root/master"))
    val store2 = new graft.sources.MasterStore(s"$root/master")
    Pipeline.runBatch(spark, store2, Seq(msg("2024Ahd......3C", "2024-01-05 00:00:00")).toDS(),
      d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-06 00:00:00"), keyLocal = true)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--index-from-feed"), d) == 2)
    assert(log.exists(l => l.contains("AHEAD") && l.contains("re-baseline")),
      s"got $log")
  }

  test("maintenance surface: scix-id flags and index_failed " +
    "(test_task_update_scixid, test_reindex_failed_bibcodes)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli3").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")

    val msgs = Seq(
      records.UpdateMessage("2024Mnt.....1....A", "metadata",
        """{"bibcode": "2024Mnt.....1....A", "title": ["one"]}""",
        Timestamp.valueOf("2024-01-01 00:00:00")),
      records.UpdateMessage("2024Mnt.....2....B", "metadata",
        """{"bibcode": "2024Mnt.....2....B", "title": ["two"]}""",
        Timestamp.valueOf("2024-01-02 00:00:00"))).toDS()
    Pipeline.runBatch(spark, store, msgs, d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-03 00:00:00"))
    def scixOf(): Map[String, String] = store.read(spark).collect()
      .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("scix_id")).toMap
    val assigned = scixOf()
    assert(assigned.values.forall(_ != null), "upsert assigned ids")

    // reset-all nulls, update-all reassigns the same deterministic ids
    assert(Cli.run(spark, argvBase ++ Seq("--update-scix-id",
      "--scix-id-flag", "reset-all"), d) == 0)
    assert(scixOf().values.forall(_ == null))
    assert(Cli.run(spark, argvBase ++ Seq("--update-scix-id",
      "--scix-id-flag", "update-all"), d) == 0)
    assert(scixOf() == assigned, "regeneration is deterministic")

    // scoped reset touches only the named bibcode
    assert(Cli.run(spark, argvBase ++ Seq("--update-scix-id",
      "--scix-id-flag", "reset", "-b", "2024Mnt.....1....A"), d) == 0)
    val scoped = scixOf()
    assert(scoped("2024Mnt.....1....A") == null &&
      scoped("2024Mnt.....2....B") == assigned("2024Mnt.....2....B"))
    // non-all variants require bibcodes
    assert(Cli.run(spark, argvBase ++ Seq("--update-scix-id",
      "--scix-id-flag", "reset"), d) == 2)

    // index_failed: mark one failed, re-drive it
    store.write(store.read(spark).withColumn("status",
      when(col("bibcode") === "2024Mnt.....1....A", lit("solr-failed"))
        .otherwise(lit("success"))))
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--index_failed"), d) == 0)
    assert(log.exists(_.contains("reindexed 1 previously failed")), s"got $log")
    val statuses = store.read(spark).collect()
      .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
    assert(statuses("2024Mnt.....1....A") == "success", "re-drive healed the record")
    // nothing failed → friendly no-op
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--index_failed"), d) == 0)
    assert(log.exists(_.contains("no failed bibcodes")))
  }

  test("rebuild-collection drives the monitor end to end over the CLI") {
    import spark.implicits._
    import graft.operators.Rebuild
    val root = java.nio.file.Files.createTempDirectory("graft_cli4").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d0) = deps(log)
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Rbd.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d0.solrTransport, d0.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))

    // canned probe on a virtual clock: writes settle instantly, the
    // searcher registers shortly after commit, floors are satisfied
    var vtime = 0L
    val probe = new Rebuild.StatusProbe {
      var cur = Map(
        "collection1" -> Rebuild.CoreStatus("/d/one", 5000, 4L << 30),
        "collection2" -> Rebuild.CoreStatus("/d/two", 9000, 3L << 30))
      var commitAt = -1L
      def cores() = cur
      def deleteAll(b: String): Unit = ()
      def commit(b: String): Unit = commitAt = vtime
      def searcherRegisteredAtMillis(): Long =
        if (commitAt >= 0 && vtime >= commitAt + 10000) commitAt + 10000 else -1L
      def docsPending(): Long = 0L
      def swap(b: String, l: String): Unit =
        cur = Map(l -> cur(b), b -> cur(l))
    }
    val d = d0.copy(rebuildProbe = Some(probe),
      rebuildCfg = Rebuild.Config(minCommittedDocs = 1000, minIndexSizeGb = 1.0),
      rebuildSleep = ms => vtime += ms,
      rebuildClock = () => vtime)
    val argvBase = Seq("--store", s"$root/master")

    // without a probe the command refuses cleanly
    assert(Cli.run(spark, argvBase ++ Seq("--rebuild-collection"), d0) == 2)

    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--rebuild-collection"), d) == 0)
    assert(log.exists(_.contains("rebuild complete, cores swapped")), s"got $log")
    assert(probe.cur("collection1").dataDir == "/d/two",
      "standby promoted to live")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/master/rebuild.locked")),
      "lock released after the verified swap")
  }

  test("boost and augment request commands") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli5").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Bst.....1....A", "metadata",
        """{"bibcode": "2024Bst.....1....A", "title": ["t"], "aff": ["MIT"], "author": ["A, B"]}""",
        Timestamp.valueOf("2024-01-01 00:00:00")),
      records.UpdateMessage("2024Bst.....2....B", "metadata",
        """{"bibcode": "2024Bst.....2....B", "title": ["t2"]}""",
        Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))

    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--boost",
      "-b", "2024Bst.....1....A 2024Bst.....2....B"), d) == 0)
    assert(log.exists(_.contains("boost requests sent: 2/2")), s"got $log")

    // augment: only the record with a non-empty aff list produces a request
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("-a",
      "-b", "2024Bst.....1....A 2024Bst.....2....B"), d) == 0)
    assert(log.exists(_.contains("augment requests sent: 1/1")), s"got $log")
    assert(Cli.run(spark, argvBase ++ Seq("--boost"), d) == 2, "needs bibcodes")

    // classify: both titled records produce requests; operation_step
    // follows the flag (run.py:912-948)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--classify",
      "-b", "2024Bst.....1....A 2024Bst.....2....B"), d) == 0)
    assert(log.exists(_.contains("classify requests (classify) sent: 2/2")), s"got $log")
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--classify_verify",
      "-b", "2024Bst.....1....A"), d) == 0)
    assert(log.exists(_.contains("classify requests (classify_verify) sent: 1/1")),
      s"got $log")
    assert(Cli.run(spark, argvBase ++ Seq("--classify"), d) == 2, "needs bibcodes")
  }

  test("--solr-collection rewrites this run's sink targets (run.py:235-255)") {
    import spark.implicits._
    // collection_to_urls unit surface: name rewrite, full-URL passthrough,
    // dedup of same-server targets
    assert(Sinks.collectionToUrls(None,
      Seq("http://s1/solr/collection1/update")) ==
      Seq("http://s1/solr/collection1/update"))
    assert(Sinks.collectionToUrls(Some("collection2"),
      Seq("http://s1/solr/collection1/update", "http://s2/solr/collection1/update")) ==
      Seq("http://s1/solr/collection2/update", "http://s2/solr/collection2/update"))
    assert(Sinks.collectionToUrls(Some("collection2"),
      Seq("http://s1/solr/c1/update", "http://s1/solr/c2/update")) ==
      Seq("http://s1/solr/collection2/update"), "same server collapses")
    assert(Sinks.collectionToUrls(Some("http://other/c9/update"),
      Seq("http://s1/solr/c1/update")) == Seq("http://other/c9/update"))
    assert(Sinks.collectionToUrls(Some("c2"), Seq("http://s1/update")) ==
      Seq("http://s1/update"),
      "a URL with no collection segment passes through, its host untouched")

    val root = java.nio.file.Files.createTempDirectory("graft_cli6").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d0) = deps(log)
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Col.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d0.solrTransport, d0.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))

    // the factory builds a per-URL counting transport, so the test sees
    // both which targets were resolved and that each received the batch
    val d = d0.copy(
      solrUrls = Seq("http://s1/solr/collection1/update",
        "http://s2/solr/collection1/update"),
      solrTransportFor = url => new CliSpec.UrlCountingTransport(url))
    CliSpec.urlDeliveries.clear()
    log.clear()
    assert(Cli.run(spark, Seq("--store", s"$root/master", "-r", "s", "-f",
      "--solr-collection", "collection2"), d) == 0)
    assert(log.exists(l => l.contains("reindexing to solr url") &&
      l.contains("http://s1/solr/collection2/update") &&
      l.contains("http://s2/solr/collection2/update")), s"got $log")
    assert(CliSpec.urlDeliveries.get("http://s1/solr/collection2/update") == 1 &&
      CliSpec.urlDeliveries.get("http://s2/solr/collection2/update") == 1,
      s"fanout delivered to both rewritten targets: ${CliSpec.urlDeliveries}")
  }

  test("--classify --manual: CSV batch classify with output_path stamping") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli7").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d0) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    // 2024Man.....2....B exists in the store with a title; the CSV row for
    // it carries none, so the store lookup path must resolve it
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Man.....2....B", "metadata",
        """{"bibcode": "2024Man.....2....B", "title": ["from store"], "abstract": "sa"}""",
        Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d0.solrTransport, d0.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))

    val csv = java.nio.file.Paths.get(root, "manual_batch.csv")
    java.nio.file.Files.write(csv,
      ("bibcode,title,abstract\n" +
        "2024Man.....1....A,Own Title,Own abstract\n" + // CSV-supplied fields
        "2024Man.....2....B,,\n" +                      // store lookup
        "2024Man.....3....C,,\n"                        // nowhere → skipped
        ).getBytes("UTF-8"))

    // --manual without -n is a usage error (app.py only batches from a file)
    assert(Cli.run(spark, argvBase ++ Seq("--classify", "--manual"), d0) == 2)

    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--classify", "--manual",
      "-n", csv.toString, "--classifier_batch", "10"), d0) == 0)
    assert(log.exists(_.contains("classify requests (classify, manual) sent: 2/2")),
      s"titleless row skipped, store row resolved: $log")

    // --validate_classifier (check_boolean): the message is dumped to a
    // file instead of queued, entries stamped with output_path = the input
    // file sans extension (app.py:755-764)
    val dump = java.nio.file.Paths.get(root, "classifier_request.json")
    val d = d0.copy(classifierRequestFile = dump.toString)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--classify_verify", "--manual",
      "-n", csv.toString, "--validate_classifier"), d) == 0)
    assert(log.exists(_.contains(s"classifier request written to $dump")), s"got $log")
    val json = new String(java.nio.file.Files.readAllBytes(dump), "UTF-8")
    import org.json4s._
    val reqs = (org.json4s.jackson.JsonMethods.parse(json) \ "classify_requests")
      .asInstanceOf[JArray].arr
    assert(reqs.size == 2)
    val byBib = reqs.map(r => ((r \ "bibcode").values.toString, r)).toMap
    assert((byBib("2024Man.....1....A") \ "title").values == "Own Title")
    assert((byBib("2024Man.....2....B") \ "title").values == "from store")
    assert(reqs.forall(r => (r \ "operation_step").values == "classify_verify"))
    val expectedOut = csv.toString.split('.').head
    assert(reqs.forall(r => (r \ "output_path").values == expectedOut),
      "entries stamped with the input file sans extension")
  }

  test("an existing-but-empty -n file keeps the exit-2 usage error " +
    "(test_actions_requiring_bibcodes_without_bibcodes_causes_sys_exit)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli8").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Emp.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))
    val v0 = store.currentVersion
    val empty = java.nio.file.Paths.get(root, "empty.txt")
    java.nio.file.Files.write(empty, "\n \n".getBytes("UTF-8"))

    for (cmd <- Seq(Seq("--delete"), Seq("--boost"), Seq("--classify"),
      Seq("--update-scix-id", "--scix-id-flag", "reset"))) {
      log.clear()
      assert(Cli.run(spark, argvBase ++ cmd ++ Seq("-n", empty.toString), d) == 2,
        s"$cmd with empty -n must not no-op")
      assert(log.exists(_.contains("empty bibcode set")), s"got $log")
    }
    // -r with an empty -n must NOT fall back to a full watermark sweep
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("-r", "-f", "-n", empty.toString), d) == 2)
    assert(log.exists(_.contains("empty bibcode set")), s"got $log")
    assert(store.currentVersion == v0, "no store rewrite happened")

    // --update-scix-id reports how many records the sweep MATCHED — a
    // named bibcode the store doesn't have must not inflate the count
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--update-scix-id",
      "--scix-id-flag", "reset", "-b", "2024Emp.....1....A 2024Bogus....9....Z"), d) == 0)
    assert(log.exists(_.contains("scix-id reset applied (1 records)")), s"got $log")
  }

  test("update-robots: a failing site is skipped, all-fail is an error " +
    "(test_task_manage_sitemap_update_robots_action_error_handling)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli9").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    Pipeline.runBatch(spark, store, Seq(
      records.UpdateMessage("2024Rob.....1....A", "metadata",
        """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"))
    val argv = Seq("--store", s"$root/master", "--out", s"$root/sitemaps",
      "--manage-sitemap", "--action", "update-robots")

    // block the ads site dir with a plain file: ads fails, scix proceeds
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/sitemaps"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/sitemaps/ads"),
      "not a directory".getBytes)
    log.clear()
    assert(Cli.run(spark, argv, d) == 0, s"one healthy site is enough: $log")
    assert(log.exists(_.contains("failed to update robots.txt for site ads")), s"got $log")
    assert(log.exists(_.contains("robots.txt regenerated for 1 sites")), s"got $log")
    assert(new java.io.File(s"$root/sitemaps/scix/robots.txt").exists,
      "the healthy site still got its file")

    // every site blocked → wholesale failure (tasks.py:655-659)
    val root2 = java.nio.file.Files.createTempDirectory("graft_cli9b").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root2/sitemaps"),
      "not a directory".getBytes)
    log.clear()
    assert(Cli.run(spark, Seq("--store", s"$root/master", "--out", s"$root2/sitemaps",
      "--manage-sitemap", "--action", "update-robots"), d) == 2)
    assert(log.exists(_.contains("error: failed to update robots.txt files")), s"got $log")
  }

  test("task failures propagate out of the CLI, never swallowed " +
    "(test_populate_sitemap_table_with_exception, " +
    "test_update_sitemap_files_with_exception, " +
    "test_update_sitemaps_auto_with_exception)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli10").toString
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    // corrupt the sitemap store's pointer: a generation file referencing a
    // data dir that does not exist. Any command that reads the store must
    // surface the failure, exactly as run.py re-raises its task errors
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/smstate"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/smstate/gen_000000000001"),
      "v_missingdatadir".getBytes)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    // a pointer referencing a vanished data dir surfaces as
    // FileNotFoundException at snapshot resolution (it must NOT resolve
    // to an empty table — that would silently "succeed" over corruption)
    intercept[java.io.FileNotFoundException] {
      Cli.run(spark, argvBase ++ Seq("--update-sitemap-files"), d)
    }
    intercept[java.io.FileNotFoundException] {
      Cli.run(spark, argvBase ++ Seq("--update-sitemaps-auto"), d)
    }
    intercept[java.io.FileNotFoundException] {
      Cli.run(spark, argvBase ++
        Seq("--manage-sitemap", "--action", "add", "-b", "x"), d)
    }
  }

  test("parser: aliases, optional -r letters, errors") {
    assert(Cli.parse(Seq("-r", "-f")) ==
      Right(Map("index" -> "sml", "force_indexing" -> "")))
    assert(Cli.parse(Seq("-r", "sm")) == Right(Map("index" -> "sm")))
    // Regression (r9 verdict): an empty token after -r must NOT be consumed
    // as the letter set — it falls through to the "sml" default and the
    // empty token is then rejected as a stray argument. The reference's
    // nargs='?' never yields an empty letter set (run.py:702-708).
    assert(Cli.parse(Seq("-r", "")).isLeft,
      "-r followed by an empty token must not admit index=\"\"")
    assert(Cli.parse(Seq("--since", "2024-01-01")) ==
      Right(Map("since" -> "2024-01-01")))
    assert(Cli.parse(Seq("--since")).isLeft, "valued flag without value")
    assert(Cli.parse(Seq("stray")).isLeft, "non-flag argument rejected")
  }
  test("fuzz: parse is total over arbitrary token streams and never " +
    "admits an unvalued required flag") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tokens = Gen.oneOf(
      Gen.oneOf("-r", "-b", "-n", "-d", "-f", "--delete", "--since",
        "--manage-sitemap", "--action", "add", "remove", "sml", "b1,b2",
        "--boost-all", "--priority", "--", "-", ""),
      Gen.asciiPrintableStr.map(_.take(12)))
    // Known counterexample from r9 pinned explicitly so the gate cannot
    // flake green on generator luck, plus a FIXED seed: the property is a
    // deterministic regression suite, not a lottery.
    val pinned = Seq(Seq("-r", ""), Seq("-r", "", "-f"), Seq("--since", ""),
      Seq("-r", "-r", ""))
    for (argv <- pinned) Cli.parse(argv) match {
      case Right(m) => assert(m.get("index").forall(_.nonEmpty), s"argv=$argv parsed to $m")
      case Left(e)  => assert(e.nonEmpty)
    }
    val seed = org.scalacheck.rng.Seed(0x5eed_cafe_f00dL)
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500)
        .withInitialSeed(seed),
      Prop.forAll(Gen.listOf(tokens)) { argv =>
        Cli.parse(argv) match {
          case Right(m) =>
            // every parsed key is either a known no-value flag or carries
            // its value; -r always resolves to a concrete letter set
            m.get("index").forall(_.nonEmpty)
          case Left(err) => err.nonEmpty
        }
      })
    assert(r.passed, r.toString)
  }

  test("--ingest writes the append-only changelog (pre-images stamped " +
    "with the published generation) and --changes-since exports the " +
    "per-key net change from the delta layers") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_cdc").toString
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    def envelope(bib: String, title: String, ts: Long) =
      s"""{"type":"metadata","bibcode":"$bib","timestamp":$ts,""" +
        s""""payload":{"bibcode":"$bib","title":["$title"]}}"""

    val f1 = java.nio.file.Paths.get(root, "b1.jsonl")
    java.nio.file.Files.write(f1, Seq(
      envelope("2024Cdc......1A", "one", 1700000000000L),
      envelope("2024Cdc......2B", "two", 1700000001000L))
      .mkString("\n").getBytes("UTF-8"))
    assert(Cli.run(spark, argvBase ++ Seq("--ingest", f1.toString), d) == 0)

    // batch 2 re-titles 1A — its changelog row must carry batch 1's
    // payload as the pre-image, proving the log records history, not state
    val f2 = java.nio.file.Paths.get(root, "b2.jsonl")
    java.nio.file.Files.write(f2,
      envelope("2024Cdc......1A", "one-v2", 1700000002000L).getBytes("UTF-8"))
    assert(Cli.run(spark, argvBase ++ Seq("--ingest", f2.toString), d) == 0)

    val cl = spark.read.parquet(s"$root/master-changelog")
    assert(cl.columns.toSet ==
      Set("key", "ctype", "oldvalue", "permanent", "ts", "version"))
    val rows = cl.collect().map(r => (r.getAs[String]("key"),
      r.getAs[String]("ctype"), Option(r.getAs[String]("oldvalue")),
      r.getAs[Long]("version")))
    assert(rows.length == 3, s"one row per ingested message: ${rows.toSeq}")
    val versions = rows.map(_._4).distinct.sorted
    assert(versions.length == 2 && versions.forall(_ > 0),
      s"stamped with the two published generations: ${versions.toSeq}")
    val preImage = rows.find(r => r._1 == "2024Cdc......1A" &&
      r._4 == versions.last).flatMap(_._3)
    assert(preImage.exists(_.contains("\"one\"")),
      s"batch 2's row carries batch 1's payload as pre-image: $preImage")
    assert(rows.filter(_._4 == versions.head).forall(_._3.isEmpty),
      "first-ever writes have no pre-image")

    // the CDC export over the same history: both keys changed since 0
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--changes-since", "0", "--report-out", s"$root/changes"), d) == 0)
    assert(log.exists(_.contains("2 changed keys (0 deleted)")), s"got: $log")
    val feed = spark.read.parquet(s"$root/changes").collect()
      .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("bib_data")).toMap
    assert(feed.keySet == Set("2024Cdc......1A", "2024Cdc......2B"))
    assert(feed("2024Cdc......1A").contains("one-v2"),
      "the feed carries the NEWEST state in the window")

    // --no-changelog opts a batch out
    val f3 = java.nio.file.Paths.get(root, "b3.jsonl")
    java.nio.file.Files.write(f3,
      envelope("2024Cdc......3C", "three", 1700000003000L).getBytes("UTF-8"))
    assert(Cli.run(spark, argvBase ++
      Seq("--ingest", f3.toString, "--no-changelog"), d) == 0)
    assert(spark.read.parquet(s"$root/master-changelog").count() == 3,
      "--no-changelog batch appended nothing")
  }

  test("--index-from-feed: cadence discovery from the change feed — the " +
    "first run bootstraps table-wide, persists a generation cursor, and " +
    "the next cadence discovers its pending work from the feed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_feed").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    def full(bib: String, t: String) = Seq(
      records.UpdateMessage(bib, "metadata", s"""{"title": ["$bib"]}""",
        Timestamp.valueOf(t)),
      records.UpdateMessage(bib, "nonbib_data", """{"boost": 0.4}""",
        Timestamp.valueOf(t)),
      records.UpdateMessage(bib, "orcid_claims", """{"verified": []}""",
        Timestamp.valueOf(t)))

    // a pending record: merged (no sinks, no stamps), awaiting the cadence
    Pipeline.runBatch(spark, store, full("2024Feed.....1....A", "2024-01-01 00:00:00").toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-01-02 00:00:00"),
      sinks = Set.empty, keyLocal = true)
    assert(Cli.run(spark, argvBase ++ Seq("--index-from-feed"), d) == 0)
    assert(log.exists(l => l.contains("discovery=table-scan") && l.contains("solrOk=1")),
      s"first cadence bootstraps table-wide: $log")

    // second cadence: a new pending record, discovered via the feed this
    // time (the cursor persisted in the default watermark dir). Its ts is
    // after the first run's advanced time watermark (deps' now)
    Pipeline.runBatch(spark, store, full("2024Feed.....2....B", "2024-07-01 00:00:00").toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-07-01 01:00:00"),
      sinks = Set.empty, keyLocal = true)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--index-from-feed"), d) == 0)
    assert(log.exists(l => l.contains("discovery=feed") && l.contains("solrOk=1")),
      s"second cadence discovers from the feed: $log")

    // flags whose -r meaning the feed command cannot honor are usage
    // errors, never silently ignored (a targeted run must not become a
    // full sweep; the stampless mode breaks feed discovery's contract)
    assert(Cli.run(spark, argvBase ++
      Seq("--index-from-feed", "--no-update-processed"), d) == 2)
    assert(Cli.run(spark, argvBase ++
      Seq("--index-from-feed", "--bibcodes", "2024Feed.....1....A"), d) == 2)
    assert(Cli.run(spark, argvBase ++
      Seq("--index-from-feed", "--since", "2024-01-01 00:00:00"), d) == 2)
    // non-numeric --priority is the 2-exit usage error on BOTH sweep
    // commands (shared sweepFlags), not a NumberFormatException crash
    assert(Cli.run(spark, argvBase ++
      Seq("--index-from-feed", "--priority", "high"), d) == 2)
    assert(Cli.run(spark, argvBase ++
      Seq("-r", "--priority", "high"), d) == 2)
  }

  test("--consumers lists registered feed consumers with freshness; " +
    "--unregister-consumer drops a registration (dead-cron cleanup " +
    "surface) and rejects unknown names") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_cons").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master")
    val msgs = Seq(records.UpdateMessage("2024Cons.....1....A", "metadata",
      """{"title": ["one"]}""", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()
    Pipeline.runBatch(spark, store, msgs, d.solrTransport, d.bulkTransport,
      now = Timestamp.valueOf("2024-01-03 00:00:00"))

    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--consumers"), d) == 0)
    assert(log.exists(_.contains("no registered feed consumers")), s"got $log")
    // the feed sweep registers; the listing reports it ok/fresh
    assert(Cli.run(spark, argvBase ++ Seq("--index-from-feed"), d) == 0)
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--consumers"), d) == 0)
    assert(log.exists(l => l.contains("consumer reindex:") && l.contains("ok")),
      s"got $log")
    // a stale registration is flagged (backdated past the default TTL)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/master", "consumers", "reindex"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    log.clear()
    assert(Cli.run(spark, argvBase ++ Seq("--consumers"), d) == 0)
    assert(log.exists(_.contains("STALE")), s"got $log")
    // unregister: unknown name is a usage error, known one is dropped
    log.clear()
    assert(Cli.run(spark, argvBase ++
      Seq("--unregister-consumer", "nope"), d) == 2)
    assert(Cli.run(spark, argvBase ++
      Seq("--unregister-consumer", "reindex"), d) == 0)
    assert(store.consumerCursors.isEmpty)
  }

  test("a bad numeric or timestamp flag value exits 2 with an error line " +
    "and touches no store or sink") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_vals").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    Pipeline.runBatch(spark, store, Seq(records.UpdateMessage("2024Val......1A",
      "metadata", """{"title": ["one"]}""", Timestamp.valueOf("2024-05-30 00:00:00"))).toDS(),
      d.solrTransport, d.bulkTransport, now = Timestamp.valueOf("2024-05-31 00:00:00"))
    assert(Cli.run(spark, argvBase ++ Seq("--manage-sitemap", "--action", "bootstrap"), d) == 0)
    val csv = java.nio.file.Paths.get(root, "manual.csv")
    java.nio.file.Files.write(csv, "bibcode,title\n2024Val......1A,one\n".getBytes("UTF-8"))
    def tree(): Map[String, (Long, Long)] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString -> (p.toFile.length, p.toFile.lastModified)).toMap
      finally walk.close()
    }
    val before = tree()
    val sent = CliSpec.batches.get
    val bad = Seq(
      Seq("--boost-all", "-e", "abc"),
      Seq("--boost-all", "--batch_size", "0"),
      Seq("--classify", "--manual", "-n", csv.toString, "--classifier_batch", "abc"),
      Seq("-r", "-s", "2024-01-01"),
      Seq("--delete_obsolete", "--since", "2024-01-01"),
      Seq("--update-sitemap-files", "--lease-ttl-min", "abc"),
      Seq("--vacuum", "--orphans", "--orphan-grace-min", "-5"),
      // the member index is always on: the old switch is no flag at all
      Seq("--update-sitemaps-auto", "--members-store", "off"))
    for (args <- bad) {
      log.clear()
      assert(Cli.run(spark, argvBase ++ args, d) == 2, s"$args: $log")
      assert(log.exists(_.startsWith("error:")), s"$args: $log")
      assert(tree() == before, s"$args touched the stores")
    }
    assert(CliSpec.batches.get == sent, "no sink saw a delivery")
  }

  test("an out-of-band sitemap action between two crons leaves the member " +
    "index stale: the next --update-sitemaps-auto resyncs it exactly once, " +
    "the cron after it resyncs nothing, and the index mirrors the state") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli_smidx").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val log = collection.mutable.Buffer.empty[String]
    val (_, d) = deps(log)
    val argvBase = Seq("--store", s"$root/master",
      "--sitemap-store", s"$root/smstate", "--out", s"$root/sitemaps")
    def ingest(bib: String, t: String): Unit =
      Pipeline.runBatch(spark, store, Seq(records.UpdateMessage(bib, "metadata",
        s"""{"title": ["$bib"]}""", Timestamp.valueOf(t))).toDS(),
        d.solrTransport, d.bulkTransport,
        now = Timestamp.valueOf("2024-05-31 00:00:00"), keyLocal = true)
    // one cron; returns how many resync lines it wrote to stderr
    def cron(): Int = {
      log.clear()
      val (rc, err) = capturingStderr(Cli.run(spark, argvBase ++
        Seq("--update-sitemaps-auto", "--days-back", "7"), d))
      assert(rc == 0, s"$log")
      err.linesIterator.count(l => l.contains("[sitemap-members]") && l.contains("resyncing"))
    }
    ingest("2024Idx......1A", "2024-05-30 00:00:00")
    cron() // table-scan bootstrap: the full render builds the index
    ingest("2024Idx......2B", "2024-05-30 06:00:00")
    assert(Cli.run(spark, argvBase ++
      Seq("--manage-sitemap", "--action", "add", "-b", "2024Idx......2B"), d) == 0)
    ingest("2024Idx......3C", "2024-05-30 12:00:00")
    assert(cron() == 1, "the stale index resyncs once")
    assert(log.exists(_.contains("feed discovery")), s"got $log")
    ingest("2024Idx......4D", "2024-05-30 18:00:00")
    assert(cron() == 0, "a fresh index never resyncs")
    assert(log.exists(_.contains("members read")), s"got $log")
    def rows(s: graft.sources.MasterStore): Set[String] =
      s.read(spark).collect().map(_.mkString("|")).toSet
    val state = new graft.sources.MasterStore(s"$root/smstate",
      empty = graft.operators.SitemapState.empty)
    val index = new graft.operators.SitemapMembers(s"$root/smstate-members")
    assert(rows(state).size == 4)
    assert(rows(index.store) == rows(state), "the index mirrors the primary state")
  }

  test("--ingest whose batch throws releases every frame the command cached " +
    "and every pin it took") {
    val root = java.nio.file.Files.createTempDirectory("graft_cli_throw").toString
    val (_, d) = deps(collection.mutable.Buffer.empty[String])
    val f = java.nio.file.Paths.get(root, "queue.jsonl")
    java.nio.file.Files.write(f, ("""{"type":"metadata","bibcode":"2024Thr......1A",""" +
      """"timestamp":1700000000000,"payload":{"bibcode":"2024Thr......1A"}}""")
      .getBytes("UTF-8"))
    // a regular file where the change log's directory should be: the
    // append after the batch's publish throws
    val notADir = java.nio.file.Files.createTempFile("graft_cli_changelog", ".parquet")
    spark.catalog.clearCache()
    Pins.releaseAll()
    val e = intercept[Exception](Cli.run(spark, Seq("--store", s"$root/master",
      "--ingest", f.toString, "--changelog", notADir.toString), d))
    assert(new graft.sources.MasterStore(s"$root/master").currentVersion.contains(1L),
      s"the publish landed before the append threw: $e")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"--ingest threw ($e) with cached data left in the session")
    assert(Pins.held.isEmpty, s"--ingest threw ($e) holding pins ${Pins.held}")
  }
}

object CliSpec {
  /** Top-level + static counter so the transport closure serializes without
    * dragging the suite (and its scalatest engine) into the task. */
  val batches = new java.util.concurrent.atomic.AtomicInteger(0)
  class CountingTransport extends Sinks.Transport with Serializable {
    def send(p: Seq[String]): Unit = { batches.incrementAndGet(); () }
  }
  /** Per-URL delivery counter for the --solr-collection fanout check (static
    * for the same serializability reason). */
  val urlDeliveries = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  class UrlCountingTransport(url: String) extends Sinks.Transport with Serializable {
    def send(p: Seq[String]): Unit = { urlDeliveries.merge(url, 1, (a, b) => a + b); () }
  }
}
