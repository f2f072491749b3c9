package graft

import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

import graft.records.UpdateMessage
import graft.sources.{MasterStore, Sinks}

/** End-to-end pipeline tests: two micro-batches through the snapshot
  * store with a flaky sink, asserting merge counts, checksum-suppressed
  * replays, failure status stamping, snapshot versioning, and sitemap
  * output over the live snapshot. */
class PipelineSpec extends AnyFunSuite with SparkSpec {

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def msgs(bib: String, t: String): Seq[UpdateMessage] = Seq(
    UpdateMessage(bib, "metadata",
      s"""{"bibcode": "$bib", "title": ["T $bib"], "database": ["astronomy"]}""", ts(t)),
    UpdateMessage(bib, "nonbib_data", """{"boost": 0.4}""", ts(t)),
    UpdateMessage(bib, "orcid_claims", """{"verified": []}""", ts(t)),
    UpdateMessage(bib, "metrics", """{"reads": [1]}""", ts(t)))

  val okTransport = new Sinks.Transport { def send(p: Seq[String]): Unit = () }

  test("streaming ingest: foreachBatch micro-batches advance the snapshot store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_store_s").toString
    val store = new graft.sources.MasterStore(root, numBuckets = 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString

    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UpdateMessage]
    val query = Pipeline.runStream(spark, store, input.toDS(),
      okTransport, okTransport, ckpt)
    try {
      input.addData(msgs("s1", "2024-01-01 00:00:00"): _*)
      query.processAllAvailable()
      assert(store.currentVersion.contains(1L))
      val v1 = store.read(spark).collect().map(r =>
        r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
      assert(v1("s1") == "success")

      input.addData(msgs("s2", "2024-01-02 00:00:00"): _*)
      query.processAllAvailable()
      assert(store.currentVersion.contains(2L))
      val v2 = store.read(spark).collect().map(_.getAs[String]("bibcode")).toSet
      assert(v2 == Set("s1", "s2"), "later batches merge on top of earlier snapshots")
    } finally query.stop()
  }

  test("a queue consumer reads its source once per batch: runStream pins " +
    "the micro-batch before runBatch's legs read it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MasterStore(
      java.nio.file.Files.createTempDirectory("graft_store_once").toString, numBuckets = 2)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_once").toString
    val evaluated = spark.sparkContext.longAccumulator("source rows evaluated")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UpdateMessage]
    val counted = input.toDS().map { m => evaluated.add(1L); m }
    // every leg that reads the batch runs: the full-delete probe and its
    // sink deletes, the keyed lookup, the merge, the boost and augment
    // requests and the publish's key set
    val query = Pipeline.runStream(spark, store, counted, okTransport, okTransport, ckpt,
      forwardBoostRequests = true, forwardAugmentRequests = true)
    try {
      val first = msgs("once1", "2024-01-01 00:00:00") ++ msgs("once2", "2024-01-01 00:00:00")
      input.addData(first: _*)
      query.processAllAvailable()
      assert(evaluated.value == first.size, s"${evaluated.value} source rows for ${first.size}")
      val second = msgs("once3", "2024-01-02 00:00:00") :+ UpdateMessage("once1", "metadata",
        "", ts("2024-01-02 00:00:00"), status = Some("deleted"))
      input.addData(second: _*)
      query.processAllAvailable()
      assert(store.read(spark).select("bibcode").as[String].collect().toSet ==
        Set("once2", "once3"), "the second batch's delete and upsert landed")
      assert(evaluated.value == first.size + second.size,
        s"${evaluated.value} source rows for ${first.size + second.size}")
    } finally query.stop()
  }

  test("maintenance never fails a landed batch: runStream logs a throwing " +
    "post-batch vacuum once per batch and the next batch runs it again") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val store = new MasterStore(
      java.nio.file.Files.createTempDirectory("graft_store_vac").toString, numBuckets = 2)
    val metrics = new MasterStore(unvacuumableRoot(),
      empty = graft.operators.MetricsTable.emptyTable)
    intercept[java.io.IOException](metrics.vacuum(alsoOrphans = true, retain = 2))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_vac").toString
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[UpdateMessage]
    // no metrics sink: the batch never writes the metrics store, only its
    // maintenance touches it
    val query = Pipeline.runStream(spark, store, input.toDS(), okTransport, okTransport, ckpt,
      metricsStore = Some(metrics), sinks = Set("solr", "links"))
    val warning = "post-batch vacuum failed"
    try {
      for ((bib, gen) <- Seq("vac1" -> 1L, "vac2" -> 2L)) {
        val (_, err) = capturingStderr {
          input.addData(msgs(bib, "2024-01-01 00:00:00"): _*)
          query.processAllAvailable()
        }
        assert(query.isActive && query.exception.isEmpty, s"batch $gen failed the query")
        assert(store.currentVersion.contains(gen), s"batch $gen landed")
        assert(store.read(spark).filter($"bibcode" === bib).select("status").as[String]
          .collect().toSeq == Seq("success"))
        assert(occurrences(err, warning) == 1, s"batch $gen logged: $err")
      }
    } finally query.stop()
  }

  test("restricting to a bibcode the store does not have indexes nothing " +
    "and fails nothing (test_tasks.py:442 test_task_index_records_no_such_bibcode)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_nsb").toString
    val store = new MasterStore(root)
    Pipeline.runBatch(spark, store, msgs("real1", "2024-01-01 00:00:00").toDS(),
      okTransport, okTransport, now = ts("2024-01-02 00:00:00"))
    val report = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], okTransport, okTransport,
      force = true, now = ts("2024-01-03 00:00:00"),
      restrictTo = Some(Seq("definitely-not-there").toDS()))
    assert(report.indexed == 0 && report.solrOk == 0 && report.solrFailed == 0,
      "an unknown bibcode is simply not found — no delivery, no failure")
    assert(store.read(spark).count() == 1, "the store is untouched")
  }

  test("ingest forwards one boost request per touched record, never for " +
    "boost responses (tasks.py:104-111 task_update_record → task_boost_request)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_bf").toString
    val store = new MasterStore(root)
    val boostPayloads = spark.sparkContext.collectionAccumulator[String]("boost")
    val recordingBulk = new Sinks.Transport {
      def send(p: Seq[String]): Unit = p.foreach(boostPayloads.add)
    }
    val batch = (msgs("bf1", "2024-01-01 00:00:00") ++
      msgs("bf2", "2024-01-01 00:00:00") :+
      UpdateMessage("bf1", "boost", """{"boost_final": 0.9}""",
        ts("2024-01-01 01:00:00"))).toDS()
    // solr-only run: the bulk transport sees ONLY the boost-request leg
    val report = Pipeline.runBatch(spark, store, batch, okTransport, recordingBulk,
      now = ts("2024-01-02 00:00:00"), sinks = Set("solr"),
      forwardBoostRequests = true)
    val sent = boostPayloads.value
    assert(sent.size == 2, s"one request per touched record: $sent")
    assert(report.boostOk == 2 && report.boostFailed == 0,
      "delivery outcomes surface in the report, not just the transport")
    import scala.jdk.CollectionConverters._
    assert(sent.asScala.forall(_.contains("\"status\":\"updated\"")) &&
      sent.asScala.exists(_.contains("bf1")) && sent.asScala.exists(_.contains("bf2")))
    // without the flag (default), nothing is forwarded
    boostPayloads.reset()
    Pipeline.runBatch(spark, store, msgs("bf3", "2024-01-03 00:00:00").toDS(),
      okTransport, recordingBulk, now = ts("2024-01-04 00:00:00"),
      sinks = Set("solr"))
    assert(boostPayloads.value.isEmpty, "fan-out is opt-in")
  }

  test("a metadata update with an aff list also requests affiliation " +
    "augmentation; non-metadata touches do not (tasks.py:192-196 " +
    "test_task_update_record)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_aug").toString
    val store = new MasterStore(root)
    val payloads = spark.sparkContext.collectionAccumulator[String]("bulk")
    val recordingBulk = new Sinks.Transport {
      def send(p: Seq[String]): Unit = p.foreach(payloads.add)
    }
    val batch = Seq(
      UpdateMessage("aug1", "metadata",
        """{"bibcode": "aug1", "title": ["T"], "aff": ["CfA"], "author": ["A, B."]}""",
        ts("2024-01-01 00:00:00")),
      UpdateMessage("aug2", "nonbib_data", """{"boost": 0.4}""",
        ts("2024-01-01 00:00:00"))).toDS()
    val report = Pipeline.runBatch(spark, store, batch, okTransport, recordingBulk,
      now = ts("2024-01-02 00:00:00"), sinks = Set("solr"),
      forwardBoostRequests = true, forwardAugmentRequests = true)
    import scala.jdk.CollectionConverters._
    val sent = payloads.value.asScala
    // two boost requests (one per touched record) + exactly one augment
    // request, for the metadata-touched record that has an aff list
    assert(report.boostOk == 2, s"boost per touched record: $sent")
    assert(report.augmentOk == 1 && report.augmentFailed == 0)
    val augs = sent.filter(p => p.contains("\"aff\":") && !p.contains("\"status\":"))
    assert(augs.size == 1 && augs.head.contains("aug1") &&
      augs.head.contains("CfA"), s"augment payload: $augs")
    // aug2 was touched only via nonbib_data — no augment request for it
    assert(!augs.exists(_.contains("aug2")))
  }

  test("aff augment is gated independently of boost: the reference fires " +
    "request_aff_augment on every metadata update while only the boost leg " +
    "honors the boost gate (tasks.py:192-196)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_aug2").toString
    val store = new MasterStore(root)
    val payloads = spark.sparkContext.collectionAccumulator[String]("bulk2")
    val recordingBulk = new Sinks.Transport {
      def send(p: Seq[String]): Unit = p.foreach(payloads.add)
    }
    val batch = Seq(
      UpdateMessage("aug3", "metadata",
        """{"bibcode": "aug3", "title": ["T"], "aff": ["MIT"], "author": ["C, D."]}""",
        ts("2024-01-01 00:00:00"))).toDS()
    // boost OFF, augment ON — the augment request must still go out
    val report = Pipeline.runBatch(spark, store, batch, okTransport, recordingBulk,
      now = ts("2024-01-02 00:00:00"), sinks = Set("solr"),
      forwardBoostRequests = false, forwardAugmentRequests = true)
    import scala.jdk.CollectionConverters._
    val sent = payloads.value.asScala
    assert(report.boostOk == 0 && report.boostFailed == 0, "boost leg is off")
    assert(report.augmentOk == 1 && report.augmentFailed == 0,
      s"augment fires without the boost gate: $sent")
    assert(sent.size == 1 && sent.head.contains("aug3") && sent.head.contains("MIT"))
  }

  test("boost and aff-augment request builders") {
    val rec = graft.records.MasterRecord.empty("bb").copy(
      scix_id = Some("scix:AAAA-BBBB-CCCC"),
      bib_data = Some("""{"aff": ["CfA"], "author": ["A, B."]}"""),
      classifications = Some("""["astrophysics"]"""))
    val boost = graft.operators.IndexJob.boostRequest(rec)
    val m = boost.obj.toMap
    assert(m("bibcode") == org.json4s.JString("bb"))
    assert(m("status") == org.json4s.JString("updated"))
    assert(m("classifications") == org.json4s.JArray(List(org.json4s.JString("astrophysics"))))
    val aug = graft.operators.IndexJob.affAugmentRequest(rec).get
    assert((aug \ "aff") == org.json4s.JArray(List(org.json4s.JString("CfA"))))
    assert(graft.operators.IndexJob.affAugmentRequest(
      graft.records.MasterRecord.empty("no-aff")) == None)
  }

  test("classify request builder needs a title; flattens list titles (app.py:655-727)") {
    val rec = graft.records.MasterRecord.empty("cb").copy(
      scix_id = Some("scix:AAAA-BBBB-CCCC"),
      bib_data = Some("""{"title": ["First title", "alt"], "abstract": "Abs."}"""))
    val j = graft.operators.IndexJob.classifyRequest(rec, "classify_verify").get
    val m = j.obj.toMap
    assert(m("bibcode") == org.json4s.JString("cb"))
    assert(m("title") == org.json4s.JString("First title"), "first element wins")
    assert(m("abstract") == org.json4s.JString("Abs."))
    assert(m("operation_step") == org.json4s.JString("classify_verify"))
    assert(graft.operators.IndexJob.classifyRequest(
      graft.records.MasterRecord.empty("no-title"), "classify") == None,
      "prepare_bibcode skips records without a title")
  }

  test("update_processed=false delivers without touching records-table state " +
    "(test_index_datalinks_update_processed_false)") {
    import spark.implicits._
    // run.py --update-processed / app.py index_* update_processed=False:
    // sends happen, but no processed/checksum/status lands — success or
    // failure — so the next run still sees the record as due
    val root = java.nio.file.Files.createTempDirectory("graft_store_up").toString
    val store = new MasterStore(root, numBuckets = 2)
    val r1 = Pipeline.runBatch(spark, store,
      msgs("up1", "2024-01-01 00:00:00").toDS(), okTransport, okTransport,
      now = ts("2024-01-02 00:00:00"), updateProcessed = false)
    assert(r1.solrOk == 1, "delivery happened")
    val after = store.read(spark).collect().head
    assert(after.getAs[String]("status") == null)
    assert(after.getAs[String]("solr_checksum") == null)
    assert(after.getAs[java.sql.Timestamp]("solr_processed") == null)

    // no suppression possible: the identical payload re-sends next run
    val r2 = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], okTransport, okTransport,
      force = true, now = ts("2024-01-03 00:00:00"))
    assert(r2.solrOk == 1, "unstamped record stays due")
    assert(store.read(spark).collect().head.getAs[String]("status") == "success",
      "default mode stamps again")
  }

  test("failed delivery re-drives: null'd sink checksum defeats P4 suppression " +
    "(test_index_metrics_database_failure, test_update_records_db_error)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_rd").toString
    val store = new MasterStore(root, numBuckets = 2)

    // batch 1: f1 delivered ok → stored solr_checksum == payload checksum
    val r1 = Pipeline.runBatch(spark, store,
      msgs("f1", "2024-01-01 00:00:00").toDS(), okTransport, okTransport,
      now = ts("2024-01-02 00:00:00"))
    assert(r1.solrOk == 1)
    val cks1 = store.read(spark).collect().head.getAs[String]("solr_checksum")
    assert(cks1 != null)

    // batch 2: force re-send of the UNCHANGED payload, sinks down → the
    // failure must null the stored checksum (adsmp/app.py:432-468 with
    // checksums=None), not retain the matching one. Both transports fail:
    // the reference stamps status per sink in solr→metrics→links order
    // (last writer wins, app.py:395-579), so a later sink's success would
    // legitimately overwrite "solr-failed" — the durable re-drive signal
    // is the NULL per-sink checksum, not the status column
    val down = new Sinks.Transport {
      def send(p: Seq[String]): Unit = throw new RuntimeException("sink down")
    }
    val r2 = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], down, down,
      force = true, ignoreChecksums = true, now = ts("2024-01-03 00:00:00"))
    assert(r2.solrFailed == 1, "force + ignoreChecksums re-sends the unchanged doc")
    val afterFail = store.read(spark).collect().head
    assert(afterFail.getAs[String]("status").endsWith("-failed"))
    assert(afterFail.getAs[String]("solr_checksum") == null,
      "failure clears the sink checksum so the doc stays due")

    // batch 3: a normal re-send of the same payload (newer arrival) is NOT
    // suppressed by P4 — the cleared checksum cannot match — and succeeds
    val r3 = Pipeline.runBatch(spark, store,
      msgs("f1", "2024-01-04 00:00:00").toDS(), okTransport, okTransport,
      now = ts("2024-01-05 00:00:00"))
    assert(r3.solrOk == 1, "failed delivery re-drives on the next normal run")
    val healed = store.read(spark).collect().head
    assert(healed.getAs[String]("status") == "success")
    assert(healed.getAs[String]("solr_checksum") == cks1,
      "identical payload restores the same checksum")
  }

  test("force without ignore_checksums still suppresses unchanged payloads") {
    import spark.implicits._
    // test_tasks.py:564-688 (per-sink ignore_checksums): force widens
    // ELIGIBILITY only — a payload whose checksum matches the stored one
    // is still suppressed unless ignore_checksums is also set
    val root = java.nio.file.Files.createTempDirectory("graft_store_ic").toString
    val store = new MasterStore(root, numBuckets = 2)
    val r1 = Pipeline.runBatch(spark, store,
      msgs("ic1", "2024-01-01 00:00:00").toDS(), okTransport, okTransport,
      now = ts("2024-01-02 00:00:00"))
    assert(r1.solrOk == 1)

    val r2 = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], okTransport, okTransport,
      force = true, ignoreChecksums = false, now = ts("2024-01-03 00:00:00"))
    assert(r2.indexed == 0 && r2.solrOk == 0 && r2.metricsOk == 0 && r2.linksOk == 0,
      "matching checksums suppress every sink despite force")

    val r3 = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], okTransport, okTransport,
      force = true, ignoreChecksums = true, now = ts("2024-01-04 00:00:00"))
    assert(r3.solrOk == 1, "ignore_checksums re-sends the unchanged payload")
  }

  test("a merge-only batch (no sink) merges and reports indexed = 0; a " +
    "metrics-only run still counts the due solr docs, as -r m prints them") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_mo").toString
    val store = new MasterStore(root, numBuckets = 2)
    val sent = spark.sparkContext.longAccumulator("merge-only sends")
    val counting = new Sinks.Transport { def send(p: Seq[String]): Unit = sent.add(p.size) }
    val merged = Pipeline.runBatch(spark, store,
      (msgs("mo1", "2024-01-01 00:00:00") ++ msgs("mo2", "2024-01-01 00:00:00")).toDS(),
      counting, counting, sinks = Set.empty, now = ts("2024-01-02 00:00:00"))
    assert((merged.merged, merged.indexed, merged.solrOk, merged.metricsOk,
      merged.linksOk) == ((2L, 0L, 0L, 0L, 0L)), s"$merged")
    assert(sent.sum == 0L, "no sink is sent to")
    assert(store.read(spark).count() == 2L, "the merge is published")

    val metricsOnly = Pipeline.runBatch(spark, store,
      spark.emptyDataset[UpdateMessage], okTransport, okTransport,
      sinks = Set("metrics"), now = ts("2024-01-03 00:00:00"))
    assert(metricsOnly.indexed == 2L && metricsOnly.metricsOk == 2L, s"$metricsOnly")
  }

  test("links sink alone: failure nulls only the datalinks checksum " +
    "(test_index_datalinks_success, test_index_datalinks_service_failure, " +
    "test_index_datalinks_service_only_batch_failure, " +
    "test_task_index_records_links, test_task_index_links_no_data)") {
    import spark.implicits._
    // index_datalinks success/failure: only the selected sink stamps its
    // checksum; the other per-sink checksums stay untouched (None), and a
    // service failure lands links-failed with a cleared datalinks checksum
    val root = java.nio.file.Files.createTempDirectory("graft_store_dl").toString
    val store = new MasterStore(root, numBuckets = 2)
    def snap = store.read(spark).collect().head
    // reference fixture: nonbib carries data_links_rows so the resolver
    // payload exists (linksForResolver prefers nonbib rows)
    def linkMsgs(t: String) = msgs("linkstest", t).map(m =>
      if (m.mtype == "nonbib_data")
        m.copy(payload = """{"data_links_rows": [{"baz": 0}]}""")
      else m)

    val r1 = Pipeline.runBatch(spark, store,
      linkMsgs("2024-01-01 00:00:00").toDS(), okTransport, okTransport,
      sinks = Set("links"), now = ts("2024-01-02 00:00:00"))
    assert(r1.linksOk == 1 && r1.solrOk == 0 && r1.metricsOk == 0)
    val ok = snap
    assert(ok.getAs[String]("status") == "success")
    assert(ok.getAs[String]("datalinks_checksum") != null)
    assert(ok.getAs[String]("solr_checksum") == null, "unselected sink never stamps")
    assert(ok.getAs[String]("metrics_checksum") == null)

    val down = new Sinks.Transport {
      def send(p: Seq[String]): Unit = throw new RuntimeException("resolver 500")
    }
    Pipeline.runBatch(spark, store, spark.emptyDataset[UpdateMessage],
      okTransport, down, sinks = Set("links"),
      force = true, ignoreChecksums = true, now = ts("2024-01-03 00:00:00"))
    val failed = snap
    assert(failed.getAs[String]("status") == "links-failed")
    assert(failed.getAs[String]("datalinks_checksum") == null,
      "failure clears the datalinks checksum (app.py index_datalinks failure path)")

    // next normal run re-drives (cleared checksum cannot suppress) and heals
    val r3 = Pipeline.runBatch(spark, store,
      linkMsgs("2024-01-04 00:00:00").toDS(), okTransport, okTransport,
      sinks = Set("links"), now = ts("2024-01-05 00:00:00"))
    assert(r3.linksOk == 1)
    assert(snap.getAs[String]("status") == "success")
    assert(snap.getAs[String]("datalinks_checksum") != null)
  }

  test("metadata deleted-status message deletes the record and hits the sinks") {
    import spark.implicits._
    // test_tasks.py:125-129: DenormalizedRecord(status=deleted) →
    // task_delete_documents → record gone + delete pushed to the sinks
    val root = java.nio.file.Files.createTempDirectory("graft_store_del").toString
    val store = new MasterStore(root, numBuckets = 2)
    Pipeline.runBatch(spark, store,
      (msgs("d1", "2024-01-01 00:00:00") ++ msgs("d2", "2024-01-01 00:00:00")).toDS(),
      okTransport, okTransport, now = ts("2024-01-02 00:00:00"))
    assert(store.read(spark).count() == 2)

    val r = Pipeline.runBatch(spark, store, Seq(
      UpdateMessage("d1", "metadata", "", ts("2024-01-03 00:00:00"),
        status = Some("deleted"))).toDS(),
      okTransport, okTransport, now = ts("2024-01-04 00:00:00"))
    val left = store.read(spark).collect().map(_.getAs[String]("bibcode")).toSet
    assert(left == Set("d2"), "deleted record dropped from the snapshot")
    assert(r.merged == 1)
  }

  test("two micro-batches: merge, index, stamp, suppress replay, version") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store").toString
    val store = new MasterStore(root, numBuckets = 2)
    val wmDir = java.nio.file.Files.createTempDirectory("graft_wm2").toString + "/kv"

    val metricsStore = new graft.sources.MasterStore(
      java.nio.file.Files.createTempDirectory("graft_metrics").toString,
      numBuckets = 1, empty = graft.operators.MetricsTable.emptyTable)

    // batch 1: two complete records, one bib-only (gated)
    val b1 = (msgs("p1", "2024-01-01 00:00:00") ++ msgs("p2", "2024-01-01 00:00:00") :+
      UpdateMessage("p3", "metadata", "{}", ts("2024-01-01 00:00:00"))).toDS()
    val r1 = Pipeline.runBatch(spark, store, b1, okTransport, okTransport,
      Some(wmDir), now = ts("2024-01-02 00:00:00"), metricsStore = Some(metricsStore))
    assert(r1.version == 1 && r1.merged == 3)
    assert(r1.indexed == 2 && r1.solrOk == 2 && r1.solrFailed == 0)
    assert(r1.metricsOk == 2)

    val snap1 = store.read(spark).collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
    assert(snap1("p1") == "success" && snap1.contains("p3"))
    // S7 store leg: metrics rows landed in the metrics snapshot
    val mrows = metricsStore.read(spark).collect()
      .map(r => r.getAs[String]("bibcode") ->
        r.getAs[scala.collection.Seq[Int]]("reads").toList).toMap
    assert(mrows.keySet == Set("p1", "p2") && mrows("p1") == List(1))

    // batch 2: replay p1 unchanged (suppressed), update p2, flaky sink for p2
    val flaky = new Sinks.Transport {
      def send(p: Seq[String]): Unit =
        if (p.exists(_.contains("p2"))) throw new RuntimeException("solr down")
    }
    val b2 = (msgs("p1", "2024-01-01 00:00:00") ++  // identical payloads
      msgs("p2", "2024-01-03 00:00:00").map(m =>
        m.copy(payload = m.payload.replace("T p2", "T2 p2")))).toDS()
    val r2 = Pipeline.runBatch(spark, store, b2, flaky, okTransport,
      Some(wmDir), now = ts("2024-01-04 00:00:00"))
    assert(r2.version == 2)
    // p1 replay: same checksum → suppressed; p2 changed → attempted and failed
    assert(r2.indexed == 1, s"only changed doc reindexes, got ${r2.indexed}")
    assert(r2.solrFailed == 1 && r2.solrOk == 0)
    val snap2 = store.read(spark).collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
    assert(snap2("p2") == "solr-failed", "ST6 status lands in the snapshot")
    assert(snap2("p1") == "success")
    assert(store.versions == Seq(1L, 2L))

    // vacuum keeps only the live snapshot
    store.vacuum()
    assert(store.versions == Seq(2L))

    // sitemaps over the live snapshot (p1, p2 have bib_data; p3 too):
    // bootstrap the state from it, then one full render of every site
    val smState = new MasterStore(
      java.nio.file.Files.createTempDirectory("graft_sm_state").toString,
      empty = graft.operators.SitemapState.empty)
    smState.writeMerge(spark, st =>
      graft.operators.SitemapState.bootstrap(st, store.read(spark), maxPerFile = 2))
    val smRoot = java.nio.file.Files.createTempDirectory("graft_sm_out").toString
    val (nFiles, _) = Pipeline.runManagedSitemaps(spark, smState, smRoot,
      ts("2024-01-05 00:00:00"), maxPerFile = 2)
    assert(nFiles >= 1)
    val smDir = s"$smRoot/ads"
    assert(new java.io.File(smDir, "sitemap_index.xml").exists)
    assert(new java.io.File(smDir, "robots.txt").exists)
    val first = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(smDir, "sitemap_bib_1.xml").toPath), "UTF-8")
    assert(first.contains("/abs/") && first.startsWith("<?xml"))

    // multi-site: one tree per site, each with its own URL pattern
    val perSite = new java.io.File(smRoot).list().toSet
    assert(perSite == Set("ads", "scix"))
    val adsXml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$smRoot/ads", "sitemap_bib_1.xml").toPath), "UTF-8")
    val scixXml = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(s"$smRoot/scix", "sitemap_bib_1.xml").toPath), "UTF-8")
    assert(adsXml.contains("ui.adsabs.harvard.edu") && scixXml.contains("scixplorer.org"))
  }

  test("a batch that throws after its publish releases every frame it cached") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_throw").toString
    val store = new MasterStore(root, numBuckets = 2)
    // a regular file where the change log's directory should be: the
    // append after the publish throws
    val notADir = java.nio.file.Files.createTempFile("graft_changelog", ".parquet").toString
    spark.catalog.clearCache()
    val e = intercept[Exception] {
      Pipeline.runBatch(spark, store,
        (msgs("th1", "2024-01-01 00:00:00") :+ UpdateMessage("th2", "metadata", "",
          ts("2024-01-01 00:00:00"), status = Some("deleted"))).toDS(),
        okTransport, okTransport, now = ts("2024-01-02 00:00:00"),
        changeLogDir = Some(notADir))
    }
    assert(store.currentVersion.contains(1L), s"the publish landed before the append threw: $e")
    assert(spark.sharedState.cacheManager.isEmpty,
      s"runBatch threw ($e) with cached data left in the session")
  }

  /** Transports that record (sink, bibcode) per delivered payload in an
    * accumulator, which adds once per task run: a second read of an
    * uncached pass shows as a second delivery. */
  private def countingTransports() = {
    val delivered = spark.sparkContext.collectionAccumulator[(String, String)]("deliveries")
    def counting(solr: Boolean) = new Sinks.Transport {
      def send(p: Seq[String]): Unit = p.foreach { doc =>
        val sink = if (solr) "solr" else if (doc.contains("data_links_rows")) "links" else "metrics"
        val bib = graft.transform.SolrTransform.parse(doc) \ "bibcode" match {
          case org.json4s.JString(b) => b
          case other => other.toString
        }
        delivered.add((sink, bib))
      }
    }
    (delivered, counting(solr = true), counting(solr = false))
  }

  /** Every base file of the live generation lies under `__b=<b>` and holds
    * only keys with pmod(hash(bibcode), n) == b. */
  private def assertBucketed(store: MasterStore, n: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val lists = store.bucketFileLists.getOrElse(fail("no live generation"))
    assert(lists.size == n)
    for ((files, b) <- lists.zipWithIndex; f <- files) {
      assert(f.split('/').contains(s"__b=$b"), s"$f is listed under bucket $b")
      val got = spark.read.parquet(java.nio.file.Paths.get(store.root, f).toString)
        .select(pmod(hash(col("bibcode")), lit(n))).distinct().as[Int].collect().toSet
      assert(got.subsetOf(Set(b)), s"$f holds keys of buckets $got")
    }
  }

  /** 40 records with a links payload each (nonbib data_links_rows). */
  private def seedForReindex(store: MasterStore, prefix: String): Seq[String] = {
    import spark.implicits._
    val bibs = (1 to 40).map(i => f"$prefix$i%02d")
    Pipeline.runBatch(spark, store, bibs.flatMap(b => msgs(b, "2024-01-01 00:00:00").map(m =>
        if (m.mtype == "nonbib_data") m.copy(payload = """{"data_links_rows": [{"baz": 0}]}""")
        else m)).toDS(),
      okTransport, okTransport, now = ts("2024-01-02 00:00:00"))
    bibs
  }

  test("a forced full reindex runs as one Spark job and delivers every " +
    "record to every sink exactly once") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_jobs").toString
    val store = new MasterStore(root, numBuckets = 2)
    val bibs = seedForReindex(store, "jobs")
    assert(store.stats.exists(_.layerCount == 0), "the seed publishes a layer-free base")
    val (delivered, solr, bulk) = countingTransports()
    val (report, jobs) = countingJobs("pipeline-spec-forced-reindex") {
      Pipeline.runBatch(spark, store, spark.emptyDataset[UpdateMessage],
        solr, bulk, force = true, ignoreChecksums = true, now = ts("2024-01-03 00:00:00"))
    }
    assert(jobs == 1, s"$jobs Spark jobs for one forced full reindex")
    assert((report.merged, report.indexed, report.solrOk, report.metricsOk,
      report.linksOk) == ((40L, 40L, 40L, 40L, 40L)), s"$report")
    val got = delivered.value.asScala.toSeq
    val want = for (s <- Seq("solr", "metrics", "links"); b <- bibs) yield (s, b)
    assert(got.sorted == want.sorted, "each record reached each sink exactly once")
    assertBucketed(store, 2)
    assert(store.read(spark).filter($"processed" === ts("2024-01-03 00:00:00")).count() == 40,
      "every record is stamped")
  }

  test("a forced full reindex over a store with a live delta layer delivers " +
    "every record once, reports what the sinks received and rewrites the base " +
    "bucketed") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_store_layer").toString
    val store = new MasterStore(root, numBuckets = 2)
    val seeded = seedForReindex(store, "lay")
    // a queue batch: two new records and one update, published as a layer
    val fresh = Seq("layx1", "layx2")
    Pipeline.runBatch(spark, store,
      (fresh.flatMap(msgs(_, "2024-01-02 00:00:00")) :+ UpdateMessage("lay01", "metadata",
        """{"bibcode": "lay01", "title": ["T2"], "database": ["astronomy"]}""",
        ts("2024-01-02 00:00:00"))).toDS(),
      okTransport, okTransport, now = ts("2024-01-02 12:00:00"), keyLocal = true)
    assert(store.stats.exists(_.layerCount == 1), "the queue batch left a live layer")
    val bibs = seeded ++ fresh

    val (delivered, solr, bulk) = countingTransports()
    val report = Pipeline.runBatch(spark, store, spark.emptyDataset[UpdateMessage],
      solr, bulk, force = true, ignoreChecksums = true, now = ts("2024-01-03 00:00:00"))
    val got = delivered.value.asScala.toSeq
    def sent(sink: String) = got.count(_._1 == sink).toLong
    // the fresh records' nonbib data carries no links rows
    val want = (for (s <- Seq("solr", "metrics"); b <- bibs) yield (s, b)) ++
      seeded.map(("links", _))
    assert(got.sorted == want.sorted, "each record reached each sink exactly once")
    assert((report.merged, report.indexed, report.solrOk, report.metricsOk, report.linksOk) ==
      ((bibs.size.toLong, sent("solr"), sent("solr"), sent("metrics"), sent("links"))),
      s"the report counts what the sinks received: $report")
    assert(store.stats.exists(_.layerCount == 0), "the rewrite replaces base and layer")
    assertBucketed(store, 2)
    val rows = store.read(spark).collect()
    assert(rows.map(_.getAs[String]("bibcode")).sorted.toSeq == bibs.sorted)
    assert(rows.forall(_.getAs[java.sql.Timestamp]("processed") == ts("2024-01-03 00:00:00")))
    assert(rows.find(_.getAs[String]("bibcode") == "lay01").get
      .getAs[String]("bib_data").contains("T2"), "the layer's update survives the rewrite")
  }
}
