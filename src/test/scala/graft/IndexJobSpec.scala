package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.json4s._
import java.sql.Timestamp

import graft.records._
import graft.operators.{IndexJob, MergeEngine}

/** Index-job tests: eligibility gates (P1-P3), checksum suppression (P4 /
  * ST4 idempotence), resolver-links fallback (T14), identifier fix (T16).
  * Reference: run.py:147-159, adsmp/tasks.py:317-460, app.py:876-920. */
class IndexJobSpec extends AnyFunSuite with SparkSpec {

  def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  def completeRecord(bibcode: String): MasterRecord =
    MasterRecord.empty(bibcode, id = 7).copy(
      bib_data = Some(s"""{"bibcode": "$bibcode", "title": ["t"]}"""),
      bib_data_updated = Some(ts("2024-01-02T00:00:00Z")),
      nonbib_data = Some("""{"boost": 0.5}"""),
      nonbib_data_updated = Some(ts("2024-01-03T00:00:00Z")),
      orcid_claims = Some("""{"verified": ["x"]}"""),
      orcid_claims_updated = Some(ts("2024-01-04T00:00:00Z")),
      updated = Some(ts("2024-01-04T00:00:00Z")))

  test("eligibility: completeness gate and force relaxation (P2)") {
    import spark.implicits._
    val complete = completeRecord("c1")
    val bibOnly = MasterRecord.empty("c2").copy(
      bib_data = Some("{}"), bib_data_updated = Some(ts("2024-01-02T00:00:00Z")),
      updated = Some(ts("2024-01-02T00:00:00Z")))
    val empty = MasterRecord.empty("c3").copy(updated = Some(ts("2024-01-02T00:00:00Z")))
    val ds = spark.createDataset(Seq(complete, bibOnly, empty))

    def names(force: Boolean) = ds.filter(IndexJob.eligible(None, force))
      .collect().map(_.bibcode).toSet
    assert(names(force = false) == Set("c1"))
    assert(names(force = true) == Set("c1", "c2"), "force needs only bib_data")
  }

  test("eligibility: already-processed suppression with 1972 default " +
    "(P3, test_task_update_solr)") {
    import spark.implicits._
    val base = completeRecord("p1").copy(
      augments = Some("{}"), augments_updated = Some(ts("2024-01-01T00:00:00Z")))
    val processed = base.copy(processed = Some(ts("2024-06-01T00:00:00Z")))
    val ds = spark.createDataset(Seq(base, processed.copy(bibcode = "p2")))
    val sel = ds.filter(IndexJob.eligible(None, force = false)).collect().map(_.bibcode).toSet
    assert(sel == Set("p1"), "all-slots-older-than-processed is suppressed; null processed → 1972 → eligible")
    val forced = ds.filter(IndexJob.eligible(None, force = true)).collect().map(_.bibcode).toSet
    assert(forced == Set("p1", "p2"), "force re-indexes suppressed records")
  }

  test("outer processed>updated skip suppresses augment-less records too " +
    "(run.py:153-159; the four-slot check alone would re-select them forever)") {
    import spark.implicits._
    // no augments slot — alreadyDone (P3) can never hold for this record
    val done = completeRecord("o1").copy(
      processed = Some(ts("2024-06-01T00:00:00Z"))) // after updated 2024-01-04
    val fresh = completeRecord("o2") // never processed
    val touched = completeRecord("o3").copy(
      processed = Some(ts("2024-06-01T00:00:00Z")),
      updated = Some(ts("2024-07-01T00:00:00Z"))) // arrival after processing
    val ds = spark.createDataset(Seq(done, fresh, touched))
    val sel = ds.filter(IndexJob.eligible(None, force = false))
      .collect().map(_.bibcode).toSet
    assert(sel == Set("o2", "o3"),
      "processed-since-last-arrival is done regardless of optional slots")
    val forced = ds.filter(IndexJob.eligible(None, force = true))
      .collect().map(_.bibcode).toSet
    assert(forced == Set("o1", "o2", "o3"))
  }

  test("P1 incremental window") {
    import spark.implicits._
    val older = completeRecord("w1").copy(updated = Some(ts("2024-01-01T00:00:00Z")))
    val newer = completeRecord("w2").copy(updated = Some(ts("2024-05-01T00:00:00Z")))
    val ds = spark.createDataset(Seq(older, newer))
    val sel = ds.filter(IndexJob.eligible(Some(ts("2024-03-01T00:00:00Z")), force = false))
      .collect().map(_.bibcode).toSet
    assert(sel == Set("w2"))
  }

  test("checksum suppression makes replays no-ops (P4/ST4)") {
    import spark.implicits._
    val rec = completeRecord("s1")
    val first = IndexJob.run(spark.createDataset(Seq(rec)))
    val solrRow = first.solr.collect().head
    assert(solrRow.getAs[Boolean]("changed"))
    val cks = solrRow.getAs[String]("checksum")

    // replay with the stored checksum set → suppressed
    val replayed = rec.copy(solr_checksum = Some(cks))
    val second = IndexJob.run(spark.createDataset(Seq(replayed)))
    assert(second.solr.count() == 0, "identical doc suppressed")
    val third = IndexJob.run(spark.createDataset(Seq(replayed)), ignoreChecksums = true)
    assert(third.solr.count() == 1, "--force_indexing bypasses suppression")
  }

  test("ignore_checksums re-sends every sink's unchanged payload; absent " +
    "metrics/links data is skipped without failing (test_ignore_checksums_solr, " +
    "test_ignore_checksums_datalinks, test_ignore_checksums_metrics, " +
    "test_index_metrics_no_data, test_task_index_links_no_data)") {
    import spark.implicits._
    val rec = completeRecord("ic1").copy(
      metrics = Some("""{"reads": [1]}"""),
      metrics_updated = Some(ts("2024-01-05T00:00:00Z")),
      nonbib_data = Some("""{"data_links_rows": [{"url": ["http://x/a"]}]}"""))
    val first = IndexJob.run(spark.createDataset(Seq(rec)))
    val stamped = rec.copy(
      solr_checksum = Some(first.solr.collect().head.getAs[String]("checksum")),
      metrics_checksum = Some(first.metrics.collect().head.getAs[String]("checksum")),
      datalinks_checksum = Some(first.links.collect().head.getAs[String]("checksum")))
    // all three sinks suppressed on the unchanged replay...
    val quiet = IndexJob.run(spark.createDataset(Seq(stamped)))
    assert(quiet.solr.count() == 0 && quiet.metrics.count() == 0 &&
      quiet.links.count() == 0)
    // ...and all three re-send under --ignore_checksums, flagged unchanged
    val forced = IndexJob.run(spark.createDataset(Seq(stamped)), ignoreChecksums = true)
    assert(forced.solr.count() == 1 && forced.metrics.count() == 1 &&
      forced.links.count() == 1)
    assert(forced.solr.collect().head.getAs[Boolean]("changed") == false)

    // a record with no metrics payload and no link source produces zero
    // rows on those sinks — a skip, not a failure (the solr doc still goes)
    val bare = completeRecord("ic2")
    val b = IndexJob.run(spark.createDataset(Seq(bare)), ignoreChecksums = true)
    assert(b.solr.count() == 1 && b.metrics.count() == 0 && b.links.count() == 0)
  }

  test("solr payload gets identifier completeness fix (T16)") {
    import spark.implicits._
    val rec = completeRecord("2024Test.........X")
    val batch = IndexJob.run(spark.createDataset(Seq(rec)))
    val payload = batch.solr.collect().head.getAs[String]("payload")
    assert(payload.contains(""""identifier": ["2024Test.........X"]"""))
  }

  test("metrics payload: checksum over stored payload, bibcode injected") {
    import spark.implicits._
    val rec = completeRecord("m1").copy(
      metrics = Some("""{"downloads": [1, 2]}"""),
      metrics_updated = Some(ts("2024-01-05T00:00:00Z")))
    val batch = IndexJob.run(spark.createDataset(Seq(rec)))
    val row = batch.metrics.collect().head
    assert(row.getAs[String]("payload") == """{"bibcode": "m1", "downloads": [1, 2]}""")
    // checksum excludes the injected bibcode (computed pre-injection)
    assert(row.getAs[String]("checksum") ==
      graft.functions.CanonicalJson.checksumOf(
        graft.transform.SolrTransform.parse("""{"downloads": [1, 2]}""")))
  }

  test("resolver links: nonbib rows preferred, bib fallback builds ESOURCE " +
    "pair (T14, test_generate_links_for_resolver)") {
    val withNonbib = completeRecord("l1").copy(
      nonbib_data = Some("""{"data_links_rows": [{"url": ["http://arxiv.org/abs/1902.09522"]}]}"""))
    val j1 = IndexJob.linksForResolver(withNonbib).get
    assert((j1 \ "data_links_rows").asInstanceOf[JArray].arr.length == 1)

    val bibOnly = MasterRecord.empty("l2").copy(
      bib_data = Some("""{"links_data": ["{\"url\": \"http://x/abs/1\"}"]}"""))
    val j2 = IndexJob.linksForResolver(bibOnly).get
    val rows = (j2 \ "data_links_rows").asInstanceOf[JArray].arr
    assert(rows.length == 2)
    assert(rows.map(r => (r \ "link_sub_type").asInstanceOf[JString].s) ==
      List("EPRINT_HTML", "EPRINT_PDF"))
    assert((rows(1) \ "url") == JArray(List(JString("http://x/pdf/1"))))

    assert(IndexJob.linksForResolver(MasterRecord.empty("l3")) == None)
  }

  test("P9: mode selection builds only the requested payload streams") {
    import spark.implicits._
    val rec = completeRecord("p9").copy(
      metrics = Some("""{"reads": [1]}"""),
      metrics_updated = Some(ts("2024-01-05T00:00:00Z")))
    val ds = spark.createDataset(Seq(rec))
    val metricsOnly = IndexJob.run(ds, modes = Set("metrics"))
    assert(metricsOnly.solr.count() == 0 && metricsOnly.links.count() == 0)
    assert(metricsOnly.metrics.count() == 1)
    val all = IndexJob.run(ds)
    assert(all.solr.count() == 1 && all.metrics.count() == 1)
  }

  test("P6 failed-reindex selection matches the reference fixture (test_run.py:50-79)") {
    import spark.implicits._
    // FIXTURES.md §1: five records; expect exactly [bibcode2, bibcode3]
    // selected and flipped to 'retrying'
    val rows = Seq(
      MasterRecord.empty("bibcode1").copy(bib_data = Some("{}"), status = Some("success")),
      MasterRecord.empty("bibcode2").copy(bib_data = Some("{}"), status = Some("solr-failed")),
      MasterRecord.empty("bibcode3").copy(bib_data = Some("{}"), status = Some("links-failed")),
      MasterRecord.empty("bibcode4").copy(bib_data = Some("{}"), status = Some("retrying")),
      MasterRecord.empty("bibcode5").copy(fulltext = Some("foobar")))
    val master = spark.createDataset(rows).toDF
    val selected = master.filter(
      !coalesce(col("status"), lit("")).isin("success", "retrying") &&
        col("bib_data").isNotNull)
    assert(selected.collect().map(_.getAs[String]("bibcode")).sorted.toSeq ==
      Seq("bibcode2", "bibcode3"))
    val requeued = master.join(selected.select(col("bibcode").as("sel")),
        col("bibcode") === col("sel"), "left_outer")
      .withColumn("status", when(col("sel").isNotNull, "retrying").otherwise(col("status")))
      .drop("sel")
    val statuses = requeued.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
    assert(statuses("bibcode2") == "retrying" && statuses("bibcode3") == "retrying")
    assert(statuses("bibcode1") == "success" && statuses("bibcode4") == "retrying")
  }

  test("upsert commutativity: distinct-slot update batches commute (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val slots = Seq("metadata", "nonbib_data", "orcid_claims", "fulltext", "metrics")
    (1 to 3).foreach { trial =>
      // messages over distinct (bibcode, slot) pairs → any arrival order
      // must produce the same master state (checksums included)
      val ms = rnd.shuffle(for {
        b <- Seq("x1", "x2", "x3")
        s <- slots if rnd.nextBoolean()
      } yield UpdateMessage(b, s, s"""{"v": "$b-$s"}""",
        ts(f"2024-01-0${1 + rnd.nextInt(8)}%dT00:00:00Z")))
      if (ms.nonEmpty) {
        val perm = rnd.shuffle(ms)
        def runAll(seq: Seq[UpdateMessage]) = {
          val half = seq.length / 2
          val m1 = MergeEngine.upsert(MergeEngine.emptyMaster(spark),
            seq.take(half).toDS()).master
          MergeEngine.upsert(m1, seq.drop(half).toDS()).master
            .drop("id", "created") // synthetic id/created may differ by arrival split
            .orderBy("bibcode").collect().map(_.toString).toSeq
        }
        assert(runAll(ms) == runAll(perm), s"trial $trial not commutative")
      }
    }
  }

  test("end-to-end: upsert → index → mark-processed → replay suppressed") {
    import spark.implicits._
    val t0 = ts("2024-01-01T00:00:00Z")
    val updates = Seq(
      UpdateMessage("e1", "metadata", """{"bibcode": "e1", "title": ["doc"]}""", t0),
      UpdateMessage("e1", "nonbib_data", """{"boost": 0.1}""", t0),
      UpdateMessage("e1", "orcid_claims", """{"verified": ["v"]}""", t0),
      UpdateMessage("e1", "metrics", """{"reads": [3]}""", t0)).toDS()
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), updates).master

    val selected = master.as[MasterRecord].filter(IndexJob.eligible(None, force = false))
    val batch = IndexJob.run(selected)
    assert(batch.solr.count() == 1 && batch.metrics.count() == 1)

    val done = batch.solr.select(col("bibcode"), col("checksum"))
    val stamped = StampOracle.markProcessed(master, done, "solr",
      Some("success"), ts("2024-01-02T00:00:00Z"))

    val replay = IndexJob.run(stamped.as[MasterRecord]
      .filter(IndexJob.eligible(None, force = true)))
    assert(replay.solr.count() == 0, "after mark-processed the same doc is suppressed")
  }
}
