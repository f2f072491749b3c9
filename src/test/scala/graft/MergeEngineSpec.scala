package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.records._
import graft.operators.MergeEngine

/** Merge-engine semantics tests: upsert newest-wins, scix assignment,
  * changelog pre-images, cascading delete, alias fixpoint, duplicate
  * merge, mark-processed (reference: adsmp/app.py:120-300,432-468;
  * scripts/fix_db_duplicates.py). */
class MergeEngineSpec extends AnyFunSuite with SparkSpec {

  def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  test("M1 upsert: insert, slot replace, newest-wins within batch, scix " +
    "assignment (test_task_update_record_nonbib, _fulltext, test_avoid_duplicates)") {
    import spark.implicits._
    val master = MergeEngine.emptyMaster(spark)
    val batch = Seq(
      UpdateMessage("b1", "metadata", """{"title": ["first"]}""", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b1", "metadata", """{"title": ["second"]}""", ts("2024-01-02T00:00:00Z")),
      UpdateMessage("b1", "orcid_claims", """{"verified": ["x"]}""", ts("2024-01-01T12:00:00Z")),
      UpdateMessage("b2", "fulltext", """{"body": "b"}""", ts("2024-01-03T00:00:00Z"))
    ).toDS()

    val r1 = MergeEngine.upsert(master, batch)
    val rows = r1.master.collect().map(r => r.getAs[String]("bibcode") -> r).toMap
    assert(rows.size == 2)
    assert(rows("b1").getAs[String]("bib_data") == """{"title": ["second"]}""",
      "newest message wins the slot")
    assert(rows("b1").getAs[String]("orcid_claims") == """{"verified": ["x"]}""")
    assert(rows("b1").getAs[String]("scix_id") != null, "scix assigned with bib_data")
    assert(rows("b2").getAs[String]("scix_id") == null, "no scix without bib_data")
    assert(rows("b1").getAs[Timestamp]("updated") == ts("2024-01-02T00:00:00Z"))

    // changelog: one row per message; second metadata's pre-image = first's payload
    val log = r1.changeLog.orderBy("ts").collect()
    assert(log.length == 4)
    val metaRows = log.filter(_.getAs[String]("ctype") == "metadata")
    assert(metaRows.head.getAs[String]("oldvalue") == null, "fresh record has no pre-image")
    assert(metaRows(1).getAs[String]("oldvalue") == """{"title": ["first"]}""")
    assert(log.filter(_.getAs[String]("ctype") == "fulltext")
      .head.getAs[String]("oldvalue") == "not-stored")

    // second batch: update replaces slot, scix and other slots survive
    val scix1 = rows("b1").getAs[String]("scix_id")
    val batch2 = Seq(UpdateMessage("b1", "metadata", """{"title": ["third"]}""",
      ts("2024-02-01T00:00:00Z"))).toDS()
    val r2 = MergeEngine.upsert(r1.master, batch2)
    val b1 = r2.master.filter(col("bibcode") === "b1").collect().head
    assert(b1.getAs[String]("bib_data") == """{"title": ["third"]}""")
    assert(b1.getAs[String]("orcid_claims") == """{"verified": ["x"]}""", "other slots survive")
    assert(b1.getAs[String]("scix_id") == scix1, "scix is sticky once assigned")
    val log2 = r2.changeLog.collect()
    assert(log2.length == 1 &&
      log2.head.getAs[String]("oldvalue") == """{"title": ["second"]}""",
      "pre-image comes from the pre-batch master")
  }

  test("M2 cascading delete flags one survivor per affected file " +
    "(test_delete_by_bibcode_with_sitemap, " +
    "test_delete_by_bibcode_marks_sitemap_files_for_regeneration)") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b2", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b3", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val sitemap = Seq(
      SitemapEntry(1, "b1", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(2, "b2", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(3, "b3", "sitemap_bib_2.xml", None, None, update_flag = false)).toDF()

    val res = MergeEngine.deleteByBibcodes(master, sitemap, Seq("b1").toDF("bibcode"))
    assert(res.master.collect().map(_.getAs[String]("bibcode")).toSet == Set("b2", "b3"))
    val sm = res.sitemap.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[Boolean]("update_flag")).toMap
    assert(sm == Map("b2" -> true, "b3" -> false),
      "survivor of the affected file is flagged; untouched file is not")
    val log = res.changeLog.collect()
    assert(log.length == 1 && log.head.getAs[Boolean]("permanent"))
  }

  test("changelog CONTENT per mutation: delete logs type 'deleted' with " +
    "the serialized pre-image of the whole record, rename logs the old→new " +
    "edge, both permanent — and slot updates stay non-permanent " +
    "(test_update_records tail, adsmp/tests/test_app.py:4139-4148, " +
    "test_rename_bibcode)") {
    import spark.implicits._
    val up = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("cl1", "metadata", """{"title": ["kept"]}""",
        ts("2024-01-01T00:00:00Z"))).toDS())
    assert(up.changeLog.collect().forall(!_.getAs[Boolean]("permanent")),
      "ordinary slot updates are non-permanent audit rows")
    // delete: the log row must carry the full serialized old record, so an
    // operator can answer "what did we delete" from the log alone
    val sitemap = Seq(SitemapEntry(1, "cl1", "sitemap_bib_1.xml",
      None, None, update_flag = false)).toDF()
    val del = MergeEngine.deleteByBibcodes(up.master, sitemap,
      Seq("cl1").toDF("bibcode"))
    val dLog = del.changeLog.collect()
    assert(dLog.length == 1)
    val dRow = dLog.head
    assert(dRow.getAs[String]("key") == "cl1")
    assert(dRow.getAs[String]("ctype") == "deleted")
    assert(dRow.getAs[Boolean]("permanent"), "deletes are permanent log rows")
    val old = dRow.getAs[String]("oldvalue")
    assert(old.contains("\"bibcode\":\"cl1\"") &&
      old.contains("""{\"title\": [\"kept\"]}"""),
      s"pre-image serializes the record including its slots: $old")
    // rename: key is the OLD bibcode, oldvalue the new one, permanent
    val ren = MergeEngine.renameBibcode(up.master,
      spark.emptyDataset[IdentifierAlias], "cl1", "cl1new")
    val rLog = ren.changeLog.collect()
    assert(rLog.length == 1)
    assert(rLog.head.getAs[String]("key") == "cl1" &&
      rLog.head.getAs[String]("ctype") == "renamed" &&
      rLog.head.getAs[String]("oldvalue") == "cl1new" &&
      rLog.head.getAs[Boolean]("permanent"))
  }

  test("J7 alias chains resolve to terminal targets, cycles terminate") {
    import spark.implicits._
    val aliases = Seq(
      IdentifierAlias("a", "b"), IdentifierAlias("b", "c"), IdentifierAlias("c", "d"),
      IdentifierAlias("x", "y"),
      IdentifierAlias("p", "q"), IdentifierAlias("q", "p") // cycle
    ).toDS()
    val resolved = MergeEngine.resolveAliases(aliases)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(resolved("a") == "d" && resolved("b") == "d" && resolved("c") == "d")
    assert(resolved("x") == "y")
    assert(Set("p", "q").contains(resolved("p")), "cycle resolves without hanging")
  }

  test("M3 rename repoints chain and masters (test_rename_bibcode)") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("old", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val aliases = Seq(IdentifierAlias("ancient", "old")).toDS()
    val res = MergeEngine.renameBibcode(master, aliases, "old", "new")
    assert(res.master.collect().head.getAs[String]("bibcode") == "new")
    val edges = res.aliases.collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(edges == Set("ancient" -> "new", "old" -> "new"))
  }

  test("A3 duplicate merge keeps newest slot values per bibcode") {
    val m1 = MasterRecord.empty("dup", id = 1).copy(
      bib_data = Some("""{"v": 1}"""), bib_data_updated = Some(ts("2024-01-01T00:00:00Z")),
      fulltext = Some("old body"), fulltext_updated = Some(ts("2024-01-05T00:00:00Z")),
      updated = Some(ts("2024-01-05T00:00:00Z")))
    val m2 = MasterRecord.empty("dup", id = 2).copy(
      bib_data = Some("""{"v": 2}"""), bib_data_updated = Some(ts("2024-02-01T00:00:00Z")),
      updated = Some(ts("2024-02-01T00:00:00Z")))
    import spark.implicits._
    val merged = MergeEngine.mergeDuplicates(
      spark.createDataset(Seq(m1, m2)).toDF).collect()
    assert(merged.length == 1)
    val r = merged.head
    assert(r.getAs[Long]("id") == 1L, "min id survives")
    assert(r.getAs[String]("bib_data") == """{"v": 2}""", "newer bib wins")
    assert(r.getAs[String]("fulltext") == "old body", "slot with only one value survives")
  }

  // ── edge cases ported from adsmp/tests/test_app.py:606-4160 and
  // tests/test_fix_db_duplicates.py ────────────────────────────────────

  test("M2 orphan sitemap row: delete removes it and flags its file (no log)") {
    import spark.implicits._
    // "ghost" is only in the sitemap table — Records already deleted
    // (app.py:261-274: orphaned SitemapInfo handling)
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val sitemap = Seq(
      SitemapEntry(1, "b1", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(2, "ghost", "sitemap_bib_1.xml", None, None, update_flag = false)).toDF()
    val res = MergeEngine.deleteByBibcodes(master, sitemap, Seq("ghost").toDF("bibcode"))
    assert(res.master.count() == 1, "master untouched")
    val sm = res.sitemap.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[Boolean]("update_flag")).toMap
    assert(sm == Map("b1" -> true), "orphan removed, its file flagged for regen")
    assert(res.changeLog.count() == 0, "no Records row, no changelog entry")
  }

  test("M2 delete that empties a file: no survivor left to flag") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b2", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val sitemap = Seq(
      SitemapEntry(1, "b1", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(2, "b2", "sitemap_bib_2.xml", None, None, update_flag = false)).toDF()
    val res = MergeEngine.deleteByBibcodes(master, sitemap, Seq("b1").toDF("bibcode"))
    val sm = res.sitemap.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[Boolean]("update_flag")).toMap
    assert(sm == Map("b2" -> false),
      "emptied file simply disappears from the table; other files untouched")
  }

  test("M2 delete of a nonexistent bibcode is a no-op") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val sitemap = Seq(
      SitemapEntry(1, "b1", "sitemap_bib_1.xml", None, None, update_flag = false)).toDF()
    val res = MergeEngine.deleteByBibcodes(master, sitemap, Seq("nope").toDF("bibcode"))
    assert(res.master.count() == 1 && res.changeLog.count() == 0)
    assert(res.sitemap.collect().head.getAs[Boolean]("update_flag") == false)
  }

  test("M2 delete flags the min-record_id survivor specifically") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b2", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b3", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val sitemap = Seq(
      SitemapEntry(30, "b3", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(10, "b1", "sitemap_bib_1.xml", None, None, update_flag = false),
      SitemapEntry(20, "b2", "sitemap_bib_1.xml", None, None, update_flag = false)).toDF()
    val res = MergeEngine.deleteByBibcodes(master, sitemap, Seq("b1").toDF("bibcode"))
    val flags = res.sitemap.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[Boolean]("update_flag")).toMap
    assert(flags == Map("b2" -> true, "b3" -> false),
      "exactly the lowest surviving record_id carries the flag (app.py:84-118)")
  }

  test("M3 rename onto an existing bibcode, then duplicate merge heals " +
    "(test_fix_db_duplicates.py test_duplicates)") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("old", "metadata", """{"v": "from-old"}""", ts("2024-02-01T00:00:00Z")),
      UpdateMessage("new", "metadata", """{"v": "from-new"}""", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("new", "fulltext", """{"body": "kept"}""", ts("2024-01-01T00:00:00Z"))
    ).toDS()).master
    val renamed = MergeEngine.renameBibcode(master,
      spark.emptyDataset[IdentifierAlias], "old", "new")
    assert(renamed.master.filter(col("bibcode") === "new").count() == 2,
      "rename onto an occupied bibcode leaves duplicate rows")
    val healed = MergeEngine.mergeDuplicates(renamed.master)
      .filter(col("bibcode") === "new").collect()
    assert(healed.length == 1)
    assert(healed.head.getAs[String]("bib_data") == """{"v": "from-old"}""",
      "newer slot wins across the duplicates")
    assert(healed.head.getAs[String]("fulltext") == """{"body": "kept"}""",
      "slot present on only one duplicate survives")
  }

  test("M3 rename repoints a multi-hop chain") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("c", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    // a → b → c historical chain; rename c → d must repoint BOTH edges
    val aliases = Seq(IdentifierAlias("a", "c"), IdentifierAlias("b", "c")).toDS()
    val res = MergeEngine.renameBibcode(master, aliases, "c", "d")
    val edges = res.aliases.collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(edges == Set("a" -> "d", "b" -> "d", "c" -> "d"))
    assert(res.changeLog.collect().head.getAs[Boolean]("permanent"),
      "rename log rows are permanent (app.py:296)")
  }

  test("A3 duplicate merge with all-null timestamps keeps the first row") {
    import spark.implicits._
    // test_fix_db_duplicates.test_duplicates_with_none: no timestamps at
    // all → the reference keeps recs[0]'s value (only a strictly newer
    // timestamp replaces a slot)
    val m1 = MasterRecord.empty("dup", id = 1).copy(bib_data = Some("""{"v": 1}"""))
    val m2 = MasterRecord.empty("dup", id = 2).copy(bib_data = Some("""{"v": 2}"""))
    val merged = MergeEngine.mergeDuplicates(
      spark.createDataset(Seq(m2, m1)).toDF).collect()
    assert(merged.length == 1)
    assert(merged.head.getAs[String]("bib_data") == """{"v": 1}""",
      "timestamp tie resolves to the lowest id, not an arbitrary row")
  }

  test("A3 duplicate merge: complementary null slots fill in both directions") {
    import spark.implicits._
    // test_duplicates_with_none second shape: row 1 has only bib_data,
    // row 2 has only nonbib_data → merged row carries both
    val m1 = MasterRecord.empty("dup", id = 1).copy(
      bib_data = Some("""{"hello": 1}"""),
      bib_data_updated = Some(ts("2024-01-01T00:00:00Z")))
    val m2 = MasterRecord.empty("dup", id = 2).copy(
      nonbib_data = Some("""{"world": 2}"""),
      nonbib_data_updated = Some(ts("2024-01-02T00:00:00Z")))
    val r = MergeEngine.mergeDuplicates(
      spark.createDataset(Seq(m1, m2)).toDF).collect().head
    assert(r.getAs[String]("bib_data") == """{"hello": 1}""")
    assert(r.getAs[String]("nonbib_data") == """{"world": 2}""")
    assert(r.getAs[Timestamp]("nonbib_data_updated") == ts("2024-01-02T00:00:00Z"),
      "slot timestamp travels with the chosen payload")
  }

  test("A3 duplicate merge: null payload never wins on timestamp alone") {
    import spark.implicits._
    val m1 = MasterRecord.empty("dup", id = 1).copy(
      bib_data = Some("""{"v": "real"}"""),
      bib_data_updated = Some(ts("2024-01-01T00:00:00Z")))
    val m2 = MasterRecord.empty("dup", id = 2).copy(
      bib_data = None,
      bib_data_updated = Some(ts("2024-06-01T00:00:00Z"))) // newer but empty
    val r = MergeEngine.mergeDuplicates(
      spark.createDataset(Seq(m1, m2)).toDF).collect().head
    assert(r.getAs[String]("bib_data") == """{"v": "real"}""",
      "only rows that HAVE the slot compete (fix_db_duplicates.py:68)")
    assert(r.getAs[Timestamp]("bib_data_updated") == ts("2024-01-01T00:00:00Z"))
  }

  test("A3 duplicate merge: non-slot columns stay the first row's") {
    import spark.implicits._
    val m1 = MasterRecord.empty("dup", id = 1).copy(
      status = Some("success"), solr_checksum = Some("0xaaa"),
      updated = Some(ts("2024-01-01T00:00:00Z")))
    val m2 = MasterRecord.empty("dup", id = 2).copy(
      status = Some("solr-failed"), solr_checksum = Some("0xbbb"),
      updated = Some(ts("2024-06-01T00:00:00Z")))
    val r = MergeEngine.mergeDuplicates(
      spark.createDataset(Seq(m1, m2)).toDF).collect().head
    assert(r.getAs[String]("status") == "success" &&
      r.getAs[String]("solr_checksum") == "0xaaa",
      "process_bibcode merges only the six slots; everything else is recs[0]'s")
  }

  test("M1 deleted-status message clears its slot, record survives " +
    "(test_task_update_record_delete)") {
    import spark.implicits._
    // test_tasks.py:104-121: fulltext/orcid/nonbib deletes clear the slot
    // but keep the record
    val seeded = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "fulltext", """{"foo": "bar"}""", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b1", "orcid_claims", """{"x": 1}""", ts("2024-01-01T00:00:00Z"))
    ).toDS()).master
    val cleared = MergeEngine.upsert(seeded, Seq(
      UpdateMessage("b1", "fulltext", "", ts("2024-02-01T00:00:00Z"),
        status = Some("deleted"))).toDS()).master.collect()
    assert(cleared.length == 1, "record survives the slot clear")
    val r = cleared.head
    assert(r.getAs[String]("fulltext") == null, "slot cleared")
    assert(r.getAs[String]("orcid_claims") == """{"x": 1}""", "other slots untouched")
    assert(r.getAs[Timestamp]("fulltext_updated") == ts("2024-02-01T00:00:00Z"),
      "clear advances the slot timestamp")

    // within one batch, latest wins: update then delete = cleared;
    // delete then update = the update
    val mixed = MergeEngine.upsert(seeded, Seq(
      UpdateMessage("b1", "fulltext", """{"v": 2}""", ts("2024-02-01T00:00:00Z")),
      UpdateMessage("b1", "fulltext", "", ts("2024-02-02T00:00:00Z"),
        status = Some("deleted")),
      UpdateMessage("b1", "orcid_claims", "", ts("2024-02-01T00:00:00Z"),
        status = Some("deleted")),
      UpdateMessage("b1", "orcid_claims", """{"x": 9}""", ts("2024-02-02T00:00:00Z"))
    ).toDS()).master.collect().head
    assert(mixed.getAs[String]("fulltext") == null, "later delete wins")
    assert(mixed.getAs[String]("orcid_claims") == """{"x": 9}""", "later update wins")
  }

  test("M4 mark-processed stamps only the hit rows (test_mark_processed)") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z")),
      UpdateMessage("b2", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    val now = ts("2024-03-01T00:00:00Z")
    val done = Seq(("b1", "0xabc")).toDF("bibcode", "checksum")
    val out = StampOracle.markProcessed(master, done, "solr", Some("success"), now)
      .collect().map(r => r.getAs[String]("bibcode") -> r).toMap
    assert(out("b1").getAs[Timestamp]("solr_processed") == now)
    assert(out("b1").getAs[String]("solr_checksum") == "0xabc")
    assert(out("b1").getAs[String]("status") == "success")
    assert(out("b2").getAs[Timestamp]("solr_processed") == null)
    assert(out("b2").getAs[String]("status") == null)
    intercept[IllegalArgumentException] {
      StampOracle.markProcessed(master, done, "bogus", None, now)
    }
  }

  test("update_storage sequence: per-slot stamps, monotonic updated, stable " +
    "id/scix, delete changelog (test_app.py:294-351 test_update_records)") {
    import spark.implicits._
    // the reference writes the SAME payload into bib/nonbib/orcid slots in
    // sequence and asserts after each step; the scix id literal it pins
    // comes from an external non-vendored lib, so here the assertion is
    // shape + determinism instead of the literal
    val payload = """{"foo": "bar", "hey": 1, "title": "Test record abc"}"""
    var master = MergeEngine.emptyMaster(spark)
    var lastUpdated: Timestamp = null
    var id0: Long = -1L
    var scix0: String = null
    for ((slot, i) <- Seq("metadata", "nonbib_data", "orcid_claims").zipWithIndex) {
      val t = ts(s"2024-01-0${i + 1}T00:00:00Z")
      master = MergeEngine.upsert(master,
        Seq(UpdateMessage("abc", slot, payload, t)).toDS()).master
      val r = master.collect().head
      val slotCol = MasterRecord.typeToSlot(slot)
      assert(r.getAs[String](slotCol) == payload, s"$slotCol written")
      assert(r.getAs[Timestamp](s"${slotCol}_updated") == t, s"$slotCol stamped")
      if (lastUpdated != null)
        assert(lastUpdated.before(r.getAs[Timestamp]("updated")),
          "updated advances with every slot write")
      lastUpdated = r.getAs[Timestamp]("updated")
      if (i == 0) { id0 = r.getAs[Long]("id"); scix0 = r.getAs[String]("scix_id") }
      else {
        assert(r.getAs[Long]("id") == id0, "id is stable across updates")
        assert(r.getAs[String]("scix_id") == scix0, "scix is stable across updates")
      }
    }
    assert(scix0 != null && scix0.matches(
      "scix:[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}"))

    // fulltext lands in its slot without touching the others
    master = MergeEngine.upsert(master, Seq(UpdateMessage("abc", "fulltext",
      """{"body": "foo bar"}""", ts("2024-01-04T00:00:00Z"))).toDS()).master
    val r = master.collect().head
    assert(r.getAs[String]("fulltext") == """{"body": "foo bar"}""")
    assert(r.getAs[Timestamp]("fulltext_updated") == ts("2024-01-04T00:00:00Z"))
    assert(r.getAs[String]("bib_data") == payload)
    assert(r.getAs[Timestamp]("processed") == null,
      "never-indexed record has no processed stamp")

    // delete: record gone, permanent changelog row carries the old record
    val del = MergeEngine.deleteByBibcodes(master,
      graft.operators.SitemapState.empty(spark), Seq("abc").toDF("bibcode"))
    assert(del.master.count() == 0)
    val logRow = del.changeLog.collect().head
    assert(logRow.getAs[String]("key") == "abc" &&
      logRow.getAs[String]("ctype") == "deleted" &&
      logRow.getAs[Boolean]("permanent"))
    assert(logRow.getAs[String]("oldvalue").contains("Test record abc"),
      "changelog serializes the deleted record")
  }

  test("bulk operations on empty inputs are no-ops " +
    "(test_app.py:2693 test_bulk_operations_empty_scenarios)") {
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("b1", "metadata", "{}", ts("2024-01-01T00:00:00Z"))).toDS()).master
    // compare in canonical column order: the anti-join inside delete moves
    // the join key to the front of the schema (values must be identical)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(master.columns.map(col): _*).collect().map(_.toString).sorted.toSeq
    val before = rows(master)

    val up = MergeEngine.upsert(master, spark.emptyDataset[UpdateMessage])
    assert(rows(up.master) == before, "empty upsert batch leaves every row intact")
    assert(up.changeLog.count() == 0, "and logs nothing")

    val del = MergeEngine.deleteByBibcodes(master,
      graft.operators.SitemapState.empty(spark), bibsEmpty)
    assert(rows(del.master) == before)
    assert(del.changeLog.count() == 0)
  }

  test("an upsert of a batch planned empty plans no join and fills id and " +
    "scix_id exactly as the full merge does") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val t = ts("2024-01-01T00:00:00Z")
    val seeded = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      UpdateMessage("e1", "metadata", """{"title": ["one"]}""", t),
      UpdateMessage("e2", "metadata", """{"title": ["two"]}""", t),
      UpdateMessage("e3", "nonbib_data", """{"boost": 0.1}""", t)).toDS()).master
    // rows stored before their ids were assigned: e1 and e3 lack an id,
    // every row lacks a scix_id
    val master = seeded
      .withColumn("id", when(col("bibcode") =!= "e2", lit(null).cast("long")).otherwise(col("id")))
      .withColumn("scix_id", lit(null).cast("string"))
    val planned = spark.emptyDataset[UpdateMessage]
    // an RDD-backed batch's row count is unknown to the planner: it takes
    // the full merge
    val unknown = spark.createDataset(spark.sparkContext.emptyRDD[UpdateMessage])
    assert(planned.queryExecution.optimizedPlan.maxRows.contains(0L))
    assert(unknown.queryExecution.optimizedPlan.maxRows.isEmpty)
    val shortcut = MergeEngine.upsert(master, planned)
    val full = MergeEngine.upsert(master, unknown)
    def joins(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case j: Join => j }.size
    assert(joins(shortcut.master) == joins(master), "the empty batch plans no join")
    assert(joins(full.master) > joins(master), "the RDD-backed batch takes the full merge")

    assert(shortcut.master.columns.toSeq == full.master.columns.toSeq)
    val got = shortcut.master.collect()
    assert(got.toSet == full.master.collect().toSet, "both paths give the same rows")
    val byBib = got.map(r => r.getAs[String]("bibcode") -> r).toMap
    assert(byBib.values.forall(r => !r.isNullAt(r.fieldIndex("id"))), "every id is filled")
    assert(byBib("e2").getAs[Long]("id") == seeded.filter(col("bibcode") === "e2")
      .select("id").as[Long].head(), "a stored id is kept")
    assert(byBib("e1").getAs[String]("scix_id") != null &&
      byBib("e2").getAs[String]("scix_id") != null, "scix_id assigned where bib_data is")
    assert(byBib("e3").getAs[String]("scix_id") == null, "and not without bib_data")
    assert(shortcut.changeLog.columns.toSeq == full.changeLog.columns.toSeq)
    assert(shortcut.changeLog.isEmpty && full.changeLog.isEmpty)
  }

  private def bibsEmpty = {
    import spark.implicits._
    Seq.empty[String].toDF("bibcode")
  }
}
