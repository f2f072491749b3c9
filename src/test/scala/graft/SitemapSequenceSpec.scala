package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.operators.{Sitemap, SitemapState}
import graft.sources.MasterStore

/** The reference's long-tail sitemap sequences, ported case by case:
  * orphan SitemapInfo cleanup (adsmp/tests/test_tasks.py:1199-1501),
  * multi-file regeneration and regeneration-after-deletion
  * (test_tasks.py:2394-2750), the `_execute_remove_action` scenario matrix
  * (adsmp/tests/test_app.py:3361-3895), and multi-batch rollover with
  * interleaved removes (test_tasks.py:2129-2210, 3769-3865). Each test
  * names the reference test it ports. */
class SitemapSequenceSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def masterOf(rows: Seq[(Long, String, String, String, String)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, bib, bd, bdu, st) =>
      (id, bib, Option(bd), Option(bdu).map(ts), Option(st))
    }.toDF("id", "bibcode", "bib_data", "bib_data_updated", "status")
  }

  /** Pre-built SitemapInfo rows: (record_id, bibcode, filename, flag). */
  private def stateOf(rows: Seq[(Long, String, String, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.map { case (id, bib, f, flag) =>
      records.SitemapEntry(id, bib, f, Some(ts("2024-01-01 00:00:00")),
        Some(ts("2024-02-01 00:00:00")), flag)
    }.toDS().toDF()
  }

  private def bibs(bs: String*): DataFrame = {
    import spark.implicits._
    bs.toDF("bibcode")
  }

  private def stateMap(state: DataFrame): Map[String, (String, Boolean)] =
    state.collect().map(r => r.getAs[String]("bibcode") ->
      (r.getAs[String]("sitemap_filename"), r.getAs[Boolean]("update_flag"))).toMap

  test("orphaned entries are swept, valid ones survive with their linkage " +
    "(test_task_cleanup_invalid_sitemaps_orphaned_entries_cleanup, " +
    "test_task_cleanup_invalid_sitemaps_orphaned_entries_verification)") {
    // three entries share a file; two records vanish from master → orphans
    val state = stateOf(Seq(
      (1L, "2023OrphanCleanup1A", "sitemap_bib_1.xml", false),
      (2L, "2023OrphanCleanup2B", "sitemap_bib_1.xml", false),
      (3L, "2023ValidCleanup3C", "sitemap_bib_1.xml", false)))
    val master = masterOf(Seq(
      (3L, "2023ValidCleanup3C", """{"title": "Test Record"}""",
        "2024-01-01 00:00:00", "success")))
    val res = SitemapState.cleanupInvalid(state, master)
    val m = stateMap(res.state)
    assert(m.keySet == Set("2023ValidCleanup3C"), "both orphans removed")
    assert(res.filesToDelete.isEmpty && res.filesToUpdate == Seq("sitemap_bib_1.xml"),
      "the survivor's file regenerates, nothing is deleted")
    assert(res.state.collect().head.getAs[Long]("record_id") == 3L,
      "the surviving entry keeps its Records linkage")

    // part 3: a table of only valid entries is a no-op
    val valid = stateOf(Seq((3L, "2023ValidCleanup3C", "sitemap_bib_1.xml", false)))
    val res2 = SitemapState.cleanupInvalid(valid, master)
    assert(stateMap(res2.state).keySet == Set("2023ValidCleanup3C"))
    assert(res2.filesToDelete.isEmpty && res2.filesToUpdate.isEmpty)
  }

  test("every invalid shape is swept in one pass; mixed file flags, pure file " +
    "deletes (test_task_cleanup_invalid_sitemaps_comprehensive_invalid_cases)") {
    val state = stateOf(Seq(
      (1L, "2023NoData..1..1A", "sitemap_bib_mixed.xml", false),     // bib_data null
      (2L, "2023SolrFailed..1..1D", "sitemap_bib_mixed.xml", false), // solr-failed
      (3L, "2023Retrying..1..1E", "sitemap_bib_mixed.xml", false),   // retrying
      (4L, "2023ValidMixed..1..1G", "sitemap_bib_mixed.xml", false), // valid, same file
      (5L, "2023ValidRecord..1..1F", "sitemap_bib_valid.xml", false))) // valid, own file
    val master = masterOf(Seq(
      (1L, "2023NoData..1..1A", null, null, "success"),
      (2L, "2023SolrFailed..1..1D", """{"title": "Test"}""", "2024-01-01 00:00:00", "solr-failed"),
      (3L, "2023Retrying..1..1E", """{"title": "Test"}""", "2024-01-01 00:00:00", "retrying"),
      (4L, "2023ValidMixed..1..1G", """{"title": "Valid Mixed"}""", "2024-01-01 00:00:00", "success"),
      (5L, "2023ValidRecord..1..1F", """{"title": "Valid"}""", "2024-01-01 00:00:00", "success")))
    val res = SitemapState.cleanupInvalid(state, master)
    val m = stateMap(res.state)
    assert(m.keySet == Set("2023ValidMixed..1..1G", "2023ValidRecord..1..1F"),
      "all three invalid shapes removed, both valid records remain")
    assert(res.filesToUpdate == Seq("sitemap_bib_mixed.xml"),
      "the mixed file regenerates")
    assert(res.filesToDelete.isEmpty, "no file lost all members")
    assert(m("2023ValidMixed..1..1G")._2, "the mixed file's survivor is flagged")
    assert(!m("2023ValidRecord..1..1F")._2, "the untouched file is NOT flagged")
  }

  test("remove: mixed existing/non-existing keys, empty input, no-match " +
    "(test_execute_remove_action_mixed_scenarios, " +
    "test_execute_remove_action_empty_input, " +
    "test_execute_remove_action_no_matching_records)") {
    val state = stateOf(Seq(
      (1L, "2023MixedTest..1..1A", "sitemap_bib_1.xml", false),
      (2L, "2023MixedTest..1..2A", "sitemap_bib_1.xml", false)))

    // mixed: the two existing rows go, unknowns are ignored, the emptied
    // file is reported for deletion
    val mixed = SitemapState.remove(state,
      bibs("2023MixedTest..1..1A", "2023MixedTest..1..2A",
        "2023NonExist..1..1A", "2023NonExist..1..2A"))
    assert(mixed.state.count() == 0)
    assert(mixed.filesToDelete == Seq("sitemap_bib_1.xml"))
    assert(mixed.filesToUpdate.isEmpty)

    // no matching records: state untouched, no files reported
    val noMatch = SitemapState.remove(state, bibs("2023Nope..1..1A"))
    assert(stateMap(noMatch.state) == stateMap(state))
    assert(noMatch.filesToDelete.isEmpty && noMatch.filesToUpdate.isEmpty)

    // empty input: identical no-op
    val empty = SitemapState.remove(state, bibs())
    assert(stateMap(empty.state) == stateMap(state))
    assert(empty.filesToDelete.isEmpty && empty.filesToUpdate.isEmpty)

    // add with an empty batch is the same no-op
    // (test_process_sitemap_batch_empty_input)
    val master = masterOf(Seq((1L, "2023MixedTest..1..1A",
      """{"title": "Test Record"}""", "2024-01-01 00:00:00", "success")))
    val addEmpty = SitemapState.add(state, master, bibs())
    assert(stateMap(addEmpty) == stateMap(state))
  }

  test("remove: partial removal updates both files, deletes neither " +
    "(test_execute_remove_action_partial_file_removal)") {
    val state = stateOf(Seq(
      (1L, "2023PartialTest..1..1A", "sitemap_bib_1.xml", false),
      (2L, "2023PartialTest..1..2A", "sitemap_bib_1.xml", false),
      (3L, "2023PartialTest..1..3A", "sitemap_bib_1.xml", false),
      (4L, "2023PartialTest..1..4A", "sitemap_bib_2.xml", false),
      (5L, "2023PartialTest..1..5A", "sitemap_bib_2.xml", false)))
    val res = SitemapState.remove(state,
      bibs("2023PartialTest..1..2A", "2023PartialTest..1..4A"))
    assert(res.filesToDelete.isEmpty, "both files keep members")
    assert(res.filesToUpdate == Seq("sitemap_bib_1.xml", "sitemap_bib_2.xml"))
    val byFile = res.state.collect()
      .groupBy(_.getAs[String]("sitemap_filename"))
      .view.mapValues(_.length).toMap
    assert(byFile == Map("sitemap_bib_1.xml" -> 2, "sitemap_bib_2.xml" -> 1))
    // exactly one survivor per shrunken file is flagged (min record_id)
    val flagged = res.state.filter(col("update_flag")).collect()
      .map(r => r.getAs[String]("bibcode")).toSet
    assert(flagged == Set("2023PartialTest..1..1A", "2023PartialTest..1..5A"))
  }

  test("remove at batch scale: one pass over a thousand-row state " +
    "(test_execute_remove_action_performance_with_large_batch)") {
    // the reference times a 1000-record remove through its batched driver
    // loop; here the same shape is one distributed pass regardless of
    // batch size — assert the reconciliation stays exact at this width
    val state = stateOf((1L to 1000L).map(i =>
      (i, f"L$i%04d", s"sitemap_bib_${(i - 1) / 100 + 1}.xml", false)))
    // remove all of file 3 (201..300) and half of file 7 (601..650)
    val doomed = ((201 to 300) ++ (601 to 650)).map(i => f"L$i%04d")
    val res = SitemapState.remove(state, {
      import spark.implicits._
      doomed.toDF("bibcode")
    })
    assert(res.state.count() == 850)
    assert(res.filesToDelete == Seq("sitemap_bib_3.xml"))
    assert(res.filesToUpdate == Seq("sitemap_bib_7.xml"))
    val flagged = res.state.filter(col("update_flag")).collect()
      .map(_.getAs[String]("bibcode")).toSeq
    assert(flagged == Seq("L0651"), "exactly the min-id survivor of file 7")
  }

  test("multi-batch rollover with interleaved removes: holes stay, fills " +
    "continue (test_task_manage_sitemap_bootstrap_action_batch_processing, " +
    "test_task_manage_sitemap_add_action_batch_processing, " +
    "test_task_manage_sitemap_remove_action_batch_processing, " +
    "test_batch_processing_mixed_records, " +
    "test_process_sitemap_batch_session_persistence)") {
    // bootstrap 25 records at 10/file → files 1..3 (10, 10, 5)
    val master0 = masterOf((1L to 25L).map(i =>
      (i, f"B$i%03d", "{}", "2024-01-01 00:00:00", "success")))
    val boot = SitemapState.bootstrap(SitemapState.empty(spark), master0, maxPerFile = 10)
    val m0 = stateMap(boot)
    assert(m0("B001")._1 == "sitemap_bib_1.xml" && m0("B010")._1 == "sitemap_bib_1.xml")
    assert(m0("B011")._1 == "sitemap_bib_2.xml" && m0("B025")._1 == "sitemap_bib_3.xml")

    // remove 5 from file 1 — holes form and MUST NOT be refilled
    val removed = SitemapState.remove(boot,
      bibs("B001", "B002", "B003", "B004", "B005")).state

    // add 12 new records: file 3 fills 5→10, the rest roll into file 4
    val master1 = masterOf((1L to 37L).map(i =>
      (i, f"B$i%03d", "{}", "2024-01-01 00:00:00", "success")))
    val added = SitemapState.add(removed, master1,
      bibs((26 to 37).map(i => f"B$i%03d"): _*), maxPerFile = 10)
    val m1 = stateMap(added)
    assert((26 to 30).forall(i => m1(f"B$i%03d")._1 == "sitemap_bib_3.xml"),
      "fill continues in the numerically-last file")
    assert((31 to 37).forall(i => m1(f"B$i%03d")._1 == "sitemap_bib_4.xml"),
      "rollover at the boundary, not into file 1's holes")
    assert(added.filter(col("sitemap_filename") === "sitemap_bib_1.xml").count() == 5,
      "file 1 keeps its holes")
    // sticky: no pre-existing assignment moved across the whole sequence
    assert((6 to 25).forall(i => m1(f"B$i%03d")._1 == m0(f"B$i%03d")._1))

    // second add batch: re-adding existing + new ones continues file 4
    val master2 = masterOf((1L to 40L).map(i =>
      (i, f"B$i%03d", "{}", "2024-01-01 00:00:00", "success")))
    val added2 = SitemapState.add(added, master2,
      bibs("B020", "B038", "B039", "B040"), maxPerFile = 10)
    val m2 = stateMap(added2)
    assert(m2("B020")._1 == m1("B020")._1, "re-add never moves a record")
    assert(Seq("B038", "B039", "B040").forall(b => m2(b)._1 == "sitemap_bib_4.xml"),
      "next batch keeps filling file 4 (7+3 = 10)")
  }

  test("current fill state: highest-numbered file wins ties, a full last " +
    "file rolls the fill forward (test_get_current_sitemap_state_performance)") {
    // five files with EQUAL counts — the state is the highest index, not
    // the largest count
    val equal = stateOf((1L to 15L).map(i =>
      (i, f"S$i%03d", s"sitemap_bib_${(i - 1) / 3 + 1}.xml", false)))
    val f1 = SitemapState.currentFill(equal, maxPerFile = 10)
    assert(f1.index == 5 && f1.count == 3,
      "ties resolve to the highest numbered file")
    // last file exactly at capacity: the next add must open file 6
    val full = stateOf((1L to 15L).map(i =>
      (i, f"S$i%03d", s"sitemap_bib_${(i - 1) / 3 + 1}.xml", false)))
    val f2 = SitemapState.currentFill(full, maxPerFile = 3)
    assert(f2.index == 6 && f2.count == 0,
      "a full last file advances the fill to the next (empty) index")
    // empty table starts at file 1
    val f0 = SitemapState.currentFill(SitemapState.empty(spark), maxPerFile = 10)
    assert(f0.index == 1 && f0.count == 0)
  }

  test("multiple flagged files regenerate disjointly and flags reset " +
    "(test_task_update_sitemap_files_multiple_files)") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_multi").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    stateStore.write(stateOf(Seq(
      (1L, "2023MultiFile1A", "sitemap_bib_1.xml", true),
      (2L, "2023MultiFile1B", "sitemap_bib_1.xml", true),
      (3L, "2023MultiFile2A", "sitemap_bib_2.xml", true),
      (4L, "2023MultiFile2B", "sitemap_bib_2.xml", true))))
    val n = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))._1
    assert(n == 2, "both flagged files regenerated")
    def read(f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/ads/$f")), "UTF-8")
    val c1 = read("sitemap_bib_1.xml"); val c2 = read("sitemap_bib_2.xml")
    assert(c1.contains("2023MultiFile1A") && c1.contains("2023MultiFile1B") &&
      !c1.contains("2023MultiFile2A"), "file 1 holds exactly its members")
    assert(c2.contains("2023MultiFile2A") && c2.contains("2023MultiFile2B") &&
      !c2.contains("2023MultiFile1A"), "file 2 holds exactly its members")
    // all flags reset, lastmoddate stamped
    val after = stateStore.read(spark)
    assert(after.filter(col("update_flag")).count() == 0)
    assert(after.filter(col("filename_lastmoddate") =!=
      lit(ts("2024-06-01 00:00:00"))).count() == 0)
    // the index lists both files plus the static page
    val idx = read("sitemap_index.xml")
    assert(idx.contains("sitemap_bib_1.xml") && idx.contains("sitemap_bib_2.xml") &&
      idx.contains("sitemap_static.xml"))
  }

  test("index generation with an empty table still writes a valid index " +
    "holding only the static entry (test_task_update_sitemap_index_empty_database, " +
    "test_task_update_sitemap_index_generation, test_task_generate_sitemap_index)") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_empty").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    val n = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))._1
    assert(n == 0, "nothing to regenerate")
    for (site <- Seq("ads", "scix")) {
      val p = java.nio.file.Paths.get(s"$root/out/$site/sitemap_index.xml")
      assert(java.nio.file.Files.exists(p), s"index written for $site")
      val idx = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      assert(idx.contains("<?xml version=\"1.0\" encoding=\"UTF-8\"?>") &&
        idx.contains("<sitemapindex") && idx.contains("</sitemapindex>"))
      assert("<sitemap>".r.findAllIn(idx).size == 1,
        "only the static sitemap entry is listed")
    }
  }

  test("index generation skips table entries whose physical file is missing " +
    "(test_task_update_sitemap_index_missing_files)") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_missing").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    // entry exists in the table, is NOT flagged (so no regeneration), and
    // its physical file was never written
    stateStore.write(stateOf(Seq(
      (1L, "2023Missing..1..1A", "sitemap_bib_missing.xml", false))))
    val n = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))._1
    assert(n == 0)
    val idx = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/ads/sitemap_index.xml")), "UTF-8")
    assert(!idx.contains("sitemap_bib_missing.xml"),
      "a table entry with no physical file is not indexed")
    assert("<sitemap>".r.findAllIn(idx).size == 1, "only the static entry remains")
  }

  test("one flagged file renders into every site tree with that site's URLs " +
    "(test_task_generate_single_sitemap_multi_site)") {
    val root = java.nio.file.Files.createTempDirectory("graft_seq_sites").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    stateStore.write(stateOf(Seq(
      (1L, "2023MultiSite..1..1A", "sitemap_bib_1.xml", true))))
    Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))
    def read(site: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/$site/sitemap_bib_1.xml")), "UTF-8")
    val ads = read("ads"); val scix = read("scix")
    assert(ads.contains(
      "https://ui.adsabs.harvard.edu/abs/2023MultiSite..1..1A/abstract"))
    assert(scix.contains(
      "https://scixplorer.org/abs/2023MultiSite..1..1A/abstract"))
    assert(!ads.contains("scixplorer") && !scix.contains("adsabs"),
      "each tree carries only its own site's URLs")
    // and each site's index points at its own sitemap base
    def idx(site: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/$site/sitemap_index.xml")), "UTF-8")
    assert(idx("ads").contains("https://ui.adsabs.harvard.edu/sitemap/sitemap_bib_1.xml"))
    assert(idx("scix").contains("https://scixplorer.org/sitemap/sitemap_bib_1.xml"))
  }

  test("multi-site rollover grid: every file in both trees carries exactly " +
    "its member URLs with full XML structure, and the grid survives an add " +
    "batch (test_task_generate_single_sitemap_multi_site full content matrix, " +
    "test_tasks.py:2751-3061)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_seq_grid").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    // 9 records at 3/file → exactly the reference's 3×3 grid
    val bibcodes = (1 to 9).map(i => f"2023Multi..${(i - 1) / 3 + 1}..${i}%dX")
    val master0 = masterOf(bibcodes.zipWithIndex.map { case (b, i) =>
      (i + 1L, b, s"""{"title": "Multi-site Test ${i + 1}"}""",
        "2024-01-01 00:00:00", "success")
    })
    stateStore.write(SitemapState.bootstrap(SitemapState.empty(spark), master0,
      maxPerFile = 3))
    val n = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))._1
    assert(n == 3, "three files regenerate")

    def read(site: String, f: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/$site/$f")), "UTF-8")
    val grid = Map(
      "sitemap_bib_1.xml" -> bibcodes.slice(0, 3),
      "sitemap_bib_2.xml" -> bibcodes.slice(3, 6),
      "sitemap_bib_3.xml" -> bibcodes.slice(6, 9))
    val urlOf = Map(
      "ads" -> ((b: String) => s"https://ui.adsabs.harvard.edu/abs/$b/abstract"),
      "scix" -> ((b: String) => s"https://scixplorer.org/abs/$b/abstract"))
    for (site <- Seq("ads", "scix"); (file, members) <- grid) {
      val c = read(site, file)
      // XML structure (the reference asserts declaration/urlset/close per file)
      assert(c.contains("<?xml version=\"1.0\" encoding=\"UTF-8\"?>"), s"$site/$file decl")
      assert(c.contains(
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"), s"$site/$file urlset")
      assert(c.contains("</urlset>"), s"$site/$file close")
      assert(c.contains("<lastmod>"), s"$site/$file lastmod present")
      // exactly 3 URL entries, and exactly the right membership
      assert("<url>".r.findAllIn(c).size == 3, s"$site/$file has 3 URL entries")
      for (b <- members)
        assert(c.contains(s"<loc>${urlOf(site)(b)}</loc>"), s"$site/$file carries $b")
      for (b <- bibcodes.diff(members))
        assert(!c.contains(b), s"$site/$file excludes non-member $b")
    }
    // totals: 9 URLs per site tree
    for (site <- Seq("ads", "scix"))
      assert(grid.keys.toSeq.map(f => "<url>".r.findAllIn(read(site, f)).size).sum == 9,
        s"$site total URL count")
    // all flags reset after generation
    assert(stateStore.read(spark).filter(col("update_flag")).count() == 0)

    // add batch rolls into file 4 and regenerates ONLY the touched files:
    // file 3 (3 full) stays, file 4 appears in both trees with the 2 new URLs
    val bibs10 = bibcodes ++ Seq("2023Multi..4..10X", "2023Multi..4..11X")
    val master1 = masterOf(bibs10.zipWithIndex.map { case (b, i) =>
      (i + 1L, b, s"""{"title": "Multi-site Test ${i + 1}"}""",
        "2024-01-02 00:00:00", "success")
    })
    stateStore.write(SitemapState.add(stateStore.read(spark), master1,
      bibs("2023Multi..4..10X", "2023Multi..4..11X"), maxPerFile = 3))
    val mid = stateMap(stateStore.read(spark))
    assert(mid("2023Multi..4..10X")._1 == "sitemap_bib_4.xml" &&
      mid("2023Multi..4..11X")._1 == "sitemap_bib_4.xml",
      "full last file rolls the new batch into file 4")
    assert(mid.filter(_._2._2).keySet == Set("2023Multi..4..10X", "2023Multi..4..11X"),
      "only the new rows are flagged")
    val n2 = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-02 00:00:00"))._1
    assert(n2 == 1, "only file 4 regenerates")
    for (site <- Seq("ads", "scix")) {
      val c4 = read(site, "sitemap_bib_4.xml")
      assert("<url>".r.findAllIn(c4).size == 2, s"$site/file4 holds the 2 new URLs")
      assert(c4.contains(urlOf(site)("2023Multi..4..10X")))
      // untouched files are byte-stable across the second run (their
      // members and lastmods didn't change)
      assert("<url>".r.findAllIn(read(site, "sitemap_bib_1.xml")).size == 3)
      // the index now lists all four bib files plus the static entry
      val idx = read(site, "sitemap_index.xml")
      assert((1 to 4).forall(i => idx.contains(s"sitemap_bib_$i.xml")), s"$site index complete")
      assert("<sitemap>".r.findAllIn(idx).size == 5, s"$site index: 4 bib + 1 static")
    }
  }

  test("remove: emptied files are detected for deletion while the shrunken " +
    "file only updates (test_execute_remove_action_empty_files_detection, " +
    "test_app.py:3469-3560)") {
    // file 1: 2 records, file 2: 1, file 3: 1 — remove one from file 1 and
    // all of files 2 and 3
    val state = stateOf(Seq(
      (1L, "2023EmptyTest..1..1A", "sitemap_bib_1.xml", false),
      (2L, "2023EmptyTest..1..2A", "sitemap_bib_1.xml", false),
      (3L, "2023EmptyTest..1..3A", "sitemap_bib_2.xml", false),
      (4L, "2023EmptyTest..1..4A", "sitemap_bib_3.xml", false)))
    val res = SitemapState.remove(state,
      bibs("2023EmptyTest..1..2A", "2023EmptyTest..1..3A", "2023EmptyTest..1..4A"))
    assert(res.filesToDelete.toSet == Set("sitemap_bib_2.xml", "sitemap_bib_3.xml"),
      "exactly the emptied files are identified for deletion")
    assert(res.filesToUpdate == Seq("sitemap_bib_1.xml"),
      "the shrunken-but-nonempty file is marked for update, not deletion")
    val remaining = res.state.collect()
    assert(remaining.length == 1 &&
      remaining.head.getAs[String]("bibcode") == "2023EmptyTest..1..1A",
      "only file 1's survivor remains")
    assert(remaining.head.getAs[Boolean]("update_flag"),
      "the survivor is flagged so its file regenerates")
  }

  test("delete-then-regenerate sequence: cascading delete empties a file, " +
    "cleanup sweeps the orphan linkage, regeneration removes the dead file's " +
    "index entry (test_sitemap_file_regeneration_after_deletion_and_cleanup, " +
    "test_app.py:3413-3467 + tasks.py cleanup chain)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_seq_orphan").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    // two files of two; file 2's members will ALL be deleted from master
    val master0 = masterOf(Seq(
      (1L, "2023Orph..1..1A", "{}", "2024-01-01 00:00:00", "success"),
      (2L, "2023Orph..1..2A", "{}", "2024-01-01 00:00:00", "success"),
      (3L, "2023Orph..2..1A", "{}", "2024-01-01 00:00:00", "success"),
      (4L, "2023Orph..2..2A", "{}", "2024-01-01 00:00:00", "success")))
    stateStore.write(SitemapState.bootstrap(SitemapState.empty(spark), master0,
      maxPerFile = 2))
    Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/out/ads/sitemap_bib_2.xml")))

    // master loses file 2's records (the delete happened without the
    // sitemap remove — the orphan shape cleanupInvalid exists for)
    val master1 = masterOf(Seq(
      (1L, "2023Orph..1..1A", "{}", "2024-01-01 00:00:00", "success"),
      (2L, "2023Orph..1..2A", "{}", "2024-01-01 00:00:00", "success")))
    val swept = SitemapState.cleanupInvalid(stateStore.read(spark), master1)
    assert(stateMap(swept.state).keySet ==
      Set("2023Orph..1..1A", "2023Orph..1..2A"), "orphans swept")
    assert(swept.filesToDelete == Seq("sitemap_bib_2.xml"),
      "the fully-orphaned file is reported for physical deletion")
    assert(swept.filesToUpdate.isEmpty,
      "file 1 lost nothing and does not regenerate")
    stateStore.write(swept.state)
    // the Cli cleanup action deletes reported files before regenerating;
    // mirror that here, then regenerate and check the index drops the entry
    for (site <- Seq("ads", "scix"))
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$root/out/$site/sitemap_bib_2.xml"))
    Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-02 00:00:00"))
    for (site <- Seq("ads", "scix")) {
      val idx = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/out/$site/sitemap_index.xml")), "UTF-8")
      assert(idx.contains("sitemap_bib_1.xml") && !idx.contains("sitemap_bib_2.xml"),
        s"$site index lists only the surviving file")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/out/$site/sitemap_bib_2.xml")))
    }
    // file 1's content is intact after the whole sequence
    val c1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/ads/sitemap_bib_1.xml")), "UTF-8")
    assert(c1.contains("2023Orph..1..1A") && c1.contains("2023Orph..1..2A") &&
      !c1.contains("2023Orph..2..1A"))
  }

  test("regeneration after record deletion drops the doomed URL and keeps " +
    "the file (test_task_update_sitemap_files_after_record_deletion, " +
    "test_delete_by_bibcode_marks_sitemap_files_for_regeneration, " +
    "test_sitemap_file_regeneration_after_deletion_and_cleanup)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_seq_del").toString
    val stateStore = new MasterStore(s"$root/smstate", empty = SitemapState.empty)
    val master = masterOf(Seq(
      (1L, "2023DelTest..1..1A", "{}", "2024-01-01 00:00:00", "success"),
      (2L, "2023DelTest..1..2A", "{}", "2024-01-01 00:00:00", "success"),
      (3L, "2023DelTest..1..3A", "{}", "2024-01-01 00:00:00", "success")))
    stateStore.write(SitemapState.bootstrap(SitemapState.empty(spark), master,
      maxPerFile = 10))
    Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-01 00:00:00"))
    def content() = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/out/ads/sitemap_bib_1.xml")), "UTF-8")
    assert(content().contains("2023DelTest..1..2A"))

    // cascade-delete marks the file for regeneration via its survivor
    val res = graft.operators.MergeEngine.deleteByBibcodes(master,
      stateStore.read(spark), bibs("2023DelTest..1..2A"))
    stateStore.write(res.sitemap)
    val flagged = stateStore.read(spark).filter(col("update_flag"))
      .select(col("bibcode")).as[String].collect().toSet
    assert(flagged == Set("2023DelTest..1..1A"),
      "exactly the min-record_id survivor is flagged")
    val n = Pipeline.runManagedSitemaps(spark, stateStore, s"$root/out",
      ts("2024-06-02 00:00:00"))._1
    assert(n == 1)
    val c = content()
    assert(!c.contains("2023DelTest..1..2A"), "deleted record's URL is gone")
    assert(c.contains("2023DelTest..1..1A") && c.contains("2023DelTest..1..3A"),
      "the survivors remain in the regenerated file")
  }
}
