package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.operators.{MergeEngine, Sitemap, SitemapCadence, SitemapMembers, SitemapState}
import graft.sources.MasterStore

/** The ∝-delta sitemap cadence (Pipeline.runSitemapCadenceKeyed +
  * SitemapCadence) against the full-scan path it replaces: the two must
  * produce BYTE-IDENTICAL site trees and identical state tables across
  * every wave shape — new assignments crossing file boundaries, flagged
  * and non-flagged hits (a non-flagged hit still moves its file's index
  * lastmod: the stats-set-wider-than-render-set subtlety), stale flags
  * left by a crashed run, and out-of-band removes that invalidate the
  * persisted summary (the fill-cursor-across-add/remove/markGenerated
  * leg the summary's generation check exists for). */
class SitemapCadenceSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Master-schema frame from (id, bibcode, bib_data_updated|null). */
  private def masterFrame(rows: Seq[(Long, String, Option[String])]): DataFrame = {
    import spark.implicits._
    val base = rows.toDF("id", "bibcode", "bdu")
      .withColumn("bib_data", lit("{}"))
      .withColumn("bib_data_updated", col("bdu").cast("timestamp"))
      .drop("bdu")
    val have = base.columns.toSet
    val full = MergeEngine.emptyMaster(spark).schema.fields.map { f =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }
    base.select(full.toIndexedSeq: _*)
  }

  /** Relative-path → content map of a rendered tree. */
  private def tree(dir: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return Map.empty
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .toMap
    } finally walk.close()
  }

  private def stateRows(sm: MasterStore): Set[String] =
    sm.read(spark).collect().map(_.mkString("|")).toSet

  test("advanceFill ≡ currentFill across file boundaries: the arithmetic " +
    "fill carry the keyed cadence uses matches the table aggregation for " +
    "every (pre-fill, batch-size) shape incl. exact-boundary landings") {
    import spark.implicits._
    val maxPerFile = 4
    for (m <- Seq(0, 3, 4, 6); k <- Seq(0L, 1L, 2L, 4L, 5L, 9L)) {
      val pre = masterFrame((1L to m).map(i =>
        (i, f"PRE$i%015d", Some("2024-01-01 00:00:00"))))
      val state = SitemapState.bootstrap(SitemapState.empty(spark), pre, maxPerFile)
        .localCheckpoint()
      val fill = SitemapState.currentFill(state, maxPerFile)
      val newMaster = masterFrame((1L to k).map(i =>
        (100 + i, f"NEW$i%015d", Some("2024-01-02 00:00:00"))))
      val due = newMaster.select(col("bibcode"))
      val after = state.unionByName(
        SitemapState.addKeyed(SitemapState.empty(spark), newMaster, due,
          fill, maxPerFile)).localCheckpoint()
      val expect = SitemapState.currentFill(after, maxPerFile)
      val got = SitemapState.advanceFill(fill, k, maxPerFile)
      assert(got == expect, s"m=$m k=$k: advanceFill gave $got, table says $expect")
    }
  }

  test("keyed cadence ≡ full path over five wave shapes at maxPerFile=3: " +
    "byte-identical trees, identical state — boundary-crossing adds, a " +
    "non-flagged bdu refresh in an UNRENDERED file (index lastmod must " +
    "still move), a stale flag from a 'crashed' run, and an out-of-band " +
    "remove invalidating the summary (fill rebuild over the hole rules)") {
    import spark.implicits._
    val maxPerFile = 3
    val root = java.nio.file.Files.createTempDirectory("graft_smcad").toString
    val smA = new MasterStore(s"$root/smA", empty = SitemapState.empty)
    val smB = new MasterStore(s"$root/smB", empty = SitemapState.empty)
    // A runs with the file-ordinal member index wired, exactly as the Cli
    // does — so the five-shape parity also pins the index's ∝-delta
    // mirror + stamp-validated resync against the full path
    val miA = new SitemapMembers(s"$root/smA-members", numBuckets = 4)
    val outA = s"$root/outA"; val outB = s"$root/outB"

    // the evolving master fixture (shared by both paths)
    var master = masterFrame((1L to 7L).map(i =>
      (i, f"M$i%018d", Some("2024-01-01 00:00:00")))).localCheckpoint()

    var now = ts("2024-02-01 00:00:00")
    // seed both: bootstrap + full render; A keeps the summary from it
    smA.writeMerge(spark, st => SitemapState.bootstrap(st, master, maxPerFile))
    smB.writeMerge(spark, st => SitemapState.bootstrap(st, master, maxPerFile))
    var summary = Pipeline.runManagedSitemaps(spark, smA, outA, now,
      maxPerFile = maxPerFile)._2
    Pipeline.runManagedSitemaps(spark, smB, outB, now,
      maxPerFile = maxPerFile)
    def check(tag: String): Unit = {
      assert(stateRows(smA) == stateRows(smB), s"$tag: state diverged")
      assert(tree(outA) == tree(outB), s"$tag: trees diverged")
    }
    check("seed")

    // ONE wave driver: A runs the keyed cadence (summary-validated), B the
    // full path (whole-table add + full render) — exactly the two Cli
    // branches
    def wave(tag: String, due: DataFrame, at: Timestamp): Unit = {
      now = at
      val smVer = smA.currentVersion.getOrElse(0L)
      val (sum2, stale) =
        if (summary.generation == smVer) (summary, Seq.empty[String])
        else SitemapCadence.rebuild(smA.read(spark), smVer, maxPerFile)
      val dueMaster = master.join(due, Seq("bibcode"), "left_semi")
      summary = Pipeline.runSitemapCadenceKeyed(spark, smA, outA, now,
        dueMaster, sum2, miA, stale, maxPerFile)._2
      // the member index mirrors the primary exactly after every wave
      // (same rows, different physical layout)
      assert(miA.store.read(spark).collect().map(_.mkString("|")).toSet ==
        stateRows(smA), s"$tag: member index diverged from primary")
      assert(miA.isFresh(smA.currentVersion.getOrElse(0L)),
        s"$tag: member index stamp must be fresh after the cadence")
      // full path: scan-branch shape from the Cli
      smB.writeMerge(spark, { st =>
        val flagged = st.filter(col("update_flag")).select(col("bibcode"))
        SitemapState.add(st, master,
          due.join(flagged, Seq("bibcode"), "left_anti"), maxPerFile)
      })
      Pipeline.runManagedSitemaps(spark, smB, outB, now,
        maxPerFile = maxPerFile)
      check(tag)
    }

    // wave 1: two new records (file 3 fills to its boundary: 7 pre-rows →
    // file 3 holds 1, +2 lands exactly on the boundary)
    master = master.unionByName(masterFrame(Seq(
      (8L, f"M${8}%018d", Some("2024-02-02 00:00:00")),
      (9L, f"M${9}%018d", Some("2024-02-02 00:00:00"))))).localCheckpoint()
    wave("wave1-boundary", Seq(f"M${8}%018d", f"M${9}%018d").toDF("bibcode"),
      ts("2024-02-03 00:00:00"))

    // wave 2: a flagged hit in file 1 (newer than its generated stamp) AND
    // a non-flagged bdu refresh in file 2 (newer than its old bdu, older
    // than the generated stamp) — file 2 is NOT re-rendered but its index
    // lastmod moves; plus three new records crossing into a fresh file
    master = master
      .withColumn("bib_data_updated",
        when(col("bibcode") === f"M${1}%018d", lit(ts("2024-03-01 00:00:00")))
          .when(col("bibcode") === f"M${4}%018d", lit(ts("2024-01-15 00:00:00")))
          .otherwise(col("bib_data_updated")))
      .unionByName(masterFrame((10L to 12L).map(i =>
        (i, f"M$i%018d", Some("2024-03-01 00:00:00")))))
      .localCheckpoint()
    wave("wave2-mixed",
      Seq(f"M${1}%018d", f"M${4}%018d", f"M${10}%018d", f"M${11}%018d",
        f"M${12}%018d").toDF("bibcode"),
      ts("2024-03-02 00:00:00"))

    // wave 3: a 'crashed run' left a stale flag — plant it out-of-band in
    // BOTH stores (invalidates A's summary), then an idle wave: A must
    // rebuild, surface the stale file, and render it exactly like B's
    // flagged-file sweep
    def plantFlag(sm: MasterStore, bib: String): Unit =
      sm.writeMergeKeyed(spark, Seq(bib).toDF("bibcode"), cur =>
        cur.withColumn("update_flag", lit(true)))
    plantFlag(smA, f"M${5}%018d"); plantFlag(smB, f"M${5}%018d")
    wave("wave3-stale-flag", spark.emptyDataset[String].toDF("bibcode"),
      ts("2024-03-03 00:00:00"))

    // wave 4: out-of-band remove from the LAST file (shrinks the live
    // fill) and from a middle file (a hole later adds must NOT refill) —
    // summary invalid again; the following adds must land per the
    // rebuilt fill, continuing the shrunken last file
    def removeFrom(sm: MasterStore, bibs: Seq[String]): Unit =
      sm.writeMerge(spark, st =>
        SitemapState.remove(st, bibs.toDF("bibcode")).state)
    val doomed = Seq(f"M${12}%018d" /* last file */, f"M${2}%018d" /* middle */)
    removeFrom(smA, doomed); removeFrom(smB, doomed)
    master = master.unionByName(masterFrame(Seq(
      (13L, f"M${13}%018d", Some("2024-04-01 00:00:00")),
      (14L, f"M${14}%018d", Some("2024-04-01 00:00:00"))))).localCheckpoint()
    wave("wave4-after-remove",
      Seq(f"M${13}%018d", f"M${14}%018d").toDF("bibcode"),
      ts("2024-04-02 00:00:00"))

    // wave 5: a record with NULL bib_data_updated joins (its file's index
    // lastmod floats to 'today' — the hasNullBdu channel), plus an idle
    // re-run right after (summary VALID, zero due keys: the cheapest
    // cadence must still refresh site meta identically)
    master = master.unionByName(masterFrame(Seq(
      (15L, f"M${15}%018d", None)))).localCheckpoint()
    wave("wave5-null-bdu", Seq(f"M${15}%018d").toDF("bibcode"),
      ts("2024-04-03 00:00:00"))
    wave("wave5-idle", spark.emptyDataset[String].toDF("bibcode"),
      ts("2024-04-04 00:00:00"))

    // the summary's persisted round-trip is lossless (load(save(s)) == s)
    val wm = s"$root/wm"
    SitemapCadence.save(spark, wm, summary)
    assert(SitemapCadence.load(spark, wm).contains(summary))
    // and a corrupt summary file heals as None (rebuild path), never a crash
    java.nio.file.Files.write(
      java.nio.file.Paths.get(SitemapCadence.pathFor(wm)),
      "{not json".getBytes("UTF-8"))
    assert(SitemapCadence.load(spark, wm).isEmpty)
  }

  test("a sitemap run that throws midway releases every frame it cached and " +
    "every pin it took: the full render, the keyed cadence and runSitemaps") {
    val maxPerFile = 3
    val root = java.nio.file.Files.createTempDirectory("graft_smthrow").toString
    // a regular file where the output tree should be: the first file write
    // under it throws
    val notADir = java.nio.file.Files.createTempFile("graft_smthrow", ".out").toString
    val master = masterFrame((1L to 7L).map(i =>
      (i, f"T$i%018d", Some("2024-01-01 00:00:00")))).localCheckpoint()
    val sm = new MasterStore(s"$root/sm", empty = SitemapState.empty)
    sm.writeMerge(spark, st => SitemapState.bootstrap(st, master, maxPerFile))
    val now = ts("2024-02-01 00:00:00")
    val summary = Pipeline.runManagedSitemaps(spark, sm, s"$root/out", now,
      maxPerFile = maxPerFile)._2
    val newRows = masterFrame(Seq((8L, f"T${8}%018d", Some("2024-02-02 00:00:00"))))
    val runs = Seq[(String, () => Any)](
      "runManagedSitemaps" -> (() => Pipeline.runManagedSitemaps(
        spark, sm, notADir, now, maxPerFile = maxPerFile)),
      "runSitemapCadenceKeyed" -> (() => Pipeline.runSitemapCadenceKeyed(spark, sm,
        notADir, now, newRows, summary, new SitemapMembers(s"$root/sm-members",
          numBuckets = 2), maxPerFile = maxPerFile)))
    for ((name, run) <- runs) {
      spark.catalog.clearCache()
      Pins.releaseAll()
      val e = intercept[Exception](run())
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name threw ($e) with cached data left in the session")
      assert(Pins.held.isEmpty, s"$name threw ($e) holding pins ${Pins.held}")
    }
    assert(sm.currentVersion.contains(summary.generation), "no run published")
  }
}
