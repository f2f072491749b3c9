package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.records.UpdateMessage
import graft.operators.MergeEngine
import graft.sources.MasterStore

/** Snapshot-store durability semantics (SURVEY.md §7.4 risk 2; the
  * engine-side replacement for the reference's transactional Postgres
  * rollback story: test_bulk_insert_and_update_operations,
  * test_bulk_update_sitemap_records, test_bulk_insert_sitemap_records,
  * test_bulk_operations_error_handling, test_get_records_bulk_performance,
  * test_get_sitemap_info_bulk_performance — the bulk getters/setters those
  * tests time collapse here into snapshot reads/writes): every mutation
  * batch is a new immutable snapshot behind a generation-numbered CAS
  * publish, so a crashed writer can never tear the table, a failed batch
  * never advances the pointer, and two concurrent merge writers both land
  * (the reference serializes concurrent `update_storage` workers in
  * Postgres, adsmp/app.py:120-195 — the CAS-retry loop is the immutable-
  * storage equivalent). */
class MasterStoreSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def upsert(base: org.apache.spark.sql.DataFrame,
      msgs: Seq[UpdateMessage]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    MergeEngine.upsert(base, msgs.toDS()).master
  }

  private def msg(bib: String): UpdateMessage =
    UpdateMessage(bib, "metadata", s"""{"title": ["$bib"]}""",
      ts("2024-01-01 00:00:00"))

  private def seeded(root: String): MasterStore = {
    val store = new MasterStore(root, numBuckets = 2)
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"), msg("ms2"))))
    store
  }

  private def dataDirs(root: String): Seq[String] = {
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v_") || n.startsWith("d_")).toSeq
    } finally listing.close()
  }

  /** Root-relative data files each published generation references
    * (manifest base buckets + delta layers; legacy pointers expand to
    * their dir's listing). */
  private def referencedFiles(root: String): Map[Long, Set[String]] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val listing = java.nio.file.Files.list(java.nio.file.Paths.get(root))
    val gens = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("gen_")).toSeq
    } finally listing.close()
    gens.map { g =>
      val content = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, g)), "UTF-8").trim
      val files: Set[String] =
        if (content.startsWith("{")) {
          val j = org.json4s.jackson.JsonMethods.parse(content)
          (j \ "buckets").extract[List[List[String]]].flatten.toSet ++
            (j \ "layers").extract[List[org.json4s.JValue]]
              .flatMap(l => (l \ "files").extract[List[String]]).toSet ++
            (j \ "history").extractOrElse[List[List[org.json4s.JValue]]](Nil)
              .flatten.flatMap(l => (l \ "files").extract[List[String]]).toSet
        } else {
          val d = java.nio.file.Paths.get(root, content)
          val s = java.nio.file.Files.list(d)
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(f => s"$content/${f.getFileName}")
              .filter(_.endsWith(".parquet")).toSet
          } finally s.close()
        }
      g.stripPrefix("gen_").toLong -> files
    }.toMap
  }

  private def referencedDirs(root: String): Set[String] =
    referencedFiles(root).values.flatten.map(_.split('/').head).toSet

  test("writes advance the generation; readers always see a consistent snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms1").toString
    val store = seeded(root)
    assert(store.currentVersion.contains(1L))
    val v1 = store.read(spark).count()
    store.write(store.read(spark).withColumn("status", lit("success")))
    assert(store.currentVersion.contains(2L))
    assert(store.read(spark).count() == v1)
    assert(store.versions == Seq(1L, 2L), "old snapshots retained until vacuum")
  }

  test("a crashed writer's orphan directory is invisible; the replay " +
    "publishes a fresh generation and vacuum clears the orphan " +
    "(test_bulk_operations_error_handling analog)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms2").toString
    val store = seeded(root)
    // simulate a writer that died after materializing its data dir but
    // before the CAS publish: the directory exists, no generation
    // references it
    val orphan = java.nio.file.Paths.get(root, "v_deadbeefdeadbeef")
    java.nio.file.Files.createDirectories(orphan)
    java.nio.file.Files.write(orphan.resolve("garbage"), "junk".getBytes)
    assert(store.currentVersion.contains(1L))
    assert(store.read(spark).count() == 2, "readers never see the orphan")
    // the replayed batch writes its own fresh dir and publishes normally
    val v = store.write(store.read(spark))
    assert(v == 2L && store.currentVersion.contains(2L))
    assert(store.read(spark).count() == 2)
    // default vacuum only drops dirs SUPERSEDED generations reference —
    // an unreferenced dir might be a concurrent writer mid-write, so the
    // orphan sweep is opt-in (quiesced maintenance windows)
    store.vacuum()
    assert(java.nio.file.Files.exists(orphan),
      "default vacuum never touches unreferenced dirs")
    store.vacuum(alsoOrphans = true)
    assert(!java.nio.file.Files.exists(orphan),
      "the opt-in sweep removed the unreferenced torn attempt")
    assert(dataDirs(root).size == 1, "only the live snapshot's dir remains")
  }

  test("a failed mutation never advances the pointer (no partial batch)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms3").toString
    val store = seeded(root)
    // a batch whose evaluation throws mid-write: a UDF poison pill
    val poison = udf((s: String) => {
      if (s == "ms2") throw new RuntimeException("batch failure")
      s
    })
    val bad = store.read(spark).withColumn("bibcode", poison(col("bibcode")))
    intercept[org.apache.spark.SparkException] { store.write(bad) }
    assert(store.currentVersion.contains(1L), "still at generation 1")
    assert(store.read(spark).count() == 2, "the table is exactly the pre-batch state")
  }

  test("vacuum keeps only the live snapshot") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms4").toString
    val store = seeded(root)
    store.write(store.read(spark))
    store.write(store.read(spark))
    assert(store.versions == Seq(1L, 2L, 3L))
    store.vacuum()
    assert(store.versions == Seq(3L))
    assert(store.read(spark).count() == 2, "live snapshot intact")
    assert(dataDirs(root).size == 1, "superseded and orphan dirs dropped")
  }

  test("two interleaved merge writers both land — the lost-update race is " +
    "closed (Postgres-serialized update_storage analog, adsmp/app.py:120-195)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms5").toString
    val store = seeded(root)
    // writer A reads generation 1 and starts merging; writer B's whole
    // read-merge-publish lands in the middle (the classic interleaving a
    // single atomic-move CURRENT swap silently loses)
    var interleaved = false
    val vA = store.writeMerge(spark, cur => {
      if (!interleaved) {
        interleaved = true
        val vB = store.writeMerge(spark, c => upsert(c, Seq(msg("msB"))))
        assert(vB == 2L, "writer B published generation 2 mid-merge")
      }
      upsert(cur, Seq(msg("msA")))
    })
    // A lost the CAS for generation 2, re-read B's snapshot, re-applied
    // its delta on top, and won generation 3: BOTH deltas survive
    assert(vA == 3L, "writer A re-merged on top of the winner")
    val bibs = store.read(spark).select("bibcode")
      .collect().map(_.getString(0)).toSet
    assert(bibs == Set("ms1", "ms2", "msA", "msB"),
      s"both merge deltas survive the race; got $bibs")
    // torn-directory guard: every generation's full rewrite landed in its
    // own fresh data dir — no two writers ever shared one
    val byGen = referencedFiles(root)
    val genDirs = store.versions.map(g =>
      byGen(g).map(_.split('/').head))
    assert(genDirs.distinct.size == genDirs.size,
      s"each full-rewrite generation has distinct data dirs; got $genDirs")
    // A's stale first attempt was dropped on CAS loss: no orphan remains
    assert(dataDirs(root).toSet == referencedDirs(root),
      "no orphan data dir left behind by the losing attempt")
    store.vacuum()
    assert(store.versions == Seq(3L) && dataDirs(root).size == 1)
    assert(store.read(spark).count() == 4)
  }

  test("eight THREADED merge writers racing on one store: every delta " +
    "lands exactly once (the IndexMaintenanceSpec race shape, on the " +
    "master table)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms7").toString
    val store = seeded(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            new MasterStore(root, numBuckets = 2)
              .writeMerge(spark, cur => upsert(cur, Seq(msg(s"race$i"))))
        })
      }
      futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val bibs = store.read(spark).select("bibcode")
      .collect().map(_.getString(0)).toSet
    assert(bibs == Set("ms1", "ms2") ++ (1 to 8).map(i => s"race$i"),
      s"all 8 racing merges survive whatever the interleaving: $bibs")
    assert(store.read(spark).count() == 10L, "each delta landed exactly once")
    assert(store.currentVersion.contains(9L),
      "8 merges serialized into generations 2..9")
    store.vacuum()
    assert(dataDirs(root).size == 1 && store.read(spark).count() == 10L)
  }

  test("keyed merge: upserts land as a delta layer, absent keys tombstone, " +
    "base bucket files are untouched (cost ∝ delta, not ∝ table)") {
    val root = java.nio.file.Files.createTempDirectory("graft_km1").toString
    val store = new MasterStore(root, numBuckets = 4)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 20).map(i => msg(f"base$i%02d"))))
    val baseFiles = referencedFiles(root)(1L)
    import spark.implicits._
    // update base01, insert newA, delete base02 (key in set, absent from
    // the merged output)
    val keys = Seq("base01", "newA", "base02").toDF("bibcode")
    val v = store.writeMergeKeyed(spark, keys, cur =>
      upsert(cur.filter(col("bibcode") =!= "base02"), Seq(msg("newA")))
        .withColumn("status", lit("keyed")))
    assert(v == 2L)
    val rows = store.read(spark).select("bibcode", "status")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows.size == 20, "20 base - 1 deleted + 1 inserted")
    assert(!rows.contains("base02"), "tombstoned key is gone")
    assert(rows("base01").contains("keyed") && rows("newA").contains("keyed"))
    assert(rows("base03").isEmpty, "untouched rows keep their state")
    // the copy-on-write claim: generation 2 carries generation 1's base
    // files FORWARD BY REFERENCE — same paths, zero base rewrite
    val gen2 = referencedFiles(root)(2L)
    assert(baseFiles.subsetOf(gen2),
      "all base bucket files reused by path across generations")
    assert((gen2 -- baseFiles).forall(_.startsWith("d_")),
      "the only new files are the delta layer's")
    // lookup reconciles layers and prunes to the keys' buckets
    val got = store.lookup(spark, Seq("newA", "base03", "base02"))
      .select("bibcode").collect().map(_.getString(0)).toSet
    assert(got == Set("newA", "base03"))
  }

  test("compact folds layers with bucket-level copy-on-write: only buckets " +
    "holding layer keys are rewritten, the rest reuse their parquet files " +
    "by path; vacuum(retain) keeps a superseded window") {
    val root = java.nio.file.Files.createTempDirectory("graft_km2").toString
    val store = new MasterStore(root, numBuckets = 8, maxLayers = 1000)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 64).map(i => msg(f"doc$i%03d"))))
    import spark.implicits._
    // two keyed merges over ONE key → that key's bucket is the only
    // touched bucket at compaction
    val key = "doc001"
    store.writeMergeKeyed(spark, Seq(key).toDF("bibcode"),
      cur => cur.withColumn("status", lit("first")))
    store.writeMergeKeyed(spark, Seq(key).toDF("bibcode"),
      cur => cur.withColumn("status", lit("second")))
    val before = store.bucketFileLists.get
    val touched = graft.sources.MasterStore.bucketOf(key, 8)
    val vc = store.compact(spark)
    assert(vc == 4L)
    val after = store.bucketFileLists.get
    assert(store.stats.get.layerCount == 0, "layers folded away")
    for (b <- 0 until 8 if b != touched)
      assert(after(b) == before(b),
        s"untouched bucket $b carries the SAME file paths forward")
    assert(after(touched) != before(touched) &&
      after(touched).forall(f => !before(touched).contains(f)),
      "the touched bucket was rewritten into fresh files")
    // latest layer won inside the fold
    assert(store.read(spark).filter(col("bibcode") === key)
      .select("status").head().getString(0) == "second")
    assert(store.read(spark).count() == 64)
    // retention: keep the live generation AND one superseded snapshot
    store.vacuum(retain = 2)
    assert(store.versions == Seq(3L, 4L))
    assert(store.read(spark).count() == 64)
    store.vacuum()
    assert(store.versions == Seq(4L))
    assert(store.read(spark).count() == 64)
  }

  test("driver-side bucketOf matches Spark's pmod(hash) AND the shuffle " +
    "output file names — the pruning contract") {
    import spark.implicits._
    val keys = (1 to 50).map(i => s"k$i")
    val n = 8
    // expression parity
    val sparkSide = keys.toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(n)).cast("int").as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    for (k <- keys)
      assert(graft.sources.MasterStore.bucketOf(k, n) == sparkSide(k),
        s"driver hash of $k diverges from Spark's pmod(hash)")
    // file-name parity: every row in a bucketed store file has the
    // bucket id its part-index encodes
    val root = java.nio.file.Files.createTempDirectory("graft_km3").toString
    val store = new MasterStore(root, numBuckets = n)
    store.write(upsert(MergeEngine.emptyMaster(spark), keys.map(msg)))
    val buckets = store.bucketFileLists.get
    for ((files, b) <- buckets.zipWithIndex; f <- files) {
      val inFile = spark.read.parquet(s"$root/$f")
        .select("bibcode").collect().map(_.getString(0))
      for (k <- inFile)
        assert(graft.sources.MasterStore.bucketOf(k, n) == b,
          s"file $f (bucket $b) holds $k which hashes to " +
            graft.sources.MasterStore.bucketOf(k, n))
    }
  }

  test("two interleaved KEYED merge writers both land, each as a layer ∝ " +
    "its own delta") {
    val root = java.nio.file.Files.createTempDirectory("graft_km4").toString
    val store = seeded(root)
    import spark.implicits._
    var interleaved = false
    val vA = store.writeMergeKeyed(spark, Seq("kA").toDF("bibcode"), cur => {
      if (!interleaved) {
        interleaved = true
        val vB = store.writeMergeKeyed(spark, Seq("kB").toDF("bibcode"),
          c => upsert(c, Seq(msg("kB"))))
        assert(vB == 2L, "writer B published generation 2 mid-merge")
      }
      upsert(cur, Seq(msg("kA")))
    })
    assert(vA == 3L, "writer A re-merged on top of the winner")
    val bibs = store.read(spark).select("bibcode")
      .collect().map(_.getString(0)).toSet
    assert(bibs == Set("ms1", "ms2", "kA", "kB"),
      s"both keyed deltas survive the race; got $bibs")
    assert(store.stats.get.layerCount == 2, "one layer per keyed merge")
  }

  test("vacuum racing an in-flight merge: the merge's vanished input is " +
    "caught, the snapshot re-resolved, and BOTH deltas land (the " +
    "FingerprintIndexStore probe discipline)") {
    val root = java.nio.file.Files.createTempDirectory("graft_km5").toString
    val store = seeded(root)
    var sabotaged = false
    val v = store.writeMerge(spark, cur => {
      if (!sabotaged) {
        sabotaged = true
        // a competing writer publishes AND a maintenance vacuum drops the
        // superseded generation this merge lazily read — the merge's own
        // write job will hit FileNotFound on its input
        store.write(upsert(store.read(spark), Seq(msg("winner"))))
        store.vacuum()
      }
      upsert(cur, Seq(msg("mine")))
    })
    assert(v == 3L, "merge re-resolved after its input vanished")
    val bibs = store.read(spark).select("bibcode")
      .collect().map(_.getString(0)).toSet
    assert(bibs == Set("ms1", "ms2", "winner", "mine"),
      s"both the winner and the retried merge landed: $bibs")
  }

  test("writeMerge fails loudly after maxRetries sustained CAS losses " +
    "instead of starving forever") {
    val root = java.nio.file.Files.createTempDirectory("graft_km6").toString
    val store = seeded(root)
    val err = intercept[RuntimeException] {
      store.writeMerge(spark, { cur =>
        // a faster writer wins EVERY race
        store.write(store.read(spark))
        upsert(cur, Seq(msg("starved")))
      }, maxRetries = 3)
    }
    assert(err.getMessage.contains("gave up after"),
      s"loud starvation failure; got: ${err.getMessage}")
  }

  test("legacy single-dir pointer reads correctly and upgrades to the " +
    "bucketed manifest on first compaction") {
    val root = java.nio.file.Files.createTempDirectory("graft_km7").toString
    // hand-build a pre-manifest store: a data dir + a one-line pointer
    val legacy = upsert(MergeEngine.emptyMaster(spark),
      (1 to 10).map(i => msg(s"old$i")))
    legacy.repartition(2, col("bibcode"))
      .write.parquet(s"$root/v_legacydir0000")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "gen_000000000001"),
      "v_legacydir0000".getBytes("UTF-8"))
    val store = new MasterStore(root, numBuckets = 4)
    assert(store.read(spark).count() == 10, "legacy pointer readable")
    import spark.implicits._
    // keyed merge on a legacy snapshot: correct (pruning inert)
    store.writeMergeKeyed(spark, Seq("old1").toDF("bibcode"),
      cur => cur.withColumn("status", lit("patched")))
    assert(store.read(spark).filter(col("status") === "patched").count() == 1)
    // compaction re-buckets the legacy snapshot onto numBuckets
    store.compact(spark)
    assert(store.stats.get.n == 4 && store.stats.get.layerCount == 0)
    assert(store.read(spark).count() == 10)
    assert(store.lookup(spark, Seq("old1")).select("status")
      .head().getString(0) == "patched")
  }

  test("blind write vs merge writer racing: the merge is never lost, the " +
    "blind write serializes to its own generation") {
    val root = java.nio.file.Files.createTempDirectory("graft_ms6").toString
    val store = seeded(root)
    var fired = false
    val replacement = upsert(MergeEngine.emptyMaster(spark), Seq(msg("only")))
    val vM = store.writeMerge(spark, cur => {
      if (!fired) { fired = true; store.write(replacement) }
      upsert(cur, Seq(msg("msC")))
    })
    // the blind write took generation 2; the merge re-ran on top of it
    assert(vM == 3L)
    val bibs = store.read(spark).select("bibcode")
      .collect().map(_.getString(0)).toSet
    assert(bibs == Set("only", "msC"),
      s"merge applied on top of the blind replacement; got $bibs")
  }

  test("lookupFrame: frame-keyed read reconciles layers, agrees with the " +
    "driver-list lookup (cross-pins the Spark-side bucket expression), " +
    "projects via loadOnly, and short-circuits on an empty store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_lf1").toString
    val store = new MasterStore(root, numBuckets = 4)
    // empty store: no generation yet → empty frame, nothing read
    assert(store.lookupFrame(spark, Seq("anything").toDF("bibcode")).count() == 0)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 20).map(i => msg(f"base$i%02d"))))
    // a layer with an update, an insert, and a tombstone on top of the base
    store.writeMergeKeyed(spark, Seq("base01", "newA", "base02").toDF("bibcode"),
      cur => upsert(cur.filter(col("bibcode") =!= "base02"), Seq(msg("newA")))
        .withColumn("status", lit("layered")))
    val keys = Seq("base01", "base02", "base07", "newA", "ghost")
    // force the OVERFLOW regime (Spark-side buckets + semi join) with a
    // tiny driver-key budget: the catch-up-burst path must answer the
    // same as the delegating small-set path
    val got = store.lookupFrame(spark, keys.toDF("bibcode"), maxDriverKeys = 2)
      .select("bibcode", "status")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got.keySet == Set("base01", "base07", "newA"),
      "layer insert visible, tombstoned and absent keys missing")
    assert(got("base01").contains("layered") && got("newA").contains("layered"))
    assert(got("base07").isEmpty, "base row read through untouched")
    // the small-set regime (delegates to the pushed IN-list lookup) and
    // the overflow regime answer identically — the Spark-side pmod(hash)
    // bucket set matches the driver Murmur3 twin
    val viaSmall = store.lookupFrame(spark, keys.toDF("bibcode"))
      .select("bibcode").collect().map(_.getString(0)).toSet
    assert(viaSmall == got.keySet)
    // loadOnly prunes columns but always carries the key
    val cols = store.lookupFrame(spark, Seq("base07").toDF("bibcode"),
      loadOnly = Seq("status")).columns.toSeq
    assert(cols == Seq("bibcode", "status"))
    // null keys can never match and must not crash EITHER regime (the
    // driver-list path would otherwise NPE in bucketOf)
    val withNull = Seq(Some("base07"), None).toDF("bibcode")
    assert(store.lookupFrame(spark, withNull).count() == 1)
    assert(store.lookupFrame(spark, withNull, maxDriverKeys = 0).count() == 1)
  }

  test("isVanishedInput recognizes every vanished-file flavor the races " +
    "produce: io.FileNotFound, nio.NoSuchFile (Files.size on a vacuumed " +
    "carried file), Spark's FAILED_READ_FILE, and wrapped causes") {
    import MasterStore.isVanishedInput
    assert(isVanishedInput(new java.io.FileNotFoundException("/x/p.parquet")))
    assert(isVanishedInput(new java.nio.file.NoSuchFileException("/x/p.parquet")))
    assert(isVanishedInput(new RuntimeException("outer",
      new java.nio.file.NoSuchFileException("/x/p.parquet"))))
    assert(isVanishedInput(new org.apache.spark.SparkException(
      "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading " +
        "file file:///x/p.parquet. File does not exist.")))
    assert(!isVanishedInput(new RuntimeException("a genuine transform bug")))
    assert(!isVanishedInput(new OutOfMemoryError("x")),
      "resource failures must propagate, never retry")
  }

  test("lookupFrame's base scan opens only the keys' bucket files — the " +
    "per-batch read is ∝ touched buckets, never ∝ table") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft_lf2").toString
    val store = new MasterStore(root, numBuckets = 4)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 40).map(i => msg(f"base$i%02d"))))
    val key = "base07"
    val expect = MasterStore.bucketOf(key, 4)
    val df = store.lookupFrame(spark, Seq(key).toDF("bibcode"))
    // the reconcile reads explicit per-bucket file lists, so the pruning
    // is visible as the scan relation's file set (pre-AQE physical plan)
    val bucketDirs = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.relation.location.inputFiles)
      .flatMap(p => "__b=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
      .toSet
    assert(bucketDirs == Set(expect),
      s"scan must open bucket $expect only, opened $bucketDirs")
    assert(df.select("bibcode").collect().map(_.getString(0)).toSeq == Seq(key))
    // the small-set regime pushes the keys into the scan: row groups
    // outside the keys' ranges never leave storage (with the key-sorted
    // bucket layout, min/max stats are disjoint ranges)
    val planStr = df.queryExecution.sparkPlan.toString
    assert(planStr.contains("PushedFilters") && planStr.contains("bibcode"),
      s"keyed read must push the key predicate into the scan:\n$planStr")
    // and the bucket files ARE key-sorted (the stats-selectivity the
    // pushdown relies on)
    val aFile = store.bucketFileLists.get.flatten.head
    val inFile = spark.read.parquet(
      java.nio.file.Paths.get(root, aFile).toString)
      .select("bibcode").collect().map(_.getString(0)).toSeq
    assert(inFile == inFile.sorted, "bucket files are written key-sorted")
  }

  test("per-batch vacuum cadence: disk stays steady-state while a slow " +
    "reader resolved generations ago keeps working (file-granular " +
    "retention carries its base files forward by reference)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vac").toString
    val store = new MasterStore(root, numBuckets = 4, maxLayers = 1000)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 30).map(i => msg(f"vac$i%02d"))))
    // slow reader: resolves the generation-1 snapshot NOW, collects later
    val slowReader = store.read(spark)
    // six keyed publish cycles, each followed by the streaming cadence's
    // vacuum(retain=2) — the runStream/ingest maintenance contract
    for (i <- 1 to 6) {
      store.writeMergeKeyed(spark, Seq(f"vac$i%02d").toDF("bibcode"),
        cur => cur.withColumn("status", lit(s"pass$i")))
      store.vacuum(retain = 2)
      assert(store.versions.size <= 2,
        s"retention bounds the generation count, got ${store.versions}")
    }
    // the slow reader's input files were all carried forward by reference
    // (layers never rewrite base buckets), so it still reads generation
    // 1's content — vacuum dropped pointers + unreferenced files only
    assert(slowReader.count() == 30)
    assert(slowReader.filter(col("status").isNotNull).count() == 0,
      "the old snapshot must not see the later merges")
    // and the live snapshot sees all six
    assert(store.read(spark).filter(col("status").isNotNull).count() == 6)
  }

  test("keyed reads prune LAYER files like base files: against a " +
    "multi-layer store only the touched bucket's layer files open") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = java.nio.file.Files.createTempDirectory("graft_lyr").toString
    val store = new MasterStore(root, numBuckets = 4, maxLayers = 1000)
    store.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 40).map(i => msg(f"base$i%02d"))))
    // four keyed merges → four delta layers, each bucketed like the base
    val layerKeys = Seq("base01", "base02", "base03", "base05")
    for (k <- layerKeys)
      store.writeMergeKeyed(spark, Seq(k).toDF("bibcode"),
        cur => cur.withColumn("status", lit(s"upd-$k")))
    assert(store.stats.get.layerCount == 4)

    val key = "base03"
    val expect = MasterStore.bucketOf(key, 4)
    // non-vacuous setup: some other layer's key lives in a DIFFERENT
    // bucket, so un-pruned layer reads would open foreign files
    val foreign = layerKeys.filter(MasterStore.bucketOf(_, 4) != expect)
    assert(foreign.nonEmpty, s"fixture keys all hash to $expect — rekey the test")
    val sharing = layerKeys.count(MasterStore.bucketOf(_, 4) == expect)

    val df = store.lookup(spark, Seq(key))
    val opened = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.relation.location.inputFiles)
    val openedLayerDirs = opened.filter(_.contains("/d_"))
      .map(_.split("/").takeWhile(!_.startsWith("__b=")).last).distinct
    assert(openedLayerDirs.length == sharing,
      s"must open exactly the $sharing layers holding bucket-$expect keys, " +
        s"opened dirs: $openedLayerDirs")
    val openedBuckets = opened
      .flatMap(p => "__b=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
      .toSet
    assert(openedBuckets == Set(expect),
      s"every opened file (base AND layer) is bucket $expect, got $openedBuckets")
    // and the pruned read is still the right answer
    assert(df.select("status").head().getString(0) == s"upd-$key")
  }

  test("orphan grace window: a fresh unreferenced dir (an in-flight " +
      "writer's attempt) survives the cadence sweep; a stale one (a " +
      "crashed attempt) is removed; dropped-generation dirs need no grace") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("graft_grace").toString
    val store = seeded(root)
    // supersede generation 1 so vacuum has something to drop
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("g1"), msg("g2"))))
    val supersededDirs = dataDirs(root).toSet

    // two orphans no generation references: one fresh, one aged past grace
    def orphan(name: String): java.nio.file.Path = {
      val d = Paths.get(root, name)
      Files.createDirectories(d)
      Files.write(d.resolve("part-0-fake.parquet"), Array[Byte](1, 2, 3))
      d
    }
    val fresh = orphan("v_freshattempt000")
    val stale = orphan("d_staleattempt000")
    val old = FileTime.fromMillis(System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(stale, old)
    Files.setLastModifiedTime(stale.resolve("part-0-fake.parquet"), old)

    store.vacuum(alsoOrphans = true, retain = 1,
      orphanGraceMs = MasterStore.CadenceOrphanGraceMs)
    val left = dataDirs(root).toSet
    assert(Files.isDirectory(fresh), "fresh orphan must survive the grace window")
    assert(!Files.isDirectory(stale), "stale orphan must be swept")
    // the dropped generation's dirs went regardless of the grace —
    // superseded snapshots are dead by construction, no writer is inside
    assert(supersededDirs.diff(left).nonEmpty,
      s"a superseded generation's unreferenced dirs must drop, kept: $left")
    // live snapshot (the blind re-write's 2 rows) still reads
    assert(store.read(spark).count() == 2)

    // the immediate (grace = 0) form keeps its quiesced-window contract
    store.vacuum(alsoOrphans = true, retain = 1)
    assert(!Files.isDirectory(fresh), "grace 0 sweeps every orphan (legacy)")
  }

  test("changesSince: per-key net change from the delta layers alone — " +
      "latest wins inside the window, tombstones surface as _deleted, " +
      "and the compaction horizon fails loudly instead of under-reporting") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_cdc").toString
    val store = new MasterStore(root, numBuckets = 2)
    import spark.implicits._

    // gen 1: base write (ms1, ms2) — the feed horizon starts here
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"), msg("ms2"))))
    assert(store.stats.get.baseGen == 1L)

    // gen 2: keyed merge updates ms1 and adds ms3
    store.writeMergeKeyed(spark, Seq("ms1", "ms3").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms1"), msg("ms3"))))
    // gen 3: keyed merge deletes ms3 (key in set, absent from result)
    store.writeMergeKeyed(spark, Seq("ms3").toDF("bibcode"),
      cur => cur.limit(0))

    // full window (since the base write): ms1 changed, ms3 net-deleted —
    // its gen-2 add collapses under the gen-3 tombstone; ms2 never moved
    val feed = store.changesSince(spark, 1L)
      .select("bibcode", "_deleted", "_gen").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(feed.keySet == Set("ms1", "ms3"))
    assert(feed("ms1") == (false, 2L))
    assert(feed("ms3") == (true, 3L))

    // narrower window: only the delete is newer than gen 2
    val feed2 = store.changesSince(spark, 2L)
      .select("bibcode", "_deleted").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(feed2 == Map("ms3" -> true))

    // caught-up consumer: empty feed, not an error
    assert(store.changesSince(spark, store.currentVersion.get).isEmpty)

    // a watermark AHEAD of the live generation (a recreated store under a
    // surviving consumer cursor) fails loudly — an empty feed would be a
    // silent under-report against a table the watermark never saw
    val ahead = intercept[IllegalStateException](
      store.changesSince(spark, store.currentVersion.get + 10))
    assert(ahead.getMessage.contains("AHEAD"))

    // compaction folds layers into the base but RETIRES them into the
    // manifest's feed history: a consumer still at fromGen=1 catches up
    // across the fold VALUE-IDENTICALLY instead of re-baselining with a
    // full table read (the r13 one-fold-deep residual)
    val caughtUp = store.currentVersion.get // 3 = the delete layer's seq
    val folded = store.compact(spark)
    assert(folded > caughtUp)
    assert(store.stats.get.baseGen == caughtUp,
      "base horizon = newest folded layer seq, not the compaction's generation")
    assert(store.stats.get.feedFrom == 1L && store.stats.get.historyLayerCount == 2,
      "the folded layers stay feed-readable in history")
    val feedPost = store.changesSince(spark, 1L)
      .select("bibcode", "_deleted", "_gen").collect()
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(feedPost == feed, "the feed across the fold is value-identical")
    assert(store.changesSince(spark, caughtUp).isEmpty,
      "a caught-up consumer survives auto-compaction without re-baselining")
    // and the live table is intact after the whole history
    assert(store.read(spark).select("bibcode").as[String].collect().sorted
      .toSeq == Seq("ms1", "ms2"))
  }

  test("feed retention ages out after feedRetainFolds compactions: the " +
      "horizon advances exactly to the aged-out changes and fails loudly " +
      "behind it; feedRetainFolds=0 restores the one-fold-deep contract") {
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdc_age").toString
    val store = new MasterStore(root, numBuckets = 2, feedRetainFolds = 1)
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"), msg("ms2"))))
    // fold 1 retires layer seq 2; fold 2 retires layer seq 4 AND ages
    // fold 1's group out (retention = 1 fold)
    store.writeMergeKeyed(spark, Seq("ms1").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms1"))))                                // gen 2
    store.compact(spark)                                           // gen 3
    assert(store.stats.get.feedFrom == 1L,
      "first fold retained: horizon unchanged")
    store.writeMergeKeyed(spark, Seq("ms2").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms2"))))                                // gen 4
    store.compact(spark)                                           // gen 5
    assert(store.stats.get.feedFrom == 2L,
      "aging fold 1 out advances the horizon to its newest change (seq 2)")
    assert(store.stats.get.historyLayerCount == 1, "only fold 2's layer kept")
    // fromGen=2 reads fold 2's retired change; fromGen=1 is behind
    val ok = store.changesSince(spark, 2L).select("bibcode").as[String].collect()
    assert(ok.toSeq == Seq("ms2"))
    val e = intercept[IllegalStateException](store.changesSince(spark, 1L))
    assert(e.getMessage.contains("first readable fromGen is 2"))
    // aged-out history files are reclaimed with the superseded generations
    store.vacuum()
    assert(store.changesSince(spark, 2L).select("bibcode").as[String].collect()
      .toSeq == Seq("ms2"), "retained history survives vacuum")

    // retention OFF: the r12-era contract — one fold folds everything
    val root0 = Files.createTempDirectory("graft_cdc_age0").toString
    val store0 = new MasterStore(root0, numBuckets = 2, feedRetainFolds = 0)
    store0.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"))))
    store0.writeMergeKeyed(spark, Seq("ms1").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms1"))))
    store0.compact(spark)
    assert(store0.stats.get.feedFrom == 2L && store0.stats.get.historyLayerCount == 0)
    intercept[IllegalStateException](store0.changesSince(spark, 1L))
  }

  test("a blind write resets the feed horizon AND the retained history — " +
      "a replaced table's per-key past is not separable into layers") {
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cdc_blind").toString
    val store = new MasterStore(root, numBuckets = 2)
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"))))
    store.writeMergeKeyed(spark, Seq("ms1").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms1"))))
    store.compact(spark) // gen 3, history holds seq-2
    assert(store.stats.get.historyLayerCount == 1)
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("msX")))) // gen 4
    val st = store.stats.get
    assert(st.feedFrom == 4L && st.historyLayerCount == 0,
      "blind write resets feed history")
    intercept[IllegalStateException](store.changesSince(spark, 3L))
    assert(store.changesSince(spark, 4L).isEmpty)
  }

  test("torn-generation recovery: the error message's operator procedure " +
      "is load-tested — vacuum the torn pointer (readers fall back to the " +
      "previous generation) OR blindly re-publish the intended table on " +
      "top; either way readers recover and the merge content is restored") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("graft_torn").toString
    val store = seeded(root) // gen 1: ms1, ms2
    store.writeMergeKeyed(spark, Seq("msR").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("msR")))) // gen 2: one delta layer
    // manufacture the tear: the layer's data dir is swept AFTER the
    // publish landed (the orphan-sweep TOCTOU's outcome when the writer
    // dies before its self-heal) — gen 2 references deleted files
    dataDirs(root).filter(_.startsWith("d_"))
      .foreach(d => graft.sources.FsUtil.deleteTree(Paths.get(root, d)))
    val err = intercept[Throwable](store.read(spark).count())
    assert(graft.sources.MasterStore.isVanishedInput(err),
      s"readers of a torn generation fail in the vanished-input class: $err")

    // recovery option A — "vacuum generation 2's pointer and retry":
    // drop the torn pointer; readers resolve generation 1 again
    Files.delete(Paths.get(root, f"gen_${2L}%012d"))
    assert(store.currentVersion.contains(1L))
    assert(store.read(spark).select("bibcode").as[String].collect().toSet ==
      Set("ms1", "ms2"), "pre-tear snapshot readable after pointer vacuum")
    // ... and the retried merge re-lands the lost delta
    store.writeMergeKeyed(spark, Seq("msR").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("msR"))))
    assert(store.read(spark).select("bibcode").as[String].collect().toSet ==
      Set("ms1", "ms2", "msR"), "no committed merge is lost after recovery")

    // recovery option B — "re-publish from the previous generation (a
    // blind write of the intended table)": tear the NEW layer the same
    // way, then publish the intended post-merge table on top
    val intended = store.read(spark).collect() // resolve before the tear
    dataDirs(root).filter(_.startsWith("d_"))
      .foreach(d => graft.sources.FsUtil.deleteTree(Paths.get(root, d)))
    intercept[Throwable](store.read(spark).count())
    val rows = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(intended: _*)),
      MergeEngine.emptyMaster(spark).schema)
    val healed = store.write(rows)
    assert(healed == 3L, "the blind re-publish supersedes the torn generation")
    assert(store.read(spark).select("bibcode").as[String].collect().toSet ==
      Set("ms1", "ms2", "msR"))
    store.vacuum(alsoOrphans = true)
    assert(store.read(spark).count() == 3)
  }

  test("bucket-count evolution (the 100 TB growth lever): a store written " +
      "at 8 buckets read through a 16-bucket deployment stays correct " +
      "before the rebucket fold (manifest n is authoritative) and keeps " +
      "keyed-lookup pruning under the NEW count after it") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rebkt").toString
    val s8 = new MasterStore(root, numBuckets = 8)
    s8.write(upsert(MergeEngine.emptyMaster(spark),
      (1 to 40).map(i => msg(f"doc$i%03d"))))
    s8.writeMergeKeyed(spark, Seq("doc001").toDF("bibcode"),
      cur => cur.withColumn("status", lit("layered")))

    def probe(store: MasterStore, expectN: Int): Unit = {
      val df = store.lookup(spark, Seq("doc001", "doc007"))
      val got = df.select("bibcode", "status").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(got == Map("doc001" -> Some("layered"), "doc007" -> None),
        s"lookup values at n=$expectN: $got")
      val openedBuckets = df.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s
      }.flatMap(_.relation.location.inputFiles)
        .flatMap(p => "__b=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
        .toSet
      val expect = Set("doc001", "doc007")
        .map(graft.sources.MasterStore.bucketOf(_, expectN))
      assert(openedBuckets == expect,
        s"pruning follows the MANIFEST's n=$expectN: opened $openedBuckets, " +
          s"expected $expect")
    }
    // mid-transition: the 16-bucket deployment reads the n=8 manifest —
    // pruning stays on the written layout, values identical
    val s16 = new MasterStore(root, numBuckets = 16)
    probe(s16, expectN = 8)
    // the rebucket fold re-lays the whole table once onto n=16
    s16.compact(spark)
    assert(s16.stats.get.n == 16 && s16.stats.get.layerCount == 0)
    probe(s16, expectN = 16)
    assert(s16.read(spark).count() == 40)
    // layerless rebucket: a QUIESCED (already-folded) store must still
    // re-lay when the handle's bucket count changes — the "nothing to
    // fold" early exit must not mask the rebucket (that quiesced state is
    // exactly when an operator would run the evolution)
    val s32 = new MasterStore(root, numBuckets = 32)
    assert(s32.stats.get.layerCount == 0, "fixture: store is quiesced")
    s32.compact(spark)
    assert(s32.stats.get.n == 32, "layerless fold re-lays onto the new count")
    assert(s32.read(spark).count() == 40)
    assert(s32.lookup(spark, Seq("doc001")).select("status")
      .head().getString(0) == "layered")
  }

  test("changesSince scans ONLY delta-layer files — the base never opens, " +
      "which is the whole point of a layer-backed change feed at 100 TB") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.FileSourceScanExec
    val root = Files.createTempDirectory("graft_cdc_plan").toString
    val store = new MasterStore(root, numBuckets = 2)
    import spark.implicits._
    store.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"), msg("ms2"))))
    store.writeMergeKeyed(spark, Seq("ms1").toDF("bibcode"), cur =>
      upsert(cur, Seq(msg("ms1"))))
    val feed = store.changesSince(spark, 1L)
    val opened = feed.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s
    }.flatMap(_.relation.location.inputFiles)
    assert(opened.nonEmpty && opened.forall(_.contains("/d_")),
      s"feed reads layers only, opened: ${opened.toSeq}")
    assert(!opened.exists(_.contains("/v_")),
      s"base files must never open for a change-feed read: ${opened.toSeq}")
  }

  test("consumer-aware feed retention: a REGISTERED lagging consumer " +
    "survives K+1 folds without fallback, an unregistered one ages out at " +
    "the fixed window, the hard cap still bounds retention (a dead " +
    "consumer cannot pin history forever), and stats expose the lag") {
    import spark.implicits._
    def mkStore(r: String) = new MasterStore(r, numBuckets = 2,
      feedRetainFolds = 1, feedRetainFoldsMax = 3)
    def foldCycle(s: MasterStore, k: String): Unit = {
      s.writeMergeKeyed(spark, Seq(k).toDF("bibcode"), cur => upsert(cur, Seq(msg(k))))
      s.compact(spark)
    }
    val rootU = java.nio.file.Files.createTempDirectory("graft_consU").toString
    val rootR = java.nio.file.Files.createTempDirectory("graft_consR").toString
    val (su, sr) = (mkStore(rootU), mkStore(rootR))
    su.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1")))) // gen 1
    sr.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"))))
    sr.registerConsumerCursor("slow", 1L)
    assert(sr.consumerCursors == Map("slow" -> 1L))
    // K+1 = 2 folds past the K=1 fixed window (3 total)
    for (k <- Seq("c1", "c2", "c3")) { foldCycle(su, k); foldCycle(sr, k) }
    // unregistered: behind the horizon, loud fallback
    val e = intercept[IllegalStateException](su.changesSince(spark, 1L))
    assert(e.getMessage.contains("not retained"))
    // registered: the pin stretched retention — full catch-up, no fallback
    val keys = sr.changesSince(spark, 1L).select("bibcode").as[String]
      .collect().toSet
    assert(keys == Set("c1", "c2", "c3"),
      s"pinned consumer reads every missed change, got $keys")
    val st = sr.stats.get
    assert(st.registeredConsumers == 1 && st.consumersBehind == 0, s"got $st")
    // a 4th fold needs 4 groups > cap 3: the cap wins, the stale cursor
    // ages out (bounded disk beats a dead consumer) — and stats say so
    foldCycle(sr, "c4")
    assert(sr.stats.get.historyLayerCount <= 3 * 2,
      "retention stays bounded by the cap")
    intercept[IllegalStateException](sr.changesSince(spark, 1L))
    assert(sr.stats.get.consumersBehind == 1,
      "a cursor behind the horizon surfaces in stats")
    // advancing the cursor clears the lag; unregistering drops the pin
    sr.registerConsumerCursor("slow", sr.currentVersion.get)
    assert(sr.stats.get.consumersBehind == 0)
    sr.unregisterConsumer("slow")
    assert(sr.consumerCursors.isEmpty)
    // vacuum never touches the consumers keyspace
    sr.registerConsumerCursor("slow", sr.currentVersion.get)
    sr.vacuum(alsoOrphans = true)
    assert(sr.consumerCursors.keySet == Set("slow"))
  }

  test("consumer-registration TTL: a registration not refreshed within " +
    "the TTL stops stretching retention (dead-cron unpin without operator " +
    "action), is reported in stats.consumersStale — and never as behind — " +
    "while a refreshed registration keeps pinning") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_consT").toString
    val s = new MasterStore(root, numBuckets = 2,
      feedRetainFolds = 1, feedRetainFoldsMax = 4,
      consumerTtlMs = 60000)
    def foldCycle(k: String): Unit = {
      s.writeMergeKeyed(spark, Seq(k).toDF("bibcode"), cur => upsert(cur, Seq(msg(k))))
      s.compact(spark)
    }
    s.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1")))) // gen 1
    s.registerConsumerCursor("dead", 1L)
    // backdate the registration past the TTL — the crashed-cron shape
    val f = java.nio.file.Paths.get(root, "consumers", "dead")
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 120000))
    val st0 = s.stats.get
    assert(st0.consumersStale == 1 && st0.consumersBehind == 0,
      s"stale must be reported as stale, not behind: $st0")
    // two folds past the K=1 window: the stale pin must NOT stretch —
    // the cursor ages out exactly like an unregistered one
    for (k <- Seq("c1", "c2")) foldCycle(k)
    intercept[IllegalStateException](s.changesSince(spark, 1L))
    // a FRESH registration at the same point keeps pinning over the
    // same fold pattern (control: the aging above was the TTL, not K)
    val root2 = java.nio.file.Files.createTempDirectory("graft_consT2").toString
    val s2 = new MasterStore(root2, numBuckets = 2,
      feedRetainFolds = 1, feedRetainFoldsMax = 4,
      consumerTtlMs = 60000)
    def foldCycle2(k: String): Unit = {
      s2.writeMergeKeyed(spark, Seq(k).toDF("bibcode"), cur => upsert(cur, Seq(msg(k))))
      s2.compact(spark)
    }
    s2.write(upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms1"))))
    s2.registerConsumerCursor("alive", 1L)
    for (k <- Seq("c1", "c2")) foldCycle2(k)
    assert(s2.changesSince(spark, 1L).select("bibcode").as[String]
      .collect().toSet == Set("c1", "c2"))
    assert(s2.stats.get.consumersStale == 0)
  }

  test("maintenance refuses a manifest format newer than the binary: an " +
    "old binary's vacuum deletes by elimination, so an uncounted live " +
    "reference class (what format 3 added) must STOP the sweep, not be " +
    "silently reclaimed; reads stay available") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val store = seeded(root)
    store.write(upsert(store.read(spark), Seq(msg("ms3")))) // a superseded gen to drop
    // simulate a NEWER binary's pointer: bump the live manifest's format
    val live = Files.list(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("gen_"))
      .maxBy(p => p.getFileName.toString.stripPrefix("gen_").toLong)
    val content = new String(Files.readAllBytes(live), "UTF-8")
    assert(content.contains("\"format\":" + MasterStore.SupportedManifestFormat))
    Files.write(live, content.replace(
      "\"format\":" + MasterStore.SupportedManifestFormat,
      "\"format\":" + (MasterStore.SupportedManifestFormat + 1)).getBytes("UTF-8"))
    // reads tolerate the unknown format (fields this binary knows are intact)
    assert(store.read(spark).count() == 3)
    // vacuum and truncate refuse, naming the formats
    val ev = intercept[IllegalStateException](store.vacuum(alsoOrphans = true))
    assert(ev.getMessage.contains(s"format ${MasterStore.SupportedManifestFormat + 1}"))
    val et = intercept[IllegalStateException](
      store.truncate(spark, s"$root-backup"))
    assert(et.getMessage.contains("truncate"))
    // nothing was deleted or moved by the refused maintenance
    assert(store.read(spark).count() == 3)
    assert(!Files.exists(Paths.get(s"$root-backup")))
  }

  test("building read and lookup frames runs no Spark job: the store reads " +
    "its files with its known schema, not one inferred from their footers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_nojob").toString
    val store = seeded(root)
    // a delta layer, so the frames read layer files too
    store.writeMergeKeyed(spark, Seq("ms3").toDF("bibcode"), _ =>
      upsert(MergeEngine.emptyMaster(spark), Seq(msg("ms3"))))
    val ((read, lookup, buckets, feed), jobs) = countingJobs("master-store-spec-frames") {
      (store.read(spark), store.lookup(spark, Seq("ms1", "ms3")),
        store.readBuckets(spark, Set(0, 1)), store.changesSince(spark, 1L))
    }
    assert(jobs == 0, s"$jobs Spark jobs while building the frames")
    assert(read.select("bibcode").as[String].collect().toSet == Set("ms1", "ms2", "ms3"))
    assert(lookup.select("bibcode").as[String].collect().toSet == Set("ms1", "ms3"))
    assert(buckets.count() == 3)
    assert(feed.select("bibcode").as[String].collect().toSeq == Seq("ms3"))
  }
}
