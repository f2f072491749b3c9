package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.scale.Scale.{parquetBytes, timed}
import graft.sources.MasterStore

/** Write amplification and contention of the snapshot store. A
  * micro-batch cadence like the reference's (one ingest batch every ~5
  * min, reference README.md:44-51) must not pay O(table) storage writes
  * per delta. On a master-shaped table (`Fixtures.blobMaster`):
  *
  *  1. full merge (`writeMerge`) of a 1%-of-keys delta: bytes ≈ the table;
  *  2. keyed merge (`writeMergeKeyed`) of the same delta: bytes ≈ the
  *     delta layer, plus the change feed read over it;
  *  3. compaction, for uniform keys (every bucket touched: the worst
  *     case) and for bucket-clustered keys (untouched bucket files are
  *     carried by path);
  *  4. two racing keyed writers: a lost CAS re-runs work ∝ delta;
  *  5. read wall with 8 pending layers and with none, and a keyed lookup
  *     that opens only the key's bucket in the base and in each layer;
  *  6. the bucket-count fold (n → 4n) with keyed pruning across it, and
  *     the feed read across a fold from the retained fold history;
  *  7. consumer-aware feed retention: an unregistered cursor ages out, a
  *     registered one is kept.
  *
  * Bytes are measured on disk, not estimated. Output → SCALING.md. */
object StoreScenario {

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, n) = (r.spark, r.rows)
    val buckets = 64
    val root = s"${r.dir}/master"
    // auto-compaction off: each leg folds explicitly, so the numbers
    // separate merge cost from fold cost
    def handle(nb: Int) = new MasterStore(root, numBuckets = nb,
      maxLayers = 1 << 20, layerFraction = 1e9)
    val store = handle(buckets)
    /** Bytes `body` adds under the store, and its wall. */
    def written[T](body: => T): (T, Long, Double) = {
      val b0 = parquetBytes(root)
      val (v, s) = timed(body)
      (v, parquetBytes(root) - b0, s)
    }

    // ── fixture (untimed) ───────────────────────────────────────────────
    val rows = Fixtures.blobMaster(spark, n).cache()
    rows.count()
    store.write(rows)
    val baseBytes = parquetBytes(root)

    def delta(pred: Column): DataFrame = rows.filter(pred).select(col("bibcode"))
    val uniformKeys = delta(col("id") % 100 === 0).cache() // 1% of keys
    val nDelta = uniformKeys.count()
    def stamp(cur: DataFrame): DataFrame =
      cur.withColumn("status", lit("success"))
        .withColumn("solr_processed", lit(new java.sql.Timestamp(1735689600000L)))

    // ── 1. whole-table merge of the 1% delta ────────────────────────────
    val (_, fullBytes, fullSec) = written(store.writeMerge(spark, cur => {
      val d = uniformKeys.withColumn("__hit", lit(true))
      cur.join(d, Seq("bibcode"), "left_outer")
        .withColumn("status", when(col("__hit"), lit("success")).otherwise(col("status")))
        .drop("__hit")
    }))

    // ── 2. keyed merge of the same delta ────────────────────────────────
    val gBeforeKeyed = store.currentVersion.get
    val (_, keyedBytes, keyedSec) = written(store.writeMergeKeyed(spark, uniformKeys, stamp))

    // ── 2b. the change feed over that merge, read from the delta layers
    // alone: its cost tracks the changed rows (compare read_layered_sec).
    // If a sizing change ever re-enables auto-compaction mid-phase, the
    // stage records -1 instead of failing on a moved horizon ────────────
    val feedReadable = store.stats.get.feedFrom <= gBeforeKeyed
    val (feedRows, feedSec) =
      if (feedReadable) timed(store.changesSince(spark, gBeforeKeyed).count()) else (-1L, -1.0)
    require(!feedReadable || feedRows == nDelta, s"feed rows $feedRows != delta $nDelta")

    // ── 5a. read wall with 8 pending layers (7 more merges first) ───────
    for (i <- 2 to 8)
      store.writeMergeKeyed(spark, delta(col("id") % 100 === i), stamp)
    val (cntLayered, readLayeredSec) = timed(store.read(spark).count())

    // ── 5c. keyed lookup against the 8-layer store ──────────────────────
    val probeKey = "2026Bench" + "%010d".format(100L)
    val probe = store.lookup(spark, Seq(probeKey))
    val (probeCnt, lookupLayeredSec) = timed(probe.count())
    require(probeCnt == 1, s"probe key missing: $probeKey")
    val openedFiles = Scale.filesOpened(probe)
    val openedLayerFiles = openedFiles.count(_.contains("/d_"))
    val totalLayerFiles = Scale.parquetFiles(root).count(_.toString.contains("/d_"))

    // ── 3a. compact, uniform deltas (every bucket touched) ──────────────
    def reusedBuckets(fold: => Unit): (Int, Long, Double) = {
      val pre = store.bucketFileLists.get
      val (_, bytes, sec) = written(fold)
      val post = store.bucketFileLists.get
      ((0 until buckets).count(b => post(b) == pre(b)), bytes, sec)
    }
    val (uniformReused, compactUniformBytes, compactUniformSec) =
      reusedBuckets(store.compact(spark))

    // ── 2c. feed across the fold: the 8 merges now sit in the manifest's
    // retained fold history, so a consumer still at gBeforeKeyed catches
    // up at cost ∝ its missed changes instead of re-reading the table ───
    val (feedHistRows, feedHistSec) = timed(store.changesSince(spark, gBeforeKeyed).count())
    require(store.stats.get.historyLayerCount > 0,
      "the fold must retire its layers into feed history")
    require(feedHistRows == 8 * nDelta,
      s"history feed rows $feedHistRows != ${8 * nDelta} (8 disjoint 1% merges)")
    // retention's disk cost, observed not asserted: bounded by the
    // auto-compaction thresholds × feedRetainFolds
    val historyBytes = store.stats.get.historyBytes

    // ── 5b. read wall with zero layers ──────────────────────────────────
    val (cntFolded, readFoldedSec) = timed(store.read(spark).count())

    // ── 3b. compact, bucket-clustered delta (two buckets touched) ───────
    val clusteredKeys = rows
      .filter(pmod(hash(col("bibcode")), lit(buckets)) <= 1 && col("id") % 20 === 0)
      .select(col("bibcode"))
    val nClustered = clusteredKeys.count()
    store.writeMergeKeyed(spark, clusteredKeys, stamp)
    val (clusteredReused, compactClusteredBytes, compactClusteredSec) =
      reusedBuckets(store.compact(spark))

    // ── 4. two racing keyed writers (3 merges each, disjoint keys) ──────
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val merges = 3
    val gBefore = store.currentVersion.get
    val (_, contentionGrossBytes, contentionSec) = written {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val fs = (0 until 2).map { w =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val s = handle(buckets)
            for (m <- 0 until merges)
              s.writeMergeKeyed(spark, delta(col("id") % 200 === (w * 100 + m + 20)),
                stamp, onAttempts = a => attempts.addAndGet(a))
          }
        })
      }
      fs.foreach(_.get(600, java.util.concurrent.TimeUnit.SECONDS))
      pool.shutdown()
    }
    val published = store.currentVersion.get - gBefore
    val retries = attempts.get - 2 * merges
    // lost attempts delete their orphan layer dirs, so gross bytes ≈ net
    // unless a deletion raced; gross is what is reported
    store.vacuum(alsoOrphans = true)
    val afterVacuumBytes = parquetBytes(root)

    val sanity = store.read(spark).count()
    require(sanity == n, s"row count drifted: $sanity != $n")
    require(cntLayered == n && cntFolded == n, "layered/folded counts drifted")

    // ── 6. bucket-count evolution: fold the whole table once onto 4× the
    // buckets (the manifest's n, not the handle's, governs reads until
    // the fold lands) and keep keyed pruning across the transition ─────
    val buckets2 = buckets * 4
    val store2 = handle(buckets2)
    require(store2.lookup(spark, Seq(probeKey)).count() == 1,
      "mid-transition lookup must stay correct")
    val (_, rebucketBytes, rebucketSec) = written(store2.compact(spark))
    require(store2.stats.get.n == buckets2, "rebucket fold must re-lay the base")
    val probe2 = store2.lookup(spark, Seq(probeKey))
    require(probe2.count() == 1, "post-rebucket lookup must stay correct")
    val rebucketOpened = Scale.filesOpened(probe2).length
    require(store2.read(spark).count() == n, "rebucket must not drop rows")

    // ── 7. consumer-aware feed retention: the fixed window ages an
    // unregistered cursor out (3 fold cycles > feedRetainFolds = 2); a
    // registered lagging cursor through the same 3 cycles is kept ──────
    def foldCycle(i: Int): Unit = {
      store2.writeMergeKeyed(spark, delta(col("id") % 400 === 301 + i), stamp)
      store2.compact(spark)
    }
    val unregCursor = store2.currentVersion.get
    (0 until 3).foreach(foldCycle)
    val agedOut =
      try { store2.changesSince(spark, unregCursor).count(); false }
      catch { case _: IllegalStateException => true }
    require(agedOut, "an unregistered cursor must age out past the fixed window")
    val historyBytesFixed = store2.stats.get.historyBytes
    val pinnedCursor = store2.currentVersion.get
    store2.registerConsumerCursor("bench-slow", pinnedCursor)
    (3 until 6).foreach(foldCycle)
    val (pinnedRows, pinnedSec) = timed(store2.changesSince(spark, pinnedCursor).count())
    require(pinnedRows > 0, "the pinned consumer must read its missed changes")
    val st7 = store2.stats.get
    require(st7.consumersBehind == 0, "a pinned live cursor is not behind")
    store2.unregisterConsumer("bench-slow")
    uniformKeys.unpersist(); rows.unpersist()

    Seq(Scale.record("metric" -> "store_write_amplification", "rows" -> n,
      "buckets" -> buckets, "delta_keys" -> nDelta, "base_bytes" -> baseBytes,
      "full_merge_bytes" -> fullBytes, "full_merge_sec" -> fullSec,
      "keyed_merge_bytes" -> keyedBytes, "keyed_merge_sec" -> keyedSec,
      "feed_rows" -> feedRows, "feed_sec" -> feedSec,
      "feed_history_rows" -> feedHistRows, "feed_history_sec" -> feedHistSec,
      "feed_history_bytes" -> historyBytes,
      "write_volume_ratio" -> fullBytes.toDouble / math.max(1, keyedBytes),
      "compact_uniform_bytes" -> compactUniformBytes,
      "compact_uniform_sec" -> compactUniformSec,
      "compact_uniform_buckets_reused" -> uniformReused,
      "clustered_keys" -> nClustered,
      "compact_clustered_bytes" -> compactClusteredBytes,
      "compact_clustered_sec" -> compactClusteredSec,
      "compact_clustered_buckets_reused" -> clusteredReused,
      "read_layered_sec" -> readLayeredSec, "read_folded_sec" -> readFoldedSec,
      "lookup_layered_sec" -> lookupLayeredSec,
      "lookup_files_opened" -> openedFiles.length,
      "lookup_layer_files_opened" -> openedLayerFiles,
      "layer_files_total" -> totalLayerFiles,
      "contention_writers" -> 2, "contention_merges" -> 2 * merges,
      "contention_published" -> published, "contention_retries" -> retries,
      "contention_gross_bytes" -> contentionGrossBytes, "contention_sec" -> contentionSec,
      "bytes_after_vacuum" -> afterVacuumBytes,
      "rebucket_from" -> buckets, "rebucket_to" -> buckets2,
      "rebucket_sec" -> rebucketSec, "rebucket_bytes" -> rebucketBytes,
      "rebucket_lookup_files_opened" -> rebucketOpened,
      "consumer_pin_folds" -> 3, "consumer_feed_rows" -> pinnedRows,
      "consumer_feed_sec" -> pinnedSec,
      "history_bytes_fixed_window" -> historyBytesFixed,
      "history_bytes_pinned" -> st7.historyBytes))
  }
}
