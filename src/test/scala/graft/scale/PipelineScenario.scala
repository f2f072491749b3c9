package graft.scale

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.{Fixtures, Pipeline}
import graft.Fixtures.{BulkTransport, SolrTransport, solrBytes, solrDocs}
import graft.operators.{IndexJob, MergeEngine}
import graft.records.{MasterRecord, UpdateMessage}
import graft.scale.Scale.{parquetBytes, timed}
import graft.sources.MasterStore

/** The master pipeline in its streaming form, `Pipeline.runStream`:
  * file-source micro-batches → upsert merge → eligibility gate → T1
  * transform → sink deliveries → checksum/processed stamps → keyed CAS
  * publish, the path a deployment operates (reference cadence: one queue
  * batch every ~5 min, README.md:44-51). Phases on one session:
  *
  *  1. bootstrap: `rows` records × 4 messages (`Fixtures.messages`) in
  *     `batches` file-segment micro-batches against an empty store:
  *     records/s and the per-batch wall / store bytes / layer curve
  *     (auto-compaction folds appear in it);
  *  2. incremental: a 1%-of-records content-rev bump in two micro-batches:
  *     publish bytes against the table's size;
  *  3. replay: the same 1% content with newer arrival timestamps (queue
  *     redelivery): every record re-merges and re-selects, and checksum
  *     suppression must keep the sinks quiet (the rate is measured);
  *  4. parity: the same history as two batch `runBatch` sweeps (one per
  *     content revision, since scix_id is assigned at first index and then
  *     sticky) into a fresh store; the content digests must match exactly.
  *
  * With `large` > 0, phases 5-7 seed a standing table of `large` indexed
  * masters and measure there: key-local against table-wide queue
  * batches, feed-driven against table-scan work discovery, a
  * stage-isolated breakdown of the feed sweep, and the 4× bucket fold.
  *
  * Deliveries are counted by `Fixtures`' JVM-static transports; the
  * sinks' network cost is out of scope. Arguments after `rows`:
  * `batches` (bootstrap micro-batches, default 10; recorded at 10 and 2,
  * since the per-batch floor makes records/s against batch size the
  * trigger-interval sizing curve) and `large` (standing-table rows,
  * default 0 = skip; recorded at 2M and 28.8M). Output → STREAM_BENCH.md. */
object PipelineScenario {

  /** Write one message frame as the single json file `inDir/<name>.json`
    * (the file source reads each arrival as one micro-batch). */
  private def writeSegment(df: DataFrame, inDir: String, name: String): Unit = {
    val tmp = s"$inDir/../tmp_$name"
    df.coalesce(1).write.mode("overwrite").json(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".json"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmp"))
    Files.createDirectories(Paths.get(inDir))
    Files.move(part, Paths.get(inDir, s"$name.json"))
    graft.sources.FsUtil.deleteTree(Paths.get(tmp))
  }

  private def now() = new Timestamp(System.currentTimeMillis())

  private case class BatchRow(phase: String, batch: Int, msgs: Long, wallSec: Double,
      storeBytes: Long, layers: Int, gens: Int, solr: Long)

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, nRecords, work) = (r.spark, r.rows, r.dir)
    val nBatches = r.arg(0, "10").toInt
    val nLarge = r.arg(1, "0").toLong
    val enc = Encoders.product[UpdateMessage]
    val in = s"$work/in"
    val storeRoot = s"$work/master"
    Files.createDirectories(Paths.get(in))
    val store = new MasterStore(storeRoot, numBuckets = 16)
    val query = Pipeline.runStream(spark, store,
      spark.readStream.schema(enc.schema).json(in).as[UpdateMessage](enc),
      SolrTransport, BulkTransport, s"$work/ckpt")

    val curve = scala.collection.mutable.ArrayBuffer[BatchRow]()
    def feed(phase: String, df: DataFrame, name: String): Double = {
      writeSegment(df, in, name)
      val solr0 = solrDocs.sum()
      val (_, w) = timed(query.processAllAvailable())
      val st = store.stats.getOrElse(sys.error("store has no published generation after a batch"))
      curve += BatchRow(phase, curve.size + 1, df.count(), w, parquetBytes(storeRoot),
        st.layerCount, store.versions.size, solrDocs.sum() - solr0)
      w
    }

    try {
      // ── phase 1: bootstrap ─────────────────────────────────────────────
      val solrBefore = solrDocs.sum()
      val tsA = System.currentTimeMillis() - 3600 * 1000L
      val per = nRecords / nBatches
      val bootstrapSec = (0 until nBatches).map { i =>
        feed("bootstrap", Fixtures.messages(spark, i * per,
          if (i == nBatches - 1) nRecords else (i + 1) * per, rev = 0, tsBase = tsA),
          f"boot$i%02d")
      }.sum
      val bootSolr = solrDocs.sum() - solrBefore
      require(bootSolr == nRecords,
        s"bootstrap must deliver every record exactly once: $bootSolr vs $nRecords")
      val tableBytesAfterBoot = store.stats.map(s => s.baseBytes + s.layerBytes).get

      // ── phase 2: incremental, 1% of records bump content rev ───────────
      val nDelta = math.max(nRecords / 100, 2)
      // publish cost = the phase's new delta-layer bytes from the manifest
      // (a raw disk delta would be polluted by the per-batch vacuum
      // freeing the bootstrap's superseded generations mid-phase)
      val layerBytes0 = store.stats.map(_.layerBytes).getOrElse(0L)
      val tsB = System.currentTimeMillis()
      val incrSec =
        feed("incremental", Fixtures.messages(spark, 0, nDelta / 2, rev = 1, tsBase = tsB),
          "incr00") +
        feed("incremental", Fixtures.messages(spark, nDelta / 2, nDelta, rev = 1, tsBase = tsB),
          "incr01")
      val incrPublishBytes = store.stats.map(_.layerBytes).getOrElse(0L) - layerBytes0
      require(incrPublishBytes > 0,
        "incremental publishes must land as delta layers (no fold mid-phase)")
      val incrSolr = curve.filter(_.phase == "incremental").map(_.solr).sum
      require(incrSolr == nDelta, s"every rev-bumped record re-delivers once: $incrSolr vs $nDelta")

      // ── phase 3: replay, same content with newer arrival ts ────────────
      val replaySec = feed("replay",
        Fixtures.messages(spark, 0, nDelta, rev = 1, tsBase = System.currentTimeMillis()),
        "replay00")
      val replayDelivered = curve.last.solr
      query.stop()

      // ── phase 4: parity, the same history as two batch sweeps ──────────
      def readMsgs(names: Seq[String]) =
        spark.read.schema(enc.schema).json(names.map(n => s"$in/$n.json"): _*).as[UpdateMessage](enc)
      val parityStore = new MasterStore(s"$work/master_parity", numBuckets = 16)
      val (report, paritySec) = timed {
        // sweep 1 stamps `processed` before the rev-1 arrivals, as the
        // stream's interleaving had it; a wall-now stamp would postdate
        // them and P0 would (correctly) suppress sweep 2's re-index
        val first = Pipeline.runBatch(spark, parityStore,
          readMsgs((0 until nBatches).map(i => f"boot$i%02d")),
          SolrTransport, BulkTransport, now = new Timestamp(tsB - 1000))
        Pipeline.runBatch(spark, parityStore, readMsgs(Seq("incr00", "incr01", "replay00")),
          SolrTransport, BulkTransport, now = now())
        first
      }
      val dStream = Fixtures.contentDigest(store.read(spark))
      val dBatch = Fixtures.contentDigest(parityStore.read(spark))
      require(report.merged == nRecords, s"parity batch merged ${report.merged}")
      require(dStream == dBatch, s"stream/batch content divergence: $dStream vs $dBatch")

      // live store size once superseded generations are swept
      store.vacuum(alsoOrphans = true, retain = 1)
      val liveBytes = parquetBytes(storeRoot)

      val msgsTotal = nRecords * 4
      Seq(Scale.record("metric" -> "pipeline_stream", "records" -> nRecords,
        "messages" -> msgsTotal, "boot_batches" -> nBatches,
        "bootstrap_sec" -> bootstrapSec, "bootstrap_recs_per_sec" -> nRecords / bootstrapSec,
        "bootstrap_msgs_per_sec" -> msgsTotal / bootstrapSec,
        "table_bytes" -> tableBytesAfterBoot, "incr_records" -> nDelta, "incr_sec" -> incrSec,
        "incr_publish_bytes" -> incrPublishBytes,
        "incr_publish_vs_table" -> incrPublishBytes.toDouble / (2 * tableBytesAfterBoot),
        "replay_records" -> nDelta, "replay_sec" -> replaySec,
        "replay_delivered" -> replayDelivered,
        "suppression_rate" -> (1.0 - replayDelivered.toDouble / nDelta),
        "parity" -> "exact", "parity_batch_sec" -> paritySec,
        "parity_digest" -> Seq(dStream._1, dStream._2),
        "store_live_bytes" -> liveBytes, "solr_payload_bytes" -> solrBytes.sum(),
        // the runStream cadence vacuums with retain = 2, so generations stay
        // bounded and disk tracks the live table
        "max_generations" -> curve.map(_.gens).max,
        "disk_vs_live_final" -> curve.last.storeBytes.toDouble / math.max(1L, liveBytes)) ++
        (if (nLarge > 0) large(r, nLarge) else Nil) ++
        Seq("batches" -> curve.map(b => Scale.record("phase" -> b.phase, "batch" -> b.batch,
          "msgs" -> b.msgs, "sec" -> b.wallSec, "store_bytes" -> b.storeBytes,
          "layers" -> b.layers, "gens" -> b.gens, "solr" -> b.solr)).toSeq))
    } finally {
      if (query.isActive) query.stop()
    }
  }

  /** Phases 5-7 at a standing table of `nLarge` indexed masters. */
  private def large(r: Scale.Run, nLarge: Long): Seq[(String, Any)] = {
    val spark = r.spark
    import spark.implicits._
    val largeRoot = s"${r.dir}/master_large"
    // 32 buckets: at this count a 2,500-key batch touches every bucket,
    // so the key-local wall's floor is the whole touched bucket set
    val nLargeBuckets = 32
    val storeL = new MasterStore(largeRoot, numBuckets = nLargeBuckets)
    storeL.write(Fixtures.fullMaster(spark, nLarge)
      .withColumn("processed", lit(new Timestamp(System.currentTimeMillis() - 7200 * 1000L)))
      .withColumn("status", lit("success")))
    val tableBytes = storeL.stats.map(s => s.baseBytes + s.layerBytes).get
    // the wave follows the table, so a small table still runs real waves
    val waveK = math.min(2500L, math.max(100L, nLarge / 100))
    val smallN = waveK / 5
    def msgs(lo: Long, n: Long): Dataset[UpdateMessage] =
      Fixtures.messages(spark, lo, lo + n, rev = 0, tsBase = System.currentTimeMillis())
        .as[UpdateMessage]

    // ── phase 5: key-local against table-wide queue batches ─────────────
    def wave(lo: Long, n: Long, keyLocal: Boolean): Double = {
      val m = msgs(lo, n)
      val (rep, s) = timed(Pipeline.runBatch(spark, storeL, m, SolrTransport, BulkTransport,
        now = now(), keyLocal = keyLocal))
      require(rep.solrOk == n, s"wave delivered ${rep.solrOk}, expected $n")
      s
    }
    // the full wave sits above the IN-list crossover (semi-join regime): it
    // opens essentially every bucket, so the key-local win is compute and
    // publish ∝ batch; the small wave sits under it (a literal IN list), where
    // the pushed predicate and key-sorted buckets skip row groups too
    val keyedSec = wave(9000000L, waveK, keyLocal = true)
    val tableSec = wave(9100000L, waveK, keyLocal = false)
    val keyedSmallSec = wave(9200000L, smallN, keyLocal = true)
    val tableSmallSec = wave(9300000L, smallN, keyLocal = false)

    // ── phase 6: work discovery for the same pending wave, from the
    // change feed (`runFeedSweep`, ∝ changed keys) and by the reference's
    // full-snapshot watermark gate (run.py:147-159, ∝ table); both sweeps
    // must deliver exactly their wave ──
    def mergePending(lo: Long): Unit = {
      Pipeline.runBatch(spark, storeL, msgs(lo, waveK), SolrTransport, BulkTransport,
        now = now(), sinks = Set.empty, keyLocal = true)
      ()
    }
    val gCursor = storeL.currentVersion.get
    mergePending(9400000L)
    val (feedRows6, feedDiscoverSec) = timed(storeL.changesSince(spark, gCursor).count())
    val (fsw, feedSweepSec) = timed(Pipeline.runFeedSweep(spark, storeL, SolrTransport,
      BulkTransport, fromGen = Some(gCursor), now = now()))
    require(fsw.usedFeed && fsw.run.solrOk == waveK,
      s"feed sweep must index exactly the pending wave: ${fsw.run}")
    mergePending(9500000L)
    val (tsw, scanSweepSec) = timed(Pipeline.runBatch(spark, storeL,
      spark.emptyDataset[UpdateMessage], SolrTransport, BulkTransport, now = now()))
    require(tsw.solrOk == waveK, s"watermark-scan sweep must index exactly the pending wave: $tsw")

    // ── phase 6b: the feed sweep stage by stage, each stage materialized
    // (cache + count) so each number is its own wall. The live sweep builds,
    // sends and stamps in one index pass, so the transform stage times the
    // payload builds alone and the sink stage the whole pass (builds
    // again, sends, stamps); discover + sink + publish should sit close to
    // feed_sweep_sec ──
    val gCursorB = storeL.currentVersion.get
    mergePending(9600000L)
    val nowB = now()
    val (feedB, stDiscoverSec) = timed {
      val f = storeL.changesSince(spark, gCursorB)
        .filter(!col("_deleted")).drop("_deleted", "_gen").cache()
      require(f.count() == waveK, "breakdown wave discovery drifted")
      f
    }
    val gate = IndexJob.eligible(None, force = false)
    val (_, stTransformSec) = timed {
      val b = IndexJob.run(feedB.filter(gate).as[MasterRecord])
      val outs = Seq(b.solr, b.metrics, b.links).map(_.cache())
      require(outs.head.count() == waveK, "breakdown gate+transform drifted")
      outs.tail.foreach(_.count())
      outs.foreach(_.unpersist())
    }
    val (passB, stSinkSec) = timed {
      val p = IndexJob.deliver(feedB, gate, Set("solr", "metrics", "links"), SolrTransport,
        BulkTransport, ignoreChecksums = false, stampAt = Some(nowB)).cache()
      require(p.filter(col("solrOk")).count() == waveK, "breakdown sink drifted")
      p
    }
    val (_, stPublishSec) = timed {
      val keys = passB.filter(col("solrOk").isNotNull ||
        col("metricsOk").isNotNull || col("linksOk").isNotNull).select(col("bibcode"))
      storeL.writeMergeKeyed(spark, keys, _ =>
        passB.select(MergeEngine.masterColumns.map(col): _*).join(keys, Seq("bibcode"), "left_semi"))
    }
    passB.unpersist(); feedB.unpersist()

    // ── phase 7: the bucket-count growth lever at the standing table:
    // fold once onto 4× the buckets and keep keyed pruning ──
    val storeR = new MasterStore(largeRoot, numBuckets = nLargeBuckets * 4)
    val (_, rebucketSec) = timed(storeR.compact(spark))
    require(storeR.stats.get.n == nLargeBuckets * 4, "rebucket fold landed")
    val probeR = storeR.lookup(spark, Seq("2026Pipe" + "%07d".format(9400001L) + "....A"))
    require(probeR.count() == 1, "post-rebucket keyed lookup stays correct")

    Seq("large_rows" -> nLarge, "large_buckets" -> nLargeBuckets,
      "feed_discover_rows" -> feedRows6, "feed_discover_sec" -> feedDiscoverSec,
      "feed_sweep_sec" -> feedSweepSec, "scan_sweep_sec" -> scanSweepSec,
      "discovery_speedup" -> scanSweepSec / feedSweepSec,
      "sweep_stage_discover_sec" -> stDiscoverSec,
      "sweep_stage_transform_sec" -> stTransformSec,
      "sweep_stage_sink_sec" -> stSinkSec, "sweep_stage_publish_sec" -> stPublishSec,
      "rebucket_to" -> nLargeBuckets * 4, "rebucket_sec" -> rebucketSec,
      "rebucket_lookup_files_opened" -> Scale.filesOpened(probeR).length,
      "large_table_bytes" -> tableBytes,
      "large_keylocal_sec" -> keyedSec, "large_tablewide_sec" -> tableSec,
      "large_speedup" -> tableSec / keyedSec, "large_small_batch" -> smallN,
      "large_keylocal_small_sec" -> keyedSmallSec,
      "large_tablewide_small_sec" -> tableSmallSec,
      "large_small_speedup" -> tableSmallSec / keyedSmallSec)
  }
}
