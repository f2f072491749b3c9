package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

import graft.records.UpdateMessage
import graft.sources.{MasterStore, Sinks}

/** End-to-end MASTER-pipeline streaming rate record — the r11 verdict's
  * ask #4. `StreamBench` covers the prep/near-dup streaming family; this
  * run measures the reference topology itself in its streaming form
  * (`Pipeline.runStream`: file-source micro-batches → upsert merge →
  * eligibility gate → T1 transform → sink deliveries → checksum/processed
  * stamps → keyed CAS publish), the path a production deployment actually
  * operates (reference cadence: one queue batch every ~5 min,
  * README.md:44-51, at ~2,287 rec/s for the 3.5 h full reindex,
  * README.md:65). Four phases on one session:
  *
  *  1. bootstrap   — N records × 4 messages (metadata/nonbib/orcid/
  *                   metrics) stream through in 10 file-segment
  *                   micro-batches against an EMPTY store: records/s
  *                   end-to-end, the per-batch wall/publish-bytes/layer
  *                   curve (auto-compaction folds appear in it — index
  *                   maintenance is part of the steady state, not a
  *                   quiesce window).
  *  2. incremental — a 1%-of-records update wave (content rev bump) in
  *                   two micro-batches against the full store: per-batch
  *                   publish bytes vs the table's size — the measured,
  *                   in-pipeline form of `StoreBench`'s write-amplification
  *                   ratio (the r11 "single biggest 100 TB gap", now
  *                   cost ∝ delta through `writeMergeKeyed`).
  *  3. replay      — the SAME 1% content re-sent with bumped arrival
  *                   timestamps (live queue redelivery, the at-least-once
  *                   shape): every record re-merges and re-selects, the
  *                   recomputed checksums match the stamped ones, and P4
  *                   suppression must keep every sink quiet — the
  *                   suppression hit rate is measured, not asserted.
  *  4. parity      — the same message history re-run as TWO batch
  *                   `runBatch` sweeps (the `idx_index_job` shape: one per
  *                   content revision) into a fresh store; the streamed
  *                   store's content columns (slots, scix_id, checksums,
  *                   status) must digest-match it EXACTLY — the result
  *                   depends on the message history alone, never on how
  *                   it was chopped into micro-batches (13 vs 2), the ST4
  *                   story closed with a value-level gate at 1M messages.
  *                   (It cannot be ONE batch: scix_id is assigned at first
  *                   index and then sticky — reference semantics — so a
  *                   run that never indexed the rev-0 state of an updated
  *                   record would assign a different id by construction.)
  *
  * Message content is a pure function of (record id, content rev):
  * equal revs at different timestamps are byte-identical payloads — the
  * checksum-suppression case — while a rev bump changes them. Payload
  * shapes mirror `TransformBench`'s fixture (bib ~0.45 KB with
  * title/author/links_data, nonbib with boost/citations, orcid, metrics)
  * so the T1 transform does its real work per record.
  *
  * Deliveries are counted by JVM-static transports (local mode shares the
  * JVM; the singletons resolve on closure deserialize) — the sinks'
  * network cost is out of scope here (fault ladders are spec'd in
  * SinksSpec), the pipeline's compute+publish cost is in.
  *
  * An optional phase 5 (SPARK_GRAFT_PIPE_LARGE=N, default off) measures
  * the KEY-LOCAL claim at a large standing table: seed a fresh store
  * with N already-processed master rows, then run the same 2,500-record
  * queue batch twice — keyLocal (bucket-pruned keyed lookup) and
  * table-wide (the sweep-shaped gate) — and report both walls. This is
  * the number that extrapolates to 28.8M rows: the table-wide batch
  * pays the table, the key-local batch pays the batch.
  *
  * Env knobs: SPARK_GRAFT_PIPE_RECORDS (default 250,000 → 1M messages),
  * SPARK_GRAFT_PIPE_BATCHES (default 10 — bootstrap micro-batch count;
  * the per-batch cost has a fixed floor, so records/s vs batch size IS
  * the trigger-interval sizing curve a deployment reads),
  * SPARK_GRAFT_PIPE_LARGE (default 0 = skip phase 5),
  * SPARK_GRAFT_PIPE_DIR (default target/pipe-bench), SPARK_GRAFT_CPUS
  * (default 32). One JSON line to stdout → STREAM_BENCH.md.
  */
object PipelineBench {

  // JVM-static delivery counters: executor threads in local mode share
  // this JVM, and `object` transports deserialize back to the singleton
  val solrDocs = new java.util.concurrent.atomic.LongAdder
  val solrBytes = new java.util.concurrent.atomic.LongAdder
  val bulkDocs = new java.util.concurrent.atomic.LongAdder

  object SolrTransport extends Sinks.Transport {
    def send(p: Seq[String]): Unit = {
      solrDocs.add(p.size); solrBytes.add(p.map(_.length.toLong).sum)
    }
  }
  object BulkTransport extends Sinks.Transport {
    def send(p: Seq[String]): Unit = bulkDocs.add(p.size)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def deleteTree(p: java.nio.file.Path): Unit =
    graft.sources.FsUtil.deleteTree(p)

  private def bib(id: Column): Column =
    concat(lit("2026Pipe"), format_string("%07d", id), lit("....A"))

  /** The 4-message ingest envelope for records [lo, hi): bib metadata,
    * nonbib, orcid claims, metrics. Content is a pure function of
    * (id, rev); arrival ts = tsBase + per-record jitter + per-mtype
    * offset (metadata first, metrics last — the reference's usual queue
    * order). */
  def messages(spark: SparkSession, lo: Long, hi: Long, rev: Int,
      tsBase: Long): DataFrame = {
    val ids = spark.range(lo, hi).toDF("id")
    def ts(off: Int): Column =
      ((lit(tsBase) + pmod(col("id"), lit(997)) * 4L + off) / 1000.0).cast("timestamp")
    val metadata = ids.select(
      bib(col("id")).as("bibcode"), lit("metadata").as("mtype"),
      format_string(
        "{\"bibcode\":\"2026Pipe%07d....A\",\"title\":[\"Title %d rev" + rev +
          " alpha\",\"beta\"],\"author\":[\"Author, A%d\",\"Author, B\"]," +
          "\"author_count\":2,\"abstract\":\"Abstract body %d rev" + rev +
          " with several words of text\",\"database\":[\"astronomy\"]," +
          "\"doctype\":\"article\",\"first_author\":\"Author, A%d\"," +
          "\"identifier\":[\"arXiv:%d\"],\"links_data\":[\"{\\\"access\\\": " +
          "\\\"open\\\", \\\"url\\\": \\\"http://x/%d\\\"}\"]," +
          "\"pub\":\"The Journal\",\"volume\":\"%d\",\"year\":\"2024\"}",
        col("id"), col("id"), col("id"), col("id"), col("id"), col("id"),
        col("id"), pmod(col("id"), lit(900)) + 1).as("payload"),
      ts(0).as("ts"))
    val nonbib = ids.select(
      bib(col("id")).as("bibcode"), lit("nonbib_data").as("mtype"),
      format_string(
        "{\"boost\":0.%02d,\"citation_count\":%d,\"read_count\":%d," +
          "\"data\":[\"SIMBAD:%d\"],\"property\":[\"ESOURCE\",\"ARTICLE\"]," +
          "\"reference\":[\"2020A%d\",\"2021B%d\"],\"reference_count\":2}",
        pmod(col("id") + rev, lit(100)), pmod(col("id") + rev * 7, lit(999)),
        pmod(col("id"), lit(500)), pmod(col("id"), lit(40)),
        col("id"), col("id")).as("payload"),
      ts(1).as("ts"))
    val orcid = ids.select(
      bib(col("id")).as("bibcode"), lit("orcid_claims").as("mtype"),
      format_string("{\"verified\":[\"0000-0002-%04d\"],\"unverified\":[]}",
        pmod(col("id") + rev, lit(9999))).as("payload"),
      ts(2).as("ts"))
    val metrics = ids.select(
      bib(col("id")).as("bibcode"), lit("metrics").as("mtype"),
      format_string(
        "{\"bibcode\":\"2026Pipe%07d....A\",\"citation_num\":%d," +
          "\"reads\":[%d,%d]}",
        col("id"), pmod(col("id") + rev * 7, lit(999)),
        pmod(col("id"), lit(50)), pmod(col("id") + 1, lit(50))).as("payload"),
      ts(3).as("ts"))
    metadata.unionByName(nonbib).unionByName(orcid).unionByName(metrics)
      .withColumn("status", lit(null).cast("string"))
  }

  /** Write one message frame as a single json file `inDir/<name>.json`
    * (the file source treats each arrival as one micro-batch's input). */
  def writeSegment(spark: SparkSession, df: DataFrame, inDir: String,
      name: String): Unit = {
    val tmp = s"$inDir/../tmp_$name"
    df.coalesce(1).write.mode("overwrite").json(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".json"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part in $tmp"))
    Files.createDirectories(Paths.get(inDir))
    Files.move(part, Paths.get(inDir, s"$name.json"))
    deleteTree(Paths.get(tmp))
  }

  /** Content-column digest of a master snapshot: row count + order-free
    * XOR of per-row hashes over everything the pipeline derives from message
    * CONTENT (slots, scix_id, sink checksums, status). Wall-clock-stamped
    * columns (created, updated, processed, the per-sink processed stamps)
    * and the get-or-create
    * `id` are excluded: they differ between a streamed and a batch run by
    * construction; everything else must match exactly. */
  def contentDigest(df: DataFrame): (Long, Long) = {
    val cols = Seq("bibcode", "scix_id", "bib_data", "nonbib_data",
      "orcid_claims", "fulltext", "metrics", "augments", "classifications",
      "boost_factors", "solr_checksum", "metrics_checksum",
      "datalinks_checksum", "status")
    val r = df.select(count(lit(1)),
      bit_xor(xxhash64(cols.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  case class BatchRow(phase: String, batch: Int, msgs: Long, wallSec: Double,
      storeBytes: Long, layerCount: Int, layerBytes: Long, version: Long,
      solrDelivered: Long, bulkDelivered: Long, gens: Int)

  def main(args: Array[String]): Unit = {
    val nRecords = sys.env.getOrElse("SPARK_GRAFT_PIPE_RECORDS", "250000").toLong
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_PIPE_BATCHES", "10").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_PIPE_DIR", "target/pipe-bench")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("graft-pipeline-bench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    deleteTree(Paths.get(work))
    val in = s"$work/in"
    val ckpt = s"$work/ckpt"
    val storeRoot = s"$work/master"
    Files.createDirectories(Paths.get(in))
    Files.createDirectories(Paths.get(storeRoot))
    val store = new MasterStore(storeRoot, numBuckets = 16)
    val msgSchema = Encoders.product[UpdateMessage].schema

    val updates = spark.readStream.schema(msgSchema).json(in)
      .as[UpdateMessage](Encoders.product[UpdateMessage])
    val query = Pipeline.runStream(spark, store, updates,
      SolrTransport, BulkTransport, ckpt)

    val curve = scala.collection.mutable.ArrayBuffer[BatchRow]()
    var batchNo = 0
    def feed(phase: String, df: DataFrame, name: String): Double = {
      writeSegment(spark, df, in, name)
      val s0 = (solrDocs.sum(), bulkDocs.sum())
      val t0 = System.nanoTime()
      query.processAllAvailable()
      val w = secs(t0)
      val st = store.stats.getOrElse(
        sys.error("store has no published generation after a batch"))
      batchNo += 1
      val row = BatchRow(phase, batchNo, df.count(), w,
        StoreBench.bytesUnder(storeRoot), st.layerCount, st.layerBytes,
        store.currentVersion.getOrElse(-1L),
        solrDocs.sum() - s0._1, bulkDocs.sum() - s0._2,
        store.versions.size)
      curve += row
      System.err.println(f"[pipe-bench] ${row.phase}%-11s batch ${row.batch}%2d: " +
        f"${row.msgs} msgs in ${row.wallSec}%.2f s, store ${row.storeBytes / 1e6}%.1f MB " +
        f"(${row.layerCount} layers), v${row.version}, solr +${row.solrDelivered}")
      w
    }

    try {
      // ── phase 1: bootstrap — nBatches micro-batches × 4 msgs/record ──
      val tsA = System.currentTimeMillis() - 3600 * 1000L
      val per = nRecords / nBatches
      var bootstrapSec = 0.0
      for (i <- 0 until nBatches) {
        val df = messages(spark, i * per,
          if (i == nBatches - 1) nRecords else (i + 1) * per,
          rev = 0, tsBase = tsA)
        bootstrapSec += feed("bootstrap", df, f"boot$i%02d")
      }
      val bootSolr = solrDocs.sum()
      require(bootSolr == nRecords,
        s"bootstrap must deliver every record exactly once: $bootSolr vs $nRecords")
      val tableBytesAfterBoot = store.stats.map(s => s.baseBytes + s.layerBytes).get

      // ── phase 2: incremental — 1% of records bump content rev, 2 batches ──
      val nDelta = math.max(nRecords / 100, 2)
      // publish cost = the phase's NEW delta-layer bytes from the manifest
      // (a raw disk delta would be polluted by the per-batch vacuum
      // freeing the bootstrap phase's superseded generations mid-phase)
      val layerBytes0 = store.stats.map(_.layerBytes).getOrElse(0L)
      val tsB = System.currentTimeMillis()
      var incrSec = 0.0
      incrSec += feed("incremental",
        messages(spark, 0, nDelta / 2, rev = 1, tsBase = tsB), "incr00")
      incrSec += feed("incremental",
        messages(spark, nDelta / 2, nDelta, rev = 1, tsBase = tsB), "incr01")
      val incrPublishBytes = store.stats.map(_.layerBytes).getOrElse(0L) - layerBytes0
      require(incrPublishBytes > 0,
        "incremental publishes must land as delta layers (no fold mid-phase)")
      val incrSolr = curve.filter(_.phase == "incremental").map(_.solrDelivered).sum
      require(incrSolr == nDelta,
        s"every rev-bumped record re-delivers once: $incrSolr vs $nDelta")

      // ── phase 3: replay — same 1% content, bumped arrival ts (queue
      // redelivery): re-merges, re-selects, must be checksum-suppressed ──
      val tsC = System.currentTimeMillis()
      val replaySec = feed("replay",
        messages(spark, 0, nDelta, rev = 1, tsBase = tsC), "replay00")
      val replayRow = curve.last
      val suppressionRate = 1.0 - replayRow.solrDelivered.toDouble / nDelta

      query.stop()

      // ── phase 4: parity — the same history as TWO batch sweeps (one
      // per content revision; scix_id is sticky after first index, so the
      // rev-0 state must be indexed before the rev-1 updates arrive —
      // exactly as it did in the stream) ──
      def readMsgs(paths: Seq[String]) = spark.read.schema(msgSchema)
        .json(paths: _*).as[UpdateMessage](Encoders.product[UpdateMessage])
      val parityRoot = s"$work/master_parity"
      Files.createDirectories(Paths.get(parityRoot))
      val parityStore = new MasterStore(parityRoot, numBuckets = 16)
      val tP = System.nanoTime()
      // sweep 1 stamps `processed` BEFORE the rev-1 arrivals (as the
      // stream's interleaving had it); a wall-now stamp would postdate
      // them and P0 would — correctly — suppress sweep 2's re-index
      val report = Pipeline.runBatch(spark, parityStore,
        readMsgs((0 until nBatches).map(i => f"$in/boot$i%02d.json")),
        SolrTransport, BulkTransport,
        now = new java.sql.Timestamp(tsB - 1000))
      Pipeline.runBatch(spark, parityStore,
        readMsgs(Seq(s"$in/incr00.json", s"$in/incr01.json", s"$in/replay00.json")),
        SolrTransport, BulkTransport,
        now = new java.sql.Timestamp(System.currentTimeMillis()))
      val paritySec = secs(tP)
      val dStream = contentDigest(store.read(spark))
      val dBatch = contentDigest(parityStore.read(spark))
      val parity = if (dStream == dBatch) "exact" else "MISMATCH"
      require(report.merged == nRecords, s"parity batch merged ${report.merged}")

      // live store size once superseded generations are swept
      store.vacuum(alsoOrphans = true, retain = 1)
      val liveBytes = StoreBench.bytesUnder(storeRoot)

      // ── phase 5 (optional): key-local vs table-wide at a LARGE table ──
      val nLarge = sys.env.getOrElse("SPARK_GRAFT_PIPE_LARGE", "0").toLong
      // bucket count for the standing table: the class doc sizes buckets
      // to the corpus (a few hundred at the reference's 28.8M rows); the
      // knob exists because the key-local wall's floor IS the touched
      // bucket set — at 32 buckets a 2,500-key batch touches all 32, at
      // 256 most buckets hold no batch key and never open
      val nLargeBuckets = sys.env.getOrElse("SPARK_GRAFT_PIPE_LARGE_BUCKETS", "32").toInt
      val largeJson = if (nLarge <= 0) "" else {
        val largeRoot = s"$work/master_large"
        Files.createDirectories(Paths.get(largeRoot))
        val storeL = new MasterStore(largeRoot, numBuckets = nLargeBuckets)
        // seed: N full-payload rows, already processed (the standing
        // corpus a steady-state consumer batches against)
        val doneTs = new java.sql.Timestamp(System.currentTimeMillis() - 7200 * 1000L)
        storeL.write(TransformBench.fixture(spark, nLarge)
          .withColumn("processed", lit(doneTs))
          .withColumn("status", lit("success")))
        val tableBytes = storeL.stats.map(s => s.baseBytes + s.layerBytes).get
        def wave(lo: Long, n: Long, keyLocal: Boolean): Double = {
          val msgs = messages(spark, lo, lo + n, rev = 0,
            tsBase = System.currentTimeMillis())
            .as[UpdateMessage](Encoders.product[UpdateMessage])
          val t0 = System.nanoTime()
          val r = Pipeline.runBatch(spark, storeL, msgs,
            SolrTransport, BulkTransport,
            now = new java.sql.Timestamp(System.currentTimeMillis()),
            keyLocal = keyLocal)
          require(r.solrOk == n, s"wave delivered ${r.solrOk}, expected $n")
          secs(t0)
        }
        // 2,500-key batch: above the IN crossover → semi-join regime.
        // Uniform hashing puts 2,500 keys in essentially EVERY bucket at
        // any realistic bucket count, so this wave's scan opens the whole
        // base (column-complete — the merge needs full rows); the
        // key-local win at this batch shape is compute + publish ∝ batch
        // (no table-sized merge join, no full rewrite, no full-table gate)
        val keyedSec = wave(9000000L, 2500L, keyLocal = true)
        val tableSec = wave(9100000L, 2500L, keyLocal = false)
        // 500-key batch: under the crossover → driver-list IN regime,
        // where the pushed predicate + key-sorted-within-bucket layout
        // skip row groups, so scan IO also drops toward ∝ batch — the
        // second design lever, measured at the same standing table
        val smallN = sys.env.getOrElse("SPARK_GRAFT_PIPE_SMALL", "500").toLong
        val keyedSmallSec = wave(9200000L, smallN, keyLocal = true)
        val tableSmallSec = wave(9300000L, smallN, keyLocal = false)

        // ── phase 6: per-cadence WORK DISCOVERY at the standing table —
        // the same pending wave (merged, unindexed) found once from the
        // store's change feed (Pipeline.runFeedSweep: discovery ∝ changed
        // keys, read from the delta layers alone) and once via the
        // reference's full-snapshot watermark gate (run.py:147-159:
        // discovery ∝ table). Selection parity is asserted, not assumed:
        // both sweeps must deliver exactly their wave ──
        def mergePending(lo: Long, k: Long): Unit = {
          val m = messages(spark, lo, lo + k, rev = 0,
            tsBase = System.currentTimeMillis())
            .as[UpdateMessage](Encoders.product[UpdateMessage])
          Pipeline.runBatch(spark, storeL, m, SolrTransport, BulkTransport,
            now = new java.sql.Timestamp(System.currentTimeMillis()),
            sinks = Set.empty, keyLocal = true)
          ()
        }
        val gCursor = storeL.currentVersion.get
        mergePending(9400000L, 2500L)
        var t6 = System.nanoTime()
        val feedRows6 = storeL.changesSince(spark, gCursor).count()
        val feedDiscoverSec = secs(t6)
        t6 = System.nanoTime()
        val fsw = Pipeline.runFeedSweep(spark, storeL, SolrTransport,
          BulkTransport, fromGen = Some(gCursor),
          now = new java.sql.Timestamp(System.currentTimeMillis()))
        val feedSweepSec = secs(t6)
        require(fsw.usedFeed && fsw.run.solrOk == 2500,
          s"feed sweep must index exactly the pending wave: ${fsw.run}")
        mergePending(9500000L, 2500L)
        t6 = System.nanoTime()
        val tsw = Pipeline.runBatch(spark, storeL,
          spark.emptyDataset[UpdateMessage](Encoders.product[UpdateMessage]),
          SolrTransport, BulkTransport,
          now = new java.sql.Timestamp(System.currentTimeMillis()))
        val scanSweepSec = secs(t6)
        require(tsw.solrOk == 2500,
          s"watermark-scan sweep must index exactly the pending wave: $tsw")

        // ── phase 6b: STAGE BREAKDOWN of the feed sweep — the same batch
        // shape re-run stage-isolated with materialization barriers
        // (cache + count per stage), so each number is one stage's wall
        // alone; the changelog leg is off here, as in phase 6. Mirrors
        // runBatch's keyLocal success path: feed rows ARE the working set
        // (workRows — no store gate read since r15). The live sweep builds,
        // sends and stamps in ONE index pass, so the transform stage times
        // the payload builds alone and the sink stage times the whole pass
        // (builds again, sends, stamps): sink − transform is the delivery
        // and stamp, and discover + sink + publish should sit close to
        // feed_sweep_sec ──
        val gCursorB = storeL.currentVersion.get
        mergePending(9600000L, 2500L)
        val nowB = new java.sql.Timestamp(System.currentTimeMillis())
        var tb = System.nanoTime()
        val feedB = storeL.changesSince(spark, gCursorB)
          .filter(!col("_deleted")).drop("_deleted", "_gen").cache()
        require(feedB.count() == 2500, "breakdown wave discovery drifted")
        val stDiscoverSec = secs(tb)
        tb = System.nanoTime()
        val gate = graft.operators.IndexJob.eligible(None, force = false)
        val batchB = graft.operators.IndexJob.run(feedB.filter(gate)
          .as[graft.records.MasterRecord](Encoders.product[graft.records.MasterRecord]))
        val (solrB, metricsB, linksB) =
          (batchB.solr.cache(), batchB.metrics.cache(), batchB.links.cache())
        require(solrB.count() == 2500, "breakdown gate+transform drifted")
        metricsB.count(); linksB.count()
        val stTransformSec = secs(tb)
        Seq(solrB, metricsB, linksB).foreach(_.unpersist())
        tb = System.nanoTime()
        val passB = graft.operators.IndexJob.deliver(feedB, gate,
            Set("solr", "metrics", "links"), SolrTransport, BulkTransport,
            ignoreChecksums = false, stampAt = Some(nowB)).cache()
        require(passB.filter(col("solrOk")).count() == 2500, "breakdown sink drifted")
        val stSinkSec = secs(tb)
        tb = System.nanoTime()
        val stampKeysB = passB.filter(col("solrOk").isNotNull ||
          col("metricsOk").isNotNull || col("linksOk").isNotNull).select(col("bibcode"))
        storeL.writeMergeKeyed(spark, stampKeysB, _ =>
          passB.select(graft.operators.MergeEngine.masterColumns.map(col): _*)
            .join(stampKeysB, Seq("bibcode"), "left_semi"))
        val stPublishSec = secs(tb)
        passB.unpersist()
        feedB.unpersist()

        // ── phase 7: the bucket-count growth lever at the standing
        // table — fold once onto 4× the buckets and keep keyed pruning ──
        val storeR = new MasterStore(largeRoot, numBuckets = nLargeBuckets * 4)
        t6 = System.nanoTime()
        storeR.compact(spark)
        val rebucketSec = secs(t6)
        require(storeR.stats.get.n == nLargeBuckets * 4, "rebucket fold landed")
        val probeR = storeR.lookup(spark,
          Seq("2026Pipe" + "%07d".format(9400001L) + "....A"))
        require(probeR.count() == 1, "post-rebucket keyed lookup stays correct")
        val rebucketOpened = probeR.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }.flatMap(_.relation.location.inputFiles).length

        f""","large_rows":$nLarge,"large_buckets":$nLargeBuckets,""" +
          f""""feed_discover_rows":$feedRows6,"feed_discover_sec":$feedDiscoverSec%.2f,""" +
          f""""feed_sweep_sec":$feedSweepSec%.1f,"scan_sweep_sec":$scanSweepSec%.1f,""" +
          f""""discovery_speedup":${scanSweepSec / feedSweepSec}%.2f,""" +
          f""""sweep_stage_discover_sec":$stDiscoverSec%.1f,""" +
          f""""sweep_stage_transform_sec":$stTransformSec%.1f,""" +
          f""""sweep_stage_sink_sec":$stSinkSec%.1f,""" +
          f""""sweep_stage_publish_sec":$stPublishSec%.1f,""" +
          f""""rebucket_to":${nLargeBuckets * 4},"rebucket_sec":$rebucketSec%.1f,""" +
          f""""rebucket_lookup_files_opened":$rebucketOpened,""" +
          f""""large_table_bytes":$tableBytes,""" +
          f""""large_keylocal_sec":$keyedSec%.1f,"large_tablewide_sec":$tableSec%.1f,""" +
          f""""large_speedup":${tableSec / keyedSec}%.2f,""" +
          f""""large_small_batch":$smallN,""" +
          f""""large_keylocal_small_sec":$keyedSmallSec%.1f,""" +
          f""""large_tablewide_small_sec":$tableSmallSec%.1f,""" +
          f""""large_small_speedup":${tableSmallSec / keyedSmallSec}%.2f"""
      }

      val msgsTotal = nRecords * 4
      val batchesJson = curve.map(r =>
        f"""{"phase":"${r.phase}","batch":${r.batch},"msgs":${r.msgs},""" +
        f""""sec":${r.wallSec}%.2f,"store_bytes":${r.storeBytes},""" +
        f""""layers":${r.layerCount},"gens":${r.gens},"solr":${r.solrDelivered}}""").mkString("[", ",", "]")
      println(
        f"""{"metric":"pipeline_stream","records":$nRecords,"messages":$msgsTotal,"boot_batches":$nBatches,""" +
        f""""bootstrap_sec":$bootstrapSec%.1f,"bootstrap_recs_per_sec":${nRecords / bootstrapSec}%.0f,""" +
        f""""bootstrap_msgs_per_sec":${msgsTotal / bootstrapSec}%.0f,""" +
        f""""table_bytes":$tableBytesAfterBoot,"incr_records":$nDelta,"incr_sec":$incrSec%.1f,""" +
        f""""incr_publish_bytes":$incrPublishBytes,""" +
        f""""incr_publish_vs_table":${incrPublishBytes.toDouble / (2 * tableBytesAfterBoot)}%.4f,""" +
        f""""replay_records":$nDelta,"replay_sec":$replaySec%.1f,""" +
        f""""replay_delivered":${replayRow.solrDelivered},"suppression_rate":$suppressionRate%.4f,""" +
        f""""parity":"$parity","parity_batch_sec":$paritySec%.1f,""" +
        f""""parity_digest":[${dStream._1},${dStream._2}],""" +
        f""""store_live_bytes":$liveBytes,"solr_payload_bytes":${solrBytes.sum()},""" +
        // steady-state maintenance evidence: the runStream cadence vacuums
        // with retain=2, so generations stay bounded and disk tracks the
        // live table instead of one superseded snapshot per batch forever
        f""""max_generations":${curve.map(_.gens).max},""" +
        f""""disk_vs_live_final":${curve.last.storeBytes.toDouble / math.max(1L, liveBytes)}%.2f""" +
        largeJson +
        f""","batches":$batchesJson}""")
      require(parity == "exact",
        s"stream/batch content divergence: $dStream vs $dBatch")
    } finally {
      if (query.isActive) query.stop()
      spark.stop()
    }
  }
}
