package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{Cli, Pipeline}
import graft.records.UpdateMessage
import graft.sources.MasterStore
import graft.streaming.Watermark

/** The queue probe: the queue consumer and the reindex cron on one store,
  * with keyed reads beside them. It runs at the end of every traced
  * `bulk_reindex` run, on the reindexed store, and gives the streaming,
  * cron-cadence and keyed-read layer metrics. A merge-only streaming
  * consumer (`Pipeline.runStream(sinks = ∅)` over a file spool, the
  * `Cli --consume` shape) runs on the store of already-processed records,
  * whose feed-sweep cursor sits at its current generation. One cycle:
  *
  *  1. wave — one update wave (corpus keys no other wave touches, four
  *     message types per record, a new content revision) is handed to the
  *     consumer, which merges and publishes it as one key-local micro-batch;
  *  2. sweep — `Cli --index-from-feed` gates, transforms and delivers
  *     exactly the wave's records to every sink and stamps them;
  *  3. lookups — a burst of `MasterStore.lookup` calls of a few bibcodes:
  *     hits of this wave and of the untouched corpus, and misses.
  *
  * [[QueueCycle.WarmCycles]] warm-up cycles, on smaller waves of the same
  * shape, run before the one measured cycle. A cycle costs 15–25 s at HEAD
  * on four cores, so the queue cycle is no workload of its own: its runs
  * would not fit the benchmark's time budget. */
final class QueueCycle private (r: Run, store: MasterStore, corpusRecords: Long,
    waves: Seq[Int]) {
  import QueueCycle._
  private val spark = r.spark
  import spark.implicits._
  private val gen = r.gen
  private val root = store.root
  /** Wave `c` (1-based) holds corpus keys [waveStart(c), waveStart(c + 1)). */
  private val waveStart: Seq[Long] = waves.scanLeft(0L)(_ + _)
  private val waveKeys = waveStart.last
  require(waveKeys <= corpusRecords / 2, s"waves $waves need a larger corpus than $corpusRecords")
  private val missBase = corpusRecords + 20000000L
  private val watermarks = s"$root-watermarks"

  private val out = new java.lang.StringBuilder
  private val deps = Cli.Deps(CountingSolr, CountingBulk,
    out = s => { out.append(s).append('\n'); () })
  private def cli(args: String*): (Int, String) = {
    out.setLength(0)
    val rc = Cli.run(spark, Seq("--store", root) ++ args, deps)
    (rc, out.toString)
  }
  private def cursor(): Long =
    Watermark.readGen(spark, watermarks, Pipeline.GenCursorKey).getOrElse(-1L)

  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      if (d.containsKey("addBatch")) progress.synchronized {
        progress += Progress(p.id.toString, p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          d.get("triggerExecution").toDouble, d.get("addBatch").toDouble, p.numInputRows)
      }
    }
  }
  spark.streams.addListener(listener)

  // a deployment that has swept before holds its cursor; the table-wide
  // bootstrap sweep is not part of the cycle
  Watermark.advanceGen(spark, watermarks, Pipeline.GenCursorKey, store.currentVersion.get)
  private val spool = s"${r.work}/spool"
  Files.createDirectories(Paths.get(spool))
  private val q = Pipeline.runStream(spark, store,
    spark.readStream.schema(Encoders.product[UpdateMessage].schema)
      .option("maxFilesPerTrigger", 1).json(spool).as[UpdateMessage],
    CountingSolr, CountingBulk, s"${r.work}/checkpoint", sinks = Set.empty)

  private val rng = gen.rng(11)
  private var done = 0
  private var warmDone = 0
  private val lookupMs, waveS, sweepS = mutable.ArrayBuffer.empty[Double]
  private var filesOpened = 0.0

  /** Stages the wave of cycle `c` at content revision c; returns the file
    * to hand over. */
  private def stageWave(c: Int): String = {
    val keys = spark.range(waveStart(c - 1), waveStart(c)).toDF("k")
    val tmp = s"${r.work}/staging/wave$c"
    gen.messagesFor(keys, c, System.currentTimeMillis()).repartition(1).write.json(tmp)
    Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".json"))
      .findFirst().get().toString
  }

  /** Bibcodes of one lookup: two of wave `c`, two of the untouched corpus,
    * the rest misses. */
  private def lookupKeys(c: Int): Seq[String] = gen.bibcodes(
    Seq.fill(2)(waveStart(c - 1) + rng.nextLong(waves(c - 1).toLong)) ++
      Seq.fill(2)(waveKeys + rng.nextLong(corpusRecords - waveKeys)) ++
      Seq.fill(LookupKeys - 4)(missBase + rng.nextLong(1000000L)))

  /** Runs the next cycle; warm-up cycles record their spans under
    * `warmup.*` families. */
  def cycle(warmup: Boolean): Unit = {
    done += 1
    val c = done
    val n = waves(c - 1)
    if (warmup) warmDone += 1
    def family(f: String) = if (warmup) s"warmup.$f" else f
    val staged = stageWave(c)
    val bursts = Seq.fill(if (warmup) WarmLookups else LookupsPerCycle)(lookupKeys(c))
    val cursor0 = cursor()
    val d0 = Delivered.snapshot()
    // hand-over: the staged wave file appears in the spool at once
    Files.move(Paths.get(staged), Paths.get(spool, f"wave$c%05d.json"))
    val (_, wave) = r.trace.span("wave", family("wave"))(_ => q.processAllAvailable())
    val ((rc, text), sweep) =
      r.trace.span("sweep", family("sweep"))(_ => cli("--index-from-feed"))
    val reads = bursts.map { keys =>
      val (rows, s) = r.trace.span("lookup", family("lookup")) { _ =>
        store.lookup(spark, keys, Seq("bib_data")).collect()
      }
      (s * 1e3, rows)
    }
    val d = Delivered.snapshot() - d0
    r.log(f"cycle $c: wave $wave%.2f s, sweep $sweep%.2f s, lookups " +
      reads.map(x => f"${x._1 / 1e3}%.2f").mkString(" "))
    def field(name: String) =
      (name + raw"=(\d+)").r.findFirstMatchIn(text).map(_.group(1).toLong).getOrElse(-1L)
    // the gates run on every cycle, warm-up cycles included. The sweep
    // reports the wave delivered to every sink, and the transports saw
    // exactly that over the whole cycle: the merge-only wave reached none
    r.check(s"cycle $c sweep delivers exactly the wave",
      rc == 0 && text.contains("discovery=feed") &&
        Seq("indexed", "solrOk", "metricsOk", "linksOk").forall(field(_) == n) &&
        d.solr == n && d.metrics == n && d.links == n,
      s"$d for $n records: $text")
    r.check(s"cycle $c cursor advances", cursor() > cursor0, s"cursor $cursor0 -> ${cursor()}")
    reads.zip(bursts).foreach { case ((_, rows), keys) =>
      val got = rows.map(row => row.getString(0) -> row.getString(1)).toMap
      r.check(s"cycle $c lookup",
        got.keySet == keys.take(4).toSet &&
          keys.take(2).forall(k => got(k).contains("\"volume\":\"" + c + "\"")) &&
          keys.slice(2, 4).forall(k => got(k).contains("\"volume\":\"0\"")),
        s"lookup of $keys returned ${got.keySet}")
    }
    r.check(s"cycle $c keeps at most 3 generations", store.versions.size <= 3,
      s"${store.versions}")
    if (!warmup) {
      lookupMs ++= reads.map(_._1)
      waveS += wave; sweepS += sweep
      filesOpened += store.lookup(spark, bursts.head).inputFiles.length
    }
  }

  /** Stops the consumer and records the layer metrics of the measured
    * cycles. */
  def finish(): Unit = {
    q.stop()
    def med(xs: Iterable[Double]) = Run.median(xs.toSeq)
    r.layer("queue.wave_s") = med(waveS)
    r.layer("queue.sweep_s") = med(sweepS)
    r.layer("read.p50_ms") = med(lookupMs)
    r.layer("read.p90_ms") = Run.quantile(lookupMs.toSeq, 0.9)
    r.layer("store.lookup_files_opened") = filesOpened / (done - warmDone)
    // the consumer's micro-batches, from their progress events, as
    // children of the wave spans that waited for them
    val deadline = System.currentTimeMillis() + 10000
    while (progress.synchronized(progress.count(_.queryId == q.id.toString)) < done &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    val batches = progress.synchronized(progress.filter(_.queryId == q.id.toString).toSeq)
      .sortBy(_.batchId).drop(warmDone)
    val waves = r.trace.spans.filter(_.family == "wave").toSeq
    batches.zip(waves).foreach { case (p, w) =>
      val s = r.trace.record("wave.batch", "wave.batch", p.startMs, p.startMs + p.triggerMs,
        parent = w.id)
      r.trace.attachBatch(s, p.queryId, p.batchId)
    }
    Seq("wave", "sweep", "lookup").foreach(r.familyMetrics)
    r.layer("wave.batch_s") = med(batches.map(_.triggerMs / 1e3))
    r.layer("wave.stream_overhead_s") = med(batches.map(p => (p.triggerMs - p.addBatchMs) / 1e3))
    r.layer("wave.source_rows_read") = med(batches.map(_.rows.toDouble))
    spark.streams.removeListener(listener)
  }
}

object QueueCycle {
  /** Records of the measured wave (four messages each): the reference's
    * rebuild batch per task. */
  val WaveRecords = 1000
  /** Records of a warm-up wave: a cycle's cost is mostly fixed per call,
    * so a smaller wave warms the same shape for a little less, and with
    * the measured wave it leaves half of the `bulk_reindex` corpus
    * untouched for the lookups' corpus hits. */
  val WarmWaveRecords = 250
  /** Lookups per measured cycle, each of `LookupKeys` bibcodes. */
  val LookupsPerCycle = 4
  val LookupKeys = 8
  /** Untimed cycles before the measured one, which is so the second of its
    * shape in the JVM: a cycle costs 25–30 s on a busy host, and a second
    * warm-up cycle would bring a traced run near its time limit. Their
    * lookups are fewer (each costs about a second). */
  val WarmCycles = 1
  val WarmLookups = 1

  final case class Progress(queryId: String, batchId: Long, startMs: Double,
      triggerMs: Double, addBatchMs: Double, rows: Long)

  /** The queue layers on an existing processed store of `corpusRecords`
    * records (keys 0 until corpusRecords): the warm-up cycles, then one
    * measured cycle, outside any timed region. */
  def probe(r: Run, store: MasterStore, corpusRecords: Long): Unit = {
    val qc = new QueueCycle(r, store, corpusRecords,
      Seq.fill(WarmCycles)(WarmWaveRecords) :+ WaveRecords)
    for (_ <- 1 to WarmCycles) qc.cycle(warmup = true)
    qc.cycle(warmup = false)
    qc.finish()
  }
}
