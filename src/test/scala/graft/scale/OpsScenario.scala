package graft.scale

import org.apache.spark.sql.functions._

import graft.{Cli, Fixtures, Pipeline}
import graft.records.UpdateMessage
import graft.scale.Scale.timed
import graft.sources.MasterStore

/** The daily ops loop as one scenario: ingest wave, feed-driven index
  * sweep, feed-driven sitemap cadence and vacuum, several cycles against
  * one standing corpus. It checks what no single-leg scenario can: both
  * feed cursors advance with the waves, the cadence stays in feed mode
  * cycle after cycle (the sitemap summary survives the index sweep's
  * interleaved publishes), retention and vacuum keep the stores bounded
  * while both consumers hold registered cursors, and each cycle's wall is
  * ∝ the wave, not the corpus.
  *
  * Reference analog: one operational day of `run.py`: the queue consumers
  * land updates, the reindex cron sweeps, the sitemap cron regenerates,
  * and Postgres overwrites rows in place (this engine's vacuum is that
  * garbage collection, priced here on the cadence).
  *
  * Cycle 0 is untimed setup: the sitemap bootstrap plus the two crons'
  * cursor-bootstrap runs (each table-wide once, by design). Cycles 1-3
  * are the steady state. Output → STREAM_BENCH.md. */
object OpsScenario {

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, rows) = (r.spark, r.rows)
    import spark.implicits._
    val cycles = 3
    // the wave follows the corpus (2,500 at the recorded 28.8M rows), so
    // a small corpus still runs real waves
    val waveK = math.min(2500L, math.max(100L, rows / 100))
    require(rows >= cycles * waveK * 4, s"corpus $rows too small for the waves")
    val root = s"${r.dir}/master"
    val store = new MasterStore(root, numBuckets = math.max(8, (rows / 1000000L).toInt))
    val out = new java.lang.StringBuilder
    val deps = Cli.Deps(new Cli.LogTransport("solr", _ => ()),
      new Cli.LogTransport("bulk", _ => ()),
      out = s => { out.append(s).append('\n'); () })
    def cli(expect: String, args: String*): Double = {
      out.setLength(0)
      val (rc, w) = timed(Cli.run(spark, Seq("--store", root) ++ args, deps))
      require(rc == 0, s"cli ${args.mkString(" ")} failed rc=$rc: $out")
      require(expect.isEmpty || out.toString.contains(expect), s"expected '$expect' in: $out")
      w
    }

    // ── untimed setup: the standing, fully indexed corpus ───────────────
    val (_, fixtureSec) = timed(store.write(Fixtures.fullMaster(spark, rows)
      .withColumn("processed", lit(new java.sql.Timestamp(System.currentTimeMillis() - 7200 * 1000L)))
      .withColumn("status", lit("success"))))
    val smBootstrapSec = cli("", "--manage-sitemap", "--action", "bootstrap")
    val cursorBootstrapSec = cli("discovery=table-scan", "--index-from-feed") +
      cli("table-scan discovery", "--update-sitemaps-auto", "--days-back", "1")

    def cursorOf(dir: String, key: String): Long =
      graft.streaming.Watermark.readGen(spark, dir, key).getOrElse(-1L)
    def indexCursor = cursorOf(s"$root-watermarks", Pipeline.GenCursorKey)
    def sitemapCursor = cursorOf(s"$root-sitemap-watermarks", "last.sitemaps.generation")

    // ── the daily loop, timed per stage per cycle ───────────────────────
    // the wave's internal stages: merge_read = keyed lookup + upsert
    // compute to the merged count, publish = stamp compute + layer write +
    // CAS + auto-compaction, report = cached status aggregations
    val waveStages = scala.collection.mutable.Map.empty[String, Double]
    case class Cycle(wave: Double, index: Double, sitemap: Double, vacuum: Double,
      waveMergeRead: Double, wavePublish: Double, lookupProbe: Double)
    val walls = (1 to cycles).map { c =>
      val (preIdx, preSm) = (indexCursor, sitemapCursor)
      val lo = rows / 2 + (c - 1) * waveK
      // merge-only ingest (sinks off): the wave lands pending (updated past
      // processed), exactly the state the cadences discover
      val m = Fixtures.messages(spark, lo, lo + waveK, rev = c,
        tsBase = System.currentTimeMillis()).as[UpdateMessage]
      val (_, waveSec) = timed(Pipeline.runBatch(spark, store, m,
        deps.solrTransport, deps.bulkTransport,
        now = new java.sql.Timestamp(System.currentTimeMillis()),
        sinks = Set.empty, keyLocal = true,
        stageTimer = (n, s) => { waveStages(n) = s; () }))
      // steady state: both cadences must discover from the feed
      val idxSec = cli("discovery=feed", "--index-from-feed")
      require(out.toString.contains(s"solrOk=$waveK"),
        s"cycle $c index sweep must deliver exactly the wave: $out")
      val smSec = cli("feed discovery", "--update-sitemaps-auto", "--days-back", "1")
      val vacSec = cli("vacuum master", "--vacuum", "--retain", "2",
        "--orphans", "--orphan-grace-min", "60")
      // a stuck cursor would re-deliver
      require(indexCursor > preIdx, s"cycle $c: index cursor did not advance")
      require(sitemapCursor > preSm, s"cycle $c: sitemap cursor did not advance")
      // the wave's keyed read alone, on the post-vacuum store: isolates
      // the lookupFrame plan from the merge it feeds
      val (_, probeSec) = timed(store.lookupFrame(spark,
        Fixtures.messageKeys(spark, lo, lo + waveK)).count())
      Cycle(waveSec, idxSec, smSec, vacSec, waveStages.getOrElse("merge_read", -1.0),
        waveStages.getOrElse("publish", -1.0), probeSec)
    }

    // ── post-loop invariants: bounded stores, registered consumers ──────
    require(store.versions.size <= 3, s"vacuum must bound master generations, got ${store.versions}")
    val smStore = new MasterStore(s"$root-sitemap", empty = graft.operators.SitemapState.empty)
    require(smStore.versions.size <= 3,
      s"vacuum must bound sitemap generations, got ${smStore.versions}")
    val consumers = store.consumerCursors.keySet
    require(consumers == Set("reindex", "sitemaps"),
      s"both cadences must hold registered cursors, got $consumers")
    require(store.stats.get.consumersBehind == 0,
      "no consumer may end the loop behind the feed horizon")

    Seq(Scale.record("metric" -> "ops_loop", "rows" -> rows, "cycles" -> cycles,
      "wave" -> waveK, "fixture_sec" -> fixtureSec,
      "sitemap_bootstrap_sec" -> smBootstrapSec, "cursor_bootstrap_sec" -> cursorBootstrapSec,
      "wave_sec" -> walls.map(_.wave), "index_sec" -> walls.map(_.index),
      "sitemap_sec" -> walls.map(_.sitemap), "vacuum_sec" -> walls.map(_.vacuum),
      "wave_merge_read_sec" -> walls.map(_.waveMergeRead),
      "wave_publish_sec" -> walls.map(_.wavePublish),
      "wave_lookup_probe_sec" -> walls.map(_.lookupProbe),
      "steady_cycle_sec" -> walls.drop(1).map(w => w.wave + w.index + w.sitemap + w.vacuum).max,
      "sitemap_state_rows" -> smStore.read(spark).count(),
      "master_generations" -> store.versions.size,
      "consumers_registered" -> consumers.size))
  }
}
