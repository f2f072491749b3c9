package graft.scale

import org.apache.spark.sql.functions._

import graft.{Cli, Fixtures}
import graft.sources.MasterStore

/** Head-to-head with the reference's only published throughput figure:
  * the sitemap bootstrap over the production corpus (reference
  * `README.md:59-65`: 28,816,728 records, ~3.5 h end-to-end, 137,223
  * records/min ≈ 2,287 rec/s average, 4,574 rec/s peak, 1,154 XML files at
  * 50,000 records/file across two site trees).
  *
  * The timed run is the operator's own command, `Cli --manage-sitemap
  * --action bootstrap`: it builds and writes the sitemap state table from
  * the master snapshot (reference phases 1-2) and renders every file plus
  * the per-site index and robots (phase 3). The master fixture is written
  * first and not timed; in the reference, too, the `records` table exists
  * when bootstrap starts. The sitemap path reads only bibcode, bib_data
  * presence, bib_data_updated and status, so parquet column pruning makes
  * payload width irrelevant and the fixture's bib_data is a small stub
  * (`Fixtures.sitemapMaster`); bibcodes are 19 chars like real ones, so
  * rendered bytes match production shape.
  *
  * Then the daily cadence after bootstrap: a clustered change wave (about
  * one sitemap file, so discovery dominates the wall) discovered once
  * from the master change feed and once by the reference's full-table
  * scan. Output → BOOTSTRAP_BENCH.md. */
object BootstrapScenario {

  /** Reference production corpus size (README.md:62). */
  val ReferenceRows = 28816728L

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, n) = (r.spark, r.rows)
    val root = s"${r.dir}/master"
    // buckets sized so each holds ~1M rows, the MasterStore scaladoc's
    // sizing rule applied at this corpus size
    val store = new MasterStore(root, numBuckets = math.max(8, (n / 1000000L).toInt))
    val (_, fixtureS) = Scale.timed(store.write(Fixtures.sitemapMaster(spark, n)))

    val quiet = Cli.Deps(new Cli.LogTransport("solr", _ => ()),
      new Cli.LogTransport("bulk", _ => ()), out = _ => ())
    val (rc, bootstrapS) = Scale.timed(Cli.run(spark,
      Seq("--store", root, "--manage-sitemap", "--action", "bootstrap"), quiet))

    val state = new MasterStore(s"$root-sitemap",
      empty = graft.operators.SitemapState.empty).read(spark)
    val assigned = state.count()
    val nFiles = state.select("sitemap_filename").distinct().count()
    val sites = new java.io.File(s"$root-sitemaps").listFiles()
    val onDisk = Option(sites).toSeq.flatten.filter(_.isDirectory)
      .map(_.list().count(_.startsWith("sitemap_bib_"))).sum

    val out = new java.lang.StringBuilder
    val deps = Cli.Deps(new Cli.LogTransport("solr", _ => ()),
      new Cli.LogTransport("bulk", _ => ()),
      out = s => { out.append(s).append('\n'); () })
    // the buffer is cleared before each cadence, so a mode string from an
    // earlier run can never satisfy a later run's check
    def autoRun(wmDir: String, expectMode: String): Double = {
      out.setLength(0)
      val (rc2, w) = Scale.timed(Cli.run(spark, Seq("--store", root,
        "--update-sitemaps-auto", "--days-back", "1", "--watermark-dir", wmDir), deps))
      require(rc2 == 0, s"auto cadence failed rc=$rc2")
      require(out.toString.contains(s"($expectMode discovery)"),
        s"cadence must use $expectMode discovery: $out")
      w
    }
    // the wave's size follows n, so a small corpus still runs a real wave
    // (ids beyond n would tombstone ghosts and time a no-op); consecutive
    // ids fall in about one sitemap file
    val waveK = math.min(2500L, math.max(100L, n / 100))
    def wave(lo: Long): Unit = {
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      val keys = spark.range(lo, lo + waveK)
        .select(concat(lit("2026Synth"), format_string("%010d", col("id"))).as("bibcode"))
      store.writeMergeKeyed(spark, keys, cur => cur
        .withColumn("bib_data_updated", lit(ts))
        .withColumn("updated", lit(ts)))
      ()
    }
    require(n >= 4 * waveK, s"corpus too small for the cadence waves: $n")
    val wmFeed = s"$root-wm-feed"
    autoRun(wmFeed, "table-scan") // idle cadence: bootstraps the cursor
    wave(n / 4)
    val feedCadenceS = autoRun(wmFeed, "feed")
    // the keyed cadence's members read is pruned by file ordinal: its
    // status line proves it opened files ∝ the touched files, not the corpus
    val (membersOpened, membersTotal) =
      "members read (\\d+)/(\\d+) index files".r.findFirstMatchIn(out.toString)
        .map(m => (m.group(1).toInt, m.group(2).toInt)).getOrElse((-1, -1))
    wave(n / 2)
    val scanCadenceS = autoRun(s"$root-wm-scan", "table-scan") // no cursor there

    Seq(Scale.record("metric" -> "bootstrap_rec_per_sec", "value" -> math.round(n / bootstrapS),
      "rows" -> n, "assigned" -> assigned, "files_per_site" -> nFiles,
      "bib_files_on_disk" -> onDisk, "rc" -> rc,
      "fixture_sec" -> fixtureS, "bootstrap_sec" -> bootstrapS,
      "cadence_wave" -> waveK, "cadence_feed_sec" -> feedCadenceS,
      "cadence_scan_sec" -> scanCadenceS,
      "cadence_members_files_opened" -> membersOpened,
      "cadence_members_files_total" -> membersTotal,
      "baseline_avg_rec_per_sec" -> 2287, "baseline_peak_rec_per_sec" -> 4574))
  }
}
