package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.MasterStore

/** File-ordinal-layout twin of the sitemap state table — the engine's
  * covering secondary index, replacing the reference's B-tree access to
  * SitemapInfo by filename/member-id (the per-file member fetch inside
  * the sitemap cron, adsmp/tasks.py:986-990, which Postgres serves from
  * an index instead of a table scan).
  *
  * Why it exists: the primary state store is bucketed by hash(bibcode) —
  * the right layout for the cadence's due-key reads and keyed merges —
  * but "every member row of these k touched files" is keyed by
  * sitemap_filename, whose 50k members hash into EVERY bucket, so no
  * primary read of them can file-prune. This store holds the SAME rows
  * laid out by `pmod(file ordinal, n)` ([[MasterStore.Layout]]): members
  * of one file live in one bucket, so the keyed cadence's one members
  * read ([[membersOf]]) opens the touched files' buckets (plus the
  * tombstone bucket) — IO ∝ touched files, the exact shape of the
  * reference's indexed fetch, at 100 TB as at 28.8M.
  *
  * Consistency contract (same class as [[SitemapCadence]]'s summary): the
  * index is a MIRROR, stamped (sibling `mirror.json`, temp+rename) with
  * the (primary generation, own generation) pair it reflects. The keyed
  * cadence — the single writer, under the CLI cron lease — updates it
  * ∝ delta with the SAME row frames it publishes to the primary, then
  * re-stamps. Any out-of-band primary mutation (a manage action, a
  * cleanup, a cascade delete) or index mutation makes the stamp stale and
  * the next cadence pays ONE resync scan of the primary — stale means
  * rebuilt, never silently wrong. Tombstone rows (null filename) map to
  * bucket 0, which every read includes.
  */
final class SitemapMembers(val root: String, val numBuckets: Int = 64) {

  /** The underlying snapshot store: full SitemapEntry schema, keyed by
    * bibcode (so the cadence's keyed merges apply verbatim), laid out by
    * file ordinal, sorted by filename within buckets so the pushed
    * filename-IN predicate also skips row groups inside a bucket. */
  val store = new MasterStore(root, numBuckets = numBuckets,
    empty = SitemapState.empty,
    layout = Some(MasterStore.Layout(
      n => pmod(coalesce(SitemapMembers.ordinalExpr, lit(0)), lit(n)),
      sort = Seq("sitemap_filename"))))

  private def stampPath = Paths.get(root, "mirror.json")

  /** The (primary generation, own generation) pair the index mirrors;
    * None = never stamped or unreadable (→ resync). */
  def mirrorStamp(): Option[(Long, Long)] =
    try {
      val s = new String(Files.readAllBytes(stampPath), "UTF-8")
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(s)
      Some(((j \ "primaryGen").extract[Long], (j \ "selfGen").extract[Long]))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Fresh iff the stamp matches BOTH the given primary generation and
    * the index's own live generation (an out-of-band write to either
    * side invalidates). */
  def isFresh(primaryGen: Long): Boolean =
    mirrorStamp().exists { case (p, s) =>
      p == primaryGen && s == store.currentVersion.getOrElse(0L)
    }

  /** Re-stamp after the writer (cadence or resync) finished its updates
    * to both sides. */
  def commit(primaryGen: Long): Unit = {
    val body = s"""{"primaryGen":$primaryGen,"selfGen":${
      store.currentVersion.getOrElse(0L)}}"""
    Files.createDirectories(stampPath.getParent)
    val tmp = stampPath.resolveSibling("mirror.json.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, stampPath,
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One full-scan rebuild from the primary (the once-per-out-of-band-
    * mutation cost — the price the OLD path paid every cron). Logged:
    * a resync on every cron means something is wedging the stamp, and
    * the operator should see that instead of a silently slow cadence. */
  def resync(spark: SparkSession, primary: MasterStore): Unit = {
    val gen = primary.currentVersion.getOrElse(0L)
    System.err.println(s"[sitemap-members] mirror at $root is stale " +
      s"(stamp ${mirrorStamp()} vs primary gen $gen, self gen " +
      s"${store.currentVersion.getOrElse(0L)}); resyncing with one scan")
    store.write(primary.read(spark))
    commit(gen)
  }

  /** ∝-delta mirror of one keyed primary publish: same keys, same rows. */
  def merge(spark: SparkSession, keys: DataFrame, rows: DataFrame): Unit =
    store.writeMergeKeyed(spark, keys, _ => rows)

  /** Member rows of exactly the named files: the touched files' buckets
    * (plus tombstone bucket 0) open, nothing else. Sets
    * [[lastFilesOpened]]/[[lastFilesTotal]] for the bench/CLI accounting
    * that proves the prune. */
  def membersOf(spark: SparkSession, files: Seq[String]): DataFrame = {
    val buckets = files
      .flatMap(SitemapMembers.ordinalOf)
      .map(o => ((o % numBuckets) + numBuckets) % numBuckets)
      .toSet + 0
    val df = store.readBuckets(spark, buckets)
      .filter(col("sitemap_filename").isin(files: _*))
    def scanFiles(d: DataFrame): Int = d.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.relation.location.inputFiles.length).sum
    lastFilesOpened = scanFiles(df)
    lastFilesTotal = scanFiles(store.read(spark))
    df
  }

  /** Accounting for the last [[membersOf]]: parquet files the pruned plan
    * reads vs the store's base file count — the files-opened proof that
    * the members read is ∝ touched files, not ∝ corpus (the sitemap
    * cron prints them); correctness never reads these. */
  @volatile var lastFilesOpened: Int = -1
  @volatile var lastFilesTotal: Int = -1
}

object SitemapMembers {
  private val FileIdx = "sitemap_bib_(\\d+)\\.xml".r

  /** Driver-side ordinal of a sitemap filename (None = foreign name). */
  def ordinalOf(name: String): Option[Int] =
    FileIdx.findFirstMatchIn(name).map(_.group(1).toInt)

  /** Column twin of [[ordinalOf]] (null for null/foreign names) — MUST
    * stay in lockstep with the driver-side parse, or reads would prune
    * buckets the writer didn't use. */
  def ordinalExpr: org.apache.spark.sql.Column =
    regexp_extract(col("sitemap_filename"), "sitemap_bib_(\\d+)\\.xml", 1)
      .cast("int")
}
