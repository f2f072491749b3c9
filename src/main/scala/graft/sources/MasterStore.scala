package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.operators.MergeEngine

/** Filesystem helpers shared by the stores (and the benches' workdir
  * resets — one recursive-delete idiom, not three). */
private[graft] object FsUtil {
  /** Recursive delete, children first; absent path is a no-op. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))
    finally walk.close()
  }
}

object MasterStore {
  /** True when `t`'s cause chain says a Spark job lost its INPUT files
    * mid-read (a concurrent vacuum/compaction removed a superseded
    * snapshot this job had lazily resolved). These failures are safe to
    * retry against a re-resolved snapshot; anything else (a genuine
    * transform bug, an executor OOM) must propagate. */
  def isVanishedInput(t: Throwable): Boolean = {
    var cur: Throwable = t
    var hops = 0
    while (cur != null && hops < 16) {
      cur match {
        case _: java.io.FileNotFoundException => return true
        // NIO's flavor (Files.size on a vacuumed carried file) is a
        // FileSystemException, NOT a FileNotFoundException, and its
        // message is just the path — match the type, not the text
        case _: java.nio.file.NoSuchFileException => return true
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage != null &&
              (e.getMessage.contains("PATH_NOT_FOUND") ||
               e.getMessage.contains("Path does not exist")) => return true
        case e if e.getMessage != null &&
            (e.getMessage.contains("FileNotFoundException") ||
             e.getMessage.contains("FILE_NOT_EXIST")) => return true
        case _ => ()
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
      hops += 1
    }
    false
  }

  /** Driver-side twin of Spark's `pmod(hash(key), n)` bucket assignment
    * (HashPartitioning's partitionIdExpression is
    * `Pmod(Murmur3Hash(exprs, seed=42), n)` — the same function
    * `functions.hash` exposes). Pinned against both the SQL expression
    * and actual shuffle-output file names in MasterStoreSpec, so a Spark
    * behavior change fails a test instead of silently mis-pruning. */
  def bucketOf(key: String, n: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(key)
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
    val m = h % n
    if (m < 0) m + n else m
  }

  /** Snapshot composition, for benches and file-reuse assertions.
    * `baseGen` is the base-fold horizon (history through it is folded
    * into the base); `feedFrom` is the change-feed horizon:
    * `changesSince(fromGen)` is readable for any `fromGen >= feedFrom`.
    * With retained fold history `feedFrom <= baseGen` — a consumer a few
    * compactions behind still reads the feed from the kept layers. */
  case class Stats(generation: Long, n: Int, baseFiles: Int, baseBytes: Long,
      layerCount: Int, layerBytes: Long, baseGen: Long = 0L,
      feedFrom: Long = 0L, historyLayerCount: Int = 0,
      historyBytes: Long = 0L, registeredConsumers: Int = 0,
      consumersBehind: Int = 0, consumersStale: Int = 0)

  /** Planner budget for [[MasterStore.lookupFrame]]'s AUTO crossover:
    * the pushed-IN plan grows per key AND is re-planned against every
    * delta-layer read, so the cost model is keys × (1 + live layers).
    * Measured boundaries: cron waves of ~2,500 keys over a low-layer
    * store are cheap and row-group-skip (the sitemap cadence and the
    * ops loop); 25k-key batches pay seconds of planner time per
    * micro-batch (3-6× the batch wall, the `pipeline` scale scenario). Auto therefore caps at
    * [[AutoInRegimeCap]] and discounts by layer count from this budget —
    * between the two measured points, deliberately closer to the good
    * one. */
  val InRegimePlannerBudget: Int = 30000

  /** Cap for the AUTO crossover (unmeasured territory above it — the
    * conservative side of the 25k-key planner-tax reading). */
  val AutoInRegimeCap: Int = 10000

  /** Absolute cap on keys collected to the driver for the IN regime
    * (≈ 0.5 MB of bibcodes) — beyond this the semi-join regime is the
    * right plan regardless of what the caller asked for. */
  val InRegimeHardCap: Int = 25000

  /** Default TTL after which a consumer registration that was never
    * refreshed stops stretching feed retention (and is reported stale):
    * a crashed consumer's cursor file would otherwise pin history to the
    * `feedRetainFoldsMax` cap FOREVER and hold the behind-alarm up. A
    * week comfortably covers every sane cron cadence while still
    * unpinning dead registrations without operator action. */
  val ConsumerTtlMs: Long = 7L * 24 * 3600 * 1000

  /** A generation was published and its data directory was then found
    * deleted (the orphan-sweep TOCTOU fired). Deliberately its own type:
    * maintenance catch-blocks that log-and-continue on ordinary
    * post-publish failures must NOT swallow this one — the store needs
    * operator attention, not a retry. */
  final class TornGenerationException(msg: String) extends RuntimeException(msg)

  /** A change-feed cursor is AHEAD of the store's live generation — the
    * store was recreated (or the cursor belongs to another store), an
    * operator condition, not a retryable read. Its own type (subclassing
    * IllegalStateException for source compatibility) so CLI handlers
    * dispatch on the CONDITION instead of matching message text, and so
    * the behind-horizon fallback catches can never swallow it. It carries
    * the cursor and the live generation it was checked against. */
  final class CursorAheadException(val cursor: Long, val live: Long, msg: String)
      extends IllegalStateException(msg)

  /** A change-feed read fell BEHIND the retention horizon (history folded
    * and aged out) — the expected slow-consumer condition every caller
    * recovers from by re-baselining with a full read. Typed so fallback
    * catches name exactly this condition rather than any
    * IllegalStateException a bug might raise. */
  final class FeedHorizonException(msg: String) extends IllegalStateException(msg)

  /** Highest manifest format this binary understands END TO END. Reads
    * tolerate unknown fields, but MAINTENANCE (vacuum/truncate) must not:
    * a future format may carry live file references this binary's
    * reference-counting doesn't know about (exactly what format 3's
    * retained history added), and sweeping "unreferenced" files against a
    * newer manifest deletes data the newer readers still advertise. */
  val SupportedManifestFormat: Int = 3

  /** Custom physical layout for a SECONDARY-INDEX store: `bucket(n)` maps
    * a row to its bucket id by row CONTENT (replacing the default
    * `pmod(hash(keyCol), n)`), and `sort` names extra within-bucket sort
    * columns (applied between the bucket column and the key, so parquet
    * row-group min/max stats line up with the layout's read predicate).
    *
    * Contract: the bucket expression must be TOTAL — rows whose layout
    * columns are null (tombstones carry null non-key columns) must map to
    * a fixed bucket that every layout-pruned read includes. Because the
    * bucket is not derivable from the key alone, key-driven bucket
    * pruning is off for such a store (keyed reads/merges scan all
    * buckets); layout stores are read through [[MasterStore.readBuckets]]
    * with bucket ids the CALLER derives from the same layout function.
    * The engine's use: [[graft.operators.SitemapMembers]], the
    * file-ordinal twin of the sitemap state table. */
  final case class Layout(bucket: Int => org.apache.spark.sql.Column,
      sort: Seq[String] = Nil)

  /** Orphan grace for vacuums that run on the publish cadence: an
    * unreferenced `v_`/`d_` dir younger than this is presumed to be a
    * concurrent writer's in-flight attempt and survives the sweep; older
    * means crashed/abandoned (a live writer's dir has fresh mtimes while
    * it writes, and no healthy merge attempt spans an hour on a
    * 5-minute cadence). */
  val CadenceOrphanGraceMs: Long = 60L * 60 * 1000
}

/** Snapshot store for the mutable master table on immutable columnar
  * storage (SURVEY.md §7.4 risk 2).
  *
  * The reference mutates Postgres rows in place and relies on the database
  * to serialize concurrent ingest workers (`update_storage` runs inside a
  * session transaction, adsmp/app.py:120-195); here every mutation batch
  * publishes the next immutable snapshot behind a generation-numbered
  * compare-and-swap pointer:
  *
  *   root/
  *     v_<nonce>/            base bucket files (parquet, hash-distributed
  *                           by keyCol; one UNIQUE dir per write attempt —
  *                           writers never share a data directory, so a
  *                           lost race can tear nothing)
  *     d_<nonce>/            delta-layer files (merged rows + tombstones
  *                           for ONE merge's key set)
  *     gen_<generation>      manifest: per-bucket base file lists + the
  *                           ordered delta layers that overlay them
  *
  * The live snapshot is the HIGHEST generation file; generation g+1 is
  * published by hard-linking a prepared temp file into place
  * (`Files.createLink` — link(2) fails with EEXIST if the name is taken,
  * the one true compare-and-swap a shared filesystem offers). A writer
  * that loses the CAS observes the winner's generation and re-applies its
  * delta on top of the winner's snapshot — both deltas always survive.
  *
  * '''Write amplification''' (the 100 TB concern): a keyed merge
  * (`writeMergeKeyed`) never rewrites the table — it writes ONE delta
  * layer holding exactly the merged rows (plus tombstones for deleted
  * keys) and publishes a manifest that carries every base bucket file
  * forward '''by reference'''. Write cost is therefore ∝ delta, not
  * ∝ table — the snapshot-store equivalent of the reference's per-row
  * Postgres upserts (adsmp/app.py:120-195). Readers reconcile layers over
  * the base with latest-generation-wins per key; `compact` periodically
  * folds accumulated layers into the base with bucket-level copy-on-write:
  * only buckets that hold layer keys are rewritten, untouched buckets'
  * parquet files are reused by path across generations. Layer volume is
  * bounded by the auto-compaction thresholds, so the read-side reconcile
  * joins against a frame that stays small relative to the base.
  *
  * Readers resolve the max generation once and read a consistent
  * snapshot; a crashed writer leaves at most an orphan data directory no
  * generation references, never a torn table. Old generations remain for
  * time travel until `vacuum` (whose `retain` parameter keeps a window of
  * superseded generations alive for slow in-flight readers).
  *
  * Scale: base buckets are hash-partitioned by keyCol into `__b=<b>`
  * directories so every merge-on-write join against a delta keyed by
  * keyCol co-partitions with AQE, and keyCol point-lookups prune to the
  * matching buckets' files. A bucket may hold several files: a write
  * shuffled with `repartition(n, keyCol)` leaves one file per bucket,
  * while [[rewrite]] over a snapshot with no live delta layer writes the
  * rows back with no shuffle, one file per bucket per input split (a
  * split holds whole bucket files or part of one, so unless a file is
  * larger than a split the rewrite leaves at most as many files as it
  * read). Either way every file holds exactly its bucket's keys, sorted.
  * At cluster scale `n` tracks corpus size (the 28.8M-row reference
  * corpus at ~2 KB/row → ~60 GB → a few hundred buckets).
  *
  * @param maxLayers      auto-compact after this many un-folded layers
  * @param layerFraction  auto-compact when layer bytes exceed this
  *                       fraction of the base (whichever trips first)
  * @param feedRetainFolds how many compaction folds' worth of retired
  *                       delta layers stay registered in the manifest for
  *                       change-feed serving only ([[changesSince]]).
  *                       Snapshot reads never touch them; their disk cost
  *                       is bounded (each fold's layers were already
  *                       bounded by the auto-compaction thresholds) and
  *                       they are vacuumed with the generations that stop
  *                       referencing them. 0 restores the one-fold-deep
  *                       horizon (a consumer one compaction behind must
  *                       re-baseline with a full table read — a real cost
  *                       at 100 TB, which is why retention defaults on)
  * @param feedRetainFoldsMax hard cap on retained fold groups when
  *                       REGISTERED consumer cursors
  *                       ([[registerConsumerCursor]]) ask for more than
  *                       `feedRetainFolds`: retention stretches to cover
  *                       the oldest registered cursor (a merely-slow cron
  *                       no longer silently ages out of its window) but
  *                       never past this bound — a dead consumer's stale
  *                       cursor bounds disk instead of pinning history
  *                       forever (the same cap/min-retention pair every
  *                       production table format's CDC retention has)
  */
class MasterStore(val root: String, numBuckets: Int = 8,
    empty: SparkSession => DataFrame = MergeEngine.emptyMaster,
    keyCol: String = "bibcode",
    maxLayers: Int = 16,
    layerFraction: Double = 0.25,
    feedRetainFolds: Int = 2,
    feedRetainFoldsMax: Int = 8,
    layout: Option[MasterStore.Layout] = None,
    consumerTtlMs: Long = MasterStore.ConsumerTtlMs) {

  import MasterStore._

  // the shared CAS-pointer protocol (list/read-latest/hard-link publish)
  // lives in GenerationLog — one primitive for this store AND
  // FingerprintIndexStore, so a protocol fix cannot miss one of them
  private val genLog = new GenerationLog(root, "gen_")
  private val BucketDir = raw"__b=(\d+)".r
  private val Deleted = "_deleted"
  private val BucketCol = "__b"

  // ---------------------------------------------------------------- model

  /** One keyed merge's output: merged rows + tombstones, overlaying every
    * older layer and the base. `seq` is the generation that published it
    * (unique: layers are only appended under the CAS). `buckets(b)` lists
    * this layer's files holding exactly the keys with
    * `pmod(hash(key), n) == b` — same layout as the base, so a keyed read
    * prunes layer FILES like base files instead of opening every layer
    * file and filtering rows. Empty `buckets` marks a layer written
    * before this format (pruning falls back to the row predicate over
    * `files`); `files` always lists every file either way (truncate and
    * vacuum reference it). */
  private case class Layer(seq: Long, files: Seq[String], bytes: Long,
      buckets: Vector[Vector[String]] = Vector.empty)

  /** What a generation pointer resolves to: `buckets(b)` lists the base
    * parquet files holding exactly the keys with `pmod(hash(key), n) == b`
    * (files are root-relative `dir/name` paths and may live in dirs first
    * written by OLDER generations — that reuse is the copy-on-write), plus
    * the ordered delta layers that overlay the base. `n == 1` marks a
    * legacy single-dir snapshot with unknown internal bucketing: reads
    * stay correct (every key maps to bucket 0 = all files), pruning is
    * just inert until the first compaction re-buckets it. `baseGen` is
    * the generation whose publish last REWROTE the base (a blind write,
    * a whole-table merge, or a compaction fold) — live layers only hold
    * history newer than it.
    *
    * `history` is the change-feed retention past the base folds: the
    * retired layers of the most recent `feedRetainFolds` compactions,
    * grouped per fold (oldest fold first), kept in the manifest for
    * [[changesSince]] ALONE — snapshot reads ([[reconcile]]) never touch
    * them, because their content is already folded into the base. That
    * makes `feedFrom` (not `baseGen`) the feed horizon: per-key history
    * since any `fromGen >= feedFrom` is fully held in history + live
    * layers; older history has been both folded AND retired past the
    * retention window, so it is no longer separable (the consumer
    * re-baselines with a full read — every production table format's
    * change feed has this same retention-bounded contract). */
  private case class Manifest(n: Int, buckets: Vector[Vector[String]],
      baseBytes: Long, layers: Vector[Layer], baseGen: Long = 0L,
      history: Vector[Vector[Layer]] = Vector.empty, feedFrom: Long = 0L,
      format: Int = SupportedManifestFormat) {
    def baseFiles: Seq[String] = buckets.flatten
    def layerBytes: Long = layers.map(_.bytes).sum
    def historyLayers: Seq[Layer] = history.flatten
  }

  private def emptyManifest = Manifest(numBuckets,
    Vector.fill(numBuckets)(Vector.empty), 0L, Vector.empty)

  private def manifestJson(m: Manifest): String = {
    import org.json4s.JsonDSL._
    def layerJson(l: Layer) =
      ("seq" -> l.seq) ~ ("bytes" -> l.bytes) ~
        ("files" -> l.files.toList) ~
        ("buckets" -> l.buckets.map(_.toList).toList)
    // format 3 = retained feed history (the `history` fold groups are
    // LIVE references). A pre-history binary parses this manifest fine
    // (unknown fields ignored) and reads correctly, but its vacuum would
    // not count history files as referenced — which is why the
    // MAINTENANCE paths (vacuum/truncate) refuse pointers whose format
    // exceeds [[MasterStore.SupportedManifestFormat]] instead of relying
    // on operators reading this comment
    org.json4s.jackson.JsonMethods.compact(org.json4s.jackson.JsonMethods.render(
      ("format" -> SupportedManifestFormat) ~ ("n" -> m.n) ~ ("baseBytes" -> m.baseBytes) ~
        ("baseGen" -> m.baseGen) ~ ("feedFrom" -> m.feedFrom) ~
        ("buckets" -> m.buckets.map(_.toList).toList) ~
        ("layers" -> m.layers.toList.map(layerJson)) ~
        ("history" -> m.history.toList.map(_.toList.map(layerJson)))))
  }

  private def parseManifest(s: String): Manifest = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val j = org.json4s.jackson.JsonMethods.parse(s)
    def layerOf(l: org.json4s.JValue): Layer =
      Layer((l \ "seq").extract[Long], (l \ "files").extract[List[String]],
        (l \ "bytes").extract[Long],
        (l \ "buckets").extractOrElse[List[List[String]]](Nil)
          .map(_.toVector).toVector)
    Manifest(
      (j \ "n").extract[Int],
      (j \ "buckets").extract[List[List[String]]].map(_.toVector).toVector,
      (j \ "baseBytes").extract[Long],
      (j \ "layers").extract[List[org.json4s.JValue]].map(layerOf).toVector,
      // -1 marks a pre-baseGen manifest: the snapshot() caller patches it
      // to the pointer's own generation, so the change feed reports
      // "available from here on" instead of falsely claiming coverage of
      // history that older base rewrites already folded away
      (j \ "baseGen").extractOrElse[Long](-1L),
      (j \ "history").extractOrElse[List[List[org.json4s.JValue]]](Nil)
        .map(_.map(layerOf).toVector).toVector,
      // pre-retention manifests: the feed horizon IS the base horizon
      (j \ "feedFrom").extractOrElse[Long](-1L),
      // manifests older than the format field itself are format 1
      (j \ "format").extractOrElse[Int](1))
  }

  /** Maintenance-path guard against a NEWER binary's manifests: refuse to
    * reference-count (and therefore to delete by elimination) against a
    * pointer whose format this binary doesn't fully understand. */
  private def requireMaintainable(m: Manifest, what: String): Unit =
    if (m.format > SupportedManifestFormat)
      throw new IllegalStateException(
        s"MasterStore at $root: a live generation pointer has manifest " +
          s"format ${m.format}, newer than this binary's supported " +
          s"$SupportedManifestFormat — refusing $what: it may carry live " +
          "file references this binary's reference-counting cannot see. " +
          "Upgrade the binary before running maintenance")

  /** Data files under `dir` (root-relative paths, flat or one
    * `__b=<bucket>` level deep) with sizes. */
  private def listParquet(dir: String): Seq[(String, Long)] = {
    val p = Paths.get(root, dir)
    if (!Files.isDirectory(p)) return Nil
    val walk = Files.walk(p, 2)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.startsWith("part-") &&
          f.getFileName.toString.endsWith(".parquet"))
        .map(f => Paths.get(root).relativize(f).toString -> Files.size(f))
        .toSeq
    } finally walk.close()
  }

  /** Bucket id a base data file's path encodes. Buckets are materialized
    * as `partitionBy` DIRECTORIES (`v_x/__b=7/part-….parquet`), NOT read
    * off shuffle part numbers: an explicit `repartition(n, key)` whose
    * child is already hash-partitioned on the key gets elided by the
    * planner, and AQE may then coalesce the upstream (coalescable)
    * shuffle — after which part-file indexes no longer say anything
    * about key hashes. The directory name is written from the computed
    * `pmod(hash(key), n)` COLUMN, so it is correct under any shuffle
    * topology. */
  private def bucketOfFile(relPath: String): Int =
    relPath.split('/').collectFirst { case BucketDir(b) => b.toInt }
      .getOrElse(sys.error(s"unbucketed data file in $root: $relPath"))

  /** Resolve a pre-manifest pointer (one line: the data dir): one bucket
    * holding every file — correct, pruning-inert, upgraded on compact. A
    * pointer referencing a MISSING dir is a corrupt (or concurrently
    * vacuumed) snapshot and must surface, never read as an empty table;
    * FileNotFoundException puts it in the vanished-input class the
    * merge/compact retry loops re-resolve on. */
  private def legacyManifest(dir: String): Manifest = {
    if (!Files.isDirectory(Paths.get(root, dir)))
      throw new java.io.FileNotFoundException(
        s"MasterStore at $root: generation pointer references missing data dir $dir")
    val fs = listParquet(dir)
    Manifest(1, Vector(fs.map(_._1).toVector), fs.map(_._2).sum, Vector.empty,
      baseGen = -1L, feedFrom = -1L)
  }

  /** (generation, pointer file) pairs of all published generations. */
  private def generations(): Seq[(Long, Path)] = genLog.generations()

  private def parsePointer(content: String): Manifest = {
    val c = content.trim
    if (c.startsWith("{")) parseManifest(c)
    else legacyManifest(c)
  }

  /** The highest generation, read consistently against concurrent vacuums
    * (GenerationLog re-lists on a vanished max pointer). Returns
    * (0, None) for a new store. */
  private def snapshot(): (Long, Option[Manifest]) =
    genLog.latest() match {
      case Some((g, content)) =>
        val m0 = parsePointer(content)
        val m1 = if (m0.baseGen < 0) m0.copy(baseGen = g) else m0
        (g, Some(if (m1.feedFrom < 0) m1.copy(feedFrom = m1.baseGen) else m1))
      case None => (0L, None)
    }

  def currentVersion: Option[Long] = snapshot() match {
    case (0L, None) => None
    case (g, _)     => Some(g)
  }

  // -------------------------------------------------- feed consumer cursors

  private def consumersDir: Path = Paths.get(root, "consumers")

  /** Register (or advance) a change-feed consumer's cursor so [[compact]]'s
    * history aging can respect it: retention stretches past
    * `feedRetainFolds` to keep the feed readable from the OLDEST
    * registered cursor, bounded by `feedRetainFoldsMax`. Registration is
    * optional — an unregistered consumer gets exactly the fixed-window
    * behavior (and the table-wide fallback when it oversleeps it).
    * One tiny temp+rename file per consumer under `root/consumers/`;
    * each consumer is its own file's only writer (the same per-consumer
    * single-writer contract the watermark dirs have). */
  def registerConsumerCursor(name: String, gen: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"unsafe consumer name: $name")
    Files.createDirectories(consumersDir)
    val tmp = consumersDir.resolve(s"$name.tmp")
    Files.write(tmp, gen.toString.getBytes("UTF-8"))
    Files.move(tmp, consumersDir.resolve(name),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Drop a consumer's registration (its history pin ends at the next
    * fold; the cursor in its own watermark dir is untouched). */
  def unregisterConsumer(name: String): Unit =
    Files.deleteIfExists(consumersDir.resolve(name))

  /** One registered consumer cursor: its generation and how long ago the
    * registration was last refreshed (every `registerConsumerCursor`
    * rewrite resets the clock). `stale` = past this store's TTL — the
    * registration stops stretching retention and is reported, instead of
    * a crashed consumer pinning `feedRetainFoldsMax` of history forever. */
  case class ConsumerCursor(gen: Long, ageMs: Long) {
    def stale: Boolean = ageMs > consumerTtlMs
  }

  /** Registered consumer cursors (name → cursor + freshness). Unparsable
    * entries are skipped: a half-written file must degrade a pin, never
    * wedge compaction. */
  def consumerCursorsDetailed: Map[String, ConsumerCursor] = {
    if (!Files.isDirectory(consumersDir)) return Map.empty
    val listing = Files.list(consumersDir)
    val nowMs = System.currentTimeMillis()
    try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".tmp"))
        .flatMap { p =>
          val name = p.getFileName.toString
          try Some(name -> ConsumerCursor(
            new String(Files.readAllBytes(p), "UTF-8").trim.toLong,
            math.max(0L, nowMs - Files.getLastModifiedTime(p).toMillis)))
          catch { case scala.util.control.NonFatal(_) => None }
        }.toMap
    } finally listing.close()
  }

  /** Registered consumer cursors (name → generation), stale ones
    * included — the registry view; retention itself uses only the FRESH
    * subset (see [[compact]]). */
  def consumerCursors: Map[String, Long] =
    consumerCursorsDetailed.map { case (n, c) => n -> c.gen }

  /** Published generation numbers, oldest first. */
  def versions: Seq[Long] = generations().map(_._1).sorted

  /** Snapshot composition (file/byte counts) plus the consumer lag view:
    * `consumersBehind` counts registered cursors already BEHIND the feed
    * horizon — each would fall back to a table-wide re-baseline if it ran
    * now, the condition an operator dashboard should alarm on. */
  def stats: Option[Stats] = snapshot() match {
    case (g, Some(m)) =>
      val cursors = consumerCursorsDetailed
      Some(Stats(g, m.n, m.baseFiles.size, m.baseBytes,
        m.layers.size, m.layerBytes, m.baseGen, m.feedFrom,
        m.historyLayers.size, m.historyLayers.map(_.bytes).sum,
        registeredConsumers = cursors.size,
        // behind counts FRESH cursors only — a stale one no longer pins
        // retention, so alarming on it as "behind" would be noise; it
        // has its own counter for the dashboard instead
        consumersBehind =
          cursors.values.count(c => !c.stale && c.gen < m.feedFrom),
        consumersStale = cursors.values.count(_.stale)))
    case _ => None
  }

  /** The live manifest's per-bucket base file lists (root-relative paths)
    * — exposed so specs can assert cross-generation file REUSE, the
    * copy-on-write invariant. */
  def bucketFileLists: Option[Vector[Seq[String]]] =
    snapshot()._2.map(_.buckets.map(_.toSeq))

  /** One unique data directory per write attempt. The nonce keeps two
    * racing writers (or a writer and its own crashed prior attempt) out
    * of each other's files — the "torn v_N directory" failure mode of a
    * shared version-numbered path cannot occur. */
  private def freshDir(prefix: String): String =
    prefix + java.util.UUID.randomUUID.toString.replace("-", "").take(16)

  // ---------------------------------------------------------------- reads

  // the store's schema, taken from `empty` once per store
  @volatile private var schemaMemo: StructType = _

  private def masterSchema(spark: SparkSession): StructType = {
    if (schemaMemo == null) schemaMemo = empty(spark).schema
    schemaMemo
  }

  private def masterCols(spark: SparkSession): Array[String] = masterSchema(spark).fieldNames

  /** The files at `relPaths`, read with the store's known schema (plus
    * `_deleted` for delta-layer files) instead of one inferred from their
    * footers: building the frame lists the files and runs no Spark job. */
  private def readFiles(spark: SparkSession, relPaths: Seq[String],
      layer: Boolean): DataFrame = {
    val schema =
      if (layer) masterSchema(spark).add(Deleted, BooleanType) else masterSchema(spark)
    spark.read.schema(schema).parquet(relPaths.map(Paths.get(root, _).toString): _*)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** Latest-generation-wins reconcile of the delta layers over the base.
    * `bucketFilter` prunes BOTH sides to the named buckets (layer rows by
    * predicate, base files by manifest lookup) — callers guarantee the
    * keys they care about hash into that set. The base side is never
    * shuffled: layer keys ride an anti-join whose build side AQE
    * broadcasts while layers are small (the steady state under
    * auto-compaction); a rare table-sized layer degrades to a shuffle
    * join, and the size-triggered compaction folds it away. */
  private def reconcile(spark: SparkSession, m: Manifest,
      bucketFilter: Option[Set[Int]]): DataFrame = {
    val cols = masterCols(spark)
    val baseFiles = bucketFilter match {
      case Some(bs) if m.n > 1 =>
        bs.toSeq.sorted.flatMap(b => if (b < m.buckets.length) m.buckets(b) else Nil)
      case _ => m.baseFiles
    }
    val base =
      if (baseFiles.isEmpty) empty(spark)
      else readFiles(spark, baseFiles, layer = false)
    // a layer with zero files held zero rows — nothing to overlay
    val neLayers = m.layers.filter(_.files.nonEmpty)
    if (neLayers.isEmpty) return base

    // layer pruning mirrors base pruning: a bucketed layer contributes
    // only the touched buckets' FILES (untouched layer files never open);
    // a pre-format layer falls back to opening its files and pruning rows
    // by the hash predicate
    val layerFrames = neLayers.flatMap { l =>
      (bucketFilter match {
        case Some(bs) if m.n > 1 && l.buckets.nonEmpty =>
          val fs = bs.toSeq.sorted
            .flatMap(b => if (b < l.buckets.length) l.buckets(b) else Nil)
          if (fs.isEmpty) None
          else Some(readFiles(spark, fs, layer = true))
        case Some(bs) if m.n > 1 =>
          Some(readFiles(spark, l.files, layer = true)
            .filter(bucketExpr(m.n).isin(bs.toSeq.map(Int.box): _*)))
        case _ => Some(readFiles(spark, l.files, layer = true))
      }).map(_.withColumn("_seq", lit(l.seq)))
    }
    if (layerFrames.isEmpty) return base
    val layers = layerFrames.reduce(_.unionByName(_))
    val others = cols.filterNot(_ == keyCol)
    val latest = layers.groupBy(col(keyCol))
      .agg(max_by(struct((others.map(col) :+ col(Deleted)).toIndexedSeq: _*),
        col("_seq")).as("_r"))
    val live = latest.filter(!col("_r").getField(Deleted))
      .select(col(keyCol) +: others.map(c => col("_r").getField(c).as(c)): _*)
    val layerKeys = layers.select(col(keyCol)).distinct()
    base.join(layerKeys, Seq(keyCol), "left_anti")
      .select(cols.map(col).toIndexedSeq: _*)
      .unionByName(live)
  }

  /** Read the live snapshot (empty frame when the store is new). */
  def read(spark: SparkSession): DataFrame = snapshot() match {
    case (_, Some(m)) => reconcile(spark, m, None)
    case _            => empty(spark)
  }

  /** Bucket-pruned read of the live snapshot: only the named buckets'
    * base AND layer files open (manifest file pruning, zero jobs to
    * plan). For [[MasterStore.Layout]] stores, whose bucket ids the
    * CALLER derives from the layout function — include the layout's
    * fixed null/tombstone bucket, or removed keys' tombstones would be
    * invisible and deleted rows would resurrect. Correct on a key-hash
    * store too (callers guaranteeing their keys hash into the set). */
  def readBuckets(spark: SparkSession, buckets: Set[Int]): DataFrame =
    snapshot() match {
      case (_, Some(m)) =>
        reconcile(spark, m, if (m.n <= 1) None else Some(buckets))
      case _ => empty(spark)
    }

  /** Bulk keyed read — the engine analog of the reference's
    * `get_records_bulk` / `get_sitemap_info_bulk`
    * (adsmp/app.py:279-352; timed in tests/test_app.py:818-1008). The
    * reference chunks `IN (...)` queries against Postgres and assembles a
    * driver-side dict; here the manifest prunes the scan to the buckets
    * the keys hash into (files of other buckets never open), the key list
    * rides an IN-list predicate so Catalyst pushes it into the parquet
    * scan (visible as PushedFilters — non-matching row groups never leave
    * storage), and `loadOnly` is plain column selection whose pruning
    * reaches the scan's ReadSchema: a 2-column projection of a 30-column
    * master reads 2 columns, which is the whole point at 100 TB. The key
    * column always rides along (the reference's dict is keyed by
    * bibcode). An empty key list returns the empty frame without touching
    * storage, matching the reference's `{}` short-circuit. */
  def lookup(spark: SparkSession, keys: Seq[String],
      loadOnly: Seq[String] = Nil): DataFrame = {
    def project(df: DataFrame): DataFrame =
      if (loadOnly.isEmpty) df
      else df.select((keyCol +: loadOnly.filterNot(_ == keyCol)).map(col): _*)
    if (keys.isEmpty) return project(empty(spark)).limit(0)
    snapshot() match {
      case (_, Some(m)) =>
        // a Layout store's bucket is not derivable from the key — keyed
        // reads scan all buckets (the layout's own reads go through
        // readBuckets); the pushed IN predicate still prunes row groups
        val buckets =
          if (m.n <= 1 || layout.isDefined) None
          else Some(keys.map(k => bucketOf(k, m.n)).toSet)
        project(reconcile(spark, m, buckets))
          .filter(col(keyCol).isin(keys: _*))
      case _ => project(empty(spark)).limit(0)
    }
  }

  /** Keyed read with the key set as a FRAME — the form the streaming
    * consumer needs, where a catch-up batch's key set is bounded by the
    * batch but may be too large for [[lookup]]'s driver-side list.
    *
    * Two regimes behind one probe job. The key frame is collected up to
    * `maxDriverKeys` distinct keys:
    *  - fits: the buckets come from the driver-side Murmur3 twin and the
    *    keys ride an IN predicate that Catalyst pushes into the parquet
    *    scan — with the base's key-sorted-within-bucket layout the row
    *    groups outside the keys' ranges never leave storage. IO ∝ the
    *    keys' row groups.
    *  - overflows: Spark-side distinct-buckets (≤ numBuckets values
    *    reach the driver) + a left-semi join the optimizer broadcasts.
    *    IO ∝ touched buckets; compute ∝ batch.
    * The default crossover (`maxDriverKeys = -1`, "auto") is
    * LAYER-AWARE: a literal IN grows the analyzed plan per key and is
    * re-planned against every layer read, so the planner cost is
    * keys × (1 + live layers) — a 25k-key batch against a 16-layer
    * streaming store pays seconds of planner time per micro-batch (3-6×
    * the whole batch wall, the `pipeline` scale scenario) while the same
    * batch against a COMPACTED store is cheap and row-group-skips where
    * the semi join would column-scan the table (the cadence waves). Auto
    * resolves to max(2000, InRegimePlannerBudget / (1 + live layers))
    * capped at AutoInRegimeCap — a cron-wave-sized key set lands in the
    * pushed-IN regime exactly when the store's layer state makes that
    * the cheap plan. An EXPLICIT `maxDriverKeys` is exact (callers that
    * force a regime — specs, benches, the cadence's deliberate 25k —
    * keep their contract).
    * Either way nothing table-sized reaches the driver and the merge
    * work downstream is keyed — the compute-side counterpart of
    * `writeMergeKeyed`'s delta-layer write.
    *
    * Reference analog: the queue consumer's per-message row fetch inside
    * `task_index_records` (adsmp/tasks.py:300-360 via app.get_record) —
    * the reference never scans its table to serve an ingest batch. */
  def lookupFrame(spark: SparkSession, keys: DataFrame,
      loadOnly: Seq[String] = Nil, maxDriverKeys: Int = -1): DataFrame = {
    def project(df: DataFrame): DataFrame =
      if (loadOnly.isEmpty) df
      else df.select((keyCol +: loadOnly.filterNot(_ == keyCol)).map(col): _*)
    snapshot() match {
      case (_, Some(m)) =>
        // null keys can never match a stored row (the store's key column
        // is non-null); dropped HERE so both regimes agree — the semi
        // join ignores nulls anyway, but the driver-list regime would
        // NPE in bucketOf
        val k = keys.select(col(keys.columns.head).as(keyCol))
          .filter(col(keyCol).isNotNull).distinct()
        val effectiveMax =
          if (maxDriverKeys >= 0) maxDriverKeys // explicit: exact contract
          else {
            val liveLayers = m.layers.count(_.files.nonEmpty)
            math.min(MasterStore.AutoInRegimeCap, math.max(2000,
              MasterStore.InRegimePlannerBudget / (1 + liveLayers)))
          }
        val head = k.limit(effectiveMax + 1).collect().map(_.getString(0))
        if (head.length <= effectiveMax)
          lookup(spark, head.toIndexedSeq, loadOnly)
        else {
          // same expression family the bucketed layout was written with
          // (pmod(hash(key), n)); bounded collect: ≤ n distinct values.
          // A Layout store's buckets aren't key-derived — no prune
          val buckets =
            if (m.n <= 1 || layout.isDefined) None
            else Some(k.select(pmod(hash(col(keyCol)), lit(m.n)).cast("int").as("b"))
              .distinct().collect().map(_.getInt(0)).toSet)
          project(reconcile(spark, m, buckets)).join(k, Seq(keyCol), "left_semi")
        }
      case _ => project(empty(spark)).limit(0)
    }
  }

  /** Change-data feed: the per-key NET change between generation
    * `fromGen` (exclusive) and the live snapshot, read from the retained
    * delta layers ALONE — cost ∝ changed rows, never ∝ table. This is
    * how an incremental downstream (a catch-up indexer, a replica, the
    * watermark sweep's ST1 shape) should ask "what moved since my last
    * run" at 100 TB: the alternative — diffing two table snapshots or
    * scanning `updated > ts` — pays the corpus.
    *
    * Output: every master column for the key's newest state in the
    * window, plus `_deleted` (true = the key's last change in the window
    * was a tombstone; the other columns are null) and `_gen` (the
    * generation that published that newest change). One row per changed
    * key — intermediate versions inside the window collapse,
    * latest-generation-wins, same reconcile rule readers use.
    *
    * Horizon contract (the same one every table format's change feed
    * has): the feed is readable iff `feedFrom <= fromGen <= live
    * generation`. A compaction fold moves its folded layers into the
    * manifest's retained HISTORY (feed-serving only — snapshot reads
    * never touch them), so the horizon `feedFrom` advances only when a
    * fold ages past the `feedRetainFolds` retention window, not on every
    * fold: a consumer a few compactions behind still catches up from the
    * kept layers at cost ∝ its missed changes. Callers behind the
    * horizon get a loud IllegalStateException naming it, and re-baseline
    * with a full [[read]]; callers AHEAD of the live generation (a
    * consumer watermark outliving a recreated store) also fail loudly —
    * an empty feed there would silently under-report against a table
    * that no longer matches the watermark's lineage.
    *
    * Reference analog: the ChangeLog audit table + the `run.py` watermark
    * sweep's "changed since" selection (adsmp/models.py:127-141;
    * run.py:103-232) — there the database pays an indexed scan; here the
    * layers ARE the index. */
  def changesSince(spark: SparkSession, fromGen: Long): DataFrame = {
    val cols = masterCols(spark)
    def emptyFeed = empty(spark)
      .withColumn(Deleted, lit(false)).withColumn("_gen", lit(0L)).limit(0)
    val (g, mOpt) = snapshot()
    if (fromGen > g)
      throw new CursorAheadException(fromGen, g,
        s"MasterStore at $root: change-feed watermark $fromGen is AHEAD " +
          s"of the live generation $g — the store was recreated or the " +
          "watermark belongs to another store. Re-baseline with a full " +
          "read and reset the watermark")
    val m = mOpt.getOrElse(return emptyFeed)
    if (fromGen < m.feedFrom)
      throw new FeedHorizonException(
        s"MasterStore at $root: change feed for ($fromGen, $g] is not " +
          s"retained — history through generation ${m.feedFrom} has been " +
          s"folded into the base and aged past the $feedRetainFolds-fold " +
          s"retention window; the first readable fromGen is " +
          s"${m.feedFrom}. Re-baseline with a full read")
    val sel = (m.historyLayers ++ m.layers)
      .filter(l => l.seq > fromGen && l.files.nonEmpty)
    if (sel.isEmpty) return emptyFeed
    val all = sel.map(l =>
        readFiles(spark, l.files, layer = true).withColumn("_gen", lit(l.seq)))
      .reduce(_.unionByName(_))
    val others = cols.filterNot(_ == keyCol)
    all.groupBy(col(keyCol))
      .agg(max_by(
        struct((others.map(col) :+ col(Deleted) :+ col("_gen")).toIndexedSeq: _*),
        col("_gen")).as("_r"))
      .select(col(keyCol) +:
        (others :+ Deleted :+ "_gen").map(c => col("_r").getField(c).as(c)): _*)
  }

  // --------------------------------------------------------------- writes

  /** CAS publish: generation `expected`+1 carries `manifest` iff no other
    * writer published that generation first (GenerationLog's hard-link
    * CAS). */
  private def tryPublish(expected: Long, m: Manifest): Boolean =
    genLog.tryPublish(expected, manifestJson(m))

  private def deleteTree(p: Path): Unit = FsUtil.deleteTree(p)

  /** The bucket-id expression this store's physical layout uses — the
    * key-hash default, or the [[MasterStore.Layout]] override for a
    * secondary-index store. */
  private def bucketExpr(n: Int): Column =
    layout.map(_.bucket(n)).getOrElse(pmod(hash(col(keyCol)), lit(n)))

  /** Bucketed write into `dir`: the bucket id is computed as a column and
    * materialized as `partitionBy` directories (see [[bucketOfFile]] for
    * why part-file indexes can't be trusted), so every row lands in its
    * bucket's directory whatever the input's partitioning. With
    * `repartition` the rows are first shuffled on the bucket column, one
    * task per bucket (one file per bucket, no per-task dynamic-partition
    * sort); without it each input partition writes one file per bucket it
    * holds. */
  private def writeBucketed(df: DataFrame, n: Int, dir: String,
      repartition: Boolean = true): Unit = {
    val keyed = df.withColumn(BucketCol, bucketExpr(n).cast("int"))
    (if (repartition) keyed.repartition(n, col(BucketCol)) else keyed)
      // key-sorted WITHIN each bucket (after any layout sort columns):
      // row-group min/max stats become disjoint key (or layout-column)
      // ranges, so a keyed/layout read's pushed predicate skips row
      // groups instead of scanning the whole bucket — the classic
      // bucketed-sorted table, paid once per write (per-partition CPU,
      // no shuffle of its own)
      .sortWithinPartitions(
        (col(BucketCol) +: layout.toSeq.flatMap(_.sort.map(col)) :+ col(keyCol))
          .toIndexedSeq: _*)
      .write.mode("overwrite").partitionBy(BucketCol)
      .parquet(Paths.get(root, dir).toString)
  }

  /** Full-table write of `df` into a fresh dir. `readFrom` is the manifest
    * `df` was read through, when its rows are that snapshot's rows
    * rewritten in place: with no live delta layer the read is a plain scan
    * of the base files, whose splits are bucket-aligned, and the rows go
    * back with no repartition (the layout rule in the class doc). Any
    * other input (a frame from elsewhere, or a reconcile whose layer join
    * scattered the buckets) is repartitioned on the bucket column. */
  private def writeBase(df: DataFrame, readFrom: Option[Manifest] = None): (String, Manifest) = {
    val dir = freshDir("v_")
    writeBucketed(df, numBuckets, dir, repartition = readFrom.forall(m =>
      m.n != numBuckets || m.layers.exists(_.files.nonEmpty)))
    val files = listParquet(dir)
    val byBucket = files.groupBy(f => bucketOfFile(f._1))
    val buckets = Vector.tabulate(numBuckets)(b =>
      byBucket.getOrElse(b, Nil).map(_._1).sorted.toVector)
    (dir, Manifest(numBuckets, buckets, files.map(_._2).sum, Vector.empty))
  }

  /** Replace the whole table with `master` (blind write — the next
    * snapshot does not depend on the current one, so a lost CAS just
    * re-publishes the same data directory at the new generation; nothing
    * re-runs). A crashed attempt leaves an orphan directory no generation
    * references, and the replay (e.g. a restarted streaming micro-batch)
    * publishes a fresh identical snapshot. Concurrent read-modify-write
    * merges must use `writeMerge`/`writeMergeKeyed` — `write(read()
    * merged delta)` re-opens the lost-update window this store exists to
    * close. */
  def write(master: DataFrame, maxRetries: Int = 64): Long =
    blindWrite(maxRetries, "write")(() => writeBase(master))

  /** Replace the whole table with `rewriteRows` of the live snapshot, a
    * blind write like [[write]] whose input the store reads itself: the
    * primary writer's full sweep, which reads every row, rewrites it and
    * stores it back. `rewriteRows` must keep each row's key (it may stamp
    * or rebuild a row, not move it) and is the input's only consumer, so
    * the sweep and the write are ONE Spark action: over a snapshot with no
    * live delta layer, a single job with no shuffle (see [[writeBase]]).
    * Correctness never depends on that shape: a moved key still lands in
    * its bucket, in one more file.
    *
    * A lost CAS re-publishes the same directory. An input file vanished
    * mid-write (a concurrent vacuum) re-reads the snapshot and re-runs
    * `rewriteRows` in full, so any side effect it has runs again. */
  def rewrite(spark: SparkSession, rewriteRows: DataFrame => DataFrame,
      maxRetries: Int = 64): Long =
    blindWrite(maxRetries, "rewrite") { () =>
      // read INSIDE the retry: the read lists its files eagerly
      val m = snapshot()._2.getOrElse(emptyManifest)
      writeBase(rewriteRows(reconcile(spark, m, None)), Some(m))
    }

  /** The blind-publish loop behind [[write]] and [[rewrite]]: `attempt`
    * writes a fresh base directory, which is published at whatever
    * generation is live. */
  private def blindWrite(maxRetries: Int, what: String)(
      attempt: () => (String, Manifest)): Long = {
    var attempts = 0
    // if any attempt published a generation later found torn, retry
    // exhaustion must say THAT (the store needs the operator recovery the
    // assertDirSurvived paths prescribe), not the generic CAS-contention
    // message — a misleading error would send the operator hunting a
    // writer storm while the live pointer references swept files
    var tornGen: Long = -1L
    while (attempts <= maxRetries) {
      attempts += 1
      try {
        val (dir, m) = attempt()
        var g = snapshot()._1
        // a blind write REPLACES the table: per-key history relative to
        // prior generations is not expressible as layers, so the feed
        // horizon and the retained fold history both reset here
        while ({ ensureDirLive(dir)
                 !tryPublish(g, m.copy(baseGen = g + 1, feedFrom = g + 1)) })
          g = snapshot()._1
        // post-publish TOCTOU leg: a blind write SELF-HEALS — throwing
        // into the vanished-input catch re-writes the same table and
        // publishes it on top (its input never reads the torn generation,
        // which the next publish supersedes; readers in between retry
        // via the vanished-input class). The stderr line names the torn
        // generation FIRST, so a crash (or exhausted retries) before the
        // heal lands still leaves the operator the breadcrumb the
        // assertDirSurvived paths give loudly
        if (!Files.isDirectory(Paths.get(root, dir))) {
          tornGen = g + 1
          System.err.println(
            s"[master-store] generation ${g + 1} at $root was published " +
            s"referencing swept dir $dir; self-healing by re-publishing " +
            "the same table on top (if this process dies first, that " +
            "generation is torn — re-publish or vacuum its pointer)")
          throw new java.io.FileNotFoundException(
            s"torn generation ${g + 1}: data dir $dir swept before publish")
        }
        return g + 1
      } catch {
        // the fresh dir (or, for a rewrite, an input file) was swept
        // during a stall: write it again
        case t: Throwable if isVanishedInput(t) => ()
      }
    }
    if (tornGen >= 0)
      throw new TornGenerationException(
        s"CRITICAL: MasterStore.$what at $root exhausted $attempts " +
          s"attempts while generation $tornGen remains TORN (published " +
          "referencing a swept data dir; every self-heal attempt also " +
          s"failed). Re-publish the intended table from the previous " +
          s"generation, or vacuum generation $tornGen's pointer, before " +
          "resuming writes")
    failLoudly(attempts, what)
  }

  /** The pre-publish liveness check behind the grace-window orphan sweep:
    * a writer stalled past `orphanGraceMs` may find its not-yet-referenced
    * data dir swept by a concurrent cadence vacuum. Throwing HERE (the
    * vanished-input class) sends the writer around its retry loop with a
    * fresh dir instead of publishing a manifest that references deleted
    * files. Once `tryPublish` lands, the dir is referenced by a kept
    * generation and the sweep cannot touch it.
    *
    * The check-then-link pair is still a TOCTOU: a sweep can land in the
    * instant between them (it requires the writer to have ALREADY
    * stalled past the whole grace window, then lose a microsecond race).
    * [[assertDirSurvived]] closes that residual loudly: re-checked AFTER
    * a successful publish, a vanished dir raises immediately with
    * recovery instructions instead of leaving a silently torn
    * generation for readers to trip over. */
  private def ensureDirLive(dir: String): Unit =
    if (!Files.isDirectory(Paths.get(root, dir)))
      throw new java.io.FileNotFoundException(
        s"MasterStore at $root: data dir $dir vanished before publish " +
          "(orphan sweep during a stalled write attempt)")

  /** Post-publish leg of the TOCTOU closure (see [[ensureDirLive]]).
    * Deliberately NOT in the vanished-input class (retrying would
    * re-resolve the just-published broken generation and spin) and NOT
    * an anonymous RuntimeException (maintenance log-and-continue catches
    * exclude [[MasterStore.TornGenerationException]] by type, so the
    * auto-compaction path cannot launder this into a benign log line). */
  private def assertDirSurvived(dir: String, gen: Long): Unit =
    if (!Files.isDirectory(Paths.get(root, dir)))
      throw new TornGenerationException(
        s"CRITICAL: MasterStore at $root published generation $gen " +
          s"referencing data dir $dir which a concurrent orphan sweep " +
          "deleted (this writer stalled past the orphan grace window). " +
          s"Generation $gen is torn: re-publish from the previous " +
          s"generation (a blind write of the intended table, or vacuum " +
          s"generation $gen's pointer and retry) before resuming writes")

  private def failLoudly(attempts: Int, what: String): Nothing =
    sys.error(s"MasterStore.$what at $root gave up after $attempts attempts " +
      "(sustained CAS contention or repeatedly vanished input snapshots); " +
      "re-run when the writer storm subsides or raise maxRetries")

  /** Read-merge-publish with CAS retry — the engine-side replacement for
    * the reference's Postgres-serialized `update_storage`
    * (adsmp/app.py:120-195): `applyDelta` receives the CURRENT snapshot
    * and returns the merged table; if another writer published first, the
    * stale merge's data directory is dropped and the delta is re-applied
    * on top of the winner's snapshot. Two interleaved writers therefore
    * both land — neither merge can be silently discarded. `applyDelta`
    * must be re-runnable (pure in its input frame).
    *
    * Liveness under maintenance: a concurrent `vacuum`/`compact` may
    * delete THIS writer's lazily-resolved input files mid-job; that
    * failure class is caught, the snapshot re-resolved, and the merge
    * re-run (the FingerprintIndexStore probe discipline) — bounded, like
    * CAS losses, by `maxRetries`, after which the writer fails loudly
    * instead of starving forever behind a sustained faster writer.
    *
    * This is the whole-table path: every attempt rewrites all buckets.
    * Key-local deltas should use [[writeMergeKeyed]], whose cost is
    * ∝ delta. */
  def writeMerge(spark: SparkSession, applyDelta: DataFrame => DataFrame,
      maxRetries: Int = 64, onAttempts: Int => Unit = _ => ()): Long = {
    var attempts = 0
    while (attempts <= maxRetries) {
      attempts += 1
      val (g, mOpt) = snapshot()
      try {
        // constructed INSIDE the try: spark.read.parquet resolves the
        // listed files eagerly, so a vacuum racing between snapshot()
        // and here throws at construction, not at the action
        val current = mOpt.map(reconcile(spark, _, None)).getOrElse(empty(spark))
        val (dir, m) = writeBase(applyDelta(current))
        ensureDirLive(dir)
        // a whole-table merge rewrites the base from a transformed frame:
        // like a blind write, the result is not separable into per-key
        // layers, so feed history resets to this generation
        if (tryPublish(g, m.copy(baseGen = g + 1, feedFrom = g + 1))) {
          assertDirSurvived(dir, g + 1)
          onAttempts(attempts); return g + 1
        }
        // lost: this merge was computed against a superseded snapshot —
        // discard it and re-merge on top of the winner
        deleteTree(Paths.get(root, dir))
      } catch {
        // input snapshot vacuumed mid-merge: re-resolve and re-run
        case t: Throwable if isVanishedInput(t) => ()
      }
    }
    failLoudly(attempts, "writeMerge")
  }

  /** Key-local read-merge-publish whose cost is ∝ delta, not ∝ table —
    * the snapshot-store equivalent of the reference's per-row upserts
    * (adsmp/app.py:120-195, which touch only the arriving bibcodes'
    * rows, never the other 28.8M).
    *
    * `keys` is the delta's key set; `applyDelta` receives the CURRENT
    * rows for exactly those keys (fewer rows when some keys are new) and
    * returns the NEW rows for those keys. A key present in `keys` but
    * absent from the result is DELETED (tombstoned). Rows for keys
    * outside `keys` must not be produced — the merge is key-local by
    * contract, which is what lets the table's base buckets be carried
    * forward untouched, by reference.
    *
    * The published layer holds only the merged rows + tombstones, so a
    * lost CAS re-runs work ∝ delta (unlike `writeMerge`, where every
    * retry is a table rewrite). After publishing, layer accumulation is
    * folded by the auto-compaction thresholds (see class doc). */
  def writeMergeKeyed(spark: SparkSession, keys: DataFrame,
      applyDelta: DataFrame => DataFrame, maxRetries: Int = 64,
      onAttempts: Int => Unit = _ => ()): Long = {
    graft.Pins.scope("writeMergeKeyed") {
      val keyFrame = graft.Pins.cache(keys.select(col(keyCol)).distinct(), "store.mergeKeys")
      if (keyFrame.head(1).isEmpty) return snapshot()._1
      var attempts = 0
      while (attempts <= maxRetries) {
        attempts += 1
        val (g, mOpt) = snapshot()
        val m = mOpt.getOrElse(emptyManifest)
        try {
          val touched: Option[Set[Int]] =
            if (m.n <= 1 || layout.isDefined) None
            else Some(keyFrame
              .select(pmod(hash(col(keyCol)), lit(m.n)).cast("int").as("b"))
              .distinct().collect().map(_.getInt(0)).toSet)
          val currentForKeys = reconcile(spark, m, touched)
            .join(keyFrame, Seq(keyCol), "left_semi")
          val merged = applyDelta(currentForKeys)
          val schema = masterSchema(spark)
          val others = schema.filterNot(_.name == keyCol)
          val tombstones = keyFrame
            .join(merged.select(col(keyCol)), Seq(keyCol), "left_anti")
            .select(col(keyCol) +:
              others.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
            .withColumn(Deleted, lit(true))
          val layerDf = merged
            .select(schema.map(f => col(f.name)).toIndexedSeq: _*)
            .withColumn(Deleted, lit(false))
            .unionByName(tombstones)
          // the layer is written through the same bucketed-sorted layout
          // as the base (same n, same hash): keyed reads prune layer
          // FILES via the manifest exactly like base files, and the
          // within-bucket key sort gives layers the same row-group
          // skipping under pushed IN predicates
          val dir = freshDir("d_")
          writeBucketed(layerDf, m.n, dir)
          val files = listParquet(dir)
          val byBucket = files.groupBy(f => bucketOfFile(f._1))
          val layerBuckets = Vector.tabulate(m.n)(b =>
            byBucket.getOrElse(b, Nil).map(_._1).sorted.toVector)
          val m2 = m.copy(layers =
            m.layers :+ Layer(g + 1, files.map(_._1).sorted,
              files.map(_._2).sum, layerBuckets))
          ensureDirLive(dir)
          if (tryPublish(g, m2)) {
            assertDirSurvived(dir, g + 1)
            onAttempts(attempts)
            // the merge IS durably published at this point; compaction is
            // maintenance, re-triggered by the next merge if it loses its
            // own races — a compact failure must not make the caller
            // believe (and retry, and re-deliver) a landed merge. EXCEPT
            // a torn generation: that is not a retryable maintenance
            // hiccup but a store needing operator attention — swallowing
            // it here would let writes resume on top of the tear with a
            // log line asserting safety
            try maybeCompact(spark, m2)
            catch {
              case t: TornGenerationException => throw t
              case scala.util.control.NonFatal(t) => System.err.println(
                s"[master-store] post-publish compaction failed " +
                s"(merge v${g + 1} is safe; next merge re-triggers): $t")
            }
            return g + 1
          }
          deleteTree(Paths.get(root, dir))
        } catch {
          case t: Throwable if isVanishedInput(t) => ()
        }
      }
      failLoudly(attempts, "writeMergeKeyed")
    }
  }

  /** Fold thresholds: many small layers cost reconcile overhead, one huge
    * layer (a force full-sweep's) costs the anti-join its broadcast can't
    * cover — both trip a fold. Trigger check is driver-side arithmetic on
    * the manifest, zero jobs. */
  private def maybeCompact(spark: SparkSession, m: Manifest): Unit =
    if (m.layers.size >= maxLayers ||
        m.layerBytes > math.max((m.baseBytes * layerFraction).toLong, 16L << 20))
      compact(spark)

  /** Fold the delta layers into the base with bucket-level copy-on-write:
    * ONLY buckets holding layer keys are rewritten; every other bucket's
    * parquet files are carried into the new generation by reference
    * (byte-identical paths — asserted in MasterStoreSpec). A legacy or
    * differently-bucketed snapshot (manifest n ≠ numBuckets) is folded
    * whole, once, onto the current bucket count. Publishes through the
    * same CAS; a lost race re-resolves (the winner may have appended a
    * layer) and re-folds, bounded by `maxRetries`. Returns the published
    * generation, or the current one when there was nothing to fold. */
  def compact(spark: SparkSession, maxRetries: Int = 10): Long = {
    var attempts = 0
    while (attempts <= maxRetries) {
      attempts += 1
      val (g, mOpt) = snapshot()
      val m = mOpt.getOrElse(return g)
      // a layerless table still folds when the HANDLE's bucket count
      // differs from the manifest's — the bucket-count evolution lever
      // must work on a quiesced (already-compacted) store, which is
      // exactly when an operator would run it
      if (m.layers.isEmpty && m.n == numBuckets) return g
      try {
        val rebucket = m.n != numBuckets
        val neLayers = m.layers.filter(_.files.nonEmpty)
        if (neLayers.isEmpty && !rebucket) {
          // all pending layers held zero rows: fold them away pointer-only
          if (tryPublish(g, m.copy(layers = Vector.empty))) return g + 1
        } else {
          val touched: Set[Int] =
            if (rebucket) (0 until numBuckets).toSet
            // bucketed layers: the touched set is manifest arithmetic
            // (a bucket is touched iff some layer holds files for it) —
            // zero jobs; only pre-format layers need the key-hash scan
            else if (neLayers.forall(_.buckets.nonEmpty))
              neLayers.flatMap(_.buckets.zipWithIndex.collect {
                case (fs, b) if fs.nonEmpty => b
              }).toSet
            // pre-format layers only (a Layout store is post-format by
            // construction — its layers always carry bucket lists; if one
            // ever didn't, folding all buckets is correct, just unpruned)
            else if (layout.isDefined) (0 until m.n).toSet
            else neLayers.map(l =>
                readFiles(spark, l.files, layer = true).select(col(keyCol)))
              .reduce(_.unionByName(_))
              .select(pmod(hash(col(keyCol)), lit(m.n)).cast("int").as("b"))
              .distinct().collect().map(_.getInt(0)).toSet
          val folded = reconcile(spark, m, if (rebucket) None else Some(touched))
          val n2 = if (rebucket) numBuckets else m.n
          val dir = freshDir("v_")
          writeBucketed(folded, n2, dir)
          val files = listParquet(dir)
          val byBucket = files.groupBy(f => bucketOfFile(f._1))
          val buckets = Vector.tabulate(n2) { b =>
            if (rebucket || touched(b)) byBucket.getOrElse(b, Nil).map(_._1).sorted.toVector
            else if (b < m.buckets.length) m.buckets(b)
            else Vector.empty
          }
          val carried = if (rebucket) 0L else
            m.buckets.zipWithIndex.collect { case (fs, b) if !touched(b) => fs }
              .flatten.map(f => Files.size(Paths.get(root, f))).sum
          // the base horizon advances only as far as the history actually
          // folded: the newest non-empty layer's seq. Folding changes
          // nothing newer, so a consumer caught up to (or past) that seq
          // keeps reading across compactions — advancing to g+1 here
          // would spuriously force every caught-up consumer into a
          // full-table re-baseline after each auto-compaction
          val foldedHorizon =
            if (neLayers.isEmpty) m.baseGen
            else math.max(m.baseGen, neLayers.map(_.seq).max)
          // feed retention: the folded layers RETIRE into the manifest's
          // history (change-feed serving only) instead of vanishing;
          // groups older than the retention window age out, and only
          // THEN does the feed horizon advance — to the newest change the
          // aged-out groups held, because everything older is no longer
          // separable. The window is consumer-aware: at least
          // feedRetainFolds groups, stretched to cover the OLDEST
          // registered consumer cursor (a group is still needed while it
          // holds changes newer than that cursor), hard-capped at
          // feedRetainFoldsMax so a dead consumer's stale cursor bounds
          // disk instead of pinning history forever. The aged-out groups'
          // files lose their last manifest reference here and are
          // reclaimed by the next vacuum with the superseded generations
          val groups = (m.history :+ neLayers).filter(_.nonEmpty)
          // only FRESH registrations stretch retention: a cursor file not
          // refreshed within the TTL is a crashed consumer's — it ages
          // out of the pin (and shows up in stats.consumersStale) rather
          // than holding feedRetainFoldsMax of history forever
          val neededByConsumers = consumerCursorsDetailed.values
              .collect { case c if !c.stale => c.gen }.minOption match {
            case None => 0
            // groups are oldest-first with ascending seq ranges, so the
            // needed ones are a suffix; a group is needed iff it holds a
            // change the cursor has not consumed (seq > cursor)
            case Some(c) => groups.count(_.map(_.seq).max > c)
          }
          val keepFolds = math.min(math.max(feedRetainFoldsMax, feedRetainFolds),
            math.max(math.max(0, feedRetainFolds), neededByConsumers))
          val dropped = groups.dropRight(keepFolds)
          val feedFrom2 =
            if (dropped.isEmpty) m.feedFrom
            else math.max(m.feedFrom, dropped.flatten.map(_.seq).max)
          val m2 = Manifest(n2, buckets, files.map(_._2).sum + carried,
            Vector.empty, baseGen = foldedHorizon,
            history = groups.takeRight(keepFolds),
            feedFrom = feedFrom2)
          ensureDirLive(dir)
          if (tryPublish(g, m2)) {
            assertDirSurvived(dir, g + 1)
            return g + 1
          }
          deleteTree(Paths.get(root, dir))
        }
      } catch {
        case t: Throwable if isVanishedInput(t) => ()
      }
    }
    failLoudly(attempts, "compact")
  }

  /** M6 — truncate with backup (adsmp/app.py:1241-1261): publish a fresh
    * empty snapshot FIRST, then park the old snapshot's data dirs in the
    * backup dir — a crash between the two steps leaves a readable (empty)
    * table plus unmoved old dirs, never a live generation referencing a
    * moved directory. */
  def truncate(spark: SparkSession, backupDir: String): Unit = {
    val (_, old) = snapshot()
    // truncate MOVES the old snapshot's data dirs wholesale — a manifest
    // format this binary can't fully enumerate may reference dirs it
    // would leave behind (or worse, share), so refuse like vacuum does
    old.foreach(requireMaintainable(_, "truncate"))
    write(empty(spark))
    val oldDirs = old.toSeq.flatMap(m =>
      (m.baseFiles ++ (m.layers ++ m.historyLayers).flatMap(_.files))
        .map(_.split('/').head)).distinct
    if (oldDirs.nonEmpty) Files.createDirectories(Paths.get(backupDir))
    oldDirs.foreach { d =>
      val src = Paths.get(root, d)
      if (Files.exists(src))
        Files.move(src, Paths.get(backupDir, d), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // --------------------------------------------------------------- vacuum

  /** Files a manifest references (root-relative), plus the whole dirs a
    * LEGACY pointer references (its listing is dynamic, so the dir is
    * retained wholesale). */
  private def pointerRefs(p: Path): (Set[String], Set[String]) = {
    val content = new String(Files.readAllBytes(p), "UTF-8").trim
    if (content.startsWith("{")) {
      val m = parseManifest(content)
      // the sweep deletes by ELIMINATION from this reference set, so a
      // format newer than this binary (fields it can't count) must stop
      // the vacuum, not be silently under-counted
      requireMaintainable(m, "vacuum")
      // history layers are live references too: the retained change feed
      // reads them, so the sweep must not reclaim them until their fold
      // group ages out of the manifest
      ((m.baseFiles ++ (m.layers ++ m.historyLayers).flatMap(_.files)).toSet,
        Set.empty)
    } else (Set.empty, Set(content))
  }

  /** Drop superseded generations beyond the newest `retain` (≥ 1: the
    * live generation always survives) and every data file only those
    * dropped generations reference. File-granular: a dir whose files are
    * partially carried forward by a newer manifest keeps exactly the
    * carried files. `retain > 1` leaves a window of superseded snapshots
    * alive so slow in-flight readers/mergers don't lose their input
    * mid-job (they also retry on that failure class; retention makes the
    * race rare instead of merely survivable).
    *
    * `alsoOrphans = true` additionally removes unreferenced `v_`/`d_`
    * dirs (crashed or CAS-losing attempts). With `orphanGraceMs = 0`
    * that sweep cannot distinguish a dead orphan from a concurrent
    * writer's dir mid-write, so the immediate form is for quiesced
    * maintenance windows only. A nonzero `orphanGraceMs` makes the sweep
    * cadence-safe: an unreferenced dir is deleted only when its NEWEST
    * mtime (any file under it) is older than the grace — a live writer's
    * dir has fresh mtimes while it writes, so only abandoned attempts go
    * stale. A writer stalled past the grace is still safe from SILENT
    * corruption: every publish path re-checks its dir exists immediately
    * before the CAS ([[ensureDirLive]], retrying as vanished input) AND
    * immediately after it ([[assertDirSurvived]], raising with recovery
    * instructions if the sweep won the instant in between) — the same
    * contract as a table-format VACUUM retention override, where the
    * window must exceed the longest writer, except the failure beyond it
    * is loud and immediate instead of discovered by a later reader. */
  def vacuum(alsoOrphans: Boolean = false, retain: Int = 1,
      orphanGraceMs: Long = 0L): Unit = {
    val gens = generations().sortBy(_._1)
    if (gens.isEmpty) return
    val keepN = math.max(1, retain)
    val kept = gens.takeRight(keepN)
    val dropped = gens.dropRight(keepN)

    def refsOf(ps: Seq[(Long, Path)]): (Set[String], Set[String]) =
      ps.foldLeft((Set.empty[String], Set.empty[String])) { case ((fs, ds), (_, p)) =>
        try { val (f, d) = pointerRefs(p); (fs ++ f, ds ++ d) }
        catch { case _: java.nio.file.NoSuchFileException => (fs, ds) }
      }
    val (keptFiles, keptDirs) = refsOf(kept)
    val (dropFiles, dropDirs) = refsOf(dropped)

    // a dropped file survives if a kept manifest carries it, or if it
    // lives inside a dir a kept legacy pointer references wholesale
    def retained(f: String): Boolean =
      keptFiles.contains(f) || keptDirs.contains(f.split('/').head)
    (dropFiles.filterNot(retained) ++
      dropDirs.diff(keptDirs).flatMap(d => listParquet(d).map(_._1)).filterNot(retained))
      .foreach(f => Files.deleteIfExists(Paths.get(root, f)))
    dropped.foreach { case (_, p) => Files.deleteIfExists(p) }

    // remove data dirs that no longer hold any referenced file (their
    // remaining entries are writer metadata like _SUCCESS)
    val (allFiles, allDirs) = refsOf(generations())
    val referencedDirs = allFiles.map(_.split('/').head) ++ allDirs
    val listing = Files.list(Paths.get(root))
    val dirs = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala
        .filter(p => Files.isDirectory(p) && {
          val n = p.getFileName.toString
          n.startsWith("v_") || n.startsWith("d_")
        }).toVector
    } finally listing.close()
    // newest mtime anywhere under the dir; an entry vanishing mid-walk
    // means someone is actively mutating it — treat as fresh. Files.walk's
    // ITERATOR surfaces a vanished entry as UncheckedIOException (a
    // RuntimeException), not IOException — catch both flavors
    def newestMtimeMs(p: Path): Long =
      try {
        val walk = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .map(f => Files.getLastModifiedTime(f).toMillis)
            .foldLeft(0L)(math.max)
        } finally walk.close()
      } catch {
        case _: java.io.IOException           => Long.MaxValue
        case _: java.io.UncheckedIOException  => Long.MaxValue
      }
    val orphanCutoff = System.currentTimeMillis() - math.max(0L, orphanGraceMs)

    // A stalled writer may PUBLISH a generation referencing one of these
    // dirs between the referenced-set snapshot above and the delete below
    // (the sweep-side half of the TOCTOU the writers' assertDirSurvived
    // guards). Re-reading the pointer set immediately before each
    // irreversible orphan delete shrinks the unguarded window from "the
    // whole mtime walk" to the instant between this check and rmdir —
    // pointer files are a handful of small reads, so the re-check is
    // cheap. Dropped-generation dirs need no re-check: a newly published
    // generation only references files it wrote or files carried from
    // the previous manifest (already in the kept snapshot above), never
    // a superseded generation's unreferenced remains.
    def stillUnreferenced(name: String): Boolean = {
      val (fFresh, dFresh) = refsOf(generations())
      !dFresh.contains(name) && !fFresh.exists(_.startsWith(name + "/"))
    }
    dirs.foreach { p =>
      val name = p.getFileName.toString
      if (!referencedDirs.contains(name)) {
        val hasRefFile = listParquet(name).exists(f => allFiles.contains(f._1))
        // dirs of DROPPED generations are definitely dead (no writer is
        // mid-write inside a superseded snapshot) — no grace needed;
        // unreferenced orphans get the grace window + the fresh re-check
        val viaDropped = dropDirs.contains(name) ||
          dropFiles.exists(_.startsWith(name + "/"))
        val viaOrphan = alsoOrphans &&
          (orphanGraceMs <= 0L || newestMtimeMs(p) <= orphanCutoff)
        if (!hasRefFile &&
            (viaDropped || (viaOrphan && stillUnreferenced(name))))
          deleteTree(p)
      }
    }
  }
}
