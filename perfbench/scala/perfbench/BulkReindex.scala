package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.records.UpdateMessage
import graft.sources.MasterStore

/** `bulk_reindex`: the twice-daily forced full reindex over a standing
  * corpus of already-processed records. Each op is one
  * `Pipeline.runBatch` called with the arguments `Cli -r sml -f -s
  * "1972-01-01 00:00:00"` passes: no messages, force and ignore checksums,
  * table-wide, all three sinks, the open since-window (without `-s` every
  * forced run after the first would index nothing). Every record is gated,
  * transformed, built into three payloads, delivered, stamped, and the
  * snapshot is published. It is called directly, not through `Cli.run`, so
  * the traced run records its `stageTimer` split. */
object BulkReindex {
  /** Standing corpus every op reindexes. */
  val CorpusRecords = 3000L
  /** Untimed ops before the timed ones: the first is the cold one. */
  val WarmOps = 2
  /** Nominal wall of one op at HEAD (sets the op count from --seconds). */
  val NominalOpS = 6.0
  val MinOps = 2
  /** Timed ops of a traced run, which ends with the queue probe (about
    * 50 s): fewer, so that the run stays well inside its time limit. */
  val TracedOps = 2

  val Since: Timestamp = Timestamp.valueOf("1972-01-01 00:00:00")
  val AllSinks: Set[String] = Set("solr", "metrics", "links")

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val gen = r.gen
    val now0 = System.currentTimeMillis()
    def corpus(n: Long): DataFrame =
      gen.standingCorpus(spark.range(0, n).toDF("k"), now0 - 3 * 86400000L, now0 - 2 * 86400000L)

    /** One forced full reindex of `store`, as `Cli -r sml -f -s` runs it. */
    def reindex(store: MasterStore, family: String): (Pipeline.RunReport, Span) =
      r.trace.timed("reindex", family) { s =>
        graft.operators.Scheduling.withPriority(spark, 0) {
          Pipeline.runBatch(spark, store, spark.emptyDataset[UpdateMessage],
            CountingSolr, CountingBulk, watermarkDir = None, force = true,
            ignoreChecksums = true, now = new Timestamp(System.currentTimeMillis()),
            sinks = AllSinks, sinceOverride = Some(Since), updateProcessed = true,
            stageTimer = (name, secs) => { r.trace.child(s, name, secs); () })
        }
      }

    // ── set-up: the corpus, then untimed ops of the timed shape on it ──
    val root = s"${r.work}/master"
    val store = new MasterStore(root)
    store.write(corpus(CorpusRecords))
    r.log("corpus written")
    for (i <- 1 to WarmOps) {
      reindex(store, "warmup")
      r.log(s"warm-up $i")
    }
    var lastDigest = StoreDigest.of(store.read(spark))
    r.beginTimed()

    // ── timed: a fixed number of forced reindexes ───────────────────────
    val n = if (r.trace.enabled) TracedOps else Run.opsFor(r.seconds, NominalOpS, MinOps)
    val sinkDocs, sinkBytes, bulkDocs, suppressed, layerBytes, snapBytes =
      scala.collection.mutable.ArrayBuffer.empty[Double]
    var solrFailed = 0L
    val shape = new StoreShape(store)
    for (i <- 1 to n) {
      val filesBefore = Run.treeFiles(root)
      val d0 = Delivered.snapshot()
      val (report, _) = r.timedOp(reindex(store, "reindex"))
      val d = Delivered.snapshot() - d0
      r.check(s"op $i delivers every record once per sink",
        report.indexed == CorpusRecords && d.solr == CorpusRecords &&
          d.metrics == CorpusRecords && d.links == CorpusRecords && report.solrFailed == 0,
        s"indexed ${report.indexed}, delivered $d, solrFailed ${report.solrFailed}")
      val digest = StoreDigest.of(store.read(spark))
      r.check(s"op $i leaves the store's content unchanged",
        digest == lastDigest && digest._1 == CorpusRecords, s"$lastDigest -> $digest")
      lastDigest = digest
      val (layer, snap) = shape.afterOp(filesBefore)
      layerBytes += layer; snapBytes += snap
      sinkDocs += d.solr; sinkBytes += d.solrBytes; bulkDocs += d.bulk
      suppressed += 1.0 - (d.solr + d.bulk) / (3.0 * math.max(1L, report.indexed))
      solrFailed += report.solrFailed
      r.heapAfterGcMb()
    }
    r.endTimed()
    r.endToEnd("throughput_per_s") = n * CorpusRecords / r.ops.map(_.wall).sum

    def med(xs: Iterable[Double]) = Run.median(xs.toSeq)
    r.layer("sinks.solr_docs") = med(sinkDocs)
    r.layer("sinks.solr_bytes") = med(sinkBytes)
    r.layer("sinks.bulk_docs") = med(bulkDocs)
    r.layer("sinks.suppressed_frac") = med(suppressed)
    r.layer("sinks.failed") = solrFailed.toDouble
    r.layer("store.layer_bytes_written") = med(layerBytes)
    r.layer("store.snapshot_bytes_written") = med(snapBytes)
    shape.report(r)
    if (r.trace.enabled) {
      r.familyMetrics("reindex")
      def wall(family: String) = med(r.trace.spans.filter(_.family == family).map(_.wallS))
      r.layer("reindex.merge_read_s") = wall("reindex.merge_read")
      r.layer("reindex.publish_s") = wall("reindex.publish")
      r.layer("reindex.report_s") = wall("reindex.report")
      // the queue layers, on the reindexed store, after the timed region
      QueueCycle.probe(r, store, CorpusRecords)
    }
  }
}

/** Row count and order-free hash of the master columns that carry record
  * content (wall-clock stamps excluded). */
object StoreDigest {
  val Cols: Seq[String] = Seq("bibcode", "scix_id", "bib_data", "nonbib_data",
    "orcid_claims", "fulltext", "metrics", "augments", "classifications",
    "boost_factors", "solr_checksum", "metrics_checksum",
    "datalinks_checksum", "status")

  def of(df: DataFrame): (Long, Long) = {
    val row = df.select(count(lit(1)),
      coalesce(bit_xor(xxhash64(Cols.map(col): _*)), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }
}

/** The store's shape over the timed ops: live layers, compactions,
  * generations kept, and the bytes each op wrote, split into delta layers
  * and base snapshot files. */
final class StoreShape(store: MasterStore) {
  private var layersMax, gensMax, compactions = 0
  private var baseGen = store.stats.map(_.baseGen).getOrElse(0L)

  /** Reads the store after an op; returns the (layer, snapshot) bytes of
    * the files the op added. */
  def afterOp(filesBefore: Map[String, Long]): (Double, Double) = {
    val added = Run.treeFiles(store.root).filter { case (f, _) =>
      !filesBefore.contains(f) && f.endsWith(".parquet") }
    store.stats.foreach { s =>
      layersMax = math.max(layersMax, s.layerCount)
      if (s.baseGen != baseGen) compactions += 1
      baseGen = s.baseGen
    }
    gensMax = math.max(gensMax, store.versions.size)
    // MasterStore writes delta layers under d_* and base snapshots under v_*
    val (layer, base) = added.partition { case (f, _) => f.contains("/d_") }
    (layer.values.sum.toDouble, base.values.sum.toDouble)
  }

  def report(r: Run): Unit = {
    r.layer("store.layers_max") = layersMax
    r.layer("store.compactions") = compactions
    r.layer("store.generations_max") = gensMax
    r.layer("store.disk_per_live") = store.stats.map(s =>
      Run.treeFiles(store.root).values.sum.toDouble / math.max(1L, s.baseBytes + s.layerBytes))
      .getOrElse(0.0)
  }
}
