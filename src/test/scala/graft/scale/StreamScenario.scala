package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import scala.concurrent.duration._

import graft.Fixtures.word
import graft.scale.Scale.timed

/** Sustained throughput of the streaming family from a file source (a
  * directory the crawler appends to, the production shape), with a
  * parquet sink and checkpointing on:
  *
  *  1. `StreamingPrep`, the admission funnel with retention (TTL) on:
  *     docs/s, the state-store row curve over micro-batches (a long
  *     retention grows to ~|unique hashes|; a short one plateaus at
  *     ~arrival rate × retention) and per-source funnel agreement with the
  *     batch `pl_corpus_prep` over the same corpus;
  *  2. `StreamingNearDup` probes against a standing 10-segment
  *     `FingerprintIndexStore` (no compaction, the worst honest layout):
  *     probes/s, recall on planted near-dups, false flags on novel probes;
  *  3. the same probes as ten batches that each re-resolve `activeIndex`
  *     while `compact` folds the 10 segments on another thread: every
  *     batch's verdicts must equal a baseline pass over the unfolded store.
  *
  * Corpus (`prepCorpus`): ~120 words with stopwords interleaved (so the
  * Gopher gates measure something), exact dups at id distance 5 (same
  * doc_id % 5, so the planted PII suffix scrubs to the same text and the
  * pair collides on content_hash), tiny docs, benchmark-contaminated docs
  * (an eval doc's body), all else unique. Dup families share a source,
  * so per-source funnel counts do not depend on arrival order.
  *
  * Arguments after `rows`: the mode (prep | neardup | compact | all,
  * default all) and files per trigger for the prep feed's 24 files
  * (default 1; recorded at 1 and 4, the batch-cadence knob).
  * Output → STREAM_BENCH.md. */
object StreamScenario {

  /** Text for a non-dup id (a dup resolves its partner through the same
    * expression; a partner is never itself a dup). */
  private def baseTextOf(id: Column) = {
    val stops = typedLit(Seq("the", "and", "of", "to"))
    def body(of: Column) = array_join(transform(sequence(lit(0), lit(119)), i =>
      when(i % 10 === 3, element_at(stops, (pmod(of + i, lit(4)) + 1).cast("int")))
        .otherwise(word(concat_ws(":", of.cast("string"), i.cast("string"))))), " ")
    // eval anchor: the highest multiple of 97 at or below id
    val anchor = id - pmod(id, lit(97L))
    when(pmod(id, lit(97L)) === 0, body(id)) // eval doc: plain body
      .when(pmod(id, lit(31L)) === 7, lit("tiny doc only"))
      .when(pmod(id, lit(41L)) === 3,
        concat(body(anchor), lit(" uniq"), id.cast("string"), lit(" tail the of")))
      .otherwise(body(id))
  }

  /** The prep corpus: doc_id, text, lang, source, n_chars. */
  def prepCorpus(spark: SparkSession, n: Long): DataFrame = {
    val isDup = col("doc_id") % 25 === 6 && col("doc_id") >= 25
    val famId = when(isDup, col("doc_id") - 5).otherwise(col("doc_id"))
    spark.range(n).toDF("doc_id")
      .withColumn("text",
        when(isDup, baseTextOf(col("doc_id") - 5)).otherwise(baseTextOf(col("doc_id"))))
      .withColumn("lang", lit("en"))
      .withColumn("source", concat(lit("src"), pmod(xxhash64(famId), lit(4L)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Per-batch progress: (batchId, stateRowsTotal, stateRowsUpdated,
    * stateRowsRemoved, inputRows). */
  private final class ProgressTap extends StreamingQueryListener {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Long, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val so = p.stateOperators.headOption
      rows.add((p.batchId, so.map(_.numRowsTotal).getOrElse(0L),
        so.map(_.numRowsUpdated).getOrElse(0L), so.map(_.numRowsRemoved).getOrElse(0L),
        p.numInputRows))
    }
    def drain(): Seq[(Long, Long, Long, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      rows.asScala.toSeq.sortBy(_._1)
    }
  }

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val mode = r.arg(0, "all")
    def on(m: String) = mode == m || mode == "all"
    r.spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // long retention: TTL on but nothing expires mid-run, so the funnel
    // must agree exactly; short retention: hashes silent for 45 s are
    // swept while the run still feeds, so the state curve plateaus
    (if (on("prep")) prepFixture(r) ++
      prep(r, 2.hours, "long", checkFunnel = true) ++
      prep(r, 45.seconds, "short", checkFunnel = false) else Nil) ++
      (if (on("neardup")) nearDup(r) else Nil) ++
      (if (on("compact")) nearDupCompact(r) else Nil)
  }

  /** The documents table (for the batch funnel) and the stream feed:
    * non-eval docs with PII planted as the batch side plants it, in 24
    * files. */
  private def prepFixture(r: Scale.Run): Seq[Scale.Record] = {
    val (_, sec) = timed {
      prepCorpus(r.spark, r.rows).repartition(32).write.mode("overwrite")
        .parquet(s"${r.dir}/prep-corpus/documents.parquet")
      r.spark.read.parquet(s"${r.dir}/prep-corpus/documents.parquet")
        .filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), graft.catalog.TextCatalog.piiPlanted.as("text"),
          col("lang"), col("source"))
        .repartition(24, col("doc_id"))
        .write.mode("overwrite").parquet(s"${r.dir}/prep-feed")
    }
    Seq(Scale.record("stage" -> "prep_fixture", "docs" -> r.rows, "sec" -> sec))
  }

  private def prep(r: Scale.Run, retention: FiniteDuration, tag: String,
      checkFunnel: Boolean): Seq[Scale.Record] = {
    val spark = r.spark
    import spark.implicits._
    import graft.streaming.StreamingPrep
    import graft.streaming.StreamingPrep.{PrepDoc, PrepVerdict}
    val corpusDir = s"${r.dir}/prep-corpus"
    val outDir = s"${r.dir}/prep-out-$tag"

    val evalGrams = spark.read.parquet(s"$corpusDir/documents.parquet")
      .filter(col("doc_id") % 97 === 0)
      .select(explode(graft.catalog.PrepPipelineCatalog.gramHashes(col("text"))).as("ng"))
      .distinct().as[Long].collect()
    val tap = new ProgressTap
    spark.streams.addListener(tap)
    val feed = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING")
      .option("maxFilesPerTrigger", r.arg(1, "1"))
      .parquet(s"${r.dir}/prep-feed")
      .as[PrepDoc]
    val (_, elapsed) = timed {
      val q = StreamingPrep.prepStream(feed, evalGrams, retention = Some(retention))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", s"${r.dir}/prep-ck-$tag")
        .outputMode("append").trigger(Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.streams.removeListener(tap)

    val verdicts = spark.read.parquet(outDir)
    val nOut = verdicts.count()
    val curve = tap.drain()
    val funnel = if (!checkFunnel) Nil else {
      // per-source funnel agreement with the batch pl_corpus_prep over the
      // same documents: the only degrees of freedom are the stateful dedup
      // and contamination translations
      val batch = graft.catalog.PrepPipelineCatalog.queries("pl_corpus_prep")(spark, corpusDir)
        .collect().map(r => r.getString(0) -> (1 to 7).map(r.getLong)).toMap
      val stream = verdicts.as[PrepVerdict].groupByKey(_.source).mapGroups { (src, it) =>
        val a = it.toArray
        src -> Seq(a.length.toLong, a.map(_.pii_total).sum,
          a.count(_.stage != "filtered").toLong,
          a.count(v => v.stage != "filtered" && v.stage != "duplicate").toLong,
          a.count(v => v.stage == "rejected_clf" || v.stage == "admitted").toLong,
          a.count(_.stage == "admitted").toLong,
          a.filter(_.stage == "admitted").map(_.n_words).sum)
      }.collect().toMap
      require(stream == batch,
        s"stream/batch funnel disagreement at scale: batch = $batch, stream = $stream")
      Seq(Scale.record("stage" -> "prep_funnel_agreement", "agree" -> true))
    }
    Scale.record("stage" -> s"prep_$tag", "docs" -> nOut, "sec" -> elapsed,
      "docs_per_sec" -> nOut / elapsed, "batches" -> curve.size,
      "retention_sec" -> retention.toSeconds,
      "state_rows_max" -> curve.map(_._2).maxOption.getOrElse(0L),
      "state_rows_last" -> curve.lastOption.map(_._2).getOrElse(0L),
      "state_rows_removed" -> curve.map(_._4).sum,
      "state_curve" -> curve.map { case (b, tot, upd, rem, in) =>
        s"$b:$tot/+$upd/-$rem/in$in" }) +: funnel
  }

  /** A 10-segment fingerprint index over `DedupScenario.docs`, and the
    * probes: planted near-dups of indexed docs (every 40th word rewritten,
    * shingle Jaccard ≈ 0.85 over the 0.5 threshold; 4×2-band LSH recall
    * ≈ 0.99) plus as many novel docs. */
  private def standingIndex(r: Scale.Run, name: String)
      : (graft.sources.FingerprintIndexStore, DataFrame) = {
    val n = r.rows
    val store = new graft.sources.FingerprintIndexStore(s"${r.dir}/$name", numBuckets = 32)
    val corpus = DedupScenario.docs(r.spark, n).select(col("doc_id"), col("text"))
    val chunk = n / 10
    (0 until 10).foreach { b =>
      // the last batch takes the remainder: a truncated tail would leave
      // probes planted from unindexed docs counted as novel
      val hi = if (b == 9) n else (b + 1) * chunk
      store.append(corpus.filter(col("doc_id") >= b * chunk && col("doc_id") < hi),
        batchId = b + 1L)
    }
    // 50,000 of each at the recorded 1M docs; fewer on a smaller corpus
    val nProbe = math.min(50000L, n / 20)
    val planted = corpus.filter(col("doc_id") % 20 === 2).limit(nProbe.toInt)
      .select((col("doc_id") + 20000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "), (w, i) =>
          when(i % 40 === 0, concat(lit("z"), w)).otherwise(w)), " ").as("text"))
    val novel = r.spark.range(nProbe).select((col("id") + 30000000L).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(119)), i =>
        word(concat_ws("#", col("id").cast("string"), i.cast("string")))), " ").as("text"))
    (store, planted.unionByName(novel))
  }

  private def nearDup(r: Scale.Run): Seq[Scale.Record] = {
    val spark = r.spark
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.{Doc, NearDupVerdict}
    val ((store, probes), idxSec) = timed(standingIndex(r, "fpindex"))
    val feedDir = s"${r.dir}/probe-feed"
    val outDir = s"${r.dir}/probe-out"
    probes.repartition(10, col("doc_id")).write.mode("overwrite").parquet(feedDir)

    // the standing index is partitioned and sorted by the band key once and
    // persisted, so each micro-batch shuffles only the arriving probes
    val index = store.activeIndex(spark)
      .repartition(spark.sparkContext.defaultParallelism, col("band_idx"), col("band_val"))
      .sortWithinPartitions(col("band_idx"), col("band_val"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val idxRows = index.count()
    val feed = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(feedDir).as[Doc]
    val (_, elapsed) = timed {
      val q = StreamingNearDup.nearDupStream(feed, index)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", s"${r.dir}/probe-ck")
        .outputMode("append").trigger(Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    index.unpersist()

    val out = spark.read.parquet(outDir).as[NearDupVerdict]
    val nOut = out.count()
    val plantedOut = out.filter(col("doc_id") >= 20000000L && col("doc_id") < 30000000L)
    val novelOut = out.filter(col("doc_id") >= 30000000L)
    val nPlanted = plantedOut.count()
    Seq(Scale.record("stage" -> "neardup_index", "docs" -> r.rows,
        "segments" -> store.manifest.size, "sec" -> idxSec, "docs_per_sec" -> r.rows / idxSec),
      Scale.record("stage" -> "neardup_stream", "index_docs" -> r.rows, "index_rows" -> idxRows,
        "segments" -> store.manifest.size, "probes" -> nOut, "sec" -> elapsed,
        "probes_per_sec" -> nOut / elapsed, "planted" -> nPlanted,
        "planted_recall" -> plantedOut.filter(col("dup_of").isNotNull).count().toDouble / nPlanted,
        "novel" -> novelOut.count(),
        "novel_false_flags" -> novelOut.filter(col("dup_of").isNotNull).count()))
  }

  /** Index maintenance under probes: ten sequential probe batches that
    * each re-resolve `activeIndex` (the foreachBatch production shape; a
    * plan-time snapshot would never see maintenance), with `compact` +
    * vacuum started on another thread after batch 4. Every batch's
    * verdicts must equal a baseline pass over the unfolded store. A reader
    * that loses the retention race (its resolved segments vacuumed
    * mid-read) re-resolves and retries, the usual table-format
    * discipline; retries are counted. */
  private def nearDupCompact(r: Scale.Run): Seq[Scale.Record] = {
    val spark = r.spark
    import spark.implicits._
    import graft.streaming.StreamingNearDup
    import graft.streaming.StreamingNearDup.{Doc, NearDupVerdict}
    val (store, probeFrame) = standingIndex(r, "fpindex-compact")
    // materialized once, so both passes see byte-identical probe frames
    val feedDir = s"${r.dir}/probe-feed-compact"
    probeFrame.write.mode("overwrite").parquet(feedDir)
    val probes = spark.read.parquet(feedDir)

    /** Order-free digest of one batch's verdicts (row hashes reduced mod a
      * prime before summing: a raw 64-bit sum would overflow ANSI long
      * addition). */
    def digest(v: org.apache.spark.sql.Dataset[NearDupVerdict]): (Long, Long, Long) = {
      val d = v.agg(count(lit(1)), sum(when(col("dup_of").isNotNull, 1L).otherwise(0L)),
        sum(pmod(xxhash64(concat_ws("|", col("doc_id"),
          coalesce(col("dup_of"), lit(-1L)), round(col("jaccard"), 6))),
          lit(1000000007L)))).collect().head
      (d.getLong(0), d.getLong(1), d.getLong(2))
    }
    var retries = 0
    def probeBatch(b: Int): ((Long, Long, Long), Double) = {
      val batch = probes.filter(pmod(col("doc_id"), lit(10)) === b).as[Doc]
      var attempt = 0
      while (true) {
        try return timed(digest(StreamingNearDup.nearDupBatch(batch, store.activeIndex(spark))))
        catch {
          // the retention race only: this reader's resolved segment dirs
          // were vacuumed mid-read. Any other failure must fail the stage,
          // or the exact-match gate could retry into a vacuous pass
          case e: Throwable
              if attempt < 3 && graft.sources.MasterStore.isVanishedInput(e) =>
            attempt += 1; retries += 1
        }
      }
      sys.error("unreachable")
    }

    val baseline = (0 until 10).map(probeBatch)
    val segsBefore = store.manifest.size
    // a fold failure must fail the stage: a dead folder thread would leave
    // the baseline store in place and the digest gate would pass vacuously
    val foldError = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val folder = new Thread(() =>
      try store.compact(spark, batchId = 99L)
      catch { case t: Throwable => foldError.set(t) })
    val racing = (0 until 10).map { b =>
      val res = probeBatch(b)
      if (b == 3) folder.start()
      res
    }
    folder.join()
    Option(foldError.get()).foreach(t => sys.error(s"compaction thread failed: ${t.getMessage}"))
    baseline.zip(racing).zipWithIndex.foreach { case (((bd, _), (rd, _)), b) =>
      require(bd == rd, s"compaction-under-probes mismatch at batch $b: baseline=$bd racing=$rd")
    }
    def rates(xs: Seq[((Long, Long, Long), Double)]) = xs.map { case ((c, _, _), s) => c / s }
    Seq(Scale.record("stage" -> "neardup_compact", "docs" -> r.rows,
      "probes" -> baseline.map(_._1._1).sum, "batches" -> 10, "fold_started_after_batch" -> 4,
      "segments_before" -> segsBefore, "segments_after" -> store.manifest.size,
      "match" -> "exact", "retries" -> retries,
      "baseline_probes_per_sec" -> rates(baseline),
      "compacting_probes_per_sec" -> rates(racing)))
  }
}
