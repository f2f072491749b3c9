package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Persisted MinHash fingerprint index with segment-append maintenance —
  * the table `dd_incremental` and `StreamingNearDup` assume as "the
  * standing corpus's banded index", made a real store with a lifecycle:
  * admit a batch → APPEND its 4 band rows per doc; retract docs → append
  * a tombstone set; periodically COMPACT the segments into one.
  *
  * Layout (manifest-generation discipline — a snapshot-per-mutation
  * store would rewrite the whole 4-rows-per-doc index to admit one
  * batch, which at a 12B-doc corpus is the difference between touching
  * ~KBs and rewriting ~TBs):
  *
  *   root/
  *     seg_<batchId>/        (parquet: doc_id, sh, band_idx, band_val)
  *     ts_<batchId>/         (parquet: doc_id — retracted)
  *     manifest_<gen>        (one live segment/tombstone name per line)
  *
  * The live manifest is the HIGHEST generation file; each mutation
  * publishes generation g+1 by hard-linking a prepared temp file into
  * place (`Files.createLink` — link(2) fails with EEXIST if the name is
  * taken, the one true compare-and-swap a shared filesystem offers;
  * rename(2) silently replaces, so an atomic-move "swap" is last-writer-
  * wins, a lost-update race). A writer that
  * loses the CAS re-reads the winner's manifest and retries on top of
  * it, so two interleaved appenders both land: neither can drop the
  * other's segment.
  *
  * Mutations write their segment dir FIRST (overwrite mode), then
  * publish. A crash between the two leaves an orphan directory no
  * manifest references — never a torn index — and the replay
  * (at-least-once delivery, the reference's ST4 contract,
  * adsmp/tasks.py:404-429) rewrites the same segment byte-identically
  * and finds its name already live: appends are idempotent in the
  * caller-supplied batchId, not in arrival count. The guarantee holds
  * ACROSS compactions — a folded batch's name survives as a
  * `done_<name>` admission marker in the compacted manifest, so a
  * replay arriving after the fold still no-ops.
  *
  * Readers resolve the manifest once and union the listed segments — a
  * consistent view however many appends race behind them. Compaction
  * folds the live set into one fresh segment; when the CAS detects
  * concurrent appends it keeps the fold and delta-publishes the winners'
  * new entries beside it (fold-once — only a rival compaction forces a
  * re-fold, and retries are bounded); its vacuum deletes superseded dirs, so
  * schedule it like any table-maintenance job (a reader holding a
  * pre-compaction manifest races the vacuum — the standard retention
  * trade, not a correctness bug in the manifest protocol). At cluster
  * scale each segment is a co-partitioned parquet write (band-key joins
  * shuffle only the probe side; see StreamingNearDup).
  */
class FingerprintIndexStore(val root: String, numBuckets: Int = 8) {

  // the shared CAS-pointer protocol (list/read-latest/hard-link publish)
  // lives in GenerationLog — one primitive for this store AND
  // MasterStore, so a protocol fix cannot miss one of them
  private val genLog = new GenerationLog(root, "manifest_")

  /** (generation, path) pairs of all published manifests, unsorted. */
  private def generations(): Seq[(Long, Path)] = genLog.generations()

  /** The highest generation's entry list, read consistently against a
    * concurrent compaction's vacuum (GenerationLog re-lists on a
    * vanished max pointer). (0, Nil) for a fresh store. */
  private def snapshot(): (Long, Seq[String]) =
    genLog.latest() match {
      case Some((g, content)) =>
        (g, content.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))
      case None => (0L, Nil)
    }

  /** Live manifest entries (segment + tombstone dir names), oldest first.
    * `done_<name>` admission markers (batches folded by a compaction,
    * retained so a late replay cannot re-admit them) are bookkeeping, not
    * index state — filtered here. */
  def manifest: Seq[String] = snapshot()._2.filterNot(_.startsWith("done_"))

  /** Monotone manifest generation (0 = nothing published). */
  def manifestVersion: Long = snapshot()._1

  /** CAS publish: generation `expected`+1 gets `entries` iff no other
    * writer published it first (GenerationLog's hard-link CAS). */
  private def tryPublish(expected: Long, entries: Seq[String]): Boolean =
    genLog.tryPublish(expected, entries.mkString("\n"))

  /** Append one entry with CAS-retry; a name already live OR already
    * folded into a compaction (`done_<name>` marker) is a no-op — the
    * replay-idempotence leg of the ST4 contract holds ACROSS compactions:
    * a batch replayed after its segment was folded and vacuumed must not
    * be re-admitted, or its rows would exist twice in the active index
    * (once inside the compacted segment, once via the re-published name).
    * The marker set grows one short line per folded batch — bytes per
    * batch, amortized away against the segments themselves. (The
    * replay may still rewrite the orphan parquet dir before the no-op
    * lands; nothing references it, and the next compaction's vacuum era
    * ignores it — harmless garbage, not state.) */
  private def casAppend(name: String): Unit = {
    while (true) {
      val (v, m) = snapshot()
      if (m.contains(name) || m.contains(s"done_$name")) return
      if (tryPublish(v, m :+ name)) return
    }
  }

  /** Admit a batch of documents (doc_id, text): write its fingerprint
    * segment, then add it to the manifest. Idempotent in `batchId` — a
    * replay overwrites the same segment with the same rows and finds the
    * name already live. Contract: a doc_id is admitted once (re-admission
    * goes through retract + append under a new batch). */
  def append(docs: DataFrame, batchId: Long): Unit = {
    val seg = f"seg_$batchId%08d"
    graft.streaming.StreamingNearDup.fingerprintIndex(docs)
      .repartition(numBuckets, col("band_idx"), col("band_val"))
      .write.mode("overwrite").parquet(Paths.get(root, seg).toString)
    casAppend(seg)
  }

  /** Retract documents by id: a tombstone segment, same idempotence. */
  def retract(spark: SparkSession, docIds: Seq[Long], batchId: Long): Unit = {
    import spark.implicits._
    val ts = f"ts_$batchId%08d"
    docIds.toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(Paths.get(root, ts).toString)
    casAppend(ts)
  }

  private def read(spark: SparkSession, names: Seq[String]): Option[DataFrame] =
    names.map { n =>
      val p = Paths.get(root, n)
      try spark.read.parquet(p.toString)
      catch {
        // a listed dir is written before it is published, so it always
        // holds a part file: a schema-less dir that is gone by now was
        // vacuumed after this reader resolved the manifest (Spark lists a
        // root path that vanished after its existence check as empty).
        // Raised as the vanished-input error readers retry on
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" && !Files.exists(p) =>
          throw new java.io.FileNotFoundException(s"$p was vacuumed while being read")
            .initCause(e)
      }
    }.reduceOption(_ unionAll _)

  private def indexOf(spark: SparkSession, entries: Seq[String]): DataFrame = {
    val segs = read(spark, entries.filter(_.startsWith("seg_")))
      .getOrElse(emptyIndex(spark))
    read(spark, entries.filter(_.startsWith("ts_"))) match {
      case Some(ts) => segs.join(broadcast(ts.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      case None => segs
    }
  }

  /** The live index: union of live segments minus tombstoned docs — the
    * `corpusIndex` input of StreamingNearDup.nearDupStream and the
    * standing side of dd_incremental. The tombstone side of the anti-join
    * is small by nature (retractions, not corpus) — broadcastable. */
  def activeIndex(spark: SparkSession): DataFrame =
    indexOf(spark, manifest)

  /** Fold every live segment into one, dropping retracted docs and any
    * defensively-duplicated (doc_id, band_idx) rows, then vacuum the
    * superseded dirs and manifest generations. The merged segment id must
    * be FRESH (greater than any live batch id) so a compaction replay
    * stays idempotent too. Every folded batch name is carried forward as
    * a `done_<name>` admission marker so a late replay of an
    * already-folded batch no-ops instead of re-admitting its rows beside
    * the compacted copy. Replay idempotence covers SEQUENTIAL
    * redelivery (crash → redeliver: the replay overwrites the orphan
    * segment and completes, or observes its name live/folded and
    * no-ops); two compactions running CONCURRENTLY with the SAME
    * batchId would share the deterministic segment path and must be
    * excluded by the scheduler, exactly as two OPTIMIZE runs sharing a
    * transaction id are — distinct-batchId compactions may race freely
    * (the CAS serializes them).
    *
    * Concurrency: if the CAS loses to appends/retracts that landed
    * mid-fold, the already-computed fold is REUSED — the winner's new
    * entries are published alongside it (tombstones among them still
    * retract from the folded segment at read time, so nothing that raced
    * the compaction is dropped and nothing is double-counted). Only a
    * rival COMPACTION (which removed this fold's inputs from the
    * manifest) forces a re-fold. Retries are bounded: under sustained
    * contention compaction fails loudly after `maxRetries` CAS losses
    * rather than re-running a corpus-wide fold forever — defer it and
    * re-run when the writers quiesce, like any table-maintenance job. */
  def compact(spark: SparkSession, batchId: Long, maxRetries: Int = 10): Unit = {
    val seg = f"seg_$batchId%08d"
    val (v0, old) = snapshot()
    require(!old.contains(seg) && !old.contains(s"done_$seg"),
      s"compaction batchId $batchId already live or folded")

    def fold(entries: Seq[String]): Unit =
      indexOf(spark, entries)
        .dropDuplicates("doc_id", "band_idx")
        .repartition(numBuckets, col("band_idx"), col("band_val"))
        .write.mode("overwrite").parquet(Paths.get(root, seg).toString)

    def doneOf(es: Seq[String]): Seq[String] =
      (es.filter(_.startsWith("done_")) ++
        es.collect { case n if !n.startsWith("done_") => s"done_$n" }).distinct

    fold(old)
    var expected = v0
    var inputs = old                    // what the current fold covers
    var carried = Seq.empty[String]     // live entries admitted since the fold
    var attempts = 0
    def entries: Seq[String] = Seq(seg) ++ carried ++ doneOf(inputs)
    while (!tryPublish(expected, entries)) {
      attempts += 1
      if (attempts > maxRetries)
        sys.error(s"compaction $batchId lost the manifest CAS $attempts times " +
          "under sustained concurrent writes; deferring — re-run when the " +
          "append rate allows maintenance to land")
      val (v2, m2) = snapshot()
      // a redelivered replay racing the original: if THIS batchId's
      // segment is already live or folded, the work is done — no-op
      // (publishing our entries too would re-admit folded inputs)
      if (m2.contains(seg) || m2.contains(s"done_$seg")) return
      val liveInputs = inputs.filterNot(_.startsWith("done_"))
      if (liveInputs.forall(m2.contains)) {
        // winners were appends/retracts: delta-publish — keep the fold,
        // carry the new entries beside it (tombstones among them still
        // retract from the folded segment through the read-time anti-join)
        carried = (carried ++ m2.filterNot(e =>
          e == seg || inputs.contains(e) || carried.contains(e))).distinct
      } else {
        // a rival compaction folded this fold's inputs away — only here
        // does the full fold re-run, over the rival's manifest
        fold(m2)
        inputs = m2
        carried = Nil
      }
      expected = v2
    }
    // vacuum: the folded inputs' dirs and superseded manifest generations
    // are unreferenced from here on; a crash mid-delete leaves orphans,
    // never a live reference to a missing dir. Carried (delta-published)
    // entries stay live and untouched. Each dir leaves its listed name in
    // one atomic rename before its files are deleted, so a reader still
    // holding the old manifest lists the whole segment or finds no path
    // (both fail loudly and re-resolve), never a half-deleted segment
    // that would silently drop index rows.
    inputs.filterNot(n => n.startsWith("done_") || carried.contains(n)).foreach { n =>
      val trash = Paths.get(root, s"_vacuum_${n}_${java.util.UUID.randomUUID()}")
      val moved =
        try { Files.move(Paths.get(root, n), trash, StandardCopyOption.ATOMIC_MOVE); true }
        catch { case _: java.nio.file.NoSuchFileException => false }
      if (moved) FsUtil.deleteTree(trash)
    }
    generations().filter(_._1 <= expected)
      .foreach { case (_, p) => Files.deleteIfExists(p) }
  }

  private def emptyIndex(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("doc_id", LongType),
        StructField("sh", ArrayType(LongType)),
        StructField("band_idx", IntegerType),
        StructField("band_val", LongType))))
  }
}
