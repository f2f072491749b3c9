package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.FingerprintIndexStore
import graft.streaming.StreamingNearDup
import graft.streaming.StreamingNearDup.{Doc, NearDupVerdict}

/** Persisted fingerprint-index lifecycle: append, replay-idempotence,
  * retraction, compaction, crash recovery — with probe verdicts pinned
  * unchanged against a fresh index build at every step. */
class IndexMaintenanceSpec extends AnyFunSuite with SparkSpec {

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Seq[Long], Int, Long)] =
    df.select(col("doc_id"), col("sh"), col("band_idx"), col("band_val"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2), r.getLong(3)))
      .toSet

  private val batchA = Seq(
    1L -> "the quick brown fox jumps over the lazy dog today",
    2L -> "the quick brown fox jumps over the lazy dog tonight",
    3L -> "entirely different content about spark physical plans")
  private val batchB = Seq(
    4L -> "a second admitted crawl batch with fresh material inside",
    5L -> "the quick brown fox jumps over the lazy dog someday")

  private def probeVerdicts(idx: DataFrame): Map[Long, Option[Long]] = {
    val session = spark
    import session.implicits._
    implicit val sqlCtx = session.sqlContext
    val name = s"imx_${System.nanoTime()}"
    val input = MemoryStream[Doc]
    val query = StreamingNearDup.nearDupStream(input.toDS(), idx)
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        Doc(100L, "the quick brown fox jumps over the lazy dog yesterday"),
        Doc(101L, "totally novel text that matches no corpus fingerprint"))
      query.processAllAvailable()
      session.sql(s"SELECT * FROM $name").as[NearDupVerdict]
        .collect().map(v => v.doc_id -> v.dup_of).toMap
    } finally query.stop()
  }

  test("append/replay/retract/compact keep the active index equal to a " +
    "fresh build at every step, and probe verdicts never change") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    val store = new FingerprintIndexStore(root)

    // append batch A → active index == fresh build on A
    store.append(docsOf(batchA), batchId = 1L)
    val freshA = rowsOf(StreamingNearDup.fingerprintIndex(docsOf(batchA)))
    assert(rowsOf(store.activeIndex(spark)) == freshA,
      "one appended segment reproduces the fresh index build")

    // append batch B → == fresh build on A ∪ B
    store.append(docsOf(batchB), batchId = 2L)
    val freshAB = rowsOf(StreamingNearDup.fingerprintIndex(docsOf(batchA ++ batchB)))
    assert(rowsOf(store.activeIndex(spark)) == freshAB)
    val verdictsFull = probeVerdicts(store.activeIndex(spark))
    assert(verdictsFull ==
      probeVerdicts(StreamingNearDup.fingerprintIndex(docsOf(batchA ++ batchB))),
      "probing the store equals probing a fresh index")
    assert(verdictsFull(100L).contains(1L) && verdictsFull(101L).isEmpty,
      "fixture exercises both a hit and a miss")

    // replay batch B (at-least-once redelivery): byte-identical segment,
    // identical manifest — active index unchanged
    val vBefore = store.manifestVersion
    store.append(docsOf(batchB), batchId = 2L)
    assert(rowsOf(store.activeIndex(spark)) == freshAB,
      "replayed append is a no-op on the index")
    assert(store.manifestVersion == vBefore,
      "replayed append does not swap a new manifest")

    // retract docs 2 and 4 → active == fresh build on the remainder,
    // and the probe's best match degrades from doc 1 (still 1: kept)
    store.retract(spark, Seq(2L, 4L), batchId = 3L)
    val remaining = (batchA ++ batchB).filterNot(d => d._1 == 2L || d._1 == 4L)
    val freshRem = rowsOf(StreamingNearDup.fingerprintIndex(docsOf(remaining)))
    assert(rowsOf(store.activeIndex(spark)) == freshRem,
      "tombstoned docs leave the active index")
    val verdictsRem = probeVerdicts(store.activeIndex(spark))
    assert(verdictsRem ==
      probeVerdicts(StreamingNearDup.fingerprintIndex(docsOf(remaining))))

    // compact → one live segment, same rows, same verdicts
    assert(store.manifest.size == 3)
    store.compact(spark, batchId = 9L)
    assert(store.manifest == Seq("seg_00000009"),
      s"compaction folds to one segment: ${store.manifest}")
    assert(rowsOf(store.activeIndex(spark)) == freshRem,
      "compaction preserves the active rows exactly")
    assert(probeVerdicts(store.activeIndex(spark)) == verdictsRem,
      "compaction preserves probe verdicts")
    // superseded dirs were vacuumed
    val live = new java.io.File(root).list().toSet
    assert(!live.exists(n => n == "seg_00000001" || n == "ts_00000003" ||
      n.startsWith("_vacuum_")), s"old segments vacuumed: $live")
  }

  test("two interleaved appenders both land — the manifest CAS never " +
    "loses an update, and a compaction racing the appends drops nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpidx_race").toString
    val store = new FingerprintIndexStore(root)
    val batches = (1 to 8).map { i =>
      i.toLong -> Seq((1000L + i) ->
        s"racing appender batch number $i with its own distinct words w$i x$i y$i")
    }
    // two writers drain the batch queue concurrently; each append is a
    // segment write + CAS publish, so ANY interleaving must keep all 8
    // (the r9 read-modify-write form lost the slower writer's entry
    // whenever two appends overlapped)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = batches.map { case (id, rows) =>
        pool.submit(new Runnable {
          def run(): Unit = new FingerprintIndexStore(root).append(docsOf(rows), id)
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(store.manifest.toSet == batches.map(b => f"seg_${b._1}%08d").toSet,
      s"all 8 racing appends live in the manifest: ${store.manifest}")
    val allRows = batches.flatMap(_._2)
    assert(rowsOf(store.activeIndex(spark)) ==
      rowsOf(StreamingNearDup.fingerprintIndex(docsOf(allRows))),
      "the racing appends reproduce the fresh index build exactly")

    // now race a compaction against two more appends: whatever the
    // interleaving, the compactor keeps its fold and delta-publishes the
    // racing appends beside it on CAS loss, so the final active index
    // still equals the fresh build over everything
    val late = Seq(9L -> Seq(2009L -> "late batch nine lands during compaction maybe"),
      10L -> Seq(2010L -> "late batch ten lands during compaction maybe"))
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val fs = late.map { case (id, rows) =>
        pool2.submit(new Runnable {
          def run(): Unit = new FingerprintIndexStore(root).append(docsOf(rows), id)
        })
      } :+ pool2.submit(new Runnable {
        def run(): Unit = new FingerprintIndexStore(root).compact(spark, 99L)
      })
      fs.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool2.shutdown()
    val everything = allRows ++ late.flatMap(_._2)
    assert(rowsOf(store.activeIndex(spark)) ==
      rowsOf(StreamingNearDup.fingerprintIndex(docsOf(everything))),
      "append/append/compact interleaving loses nothing")
  }

  test("replay idempotence holds ACROSS compaction: a batch redelivered " +
    "after its segment was folded and vacuumed is NOT re-admitted") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpidx_done").toString
    val store = new FingerprintIndexStore(root)
    store.append(docsOf(batchA), batchId = 1L)
    store.append(docsOf(batchB), batchId = 2L)
    store.retract(spark, Seq(2L), batchId = 3L)
    store.compact(spark, batchId = 9L)
    val remaining = (batchA ++ batchB).filterNot(_._1 == 2L)
    val folded = rowsOf(StreamingNearDup.fingerprintIndex(docsOf(remaining)))
    assert(rowsOf(store.activeIndex(spark)) == folded)

    // at-least-once redelivery arrives AFTER the fold: without the
    // done_<name> admission markers the replay would find seg_00000001
    // absent from the compacted manifest and re-publish it — doc 1's
    // band rows would then exist twice in the active index
    store.append(docsOf(batchA), batchId = 1L)
    assert(store.manifest == Seq("seg_00000009"),
      s"folded batch replay is a manifest no-op: ${store.manifest}")
    assert(rowsOf(store.activeIndex(spark)) == folded,
      "no row admitted twice across the compaction boundary")
    // count-level check too — a Set comparison alone would mask exact
    // duplicate rows admitted via a second segment
    assert(store.activeIndex(spark).count() == folded.size.toLong,
      "active row COUNT unchanged by the folded replay")

    // a folded retract replays to a no-op the same way
    store.retract(spark, Seq(2L), batchId = 3L)
    assert(store.manifest == Seq("seg_00000009") &&
      rowsOf(store.activeIndex(spark)) == folded)

    // and the compaction batchId itself cannot be reused once folded live
    intercept[IllegalArgumentException] { store.compact(spark, batchId = 9L) }
  }

  test("crash recovery: an orphan segment written without a manifest swap " +
    "is invisible, and replaying the append completes it") {
    val root = java.nio.file.Files.createTempDirectory("graft_fpidx_crash").toString
    val store = new FingerprintIndexStore(root)
    store.append(docsOf(batchA), batchId = 1L)

    // simulate a crash AFTER the segment write, BEFORE the manifest swap:
    // write batch B's segment dir directly, leave CURRENT untouched
    StreamingNearDup.fingerprintIndex(docsOf(batchB))
      .write.mode("overwrite")
      .parquet(java.nio.file.Paths.get(root, "seg_00000002").toString)
    val freshA = rowsOf(StreamingNearDup.fingerprintIndex(docsOf(batchA)))
    assert(rowsOf(store.activeIndex(spark)) == freshA,
      "an orphan segment never referenced by the manifest stays invisible")

    // the redelivered append overwrites the orphan and completes the swap
    store.append(docsOf(batchB), batchId = 2L)
    assert(rowsOf(store.activeIndex(spark)) ==
      rowsOf(StreamingNearDup.fingerprintIndex(docsOf(batchA ++ batchB))),
      "replay after crash lands the batch exactly once")
  }
}
