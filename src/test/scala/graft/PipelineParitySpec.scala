package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import java.nio.file.Files
import java.sql.Timestamp

import graft.records.UpdateMessage
import graft.sources.MasterStore

/** Batch-boundary invariance + replay suppression — the two invariants
  * the `pipeline` scale scenario measures at 1M messages, pinned here as a
  * fast regression on the same `Fixtures`: the final store CONTENT
  * (payload slots, scix_id, sink checksums, status) is a function of the
  * message history alone, never of how that history is chopped into
  * batches; and redelivering the latest content with bumped arrival
  * timestamps re-merges and re-selects but keeps every sink quiet (P4).
  *
  * Reference semantics: at-least-once queue delivery with row-level
  * transactions (adsmp/tasks.py:404-429) — a redelivered message must
  * converge to the same record state, and get_checksum's change gate
  * (adsmp/app.py:607-626) must absorb the duplicate send. */
class PipelineParitySpec extends AnyFunSuite with SparkSpec {

  private def digest(store: MasterStore) =
    Fixtures.contentDigest(store.read(spark))

  test("micro-batched and two-sweep runs digest-match on content; " +
    "bumped-ts redelivery is fully checksum-suppressed") {
    val n = 60L
    val tsA = System.currentTimeMillis() - 3600 * 1000L
    // rev-0 bootstrap in three chunks, then a rev-1 wave over a third of
    // the records, then the SAME rev-1 content redelivered with newer ts
    val bootChunks = Seq((0L, 20L), (20L, 40L), (40L, n))
    def enc = Encoders.product[UpdateMessage]

    def runChopped(root: String, chop: Seq[Seq[(Long, Long, Int, Long)]],
        nows: Seq[Timestamp], keyLocal: Boolean = false)
        : (MasterStore, Seq[Pipeline.RunReport]) = {
      val store = new MasterStore(root, numBuckets = 4)
      val reports = chop.zip(nows).map { case (parts, now) =>
        val msgs = parts.map { case (lo, hi, rev, ts) =>
          Fixtures.messages(spark, lo, hi, rev, ts)
        }.reduce(_ unionByName _).as[UpdateMessage](enc)
        Pipeline.runBatch(spark, store, msgs,
          Fixtures.SolrTransport, Fixtures.BulkTransport, now = now,
          keyLocal = keyLocal)
      }
      (store, reports)
    }

    val tsB = tsA + 1800 * 1000L
    val tsC = tsB + 600 * 1000L
    // stamps interleave with arrivals exactly as a live stream's would:
    // each batch is processed after its messages arrive, before the next
    val nowBoot = new Timestamp(tsB - 60 * 1000L)
    val nowB = new Timestamp(tsC - 60 * 1000L)
    val nowC = new Timestamp(tsC + 60 * 1000L)

    // fine chop: 3 bootstrap micro-batches + rev-1 wave + redelivery
    val d1 = Files.createTempDirectory("graft_parity_a").toString
    val (storeA, reportsA) = runChopped(d1,
      bootChunks.map(c => Seq((c._1, c._2, 0, tsA))) ++
        Seq(Seq((0L, 20L, 1, tsB))) ++ Seq(Seq((0L, 20L, 1, tsC))),
      Seq(nowBoot, nowBoot, nowBoot, nowB, nowC))

    // coarse chop: one bootstrap sweep + one sweep holding BOTH the rev-1
    // wave and its redelivery
    val d2 = Files.createTempDirectory("graft_parity_b").toString
    val (storeB, _) = runChopped(d2,
      Seq(bootChunks.map(c => (c._1, c._2, 0, tsA)),
        Seq((0L, 20L, 1, tsB), (0L, 20L, 1, tsC))),
      Seq(nowBoot, nowC))

    assert(digest(storeA) == digest(storeB),
      "content state depends on the message history, not the batch chop")

    // keyLocal (the streaming consumer's queue-batch shape: working set =
    // the batch's keys via the bucket-pruned frame lookup) converges to
    // the same content state as the table-wide gate on the same chop
    val d3 = Files.createTempDirectory("graft_parity_c").toString
    val (storeC, reportsC) = runChopped(d3,
      bootChunks.map(c => Seq((c._1, c._2, 0, tsA))) ++
        Seq(Seq((0L, 20L, 1, tsB))) ++ Seq(Seq((0L, 20L, 1, tsC))),
      Seq(nowBoot, nowBoot, nowBoot, nowB, nowC), keyLocal = true)
    assert(digest(storeA) == digest(storeC),
      "keyLocal working set = table-wide gate for a queue batch")
    assert(reportsC(3).merged == 20,
      "keyLocal batch computes over its touched keys, not the table")
    assert(reportsC.last.indexed == 0 && reportsC.last.solrOk == 0,
      "suppression holds on the keyed working set")

    // the redelivery batch re-selected all 20 records (rev-1 ts newer than
    // their processed stamp) yet delivered nothing: checksums matched
    val replay = reportsA.last
    assert(replay.indexed == 0 && replay.solrOk == 0 && replay.solrFailed == 0,
      s"redelivered unchanged content must be checksum-suppressed: $replay")
    // while the rev-1 wave itself re-delivered every touched record once
    assert(reportsA(3).indexed == 20 && reportsA(3).solrOk == 20)
  }
}
