package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import java.sql.Timestamp

import graft.operators.SitemapState

/** Property tests for the SitemapState invariants the whole subsystem
  * leans on (the reference's sticky-membership contract,
  * adsmp/models.py:154-191 + app.py:1073-1184):
  *
  *  1. STICKY: across ANY sequence of add/remove actions, a row that ever
  *     had a filename keeps exactly that filename until removed — a
  *     record's sitemap URL never churns, so crawlers only refetch files
  *     whose members actually changed.
  *  2. MONOTONIC FILL: the highest file index never decreases, new rows
  *     are only ever assigned to the current last file or beyond (holes
  *     left by removes are never refilled), and no file ever exceeds
  *     maxPerFile members.
  *
  * Random exploration is bounded (small pools, few trials) because every
  * trial runs real Spark jobs; the point is the action-sequence space, not
  * data volume. */
class SitemapStatePropSpec extends AnyFunSuite with SparkSpec {

  private val MaxPerFile = 3
  private val Pool = 1 to 18

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def master(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, f"P$i%03d", Option("{}"),
      Option(ts("2024-01-01 00:00:00")), Option("success")))
      .toDF("id", "bibcode", "bib_data", "bib_data_updated", "status")
  }

  private def bibs(ids: Seq[Int]): DataFrame = {
    import spark.implicits._
    ids.map(i => f"P$i%03d").toDF("bibcode")
  }

  private def fileIdx(name: String): Int =
    "sitemap_bib_(\\d+)\\.xml".r.findFirstMatchIn(name).map(_.group(1).toInt).getOrElse(-1)

  sealed trait Action
  case class Add(ids: Seq[Int]) extends Action
  case class Remove(ids: Seq[Int]) extends Action

  private val genAction: Gen[Action] = Gen.oneOf(
    Gen.nonEmptyListOf(Gen.oneOf(Pool)).map(ids => Add(ids.distinct)),
    Gen.nonEmptyListOf(Gen.oneOf(Pool)).map(ids => Remove(ids.distinct)))

  private val genSequence: Gen[List[Action]] =
    Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, genAction))

  test("sticky assignment + monotonic fill hold for random add/remove sequences") {
    val prop = Prop.forAll(genSequence) { actions =>
      val all = master(Pool)
      var state = SitemapState.bootstrap(SitemapState.empty(spark),
        master(Pool.take(5)), maxPerFile = MaxPerFile).localCheckpoint()
      var assigned: Map[String, String] = state.collect()
        .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("sitemap_filename")).toMap
      var ok = true
      for (action <- actions if ok) {
        val (next, removedNow) = action match {
          case Add(ids)    => (SitemapState.add(state, all, bibs(ids),
            maxPerFile = MaxPerFile), Set.empty[String])
          case Remove(ids) => (SitemapState.remove(state, bibs(ids)).state,
            ids.map(i => f"P$i%03d").toSet)
        }
        val checkpointed = next.localCheckpoint()
        val now = checkpointed.collect()
          .map(r => r.getAs[String]("bibcode") -> r.getAs[String]("sitemap_filename")).toMap
        val maxBefore = (assigned.values.map(fileIdx) ++ Seq(0)).max
        // 1. sticky: every surviving previously-assigned row kept its file
        val sticky = assigned.forall { case (b, f) =>
          removedNow(b) || now.get(b).contains(f) }
        // 2a. fresh rows land at or beyond the previous last file
        val fresh = now.keySet -- assigned.keySet
        val continues = fresh.forall(b => fileIdx(now(b)) >= maxBefore)
        // 2b. no file over capacity
        val capped = now.values.groupBy(identity).forall(_._2.size <= MaxPerFile)
        ok = sticky && continues && capped
        state = checkpointed
        assigned = now
      }
      Pins.release(graft.operators.Sitemap.OrdinalPins)
      ok
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10).withWorkers(1), prop)
    assert(res.passed, s"property falsified: ${res.status}")
  }
}
