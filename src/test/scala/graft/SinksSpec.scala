package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.records.MasterRecord
import graft.operators.MergeEngine
import graft.sources.Sinks
import graft.sources.Sinks.{SinkStatus, Transport}

/** Fault-injection tests for the sink retry ladders (S6-S8/ST6 —
  * reference adsmp/app.py:381-430,514-584). Transports are deterministic
  * fault injectors; accumulators count sends to assert the ladder shape. */
class SinksSpec extends AnyFunSuite with SparkSpec {

  def docsDf(rows: (String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("bibcode", "payload")
  }

  test("S6 happy path: one batch send, everything ok") {
    val sent = spark.sparkContext.longAccumulator("sent")
    val t = new Transport { def send(p: Seq[String]): Unit = sent.add(p.length) }
    val st = Sinks.writeSolr(docsDf("b1" -> "{}", "b2" -> "{}").coalesce(1), t).collect()
    assert(st.forall(s => s.ok && !s.retriedSolo))
    assert(sent.value == 2)
  }

  test("S6 batch failure falls back per-doc; poisoned doc strips body then fails") {
    // the transport rejects any payload containing the poison marker in a
    // body field, and rejects multi-doc batches containing it; the error
    // text mentions body, which is what licenses the strip retry
    val t = new Transport {
      def send(p: Seq[String]): Unit =
        if (p.exists(_.contains("POISON"))) throw new RuntimeException("body failed")
    }
    val poisoned = """{"body": "POISON", "title": "t2"}"""
    val healthyAfterStrip = Sinks.stripBody(poisoned)
    assert(!healthyAfterStrip.contains("POISON"), "strip removes the body field")

    val st = Sinks.writeSolr(
      docsDf("good" -> """{"title": "t1"}""", "bad" -> poisoned).coalesce(1), t)
      .collect().map(s => s.bibcode -> s).toMap
    assert(st("good").ok && st("good").retriedSolo, "good doc succeeds on solo retry")
    assert(st("bad").ok && st("bad").bodyStripped, "poisoned doc succeeds after body strip")
  }

  test("S6 unrecoverable doc reports failure for ST6 status stamping") {
    val t = new Transport {
      def send(p: Seq[String]): Unit =
        if (p.exists(_.contains("b2"))) throw new RuntimeException("down")
    }
    val st = Sinks.writeSolr(
      docsDf("b1" -> """{"id": "b1"}""", "b2" -> """{"id": "b2"}""").coalesce(1), t)
      .collect().map(s => s.bibcode -> s).toMap
    assert(st("b1").ok)
    assert(!st("b2").ok)

    // ST6: failures stamp status='solr-failed' on the master
    import spark.implicits._
    val master = MergeEngine.upsert(MergeEngine.emptyMaster(spark), Seq(
      graft.records.UpdateMessage("b1", "metadata", "{}", Timestamp.valueOf("2024-01-01 00:00:00")),
      graft.records.UpdateMessage("b2", "metadata", "{}", Timestamp.valueOf("2024-01-01 00:00:00"))).toDS()).master
    val failed = spark.createDataset(st.values.filter(!_.ok).toSeq).toDF()
      .select(col("bibcode"), lit(null).cast("string").as("checksum"))
    val stamped = StampOracle.markProcessed(master, failed, "solr",
      Some("solr-failed"), Timestamp.valueOf("2024-01-02 00:00:00"))
    val statuses = stamped.collect().map(r =>
      r.getAs[String]("bibcode") -> r.getAs[String]("status")).toMap
    assert(statuses("b2") == "solr-failed" && statuses("b1") == null)
  }

  test("S6 ladder call counts: body-related failures earn the strip retry, " +
    "generic ones fail straight away (test_app.py:90-244 test_index_solr)") {
    // 'mix of reasons': batch fails; doc A's solo raises a body error →
    // strip retry (which also fails); doc B's solo raises a generic error
    // → NO strip retry. Reference sequence is exactly 4 transport calls.
    val calls = spark.sparkContext.collectionAccumulator[Int]("calls")
    val t1 = new Transport {
      def send(p: Seq[String]): Unit = {
        calls.add(p.length)
        if (p.length > 1) throw new RuntimeException("503")
        if (p.exists(_.contains("\"A\""))) throw new RuntimeException("body failed")
        if (p.exists(_.contains("bad"))) throw new RuntimeException("failed")
      }
    }
    val a = """{"id": "A", "body": "bad body"}"""
    val b = """{"id": "B", "marker": "bad"}"""
    val st1 = Sinks.writeSolr(docsDf("A" -> a, "B" -> b).coalesce(1), t1)
      .collect().map(s => s.bibcode -> s).toMap
    assert(calls.value.size == 4,
      s"batch + A solo + A stripped + B solo = 4 calls, got ${calls.value}")
    assert(!st1("A").ok && st1("A").bodyStripped, "A exhausted the full ladder")
    assert(!st1("B").ok && !st1("B").bodyStripped, "B failed without a strip retry")

    // 'mix of failure and success': A's strip retry succeeds, B sails solo
    val t2 = new Transport {
      def send(p: Seq[String]): Unit = {
        if (p.length > 1) throw new RuntimeException("503")
        if (p.exists(_.contains("bad body"))) throw new RuntimeException("body failed")
      }
    }
    val st2 = Sinks.writeSolr(
      docsDf("A" -> a, "B" -> """{"id": "B", "body": "good body"}""").coalesce(1), t2)
      .collect().map(s => s.bibcode -> s).toMap
    assert(st2("A").ok && st2("A").bodyStripped, "A recovered once body was stripped")
    assert(st2("B").ok && st2("B").retriedSolo && !st2("B").bodyStripped)
  }

  test("S6 ladder call counts match the reference matrix: solo recovery " +
    "is 3 sends, total exhaustion is 5 (test_app.py:90-244 test_index_solr)") {
    // group 503 → each doc solo succeeds: batch + 2 solos = 3 sends, both ok
    val calls3 = spark.sparkContext.collectionAccumulator[Int]("calls3")
    val t3 = new Transport {
      def send(p: Seq[String]): Unit = {
        calls3.add(p.length)
        if (p.length > 1) throw new RuntimeException("503")
      }
    }
    val a = """{"id": "A", "body": "bad body"}"""
    val b = """{"id": "B", "body": "bad body"}"""
    val st3 = Sinks.writeSolr(docsDf("A" -> a, "B" -> b).coalesce(1), t3)
      .collect().map(s => s.bibcode -> s).toMap
    assert(calls3.value.size == 3, s"batch + A solo + B solo: ${calls3.value}")
    assert(st3("A").ok && st3("B").ok)
    assert(st3("A").retriedSolo && !st3("A").bodyStripped)

    // every rung fails for both docs: batch + (solo + strip) × 2 = 5 sends
    val calls5 = spark.sparkContext.collectionAccumulator[Int]("calls5")
    val t5 = new Transport {
      def send(p: Seq[String]): Unit = {
        calls5.add(p.length)
        throw new RuntimeException(if (p.length > 1) "503" else "body failed")
      }
    }
    val st5 = Sinks.writeSolr(docsDf("A" -> a, "B" -> b).coalesce(1), t5)
      .collect().map(s => s.bibcode -> s).toMap
    assert(calls5.value.size == 5, s"full exhaustion is 5 sends: ${calls5.value}")
    assert(!st5("A").ok && st5("A").bodyStripped &&
      !st5("B").ok && st5("B").bodyStripped)
  }

  test("S7 bulk sink: batch failure falls back per-row without body strip " +
    "(the grouped(batchSize) send is the engine's analog of the " +
    "reference's chunked() batching helper, test_chunked)") {
    val solo = spark.sparkContext.longAccumulator("solo")
    val t = new Transport {
      def send(p: Seq[String]): Unit = {
        if (p.length > 1) throw new RuntimeException("bulk conflict")
        solo.add(1)
        if (p.head.contains("dead")) throw new RuntimeException("row error")
      }
    }
    val st = Sinks.writeBulk(
      docsDf("m1" -> """{"v": 1}""", "m2" -> """{"v": "dead"}""").coalesce(1), t)
      .collect().map(s => s.bibcode -> s).toMap
    assert(st("m1").ok && st("m1").retriedSolo)
    assert(!st("m2").ok && !st("m2").bodyStripped)
    assert(solo.value == 2)
  }

  test("S11 delete: deleted only when every endpoint accepts") {
    import spark.implicits._
    val okT = new Transport { def send(p: Seq[String]): Unit = () }
    val flakyT = new Transport {
      def send(p: Seq[String]): Unit =
        if (p.exists(_.contains("b2"))) throw new RuntimeException("404")
    }
    val st = Sinks.deleteByBibcodes(Seq("b1", "b2").toDS(), Seq(okT, flakyT))
      .collect().map(s => s.bibcode -> s.ok).toMap
    assert(st == Map("b1" -> true, "b2" -> false))
  }
}
