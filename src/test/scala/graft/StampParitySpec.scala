package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.{IndexJob, MergeEngine}
import graft.records.{MasterRecord, UpdateMessage}
import graft.sources.{MasterStore, Sinks}
import graft.sources.Sinks.SinkStatus

/** A transport whose failures follow markers in the bibcodes it carries,
  * so every rung of the sinks' retry ladder is reached deterministically:
  *   - a batch holding a marked doc fails (with `failBatches`, every batch
  *     of more than one doc fails), so its docs go solo;
  *   - `Solo` recovers solo;
  *   - `Strip` fails solo with a body-related error while it carries a
  *     `body`, so the solr doc recovers only after the body strip;
  *   - `Body` fails any doc with a `body` with a generic error: the solr
  *     doc fails finally, its metrics and links payloads go through;
  *   - `Metric` fails its metrics payload (the one without a title or
  *     links rows) finally;
  *   - `Dead` fails every send, body strip included. */
case class LadderTransport(failBatches: Boolean) extends Sinks.Transport {
  def send(payloads: Seq[String]): Unit = {
    if (payloads.size > 1 && (failBatches ||
        payloads.exists(p => LadderTransport.Markers.exists(p.contains))))
      throw new RuntimeException("batch rejected")
    payloads.foreach { p =>
      // the `body` field itself, not the "body" entry of the `has` list
      val hasBody = p.contains("\"body\":")
      val isMetrics = !p.contains("\"title\"") && !p.contains("data_links_rows")
      if (p.contains("Dead")) throw new RuntimeException("body rejected")
      if (p.contains("Strip") && hasBody) throw new RuntimeException("body too large")
      if (p.contains("Body") && hasBody) throw new RuntimeException("rejected")
      if (p.contains("Metric") && isMetrics) throw new RuntimeException("rejected")
    }
  }
}

object LadderTransport {
  val Markers: Seq[String] = Seq("Solo", "Strip", "Body", "Metric", "Dead")
}

/** Parity of the sink stamps with the chain they replaced: the
  * frame-level stamp kept as `StampOracle.stampSinks` and the per-record
  * one `Pipeline.runBatch`'s index pass applies (`MergeEngine.stamp`)
  * against six `markProcessed` joins, ok then failed for solr, metrics and links in
  * that order, each joining its sink's status frame back to the payloads
  * for the checksum and broadcasting its key set. That chain is kept here,
  * verbatim in behaviour, as the oracle.
  *
  * Cases: all 8 `-r` sink subsets; transports that fail a whole batch,
  * recover solo, recover only after the body strip, and fail finally;
  * duplicate status rows for one bibcode. Through `runBatch`, whose index
  * pass stamps per record (`MergeEngine.stamp`): every subset with
  * `updateProcessed` on and off under both transports, with the
  * `RunReport` counts checked against the statuses; a non-forced
  * table-wide sweep whose gated-out rows must come out unchanged; a
  * `restrictTo` list; and a `keyLocal` batch. The pass alone: more due
  * rows than one sink batch in one partition, and the plan of a sweep.
  * Every comparison is one
  * batched collect, as in `SolrColumnarPropSpec`. */
class StampParitySpec extends AnyFunSuite with SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val now = Timestamp.valueOf("2024-06-01 00:00:00")
  private val sinkNames = MergeEngine.sinkColumns.map(_._1)
  private val subsets: Seq[Set[String]] = sinkNames.toSet.subsets().toSeq

  private val bibcodes = Seq("Ok1", "Ok2", "Solo", "Strip", "Body", "Metric", "Dead", "Bare")
    .map("2024Stamp" + _)

  /** Processed records with stamps and checksums from an earlier run, so
    * an unstamped column shows as the old value, not as a null. `Bare`
    * has no metrics and no links, so only solr delivers it. */
  private lazy val master0: DataFrame = {
    val msgs = bibcodes.flatMap { b =>
      val links = if (b.endsWith("Bare")) "" else
        """, "links_data": ["{\"access\": \"open\", \"url\": \"http://x/abs/1\"}"]"""
      Seq(
        UpdateMessage(b, "metadata",
          s"""{"bibcode": "$b", "title": ["T $b"], "database": ["astronomy"]$links}""", t0),
        UpdateMessage(b, "fulltext", s"""{"body": "full text of $b"}""", t0),
        UpdateMessage(b, "nonbib_data", """{"boost": 0.4}""", t0),
        UpdateMessage(b, "orcid_claims", """{"verified": []}""", t0)) ++
        (if (b.endsWith("Bare")) Nil
         else Seq(UpdateMessage(b, "metrics", """{"reads": [1]}""", t0)))
    }
    val merged = MergeEngine.upsert(MergeEngine.emptyMaster(spark), msgs.toDS()).master
    val stamps = Seq("processed", "solr_processed", "metrics_processed", "datalinks_processed")
      .map(_ -> lit(t0)) ++ Seq("solr_checksum" -> lit("old-s"),
      "metrics_checksum" -> lit("old-m"), "datalinks_checksum" -> lit("old-l"),
      "status" -> lit("prior"))
    stamps.foldLeft(merged) { case (df, (c, v)) => df.withColumn(c, v) }
  }

  /** The payloads a forced `-r ... -f` run builds from `master`. */
  private def payloads(master: DataFrame): IndexJob.IndexBatch =
    IndexJob.run(master.as[MasterRecord].filter(IndexJob.eligible(None, force = true)),
      ignoreChecksums = true)

  private def write(sink: String, rows: DataFrame, t: Sinks.Transport): Dataset[SinkStatus] =
    if (sink == "solr") Sinks.writeSolr(rows, t) else Sinks.writeBulk(rows, t)

  // ── the oracle: the six-join chain runBatch stamped with before ────────

  private def oracleMarkProcessed(master: DataFrame, done: DataFrame, sink: String,
      status: String): DataFrame = {
    val (tsCol, cksCol) = MergeEngine.sinkColumns.toMap.apply(sink)
    val keys = broadcast(done
      .groupBy(col("bibcode").as("done_bibcode"))
      .agg(max(col("checksum")).as("done_checksum")))
    val hit = col("done_bibcode").isNotNull
    master.join(keys, col("bibcode") === col("done_bibcode"), "left_outer")
      .withColumn("processed", when(hit, lit(now)).otherwise(col("processed")))
      .withColumn(tsCol, when(hit, lit(now)).otherwise(col(tsCol)))
      .withColumn(cksCol, when(hit, col("done_checksum")).otherwise(col(cksCol)))
      .withColumn("status", when(hit, lit(status)).otherwise(col("status")))
      .drop("done_bibcode", "done_checksum")
  }

  private def oracleStamp(master: DataFrame,
      delivered: Seq[(String, Dataset[SinkStatus], DataFrame)]): DataFrame =
    delivered.foldLeft(master) { case (m, (sink, status, rows)) =>
      val okKeys = status.filter(_.ok).toDF().select(col("bibcode"))
        .join(rows.select(col("bibcode"), col("checksum")), Seq("bibcode"))
      val failKeys = status.filter(!_.ok).toDF().select(col("bibcode"),
        lit(null).cast("string").as("checksum"))
      oracleMarkProcessed(oracleMarkProcessed(m, okKeys, sink, "success"),
        failKeys, sink, s"$sink-failed")
    }

  /** Each case's stamped and oracle rows, fetched together in one collect
    * and sorted by bibcode: case id → (got, want). */
  private def collectCases(cases: Seq[(String, DataFrame, DataFrame)])
      : Map[String, (Seq[Row], Seq[Row])] =
    cases.map { case (id, got, want) =>
      def tagged(side: String, df: DataFrame) =
        df.select((lit(side).as("__side") +: MergeEngine.masterColumns.map(col)): _*)
      val both = tagged("got", got).unionByName(tagged("want", want))
      val schema = StructType(both.schema.tail)
      val rows = both.collect().toSeq.sortBy(_.getAs[String]("bibcode"))
      def side(s: String): Seq[Row] = rows.filter(_.getString(0) == s)
        .map(r => new GenericRowWithSchema(r.toSeq.tail.toArray, schema))
      id -> (side("got"), side("want"))
    }.toMap

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Every sink's ladder run over its payloads under each transport, with
    * the statuses and payload checksums fetched in one collect. The cases
    * stamp local copies of them, so none re-runs the transform or the
    * transports. */
  private class Delivered(rowsBySink: Map[String, DataFrame], failBatches: Seq[Boolean]) {
    private val rows = (for {
      fb <- failBatches
      sink <- sinkNames
    } yield write(sink, rowsBySink(sink), LadderTransport(fb)).toDF()
      .select(lit(s"$sink/$fb").as("key"), col("bibcode"), col("ok"),
        col("retriedSolo"), col("bodyStripped"), col("checksum")))
      .++(sinkNames.map(sink => rowsBySink(sink).select(lit(sink).as("key"), col("bibcode"),
        lit(true).as("ok"), lit(false).as("retriedSolo"), lit(false).as("bodyStripped"),
        col("checksum"))))
      .reduce(_ unionByName _).as[(String, String, Boolean, Boolean, Boolean, String)]
      .collect().toSeq.groupBy(_._1)

    def status(sink: String, failBatches: Boolean): Seq[SinkStatus] =
      rows.getOrElse(s"$sink/$failBatches", Nil)
        .map(r => SinkStatus(r._2, r._3, r._4, r._5, r._6))

    /** The payloads' (bibcode, checksum), as the old chain joined them. */
    def checksums(sink: String): DataFrame =
      rows.getOrElse(sink, Nil).map(r => (r._2, r._6)).toDF("bibcode", "checksum")
  }

  private def label(s: Set[String]) = sinkNames.filter(s).map(_.head).mkString match {
    case "" => "-"
    case l => l
  }

  test("stampSinks equals the six-join chain over every sink subset, both " +
    "batch-failure transports and duplicate status rows") {
    val batch = payloads(master0)
    // duplicates: a second, higher-checksum solr and links payload that is
    // delivered (the larger checksum is stamped), and a second links
    // payload for Ok2 that fails finally (the failure beats the success)
    def extra(rows: (String, String, String)*) =
      rows.toDF("bibcode", "payload", "checksum").withColumn("changed", lit(true))
    val rowsBySink = Map(
      "solr" -> batch.solr.unionByName(extra(
        ("2024StampSolo", """{"bibcode": "2024StampSolo", "title": ["again"]}""", "~solo"))),
      "metrics" -> batch.metrics,
      "links" -> batch.links.unionByName(extra(
        ("2024StampOk1", """{"bibcode": "2024StampOk1", "data_links_rows": []}""", "~ok1"),
        ("2024StampOk2", """{"bibcode": "2024StampOk2", "Dead": 1}""", "0xdead"))))

    val d = new Delivered(rowsBySink, Seq(false, true))
    val master = local(master0)

    val cases = for {
      failBatches <- Seq(false, true)
      subset <- subsets
    } yield {
      val delivered = sinkNames.filter(subset).map(s =>
        (s, d.status(s, failBatches).toDS(), d.checksums(s)))
      val outcomes = delivered.map { case (s, st, _) => StampOracle.outcomes(s, st) }
        .reduceOption(_ unionByName _)
        .getOrElse(StampOracle.outcomes("solr", spark.emptyDataset[SinkStatus]))
      val id = s"${label(subset)}/failBatches=$failBatches"
      (id, StampOracle.stampSinks(master, outcomes, now), oracleStamp(master, delivered))
    }
    val compared = collectCases(cases)
    assert(compared.size == 16)
    compared.foreach { case (id, (got, want)) => assert(got == want, s"case $id") }
    def want(id: String) = compared(id)._2

    // the ladder reached every outcome the cases are meant to cover
    val all = want("sml/failBatches=false").map(r =>
      r.getAs[String]("bibcode").stripPrefix("2024Stamp") ->
        (r.getAs[String]("status"), r.getAs[String]("solr_checksum"),
          r.getAs[String]("datalinks_checksum"))).toMap
    assert(all("Ok1")._1 == "success" && all("Ok1")._3 == "~ok1")
    assert(all("Ok2")._1 == "links-failed" && all("Ok2")._3 == null)
    assert(all("Solo")._2 == "~solo")
    assert(all("Strip")._1 == "success" && all("Strip")._2 != null)
    assert(all("Body")._1 == "success" && all("Body")._2 == null,
      "a solr failure followed by links successes ends on the links status")
    assert(all("Dead")._1 == "links-failed")
    assert(all("Bare")._1 == "success" && all("Bare")._3 == "old-l",
      "a sink without a payload for the record leaves its columns alone")
    val sOnly = want("s/failBatches=false").map(r =>
      r.getAs[String]("bibcode").stripPrefix("2024Stamp") -> r.getAs[String]("status")).toMap
    assert(sOnly("Body") == "solr-failed" && sOnly("Metric") == "success")
    val mOnly = want("m/failBatches=false").map(r =>
      r.getAs[String]("bibcode").stripPrefix("2024Stamp") -> r.getAs[String]("status")).toMap
    assert(mOnly("Metric") == "metrics-failed" && mOnly("Bare") == "prior")
  }

  test("runBatch stamps and reports what the sinks returned, for every sink " +
    "subset with updateProcessed on and off, and leaves no cached data") {
    // the master as a store holds it, parquet round trip included
    val stored = new MasterStore(Files.createTempDirectory("graft_stamp0").toString,
      numBuckets = 1)
    stored.write(master0)
    val m0 = local(stored.read(spark))
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    val runs = for {
      failBatches <- Seq(false, true)
      updateProcessed <- Seq(true, false)
      subset <- subsets
    } yield {
      val id = s"${label(subset)}/updateProcessed=$updateProcessed/failBatches=$failBatches"
      val t = LadderTransport(failBatches)
      val store = new MasterStore(Files.createTempDirectory("graft_stamp").toString,
        numBuckets = 1)
      store.write(m0)
      val report = Pipeline.runBatch(spark, store, spark.emptyDataset[UpdateMessage], t, t,
        force = true, ignoreChecksums = true, now = now, sinks = subset,
        updateProcessed = updateProcessed)
      assert(cacheManager.isEmpty,
        s"case $id: runBatch returned with cached data left in the session")
      (id, subset, updateProcessed, failBatches, store, report)
    }

    // the oracle stamps the statuses the same transport gives the same
    // payloads; its outcomes depend on each doc alone, not on batching
    val batch = payloads(m0)
    val d = new Delivered(
      Map("solr" -> batch.solr, "metrics" -> batch.metrics, "links" -> batch.links),
      Seq(false, true))
    def statusesOf(failBatches: Boolean) =
      sinkNames.map(s => s -> d.status(s, failBatches)).toMap
    val compared = collectCases(runs.map { case (id, subset, up, fb, store, _) =>
      (id, store.read(spark), if (!up) m0 else oracleStamp(m0, sinkNames.filter(subset).map(s =>
        (s, statusesOf(fb)(s).toDS(), d.checksums(s)))))
    })
    assert(compared.size == 32)
    runs.foreach { case (id, subset, _, fb, _, report) =>
      val statuses = statusesOf(fb)
      assert(compared(id)._1 == compared(id)._2, s"case $id")
      def n(sink: String, ok: Boolean) =
        if (subset(sink)) statuses(sink).count(_.ok == ok).toLong else 0L
      // a merge-only run (no sink) builds no payload and reports 0
      assert(report.indexed == (if (subset.isEmpty) 0 else statuses("solr").size),
        s"case $id: $report")
      assert((report.solrOk, report.solrFailed, report.metricsOk, report.linksOk) ==
        ((n("solr", true), n("solr", false), n("metrics", true), n("links", true))),
        s"case $id: $report")
    }
    val statuses = statusesOf(false)
    assert(statuses("solr").count(!_.ok) == 2 && statuses("metrics").count(!_.ok) == 2 &&
      statuses("links").count(!_.ok) == 1, s"the ladder's failures: $statuses")
    def outcomes(st: Map[String, Seq[SinkStatus]]) =
      st.map { case (s, xs) => s -> xs.map(x => (x.bibcode, x.ok, x.checksum)) }
    assert(outcomes(statusesOf(true)) == outcomes(statuses),
      "a transport that fails every batch ends with the same per-doc outcomes")
    assert(statuses("solr").exists(st => st.bibcode.endsWith("Strip") && st.ok &&
      st.bodyStripped), "the strip rung recovered the body-laden doc")
  }

  test("runBatch's index pass equals the six-join chain for a non-forced " +
    "sweep with gated-out rows, a restrictTo list and a keyLocal batch") {
    val t = LadderTransport(failBatches = false)
    val later = Timestamp.valueOf("2024-01-02 00:00:00")
    val none = spark.emptyDataset[UpdateMessage]
    // these records were processed after their last update: the
    // non-forced gate skips them
    val skipped = bibcodes.filter(b => Seq("Ok2", "Strip", "Metric", "Bare").exists(b.endsWith))
    val m0 = local(master0.withColumn("processed",
      when(col("bibcode").isin(skipped: _*), lit(later)).otherwise(col("processed"))))
    def storeOf(m: DataFrame): MasterStore = {
      val s = new MasterStore(Files.createTempDirectory("graft_stamp_path").toString,
        numBuckets = 1)
      s.write(m)
      s
    }
    /** The chain's stamp of the payloads `select` picks from `m`. */
    def oracle(m: DataFrame, select: DataFrame => DataFrame, ignoreChecksums: Boolean) = {
      val b = IndexJob.run(select(m).as[MasterRecord], ignoreChecksums = ignoreChecksums)
      val d = new Delivered(Map("solr" -> b.solr, "metrics" -> b.metrics, "links" -> b.links),
        Seq(false))
      oracleStamp(m, sinkNames.map(s => (s, d.status(s, failBatches = false).toDS(),
        d.checksums(s))))
    }
    val gate = IndexJob.eligible(None, force = false)

    // a table-wide, non-forced sweep
    val sweepStore = storeOf(m0)
    val sweep = Pipeline.runBatch(spark, sweepStore, none, t, t, now = now)
    // a -n list, one of its bibcodes unknown to the store
    val named = Seq("2024StampOk1", "2024StampStrip", "2024StampGhost")
    val namedStore = storeOf(m0)
    val restricted = Pipeline.runBatch(spark, namedStore, none, t, t, force = true,
      ignoreChecksums = true, now = now, restrictTo = Some(named.toDS()))
    // a queue batch: later metadata for two records of a store whose
    // records were all processed after their last update
    val quiet = local(m0.withColumn("processed", lit(later)))
    val updates = Seq("Ok1", "Body").map { k =>
      val b = "2024Stamp" + k
      UpdateMessage(b, "metadata",
        s"""{"bibcode": "$b", "title": ["T2 $b"], "database": ["astronomy"]}""",
        Timestamp.valueOf("2024-02-01 00:00:00"))
    }.toDS()
    val keyedStore = storeOf(quiet)
    val keyed = Pipeline.runBatch(spark, keyedStore, updates, t, t, now = now, keyLocal = true)
    val upserted = local(MergeEngine.upsert(quiet, updates).master)

    val compared = collectCases(Seq(
      ("sweep", sweepStore.read(spark), oracle(m0, _.filter(gate), ignoreChecksums = false)),
      ("restrictTo", namedStore.read(spark), oracle(m0, _.filter(IndexJob.eligible(None,
        force = true)).filter(col("bibcode").isin(named: _*)), ignoreChecksums = true)),
      ("keyLocal", keyedStore.read(spark), oracle(upserted, _.filter(gate),
        ignoreChecksums = false))))
    compared.foreach { case (id, (got, want)) => assert(got == want, s"case $id") }
    assert((sweep.merged, sweep.indexed) == ((8L, 4L)), s"$sweep")
    assert((restricted.merged, restricted.indexed) == ((8L, 2L)), s"$restricted")
    assert((keyed.merged, keyed.indexed) == ((2L, 2L)), s"$keyed")

    // the rows the pass did not index come out as they went in
    val before = collectCases(Seq(("m0", m0, m0)))("m0")._1
      .map(r => r.getAs[String]("bibcode") -> r).toMap
    def untouched(id: String, keep: String => Boolean): Unit =
      compared(id)._1.filter(r => keep(r.getAs[String]("bibcode"))).foreach { r =>
        assert(r == before(r.getAs[String]("bibcode")), s"case $id: $r")
      }
    untouched("sweep", skipped.contains)
    untouched("restrictTo", b => !named.contains(b))
    assert(compared("sweep")._1.count(_.getAs[Timestamp]("processed") == now) == 4)
  }

  test("the index pass sends full batches across a chunk boundary and " +
    "stamps every row once") {
    import scala.jdk.CollectionConverters._
    // 2,400 copies of one record in one partition; every fourth is not
    // due, so 1,800 due rows fill one chunk with not-due rows between them
    // and leave a partial second one
    val proto = master0.filter(col("bibcode") === "2024StampOk1")
    val rows = spark.range(0, 2400, 1, 1).withColumnRenamed("id", "n").crossJoin(proto)
      .withColumn("bibcode", format_string("2024Chunk%05d", col("n")))
      // the solr doc takes its bibcode from the bib data
      .withColumn("bib_data", expr("replace(bib_data, '2024StampOk1', bibcode)"))
      .coalesce(1)
    val isDue = col("n") % 4 =!= 3
    // (sink, bibcode) per delivered payload and (transport, size) per send
    val delivered = spark.sparkContext.collectionAccumulator[(String, String)]("chunk docs")
    val sends = spark.sparkContext.collectionAccumulator[(String, Int)]("chunk sends")
    def recording(solr: Boolean) = new Sinks.Transport {
      def send(p: Seq[String]): Unit = {
        sends.add((if (solr) "solr" else "bulk", p.size))
        p.foreach { doc =>
          val sink = if (solr) "solr" else if (doc.contains("data_links_rows")) "links" else "metrics"
          val bib = graft.transform.SolrTransform.parse(doc) \ "bibcode" match {
            case org.json4s.JString(b) => b
            case other => other.toString
          }
          delivered.add((sink, bib))
        }
      }
    }
    val out = IndexJob.deliver(rows, isDue, sinkNames.toSet, recording(solr = true),
      recording(solr = false), ignoreChecksums = true, stampAt = Some(now)).collect()

    val sent = sends.value.asScala.toSeq
    assert(sent.filter(_._1 == "solr").map(_._2) == Seq(1000, 800), s"$sent")
    // each chunk sends its metrics, then its links
    assert(sent.filter(_._1 == "bulk").map(_._2) == Seq(1000, 1000, 800, 800), s"$sent")
    val dueBibs = (0 until 2400).filter(_ % 4 != 3).map(i => f"2024Chunk$i%05d").toSet
    val want = for (s <- sinkNames; b <- dueBibs.toSeq) yield (s, b)
    assert(delivered.value.asScala.toSeq.sorted == want.sorted,
      "each due record reached each sink exactly once")

    val byBib = out.groupBy(_.getAs[String]("bibcode"))
    assert(out.length == 2400 && byBib.size == 2400, "every row comes out exactly once")
    val input = rows.select(MergeEngine.masterColumns.map(col): _*).collect()
      .map(r => r.getAs[String]("bibcode") -> r).toMap
    val master = MergeEngine.masterColumns
    out.foreach { r =>
      val b = r.getAs[String]("bibcode")
      if (dueBibs.contains(b)) {
        assert(r.getAs[Timestamp]("processed") == now && r.getAs[String]("status") == "success",
          s"due row stamped: $r")
        assert(Seq("solrOk", "metricsOk", "linksOk").forall(r.getAs[Boolean](_)), s"$r")
      } else
        assert(Row.fromSeq(master.map(c => r.get(r.fieldIndex(c)))) ==
          Row.fromSeq(input(b).toSeq), s"not-due row passes through: $r")
    }
  }

  test("the index pass of a sweep-sized batch plans no join or exchange") {
    // a session that never broadcasts stands in for a corpus too large to
    // broadcast: the frame-level stamp then shuffled the master to join
    // the outcomes back; the index pass stamps each row where it reads it
    val big = spark.newSession()
    big.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val root = Files.createTempDirectory("graft_stamp_plan").toString
    new MasterStore(root).write(master0)
    val master = new MasterStore(root).read(big)
    val t = LadderTransport(failBatches = false)
    val pass = IndexJob.deliver(master, IndexJob.eligible(None, force = true),
      sinkNames.toSet, t, t, ignoreChecksums = true, stampAt = Some(now))
    val joins = pass.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, s"no join: ${pass.queryExecution.optimizedPlan}")
    val rows = pass.collect()
    assert(rows.length == bibcodes.size &&
      rows.forall(_.getAs[Timestamp]("processed") == now))
    val finalPlan = pass.queryExecution.executedPlan
    assert(collect(finalPlan) { case e: Exchange => e }.isEmpty, s"$finalPlan")
  }
}
