package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, count, count_if, lit}
import org.json4s._

import graft.functions.CanonicalJson
import graft.transform.SolrTransform

/** Push sinks with the reference's graceful-degradation semantics
  * (SURVEY.md S6-S8/ST6; adsmp/solr_updater.py:394-432, app.py:381-430,
  * 514-584).
  *
  * The reference POSTs JSON batches to SOLR/metrics/links endpoints; on a
  * batch failure it retries document-by-document, and for SOLR retries a
  * failing document once more with the giant `body` field stripped.
  * Successes and failures then stamp `status` per record (ST6).
  *
  * Spark shape: partition-local control flow. [[ladder]] is the one
  * per-batch core: the index pass (IndexJob.deliver) runs it per chunk of
  * master records, inside the same pass that builds the payloads and
  * stamps the records, as the reference's reindex_records does per chunk
  * (adsmp/tasks.py:317-460); `writeSolr`/`writeBulk` run it over a
  * prepared payload frame (the boost, augment and classify request legs
  * use `writeBulk`).
  * The transport is a pluggable serializable function so tests inject
  * faults and production supplies an HTTP client built once per
  * partition.
  */
object Sinks {

  /** Sends one batch of rendered payloads; throws to signal failure.
    * Built once per partition — the place to open an HTTP pool. */
  trait Transport extends Serializable {
    def send(payloads: Seq[String]): Unit
  }

  /** Docs per transport batch (the reference's per-task chunk of
    * records): the default of `writeSolr`/`writeBulk` and the chunk the
    * index pass (IndexJob.deliver) sends. */
  val BatchSize = 1000

  /** Per-document outcome of a sink write (ST6 input). `checksum` is the
    * delivered payload's (null for rows without one, such as deletes). */
  case class SinkStatus(bibcode: String, ok: Boolean,
      retriedSolo: Boolean, bodyStripped: Boolean, checksum: String = null)

  /** (ok, total) of a status frame in one aggregation job, so the
    * transports behind it fire exactly once and nothing per-record reaches
    * the driver (collecting statuses to count them is an OOM at the
    * reference's 28.8M rows). */
  def counts(status: Dataset[SinkStatus]): (Long, Long) = {
    val r = status.toDF().agg(count_if(col("ok")), count(lit(1))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** run.py:235-255 `collection_to_urls`: resolve a `--solr-collection`
    * value against the configured SOLR update URLs. A full http(s) URL
    * wins outright; a bare collection name replaces the collection path
    * segment (second-to-last) of every configured URL — the T22 rewrite
    * applied to the sink targets; no value keeps the configured list.
    * Deduplicated, because two configured targets on the same server
    * collapse to one URL once rewritten to the same collection. */
  def collectionToUrls(collection: Option[String], configured: Seq[String]): Seq[String] =
    collection.filter(_.nonEmpty) match {
      case Some(c) if c.startsWith("http") => Seq(c)
      case Some(c) =>
        configured.map { u =>
          // a well-formed update URL has at least scheme//host/collection/
          // tail (5 '/'-segments); anything shorter has no collection
          // segment to rewrite — replacing parts(length-2) there would
          // clobber the HOST, so the URL passes through untouched
          val parts = u.split("/")
          if (parts.length >= 5) parts(parts.length - 2) = c
          parts.mkString("/")
        }.distinct
      case None => configured.distinct
    }

  /** One transport that multiplexes a batch to several targets (the
    * reference POSTs every payload to each SOLR_URL, solr_updater.py
    * update_solr's url loop); any target failing fails the batch so the
    * caller's retry ladder engages. NOTE the ladder then re-sends (and on
    * a body-related error, body-strips) against ALL targets, healthy ones
    * included — deliberately matching the reference, whose solo and strip
    * retries also pass the full solr_urls list (app.py:403,417); SOLR
    * updates are idempotent upserts, so the healthy target converges to
    * the same final doc the failing one gets. */
  def fanout(targets: Seq[Transport]): Transport = new Transport {
    def send(payloads: Seq[String]): Unit = targets.foreach(_.send(payloads))
  }

  /** Remove the `body` field from a rendered SOLR doc (the reference's
    * last-ditch retry strips the fulltext body, app.py:415-427). */
  def stripBody(payload: String): String =
    SolrTransform.parse(payload) match {
      case JObject(fields) =>
        CanonicalJson.serialize(JObject(fields.filterNot(_._1 == "body")))
      case _ => payload
    }

  /** A solo-send failure earns the body-strip retry only when the error
    * looks body-related — the reference inspects the exception text
    * (app.py:413, including its string-formatting-bug alias) and treats
    * every other failure as final. */
  private def bodyRelated(e: Throwable): Boolean =
    Option(e.getMessage).exists(m => m.contains("body") ||
      m.contains("not all arguments converted during string formatting"))

  /** The retry ladder over one transport batch of (bibcode, payload,
    * checksum) rows: a batch send, and on a batch failure a solo retry per
    * doc. A doc whose solo send throws fails finally, except that with
    * `stripBodies` (the SOLR sink, app.py:381-430) a body-related error
    * earns one more attempt with `body` stripped. The one per-batch core
    * of every sink write: `writeSolr`/`writeBulk` run it per partition
    * chunk, and the index pass (IndexJob.deliver) per chunk of records. */
  def ladder(batch: Seq[(String, String, String)], transport: Transport,
      stripBodies: Boolean): Seq[SinkStatus] =
    if (batch.isEmpty) Nil
    else try {
      transport.send(batch.map(_._2))
      batch.map { case (b, _, c) =>
        SinkStatus(b, ok = true, retriedSolo = false, bodyStripped = false, c) }
    } catch {
      case _: Throwable =>
        batch.map { case (bibcode, payload, c) =>
          def attempt(p: String, stripped: Boolean): SinkStatus = {
            transport.send(Seq(p))
            SinkStatus(bibcode, ok = true, retriedSolo = true, bodyStripped = stripped, c)
          }
          def failed(stripped: Boolean) =
            SinkStatus(bibcode, ok = false, retriedSolo = true, bodyStripped = stripped, c)
          try attempt(payload, stripped = false) catch {
            case e: Throwable if stripBodies && bodyRelated(e) =>
              try attempt(stripBody(payload), stripped = true)
              catch { case _: Throwable => failed(stripped = true) }
            case _: Throwable => failed(stripped = false)
          }
        }
    }

  /** [[ladder]] over every partition of `rows` (bibcode, payload and an
    * optional checksum), in transport batches of `batchSize`. */
  private def writeWithLadder(rows: DataFrame, transport: Transport,
      batchSize: Int, stripBodies: Boolean): Dataset[SinkStatus] = {
    val spark = rows.sparkSession
    import spark.implicits._
    // request frames (boost, augment) have no checksum column
    val checksum =
      if (rows.columns.contains("checksum")) col("checksum")
      else lit(null).cast("string")
    rows.select(col("bibcode"), col("payload"), checksum.as("checksum"))
      .as[(String, String, String)]
      .mapPartitions(_.grouped(batchSize).flatMap(ladder(_, transport, stripBodies)))
  }

  /** S6 — SOLR-style sink: batch send; on failure per-doc retry; on a
    * body-related doc failure one more attempt with `body` stripped
    * (app.py:381-430). Expects columns (bibcode, payload). */
  def writeSolr(docs: DataFrame, transport: Transport,
      batchSize: Int = BatchSize): Dataset[SinkStatus] =
    writeWithLadder(docs, transport, batchSize, stripBodies = true)

  /** S7/S8 — bulk-then-per-row sink (metrics upsert / links PUT, and the
    * boost, augment and classify request legs): batch send, per-row
    * fallback, no body-strip rung. */
  def writeBulk(rows: DataFrame, transport: Transport,
      batchSize: Int = BatchSize): Dataset[SinkStatus] =
    writeWithLadder(rows, transport, batchSize, stripBodies = false)

  /** S11 — delete sink: per-bibcode delete command against every URL; a
    * bibcode counts deleted only when all endpoints succeed
    * (solr_updater.py:372-391). */
  def deleteByBibcodes(bibcodes: Dataset[String],
      transports: Seq[Transport]): Dataset[SinkStatus] = {
    val spark = bibcodes.sparkSession
    import spark.implicits._
    bibcodes.map { b =>
      val payload = s"""{"delete": {"query": "bibcode:\\"$b\\""}}"""
      val okAll = transports.forall { t =>
        try { t.send(Seq(payload)); true } catch { case _: Throwable => false }
      }
      SinkStatus(b, ok = okAll, retriedSolo = false, bodyStripped = false)
    }
  }
}
