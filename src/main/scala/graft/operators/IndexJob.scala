package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.json4s._
import java.sql.Timestamp

import graft.records.MasterRecord
import graft.sources.Sinks
import graft.transform.SolrTransform
import graft.functions.CanonicalJson

/** The §3.2 index job: select changed+complete records, build the three
  * sink payloads (SOLR doc, metrics row, resolver links), suppress
  * unchanged ones by checksum, deliver them and stamp the master table
  * (reference: run.py:103-232 + adsmp/tasks.py:317-460).
  *
  * Spark shape: the eligibility predicates (P1-P3) are Column expressions;
  * one per-record builder ([[payload]]) makes every payload, with
  * checksum change-suppression (P4) a row-local comparison against the
  * stored checksum column. [[deliver]] is the pipeline's index pass: one
  * `mapPartitions` over the master that takes due records in chunks of
  * the sink batch size, builds their payloads, sends them through the
  * sinks' retry ladder and emits every row stamped — the reference's
  * per-chunk reindex_records loop, with no shuffle and no join back.
  * [[run]] builds payload streams alone, for the catalog queries.
  */
object IndexJob {

  /** generate_links_for_resolver (T14, adsmp/app.py:876-920): prefer
    * nonbib data_links_rows; else synthesize the two ESOURCE rows from the
    * bib links_data URL with the /abs/ → /pdf/ rewrite. */
  def linksForResolver(rec: MasterRecord): Option[JObject] = {
    val nonbib = rec.nonbib_data.map(SolrTransform.parse).getOrElse(JNothing)
    val rows = nonbib \ "data_links_rows"
    if (SolrTransform.truthy(rows))
      Some(JObject(List("bibcode" -> JString(rec.bibcode), "data_links_rows" -> rows)))
    else {
      val bib = rec.bib_data.map(SolrTransform.parse).getOrElse(JNothing)
      bib \ "links_data" match {
        case JArray(JString(first) :: _) =>
          (try Some(SolrTransform.parse(first)) catch { case _: Throwable => None })
            .flatMap { ld =>
              ld \ "url" match {
                case JString(url) if url.nonEmpty =>
                  val pdf = url.replace("/abs/", "/pdf/")
                  def row(u: String, sub: String): JObject = JObject(List(
                    "url" -> JArray(List(JString(u))), "title" -> JArray(List(JString(""))),
                    "item_count" -> JInt(0), "link_type" -> JString("ESOURCE"),
                    "link_sub_type" -> JString(sub)))
                  Some(JObject(List("bibcode" -> JString(rec.bibcode),
                    "data_links_rows" -> JArray(List(row(url, "EPRINT_HTML"), row(pdf, "EPRINT_PDF"))))))
                case _ => None
              }
            }
        case _ => None
      }
    }
  }

  /** Boost-pipeline request message (adsmp/app.py:774-801): a projection
    * of the record for the external boost scorer. */
  def boostRequest(rec: MasterRecord): JObject = JObject(List(
    "bibcode" -> JString(rec.bibcode),
    "scix_id" -> JString(rec.scix_id.getOrElse("")),
    "status" -> JString("updated"),
    "bib_data" -> JString(rec.bib_data.getOrElse("")),
    "metrics" -> JString(rec.metrics.getOrElse("")),
    "classifications" -> rec.classifications.map(SolrTransform.parse)
      .filter(SolrTransform.truthy).getOrElse(JArray(Nil)),
    "collections" -> JArray(Nil),
    "run_id" -> JInt(0),
    "output_path" -> JString("")))

  /** Affiliation-augment request (adsmp/app.py:628-653): sent only when
    * the bib data carries a non-empty aff list. */
  def affAugmentRequest(rec: MasterRecord): Option[JObject] = {
    val bib = rec.bib_data.map(SolrTransform.parse).getOrElse(JNothing)
    val aff = bib \ "aff"
    if (!SolrTransform.truthy(aff)) None
    else Some(JObject(List(
      "bibcode" -> JString(rec.bibcode),
      "aff" -> aff,
      "author" -> (bib \ "author" match { case JNothing => JString(""); case v => v }))))
  }

  /** Classifier-pipeline request (adsmp/app.py:655-727 prepare_bibcode +
    * request_classify): sent only when the bib data carries a non-empty
    * title; the title flattens to its first element like the reference's
    * protobuf build. `operationStep` is classify or classify_verify. */
  def classifyRequest(rec: MasterRecord, operationStep: String,
      outputPath: Option[String] = None): Option[JObject] = {
    val bib = rec.bib_data.map(SolrTransform.parse).getOrElse(JNothing)
    val title = bib \ "title" match {
      case JArray(JString(t) :: _) => t
      case JString(t) => t
      case _ => ""
    }
    if (title.isEmpty) None
    else Some(classifyEntry(rec.bibcode, title, bib \ "abstract" match {
      case JString(a) => a; case _ => "" }, operationStep, outputPath,
      scixId = Some(rec.scix_id.getOrElse(""))))
  }

  /** One classify_requests entry (app.py:711-719 auto, :746-755 manual —
    * the manual batch path also stamps `output_path`, the input file's
    * basename, so the classifier writes verdicts next to the request). */
  def classifyEntry(bibcode: String, title: String, abstractText: String,
      operationStep: String, outputPath: Option[String] = None,
      scixId: Option[String] = None): JObject =
    JObject(List(
      "bibcode" -> JString(bibcode)) ++
      scixId.map(s => "scix_id" -> JString(s): (String, JValue)).toList ++
      List(
        "title" -> (JString(title): JValue),
        "abstract" -> (JString(abstractText): JValue),
        "operation_step" -> (JString(operationStep): JValue)) ++
      outputPath.map(p => "output_path" -> JString(p): (String, JValue)).toList)

  /** Manual-mode classify entry resolution (app.py:735-755): a CSV row
    * carrying its own title or abstract is used as-is; otherwise the
    * store's bib_data is consulted (prepare_bibcode). Rows resolving to
    * no title are skipped, and every entry is stamped with `output_path`
    * (the input file's name sans extension, app.py:755) so the classifier
    * writes verdicts next to the request. */
  def manualClassifyEntry(bibcode: String, csvTitle: Option[String],
      csvAbstract: Option[String], bibData: Option[String],
      operationStep: String, outputPath: String): Option[JObject] = {
    val (title, abstr) =
      if (csvTitle.exists(_.nonEmpty) || csvAbstract.exists(_.nonEmpty))
        (csvTitle.getOrElse(""), csvAbstract.getOrElse(""))
      else {
        val bib = bibData.map(SolrTransform.parse).getOrElse(JNothing)
        (bib \ "title" match {
          case JArray(JString(t) :: _) => t
          case JString(t)              => t
          case _                       => ""
        }, bib \ "abstract" match { case JString(a) => a; case _ => "" })
      }
    if (title.isEmpty) None
    else Some(classifyEntry(bibcode, title, abstr, operationStep, Some(outputPath)))
  }

  /** One sink payload: bibcode, rendered JSON, its checksum, and whether
    * the checksum differs from the stored one (i.e. a write is due). */
  case class SinkPayload(bibcode: String, payload: String, checksum: String, changed: Boolean)

  case class IndexBatch(solr: DataFrame, metrics: DataFrame, links: DataFrame)

  private val Epoch1972 = Timestamp.valueOf("1972-01-01 00:00:00")

  /** Eligibility: P1 incremental + P2 completeness + P3 already-processed
    * suppression (run.py:147-159; adsmp/tasks.py:374-389). Pure column
    * expressions — pushed to the scan. */
  def eligible(since: Option[Timestamp], force: Boolean) = {
    val p1 = since.map(s => col("updated") >= lit(s)).getOrElse(lit(true))
    // run.py:153-159's outer skip: anything processed since its last
    // arrival is done, regardless of which OPTIONAL slots exist. Without
    // it a record that never received the optional augments slot can
    // never satisfy the four-slot alreadyDone check below and would be
    // re-transformed on every unbounded sweep — at the reference's 28.8M
    // rows that is a near-full reprocess per run
    val p0 =
      if (force) lit(true)
      else !(coalesce(col("processed"), lit(Epoch1972)) >
        coalesce(col("updated"), lit(Epoch1972)))
    val complete = col("bib_data_updated").isNotNull &&
      col("orcid_claims_updated").isNotNull && col("nonbib_data_updated").isNotNull
    val p2 = if (force) col("bib_data_updated").isNotNull else complete
    val processedOr1972 = coalesce(col("processed"), lit(Epoch1972))
    val alreadyDone =
      col("augments_updated").isNotNull && (col("augments_updated") < processedOr1972) &&
      col("bib_data_updated").isNotNull && (col("bib_data_updated") < processedOr1972) &&
      col("nonbib_data_updated").isNotNull && (col("nonbib_data_updated") < processedOr1972) &&
      col("orcid_claims_updated").isNotNull && (col("orcid_claims_updated") < processedOr1972)
    val p3 = if (force) lit(true) else !alreadyDone
    p0 && p1 && p2 && p3
  }

  /** One record's payload for `sink` (solr, metrics or links; None when
    * the record has none: no metrics slot, no links), with `changed` set
    * when its checksum differs from the stored one. The one payload
    * builder: [[run]] maps it over a selection, [[deliver]] over each
    * chunk of records. */
  def payload(sink: String, rec: MasterRecord): Option[SinkPayload] = sink match {
    case "solr" =>
      val doc = SolrTransform.transform(rec)
      // identifier completeness (T16, adsmp/tasks.py:398-402)
      val ids = doc.obj.toMap.get("identifier") match {
        case Some(JArray(xs)) => xs
        case _                => Nil
      }
      val withId =
        if (ids.contains(JString(rec.bibcode))) doc
        else JObject(doc.obj.filterNot(_._1 == "identifier") :+
          ("identifier" -> (JArray(ids :+ JString(rec.bibcode)): JValue)))
      Some(built(rec.bibcode, withId, CanonicalJson.checksumOf(withId), rec.solr_checksum))
    case "metrics" =>
      rec.metrics.map { m =>
        val parsed = SolrTransform.parse(m)
        val withBib = parsed match {
          case JObject(fs) => JObject(fs.filterNot(_._1 == "bibcode") :+
            ("bibcode" -> (JString(rec.bibcode): JValue)))
          case other => other
        }
        // the checksum is the stored metrics document's, before the bibcode
        built(rec.bibcode, withBib, CanonicalJson.checksumOf(parsed), rec.metrics_checksum)
      }
    case "links" =>
      linksForResolver(rec).map(p =>
        built(rec.bibcode, p, CanonicalJson.checksumOf(p), rec.datalinks_checksum))
  }

  private def built(bibcode: String, doc: JValue, cks: String,
      stored: Option[String]): SinkPayload =
    SinkPayload(bibcode, CanonicalJson.serialize(doc), cks, !stored.contains(cks))

  /** Build the requested payload streams for one selection of master
    * records. `ignoreChecksums` mirrors --force_indexing (ST4 idempotence:
    * replaying a batch yields changed=false everywhere). `modes` mirrors
    * the reference's P9 per-mode `load_only` lists (adsmp/tasks.py:349-357):
    * an unselected mode builds nothing. */
  def run(selected: Dataset[MasterRecord], ignoreChecksums: Boolean = false,
      modes: Set[String] = Set("solr", "metrics", "links")): IndexBatch = {
    val spark = selected.sparkSession
    import spark.implicits._
    def stream(sink: String): DataFrame =
      if (!modes(sink)) spark.emptyDataset[SinkPayload].toDF()
      else selected.flatMap(payload(sink, _).filter(ignoreChecksums || _.changed)).toDF()
    IndexBatch(stream("solr"), stream("metrics"), stream("links"))
  }

  /** One master row out of [[deliver]]'s pass. */
  case class Indexed(rec: MasterRecord, indexed: Boolean,
      solrOk: Option[Boolean], metricsOk: Option[Boolean], linksOk: Option[Boolean])

  /** The index pass over master-schema `rows`, `due` flagging the rows to
    * index (the P1-P3 gate and any -b/-n restriction): the per-chunk loop
    * of the reference's reindex_records (adsmp/tasks.py:317-460). Rows
    * that are not due pass through as they came. Due rows are taken in
    * chunks of `Sinks.BatchSize`; for each chunk the pass builds every selected
    * sink's due payloads ([[payload]]; due = changed, or any with
    * `ignoreChecksums`), sends each sink's through the retry ladder
    * (`Sinks.ladder`: solr with the body-strip rung on `solrTransport`,
    * metrics and links on `bulkTransport`), and emits the chunk's rows
    * stamped with the outcomes at `stampAt` (MergeEngine.stamp; None
    * stamps nothing, the update_processed=False run). With no sink selected
    * nothing is built.
    *
    * The result has the master columns (stamped) and four more: `indexed`,
    * whether the row has a due solr doc (built for the count also when
    * solr is not selected), and per sink `solrOk`, `metricsOk`, `linksOk`,
    * the delivery outcome of its payload (null: no due payload, or the
    * sink is not selected). Every action over it re-runs the transports,
    * so a caller that reads it more than once caches it and fills the
    * cache with its first action. A caller that reads it once makes it the
    * input of that action: the forced full sweep's bucketed snapshot write
    * (MasterStore.rewrite), one Spark job over a layer-free snapshot. The
    * pass keeps every row in the partition it came from (only their order
    * within it changes), so bucket-aligned input splits stay aligned. */
  def deliver(rows: DataFrame, due: Column, sinks: Set[String],
      solrTransport: Sinks.Transport, bulkTransport: Sinks.Transport,
      ignoreChecksums: Boolean, stampAt: Option[Timestamp]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    // solr is built for the `indexed` count whenever any sink runs
    val builds = MergeEngine.sinkColumns.map(_._1)
      .filter(s => sinks(s) || (s == "solr" && sinks.nonEmpty))
    def send(chunk: Seq[MasterRecord]): Iterator[Indexed] = {
      val built = builds.map(s => s -> chunk.map(payload(s, _)
        .filter(ignoreChecksums || _.changed))).toMap
      val outcome = builds.filter(sinks).map { s =>
        val statuses = Sinks.ladder(
          built(s).flatten.map(p => (p.bibcode, p.payload, p.checksum)),
          if (s == "solr") solrTransport else bulkTransport, stripBodies = s == "solr")
          .iterator
        s -> built(s).map(_.map(_ => statuses.next()))
      }.toMap
      chunk.indices.iterator.map { i =>
        def o(s: String) = outcome.get(s).flatMap(_(i)).map(st => (st.ok, st.checksum))
        val rec = stampAt.fold(chunk(i))(now =>
          MergeEngine.stamp(chunk(i), o("solr"), o("metrics"), o("links"), now))
        Indexed(rec, built.get("solr").exists(_(i).isDefined),
          o("solr").map(_._1), o("metrics").map(_._1), o("links").map(_._1))
      }
    }
    // a null gate (a null `updated` under a since-window) is not due, as
    // a filter on it would drop the row
    rows.select(struct(MergeEngine.masterColumns.map(col): _*).as("_1"),
        coalesce(due, lit(false)).as("_2"))
      .as[(MasterRecord, Boolean)]
      .mapPartitions { it =>
        if (sinks.isEmpty) it.map(r => Indexed(r._1, false, None, None, None))
        else new Chunked(it, send)
      }
      .select(col("rec.*"), col("indexed"), col("solrOk"), col("metricsOk"), col("linksOk"))
  }

  /** A partition's rows with the due ones sent in chunks: a row that is
    * not due passes through at once, so a sparse sweep holds at most one
    * chunk of due records and still sends full batches. */
  private final class Chunked(it: Iterator[(MasterRecord, Boolean)],
      send: Seq[MasterRecord] => Iterator[Indexed]) extends Iterator[Indexed] {
    private val due = scala.collection.mutable.ArrayBuffer.empty[MasterRecord]
    private var out: Iterator[Indexed] = Iterator.empty
    def hasNext: Boolean = {
      while (!out.hasNext && (it.hasNext || due.nonEmpty))
        if (!it.hasNext || due.size == Sinks.BatchSize) {
          out = send(due.toVector)
          due.clear()
        } else it.next() match {
          case (rec, true) => due += rec
          case (rec, false) => out = Iterator.single(Indexed(rec, false, None, None, None))
        }
      out.hasNext
    }
    def next(): Indexed =
      if (hasNext) out.next() else throw new NoSuchElementException("end of partition")
  }
}
