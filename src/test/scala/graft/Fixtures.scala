package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MergeEngine
import graft.sources.Sinks

/** Deterministic synthetic inputs shared by the specs and the scale
  * scenarios (`graft.scale.Scale`). Every generator is a pure function of
  * its row ids, so re-runs are byte-identical. */
object Fixtures {

  /** Master rows `bibcode = prefix + zero-padded id` carrying `slots`
    * (column name → expression over `id`), padded to the master schema
    * with typed nulls. */
  def master(spark: SparkSession, n: Long, prefix: String, digits: Int,
      slots: (String, Column)*): DataFrame = {
    val base = slots.foldLeft(spark.range(n).toDF("id")
      .withColumn("bibcode", concat(lit(prefix), format_string(s"%0${digits}d", col("id"))))) {
      case (df, (name, value)) => df.withColumn(name, value)
    }
    val have = base.columns.toSet
    base.select(MergeEngine.emptyMaster(spark).schema.fields.map { f =>
      if (have(f.name)) col(f.name) else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** A timestamp in 2025, one day per id residue mod 365 (plus `shift`). */
  def day(id: Column, shift: Int = 0): Column =
    (lit(1735689600L) + pmod(id + shift, lit(365)) * 86400L).cast("timestamp")

  /** The sitemap path's master: only what it reads (bibcode, bib_data
    * presence, bib_data_updated, status). About 1.5% of rows carry null
    * bib_data and about 0.5% a solr-failed status, so the P7 inclusion
    * predicate filters something. */
  def sitemapMaster(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    master(spark, n, "2026Synth", 10,
      "bib_data" -> when(id % 67 === 0, lit(null).cast("string"))
        .otherwise(format_string("{\"title\":\"Synthetic %d\"}", id)),
      "bib_data_updated" -> day(id),
      "status" -> when(id % 211 === 0, lit("solr-failed")).otherwise(lit(null).cast("string")),
      "created" -> day(id), "updated" -> day(id))
  }

  /** A master with a ~0.5 KB semi-incompressible bib_data per row, so
    * byte ratios mean what they claim (a padded constant would compress
    * to nothing). */
  def blobMaster(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    master(spark, n, "2026Bench", 10,
      "bib_data" -> concat(lit("{\"title\":\"doc\",\"blob\":\"") +:
        "abcdefgh".map(s => sha2(concat(id, lit(s.toString)), 256)) :+ lit("\"}"): _*),
      "bib_data_updated" -> day(id), "created" -> day(id), "updated" -> day(id))
  }

  /** A master with all eight payload slots filled (bib ~0.4 KB with
    * title/author/links_data, nonbib with simbad/ned/grants/uat, metrics,
    * boosts), so the T1 transform does its full work per record. */
  def fullMaster(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    master(spark, n, "2026Tb", 13,
      "bib_data" -> format_string(
        "{\"bibcode\":\"2026Tb%013d\",\"title\":[\"Title %d alpha\",\"beta\"]," +
          "\"author\":[\"Author, A%d\",\"Author, B\"],\"author_count\":2," +
          "\"abstract\":\"Abstract body %d with several words of text\"," +
          "\"database\":[\"astronomy\"],\"doctype\":\"article\"," +
          "\"first_author\":\"Author, A%d\",\"identifier\":[\"arXiv:%d\"]," +
          "\"links_data\":[\"{\\\"access\\\": \\\"open\\\", \\\"url\\\": \\\"http://x/%d\\\"}\"]," +
          "\"pub\":\"The Journal\",\"volume\":\"%d\",\"year\":\"2024\"}",
        id, id, id, id, id, id, id, pmod(id, lit(900)) + 1),
      "nonbib_data" -> format_string(
        "{\"boost\":0.%02d,\"norm_cites\":%d,\"readers\":[\"r%d\",\"r%d\"]," +
          "\"reference\":[\"2020A%d\",\"2021B%d\"],\"reference_count\":2," +
          "\"data\":[\"SIMBAD:%d\",\"NED:1\"],\"property\":[\"ESOURCE\",\"ARTICLE\"]," +
          "\"simbad_objects\":[\"%d G\",\"%d Star\"],\"ned_objects\":[\"N%d RadioQ\"]," +
          "\"grants\":[\"NASA %d\"],\"uat\":[\"astro/stars/%d\"]," +
          "\"planetary_feature\":[\"Mars/Crater/C%d/%d\"]," +
          "\"citation_count\":%d,\"citation_count_norm\":0.%02d," +
          "\"mention\":[\"m%d\"],\"credit\":[\"c%d\"]}",
        pmod(id, lit(100)), pmod(id, lit(50)), id, id + 1, id, id, pmod(id, lit(40)),
        id, id + 7, id, pmod(id, lit(999)), id, id, id, pmod(id, lit(200)),
        pmod(id, lit(100)), id, id),
      "orcid_claims" ->
        format_string("{\"verified\":[\"0000-0002-%04d\"]}", pmod(id, lit(9999))),
      "fulltext" -> format_string(
        "{\"body\":\"Full text body %d with words\",\"acknowledgements\":\"Thanks %d\"}", id, id),
      "metrics" -> format_string("{\"citations\":[\"2019X%d\",\"2018Y%d\"]}", id, id),
      "augments" -> format_string("{\"aff_raw\":[\"Inst %d\"],\"aff_id\":[\"A%d\"]}", id, id),
      "classifications" -> lit("[\"astrophysics\"]"),
      "boost_factors" -> format_string(
        "{\"doctype_boost\":1.%02d,\"recency_boost\":0.%02d,\"boost_factor\":1.0," +
          "\"astronomy_final_boost\":1.%02d}",
        pmod(id, lit(100)), pmod(id, lit(100)), pmod(id, lit(100))),
      "bib_data_updated" -> day(id), "nonbib_data_updated" -> day(id, 100),
      "orcid_claims_updated" -> day(id), "fulltext_updated" -> day(id, 100),
      "metrics_updated" -> day(id), "augments_updated" -> day(id, 100),
      "classifications_updated" -> day(id), "boost_factors_updated" -> day(id, 100))
  }

  /** A word of the 50,000-word synthetic vocabulary, picked by the
    * portable hash of `seed`. */
  def word(seed: Column): Column =
    concat(lit("w"), pmod(xxhash64(seed), lit(50000L)).cast("string"))

  private def msgBibcode(id: Column): Column =
    concat(lit("2026Pipe"), format_string("%07d", id), lit("....A"))

  /** The 4-message ingest envelope for records [lo, hi): bib metadata,
    * nonbib, orcid claims, metrics. Content is a pure function of
    * (id, rev): equal revs at different timestamps are byte-identical
    * payloads (the checksum-suppression case), a rev bump changes them.
    * Arrival ts = tsBase + per-record jitter + per-mtype offset
    * (metadata first, metrics last, the reference's usual queue order). */
  def messages(spark: SparkSession, lo: Long, hi: Long, rev: Int,
      tsBase: Long): DataFrame = {
    val ids = spark.range(lo, hi).toDF("id")
    val id = col("id")
    def msg(mtype: String, offset: Int, payload: Column): DataFrame =
      ids.select(msgBibcode(id).as("bibcode"), lit(mtype).as("mtype"), payload.as("payload"),
        ((lit(tsBase) + pmod(id, lit(997)) * 4L + offset) / 1000.0).cast("timestamp").as("ts"))
    msg("metadata", 0, format_string(
        "{\"bibcode\":\"2026Pipe%07d....A\",\"title\":[\"Title %d rev" + rev +
          " alpha\",\"beta\"],\"author\":[\"Author, A%d\",\"Author, B\"]," +
          "\"author_count\":2,\"abstract\":\"Abstract body %d rev" + rev +
          " with several words of text\",\"database\":[\"astronomy\"]," +
          "\"doctype\":\"article\",\"first_author\":\"Author, A%d\"," +
          "\"identifier\":[\"arXiv:%d\"],\"links_data\":[\"{\\\"access\\\": " +
          "\\\"open\\\", \\\"url\\\": \\\"http://x/%d\\\"}\"]," +
          "\"pub\":\"The Journal\",\"volume\":\"%d\",\"year\":\"2024\"}",
        id, id, id, id, id, id, id, pmod(id, lit(900)) + 1))
      .unionByName(msg("nonbib_data", 1, format_string(
        "{\"boost\":0.%02d,\"citation_count\":%d,\"read_count\":%d," +
          "\"data\":[\"SIMBAD:%d\"],\"property\":[\"ESOURCE\",\"ARTICLE\"]," +
          "\"reference\":[\"2020A%d\",\"2021B%d\"],\"reference_count\":2}",
        pmod(id + rev, lit(100)), pmod(id + rev * 7, lit(999)),
        pmod(id, lit(500)), pmod(id, lit(40)), id, id)))
      .unionByName(msg("orcid_claims", 2, format_string(
        "{\"verified\":[\"0000-0002-%04d\"],\"unverified\":[]}", pmod(id + rev, lit(9999)))))
      .unionByName(msg("metrics", 3, format_string(
        "{\"bibcode\":\"2026Pipe%07d....A\",\"citation_num\":%d,\"reads\":[%d,%d]}",
        id, pmod(id + rev * 7, lit(999)), pmod(id, lit(50)), pmod(id + 1, lit(50)))))
      .withColumn("status", lit(null).cast("string"))
  }

  /** The bibcodes `messages` gives records [lo, hi). */
  def messageKeys(spark: SparkSession, lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(msgBibcode(col("id")).as("bibcode"))

  /** Content-column digest of a master snapshot: row count + order-free
    * XOR of per-row hashes over everything the pipeline derives from
    * message content (slots, scix_id, sink checksums, status).
    * Wall-clock-stamped columns (created, updated, processed, the per-sink
    * processed stamps) and the get-or-create `id` are excluded: they
    * differ between a streamed and a batch run by construction. */
  def contentDigest(df: DataFrame): (Long, Long) = {
    val cols = Seq("bibcode", "scix_id", "bib_data", "nonbib_data",
      "orcid_claims", "fulltext", "metrics", "augments", "classifications",
      "boost_factors", "solr_checksum", "metrics_checksum",
      "datalinks_checksum", "status")
    val r = df.select(count(lit(1)), bit_xor(xxhash64(cols.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  // JVM-static delivery counters: executor threads in local mode share
  // this JVM, and `object` transports deserialize back to the singleton
  val solrDocs = new java.util.concurrent.atomic.LongAdder
  val solrBytes = new java.util.concurrent.atomic.LongAdder

  /** Counts the solr documents and bytes it is sent. */
  object SolrTransport extends Sinks.Transport {
    def send(p: Seq[String]): Unit = {
      solrDocs.add(p.size); solrBytes.add(p.map(_.length.toLong).sum)
    }
  }

  /** Accepts every bulk batch. */
  object BulkTransport extends Sinks.Transport {
    def send(p: Seq[String]): Unit = ()
  }
}
