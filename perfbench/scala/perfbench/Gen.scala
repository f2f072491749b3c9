package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own seeded input generator. Everything the program sees
  * is a pure function of (seed, record index, content revision): the same
  * seed gives byte-identical payloads, so a redelivered message carries the
  * same content and the checksum suppression path is exercised for real.
  *
  * The seed picks the bibcode set (year, journal and initial per record,
  * plus a key-space offset), the payload words and lengths (abstract words
  * and author counts follow a skewed power law: most records are short, a
  * few are long) and the lookup keys. It never changes the amount of work:
  * record counts, wave sizes and key ranges are fixed by the workload. */
final class Gen(val seed: Long) {

  private val journals = Seq("ApJ..", "MNRAS", "AJ...", "PASP.", "Icar.",
    "SoPh.", "PhRvD", "JGRA.", "ApJS.", "Natur")
  private val vocab = Seq("star", "galaxy", "cluster", "dark", "matter",
    "spectrum", "survey", "redshift", "flux", "model", "orbit", "planet",
    "solar", "wind", "magnetic", "field", "halo", "mass", "radio", "xray",
    "infrared", "emission", "line", "dust", "gas", "disk", "accretion",
    "black", "hole", "neutron", "pulsar", "cosmic", "ray", "lensing",
    "supernova", "nebula", "comet", "asteroid", "transit", "photometry")

  /** Offset of this seed's key space: different seeds touch different
    * bibcodes, so nothing depends on one fixed key set. */
  val keyBase: Long = Math.floorMod(new java.util.SplittableRandom(seed).nextLong(), 1000L) * 10000L

  private def h(salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform [0, 1) from a seeded hash of the given columns. */
  private def u(salt: Int, cols: Column*): Column =
    pmod(h(salt, cols: _*), lit(1000000L)).cast("double") / 1e6

  /** 19-character bibcode of record index `k`: unique per k (volume and
    * page encode it), year/journal/initial drawn from the seed. */
  def bibcode(k: Column): Column = {
    val key = k + lit(keyBase)
    val year = (lit(1990L) + pmod(h(1, key), lit(36L))).cast("string")
    val journal = element_at(array(journals.map(lit): _*),
      (pmod(h(2, key), lit(journals.size.toLong)) + 1).cast("int"))
    val vol = lpad((floor(key / 9000L) + 1).cast("string"), 4, ".")
    val page = lpad((pmod(key, lit(9000L)) + 1000).cast("string"), 4, ".")
    val initial = element_at(array(('A' to 'Z').map(c => lit(c.toString)): _*),
      (pmod(h(3, key), lit(26L)) + 1).cast("int"))
    concat(year, journal, vol, lit("."), page, initial)
  }

  /** Driver-side twin of [[bibcode]] for small key lists (lookups). */
  def bibcodes(ks: Seq[Long]): Seq[String] = {
    val spark = SparkSession.active
    import spark.implicits._
    ks.toDF("k").select(bibcode(col("k"))).as[String].collect().toSeq
  }

  private def words(n: Column, salt: Int, k: Column, rev: Int): Column =
    array_join(transform(sequence(lit(1), n), i =>
      element_at(array(vocab.map(lit): _*),
        (pmod(h(salt, k, lit(rev), i), lit(vocab.size.toLong)) + 1).cast("int"))), " ")

  /** Skewed lengths: u^3 puts most mass near the minimum with a long tail. */
  private def abstractWords(k: Column): Column =
    (lit(20) + floor(pow(u(4, k), 3.0) * 380)).cast("int")
  private def authorCount(k: Column): Column =
    (lit(1) + floor(pow(u(5, k), 4.0) * 60)).cast("int")

  /** The four payload documents of record `k` at content revision `rev`,
    * as JSON strings: metadata (bib_data), nonbib, orcid claims, metrics. */
  def payloads(ids: DataFrame, rev: Int): DataFrame = {
    val k = col("k")
    val nAuth = authorCount(k)
    val authors = transform(sequence(lit(1), nAuth),
      i => concat(lit("Author"), i.cast("string"), lit(", "),
        element_at(array(('A' to 'Z').map(c => lit(c.toString)): _*),
          (pmod(h(6, k, i), lit(26L)) + 1).cast("int")), lit(".")))
    val bib = bibcode(k)
    val year = substring(bib, 1, 4)
    val bibData = to_json(struct(
      bib.as("bibcode"),
      array(concat(lit("On the "), words(lit(6), 7, k, rev)), lit("part II")).as("title"),
      authors.as("author"),
      nAuth.as("author_count"),
      words(abstractWords(k), 8, k, rev).as("abstract"),
      array(lit("astronomy")).as("database"),
      lit("article").as("doctype"),
      element_at(authors, 1).as("first_author"),
      array(concat(lit("arXiv:"), pmod(h(9, k), lit(100000000L)).cast("string"))).as("identifier"),
      // the revision is in the link too, so a new revision changes the
      // payload of every sink, the links sink's included
      array(to_json(struct(lit("open").as("access"),
        concat(lit("https://arxiv.org/abs/"), bib, lit("v" + rev)).as("url")))).as("links_data"),
      substring(bib, 5, 5).as("pub"),
      lit(rev.toString).as("volume"),
      year.as("year"),
      concat(year, lit("-01-00")).as("pubdate")))
    // + rev: a new revision always changes the citation count, so the
    // metrics payload changes with it (a hashed count would repeat for
    // about one record in two thousand, and checksum suppression would
    // then rightly skip that record's metrics delivery)
    val cites = pmod(h(10, k), lit(2000L)) + rev
    val nonbib = to_json(struct(
      (pmod(h(11, k, lit(rev)), lit(100L)).cast("double") / 100).as("boost"),
      cites.as("citation_count"),
      pmod(h(12, k), lit(500L)).as("read_count"),
      array(concat(lit("SIMBAD:"), pmod(h(13, k), lit(40L)).cast("string"))).as("data"),
      array(lit("ESOURCE"), lit("ARTICLE"), lit("REFEREED")).as("property"),
      transform(sequence(lit(1), (pmod(h(14, k), lit(8L)) + 1).cast("int")),
        i => concat(lit("2020Ref."), lpad(i.cast("string"), 4, "."), lit(".."),
          pmod(h(15, k, i), lit(9999L)).cast("string"))).as("reference"),
      (pmod(h(14, k), lit(8L)) + 1).as("reference_count")))
    val orcid = to_json(struct(
      array(concat(lit("0000-0002-"), lpad(pmod(h(16, k, lit(rev)), lit(9999L)).cast("string"), 4, "0")))
        .as("verified"),
      array().cast("array<string>").as("unverified")))
    val metrics = to_json(struct(
      bib.as("bibcode"),
      cites.as("citation_num"),
      array(pmod(h(17, k), lit(50L)), pmod(h(18, k), lit(50L))).as("reads"),
      lit(true).as("refereed"),
      nAuth.as("author_num")))
    ids.select(k, bib.as("bibcode"), bibData.as("bib_data"), nonbib.as("nonbib_data"),
      orcid.as("orcid_claims"), metrics.as("metrics"))
  }

  /** Update messages (UpdateMessage columns) for the records in `ids`
    * (column `k`): one per message type, arrival time `tsMs` plus a
    * per-type offset (metadata first, metrics last, the usual queue order). */
  def messagesFor(ids: DataFrame, rev: Int, tsMs: Long): DataFrame = {
    val p = payloads(ids, rev)
    def one(mtype: String, slot: String, off: Int): DataFrame = p.select(
      col("bibcode"), lit(mtype).as("mtype"), col(slot).as("payload"),
      ((lit(tsMs) + off) / 1000.0).cast("timestamp").as("ts"),
      lit(null).cast("string").as("status"))
    one("metadata", "bib_data", 0)
      .unionByName(one("nonbib_data", "nonbib_data", 1))
      .unionByName(one("orcid_claims", "orcid_claims", 2))
      .unionByName(one("metrics", "metrics", 3))
  }

  /** Already-processed master rows for the records in `ids` (column `k`):
    * every payload slot the pipeline needs is present, `processed` is after
    * `updated`, status success — the standing corpus a steady-state
    * deployment holds. */
  def standingCorpus(ids: DataFrame, updatedMs: Long, processedMs: Long): DataFrame = {
    val spark = ids.sparkSession
    val p = payloads(ids, 0)
    val upd = (lit(updatedMs) / 1000.0).cast("timestamp")
    val done = (lit(processedMs) / 1000.0).cast("timestamp")
    val have = p.withColumn("id", col("k") + 1)
      .withColumn("bib_data_updated", upd)
      .withColumn("nonbib_data_updated", upd)
      .withColumn("orcid_claims_updated", upd)
      .withColumn("metrics_updated", upd)
      .withColumn("created", upd).withColumn("updated", upd)
      .withColumn("processed", done).withColumn("solr_processed", done)
      .withColumn("metrics_processed", done).withColumn("datalinks_processed", done)
      .withColumn("status", lit("success"))
    val names = have.columns.toSet
    have.select(graft.operators.MergeEngine.emptyMaster(spark).schema.fields.map { f =>
      if (names(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Seeded PRNG stream for driver-side choices (lookup keys). */
  def rng(stream: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + stream)
}
