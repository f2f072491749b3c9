package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Sitemap

/** Sitemap tests: P7 inclusion, distributed W1 bucketing (must match the
  * reference's sequential fill), golden XML strings from
  * adsmp/templates/__init__.py + adsmp/tests/test_templates.py. */
class SitemapSpec extends AnyFunSuite with SparkSpec {

  test("P7 inclusion predicate") {
    import spark.implicits._
    val rows = Seq(
      ("b1", Some("{}"), Some("success")),
      ("b2", Some("{}"), None),
      ("b3", None: Option[String], Some("success")),
      ("b4", Some("{}"), Some("solr-failed")),
      ("b5", Some("{}"), Some("retrying")))
      .toDF("bibcode", "bib_data", "status")
    val kept = rows.filter(Sitemap.shouldInclude).collect().map(_.getString(0)).toSet
    assert(kept == Set("b1", "b2"))
  }

  test("P7 inclusion matrix: all 17 reference scenarios (test_should_include_in_sitemap_comprehensive)") {
    import spark.implicits._
    val base = 1700000000000L
    def t(deltaMs: Long): Option[java.sql.Timestamp] =
      Some(new java.sql.Timestamp(base + deltaMs))
    val day = 86400000L
    // (case, bib_data, status, bib_data_updated, solr_processed, expected)
    val cases = Seq(
      ("no_bib_data", None: Option[String], Some("success"), None, None, false),
      ("solr_failed", Some("{}"), Some("solr-failed"), None, None, false),
      ("retrying", Some("{}"), Some("retrying"), None, None, false),
      ("none_status", Some("{}"), None, None, None, true),
      ("success", Some("{}"), Some("success"), t(-day), None, true),
      ("metrics_failed", Some("{}"), Some("metrics-failed"), None, None, true),
      ("links_failed", Some("{}"), Some("links-failed"), None, None, true),
      ("not_processed", Some("{}"), None, None, None, true),
      ("recent_solr", Some("{}"), Some("success"), t(-day), t(0), true),
      ("stale_solr", Some("{}"), Some("success"), t(0), t(-6 * day), true),
      ("boundary_5d", Some("{}"), Some("success"), t(0), t(-5 * day - 1000), true),
      ("no_timestamps", Some("{}"), Some("success"), None, None, true),
      ("no_solr_time", Some("{}"), Some("success"), t(0), None, true),
      ("no_bib_time", Some("{}"), Some("success"), None, t(0), true),
      ("fresh", Some("{}"), Some("success"), t(-1800000), t(0), true),
      ("moderate_lag", Some("{}"), Some("success"), t(-2 * day), t(0), true))
    val df = cases.map { case (n, bd, st, bu, sp, exp) => (n, bd, st, bu, sp, exp) }
      .toDF("name", "bib_data", "status", "bib_data_updated", "solr_processed", "expected")
    val got = df.withColumn("included", Sitemap.shouldInclude)
      .select("name", "expected", "included").collect()
    for (r <- got)
      assert(r.getBoolean(1) == r.getBoolean(2), s"case ${r.getString(0)}")
    // staleness is a diagnostic, never an exclusion: only the >5d cases flag
    val stale = df.withColumn("stale", Sitemap.isStale)
      .filter(col("stale")).select("name").collect().map(_.getString(0)).toSet
    assert(stale == Set("stale_solr", "boundary_5d"))
  }

  test("W1 bucketing matches sequential fill, including continuation") {
    import spark.implicits._
    val records = (1L to 250L).map(i => (i * 10, s"b$i")).toDF("id", "bibcode")
      .repartition(7) // scatter input to prove ordinal is global
    val assigned = Sitemap.assignFilenames(records, maxPerFile = 100)
      .orderBy("id").collect()
    assert(assigned.length == 250)
    val byFile = assigned.groupBy(_.getAs[String]("sitemap_filename"))
      .view.mapValues(_.length).toMap
    assert(byFile == Map("sitemap_bib_1.xml" -> 100, "sitemap_bib_2.xml" -> 100,
      "sitemap_bib_3.xml" -> 50))
    // ordinal follows id order: first 100 ids in file 1
    assert(assigned.take(100).forall(_.getAs[String]("sitemap_filename") == "sitemap_bib_1.xml"))

    // continuation: 30 already in the last file → first 70 go to file 3
    val more = (251L to 400L).map(i => (i * 10, s"b$i")).toDF("id", "bibcode")
    val cont = Sitemap.assignFilenames(more, maxPerFile = 100, baseCount = 230)
      .orderBy("id").collect()
    assert(cont.take(70).forall(_.getAs[String]("sitemap_filename") == "sitemap_bib_3.xml"))
    assert(cont.drop(70).take(80).forall(_.getAs[String]("sitemap_filename") == "sitemap_bib_4.xml"))
  }

  test("url entry golden string with XML escaping") {
    import spark.implicits._
    val site = Sitemap.Sites("ads")
    val df = Seq(("2003ASPC..295..283B", "2024-01-15"), ("a&b<c>", "2024-01-16"))
      .toDF("bibcode", "lastmod")
      .select(Sitemap.urlEntry(col("bibcode"), col("lastmod"), site).as("e"))
    val entries = df.collect().map(_.getString(0))
    assert(entries(0) ==
      "\n<url><loc>https://ui.adsabs.harvard.edu/abs/2003ASPC..295..283B/abstract</loc><lastmod>2024-01-15</lastmod></url>")
    assert(entries(1).contains("a&amp;b&lt;c&gt;"))
  }

  test("rendered sitemap file is valid urlset XML in id order") {
    import spark.implicits._
    val records = Seq((3L, "b3", "2024-01-03"), (1L, "b1", "2024-01-01"), (2L, "b2", "2024-01-02"))
      .toDF("id", "bibcode", "lastmod")
    val assigned = Sitemap.assignFilenames(records, maxPerFile = 10)
    val rendered = Sitemap.renderFiles(assigned, Sitemap.Sites("scix")).collect()
    assert(rendered.length == 1)
    val content = rendered.head.getAs[String]("content")
    assert(content.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset"))
    assert(content.endsWith("</urlset>"))
    val order = Seq("b1", "b2", "b3").map(b => content.indexOf(s"/abs/$b/"))
    assert(order == order.sorted && order.forall(_ > 0), "entries in id order")
    assert(content.contains("https://scixplorer.org/abs/b2/abstract"))
  }

  test("sitemap index + robots golden strings") {
    val site = Sitemap.Sites("ads")
    val idx = Sitemap.renderIndex(site, Seq(
      ("sitemap_bib_2.xml", "2024-02-01"), ("sitemap_bib_1.xml", "2024-01-01")))
    assert(idx.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex"))
    val entry = Sitemap.sitemapIndexEntry(site, "sitemap_bib_1.xml", "2024-01-01")
    assert(entry ==
      "\n            <sitemap>\n            <loc>https://ui.adsabs.harvard.edu/sitemap/sitemap_bib_1.xml</loc>\n            <lastmod>2024-01-01</lastmod>\n            </sitemap>")
    assert(idx.indexOf("sitemap_bib_1.xml") < idx.indexOf("sitemap_bib_2.xml"))
    assert(Sitemap.renderRobots(site).startsWith(
      "Sitemap: https://ui.adsabs.harvard.edu/sitemap/sitemap_index.xml\n"))
    // static sitemap precedes bib files when provided
    val withStatic = Sitemap.renderIndex(site,
      Seq(("sitemap_bib_1.xml", "2024-01-01")),
      staticFirst = Seq(("sitemap_static.xml", "2024-01-01")))
    assert(withStatic.indexOf("sitemap_static.xml") < withStatic.indexOf("sitemap_bib_1.xml"))
    val static = Sitemap.renderStaticSitemap(site)
    assert(static.contains("https://ui.adsabs.harvard.edu/help/") &&
      static.contains("<changefreq>weekly</changefreq>"))
  }

  test("index lastmod per file: max of member lastmods, stable for untouched files") {
    import spark.implicits._
    val records = Seq(
      (1L, "b1", "2024-01-01"), (2L, "b2", "2024-01-03"), // file 1
      (3L, "b3", "2024-02-01"))                           // file 2
      .toDF("id", "bibcode", "lastmod")
    def lastmods(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      Sitemap.renderFiles(Sitemap.assignFilenames(df, maxPerFile = 2), Sitemap.Sites("ads"))
        .collect().map(r => r.getAs[String]("sitemap_filename") ->
          r.getAs[String]("file_lastmod")).toMap
    val first = lastmods(records)
    assert(first == Map("sitemap_bib_1.xml" -> "2024-01-03", "sitemap_bib_2.xml" -> "2024-02-01"))
    // only file 2's record changes → file 1 keeps its index lastmod
    // (the reference's per-file mtime semantics, tasks.py:932-941)
    val updated = Seq(
      (1L, "b1", "2024-01-01"), (2L, "b2", "2024-01-03"),
      (3L, "b3", "2024-03-15"))
      .toDF("id", "bibcode", "lastmod")
    val second = lastmods(updated)
    assert(second("sitemap_bib_1.xml") == "2024-01-03", "untouched file keeps lastmod")
    assert(second("sitemap_bib_2.xml") == "2024-03-15")
  }

  test("withGlobalOrdinal pins are released, not leaked") {
    import spark.implicits._
    // relative to the session's baseline: other suites share this session
    // and may legitimately hold caches of their own
    Pins.release(Sitemap.OrdinalPins) // clear pins from earlier tests in this suite
    val base = spark.sparkContext.getPersistentRDDs.size
    val records = (1L to 50L).map(i => (i, s"b$i")).toDF("id", "bibcode")
    Sitemap.assignFilenames(records, maxPerFile = 10).collect()
    assert(spark.sparkContext.getPersistentRDDs.size == base + 1,
      "ordinal pin is cached while in use")
    Pins.release(Sitemap.OrdinalPins)
    assert(spark.sparkContext.getPersistentRDDs.size == base,
      "releasePinned drops every ordinal pin — a multi-site driver run stays flat")
  }

  test("file write sink + files-needing-update semi-join") {
    import spark.implicits._
    val records = Seq((1L, "b1", "2024-01-01")).toDF("id", "bibcode", "lastmod")
    val rendered = Sitemap.renderFiles(
      Sitemap.assignFilenames(records, maxPerFile = 10), Sitemap.Sites("ads"))
    val out = java.nio.file.Files.createTempDirectory("graft_sitemap").toString
    Sitemap.writeFiles(rendered, out)
    val written = new java.io.File(out, "sitemap_bib_1.xml")
    assert(written.exists)
    assert(new String(java.nio.file.Files.readAllBytes(written.toPath), "UTF-8")
      .contains("/abs/b1/abstract"))

    val sm = Seq(
      ("f1.xml", "b1", true), ("f1.xml", "b2", false), ("f2.xml", "b3", false))
      .toDF("sitemap_filename", "bibcode", "update_flag")
    val need = Sitemap.filesNeedingUpdate(sm).collect().map(_.getString(1)).toSet
    assert(need == Set("b1", "b2"), "whole flagged file regenerates")
  }

  test("fuzz: rendered sitemap files stay well-formed XML for arbitrary " +
    "bibcode strings (escaping is load-bearing for crawlers)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val factory = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    val nasty = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(24)),
      Gen.oneOf("a&b<c>d\"e'f", "]]>", "<![CDATA[x]]>", "&amp;&#x27;",
        "bib{bibcode}", "</loc></url><url><loc>injected", "\u00e9\u4e2d\u6587"))
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
      Prop.forAll(Gen.listOfN(3, nasty)) { bibs =>
        val df = bibs.zipWithIndex
          .map { case (b, i) => (i.toLong + 1, b, "2024-01-01") }
          .toDF("id", "bibcode", "lastmod")
        val rendered = Sitemap.renderFiles(
          Sitemap.assignFilenames(df, maxPerFile = 10), Sitemap.Sites("scix"))
          .collect()
        rendered.forall { row =>
          val content = row.getAs[String]("content")
          val builder = factory.newDocumentBuilder()
          builder.setErrorHandler(null)
          val doc = builder.parse(new java.io.ByteArrayInputStream(
            content.getBytes("UTF-8")))
          // well-formed AND no structural injection: exactly one <loc> per
          // input row survives parsing
          doc.getElementsByTagName("loc").getLength == bibs.length
        }
      })
    assert(r.passed, r.toString)
  }
}
