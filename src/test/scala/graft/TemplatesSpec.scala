package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Sitemap

/** Template golden suite, ported from adsmp/tests/test_templates.py
  * (573 LoC): robots.txt directives per crawler, url-entry and
  * index-entry golden strings, XML escaping of every special character,
  * multi-site URL patterns, and well-formedness of assembled documents. */
class TemplatesSpec extends AnyFunSuite with SparkSpec {

  private val ads = Sitemap.Sites("ads")
  private val scix = Sitemap.Sites("scix")

  private def parseXml(s: String): Unit = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
  }

  private def urlEntryOf(bibcode: String, lastmod: String, site: Sitemap.Site): String = {
    import spark.implicits._
    Seq((bibcode, lastmod)).toDF("bibcode", "lastmod")
      .select(Sitemap.urlEntry(col("bibcode"), col("lastmod"), site))
      .collect().head.getString(0)
  }

  test("robots.txt: sitemap pointer, per-crawler sections, path policy " +
    "(test_robots_txt_template, test_task_update_robots_files_creation)") {
    val robots = Sitemap.renderRobots(ads)
    assert(robots.startsWith(
      "Sitemap: https://ui.adsabs.harvard.edu/sitemap/sitemap_index.xml\n"))
    // major crawlers each get a section (test_templates.py:31-36)
    for (bot <- Seq("Googlebot", "msnbot", "Slurp", "Teoma", "*"))
      assert(robots.contains(s"User-agent: $bot"), s"missing section for $bot")
    // infra paths closed to all (test_templates.py:38-47)
    for (p <- Seq("/v1/", "/resources", "/core", "/tugboat", "/link_gateway/",
        "/search/", "/execute-query/", "/status", "/cgi-bin/"))
      assert(robots.contains(s"Disallow: $p"), s"missing Disallow: $p")
    // content paths open to the majors (test_templates.py:49-54)
    for (p <- Seq("/help/", "/about/", "/blog/", "/abs/", "/full/"))
      assert(robots.contains(s"Allow: $p"), s"missing Allow: $p")
    // per-abstract subpages closed (test_templates.py:56-61)
    for (s <- Seq("coreads", "similar", "toc", "graphics", "metrics",
        "exportcitation"))
      assert(robots.contains(s"Disallow: /abs/*/$s"))
    // the catch-all section keeps unknown bots off the corpus entirely
    val catchAll = robots.substring(robots.indexOf("User-agent: *"))
    assert(catchAll.contains("Disallow: /abs/") && catchAll.contains("Disallow: /full/"))
    // Teoma may not crawl full text
    val teoma = robots.substring(robots.indexOf("User-agent: Teoma"),
      robots.indexOf("# disallow harvesting"))
    assert(teoma.contains("Disallow: /full/") && !teoma.contains("Allow: /full/"))
  }

  test("robots.txt: multi-site content differs only in the sitemap URL " +
    "(test_robots_txt_multi_site_content, test_template_consistency_across_sites)") {
    val a = Sitemap.renderRobots(ads)
    val s = Sitemap.renderRobots(scix)
    assert(a != s)
    assert(s.startsWith("Sitemap: https://scixplorer.org/sitemap/sitemap_index.xml\n"))
    assert(a.replace("ui.adsabs.harvard.edu", "X") == s.replace("scixplorer.org", "X"),
      "policy body is identical across sites")
  }

  test("url entry golden string per site (test_multi_site_url_patterns, " +
    "test_sitemap_file_template)") {
    val adsEntry = urlEntryOf("2023ApJ...123..456A", "2024-01-15", ads)
    assert(adsEntry == "\n<url><loc>https://ui.adsabs.harvard.edu/abs/2023ApJ...123..456A/abstract</loc><lastmod>2024-01-15</lastmod></url>")
    val scixEntry = urlEntryOf("2023ApJ...123..456A", "2024-01-15", scix)
    assert(scixEntry == "\n<url><loc>https://scixplorer.org/abs/2023ApJ...123..456A/abstract</loc><lastmod>2024-01-15</lastmod></url>")
    assert(adsEntry != scixEntry)
  }

  test("error handling: unknown site raises, a pattern with no {bibcode} " +
    "placeholder passes through unsubstituted (test_template_error_handling)") {
    // load_template('nonexistent_template.xml') raises — the engine analog
    // is the Sites registry lookup
    intercept[NoSuchElementException] { Sitemap.Sites("nonexistent") }
    // format_url_entry(..., 'no-placeholder'): Python str.format leaves a
    // placeholder-less pattern untouched; no exception, loc = the pattern
    val broken = Sitemap.Site("X", "https://example.com",
      "https://example.com/sitemap", "no-placeholder")
    val entry = urlEntryOf("2023ApJ...123..456A", "2024-01-15", broken)
    assert(entry ==
      "\n<url><loc>no-placeholder</loc><lastmod>2024-01-15</lastmod></url>")
    // Python str.format substitutes EVERY occurrence — a pattern using the
    // placeholder twice (path + query, say) gets the bibcode in both spots,
    // including a trailing one
    val twice = Sitemap.Site("X", "https://example.com",
      "https://example.com/sitemap", "https://example.com/abs/{bibcode}?canonical={bibcode}")
    assert(urlEntryOf("2020A&A...1B", "2024-01-15", twice) ==
      "\n<url><loc>https://example.com/abs/2020A&amp;A...1B?canonical=2020A&amp;A...1B</loc><lastmod>2024-01-15</lastmod></url>")
  }

  test("XML escaping: every special character, html.escape parity " +
    "(test_xml_escaping_fix, test_template_special_characters_handling, " +
    "test_url_formatting_edge_cases)") {
    // (input, expected-escaped) pairs from test_templates.py:526-533 —
    // html.escape uses &#x27; for the apostrophe, not &apos;
    val cases = Seq(
      "1980Ap&SS..68..111M" -> "1980Ap&amp;SS..68..111M",
      "2023Test<Tag>..123A" -> "2023Test&lt;Tag&gt;..123A",
      "2023Test&Amp...123B" -> "2023Test&amp;Amp...123B",
      "2023Test\"Quote..123C" -> "2023Test&quot;Quote..123C",
      "2023Test'Apos...123D" -> "2023Test&#x27;Apos...123D")
    for ((raw, escaped) <- cases) {
      val entry = urlEntryOf(raw, "2025-08-20", ads)
      assert(entry.contains(escaped), s"expected $escaped in: $entry")
      assert(!entry.contains(s"/abs/$raw/"), "raw value must not appear")
      // the assembled file parses as XML (test_templates.py:536-540)
      parseXml("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        entry + "\n</urlset>")
    }
  }

  test("sitemap index entry escaping and golden shape " +
    "(test_sitemap_index_xml_escaping, test_sitemap_index_template, " +
    "test_sitemap_index_multi_site_entries)") {
    val weird = Sitemap.Site("X", "https://example.com",
      "https://example.com/sitemap?param=test&other=value", "{bibcode}")
    val entry = Sitemap.sitemapIndexEntry(weird, "sitemap_bib_1.xml", "2025-08-20")
    assert(entry.contains("param=test&amp;other=value"))
    assert(!entry.contains("param=test&other=value"))
    parseXml(Sitemap.renderIndex(weird, Seq("sitemap_bib_1.xml" -> "2025-08-20")))
    // golden shape: 12-space indentation, loc then lastmod
    assert(Sitemap.sitemapIndexEntry(ads, "sitemap_bib_2.xml", "2024-02-01") ==
      "\n            <sitemap>\n            <loc>https://ui.adsabs.harvard.edu/sitemap/sitemap_bib_2.xml</loc>\n            <lastmod>2024-02-01</lastmod>\n            </sitemap>")
  }

  test("static page sitemap golden: ads is help/about/blog, scix adds home@1.0 " +
    "(test_template_files_exist)") {
    val adsStatic = Sitemap.renderStaticSitemap(ads)
    assert(adsStatic ==
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        |<url>
        |  <loc>https://ui.adsabs.harvard.edu/help/</loc>
        |  <changefreq>weekly</changefreq>
        |  <priority>0.8</priority>
        |</url>
        |<url>
        |  <loc>https://ui.adsabs.harvard.edu/about/</loc>
        |  <changefreq>weekly</changefreq>
        |  <priority>0.8</priority>
        |</url>
        |<url>
        |  <loc>https://ui.adsabs.harvard.edu/blog/</loc>
        |  <changefreq>weekly</changefreq>
        |  <priority>0.8</priority>
        |</url>
        |</urlset>
        |""".stripMargin, "byte-for-byte sitemap_static_ads.xml")
    val scixStatic = Sitemap.renderStaticSitemap(scix)
    assert(scixStatic.contains(
      "<loc>https://www.scixplorer.org/home</loc>\n  <changefreq>weekly</changefreq>\n  <priority>1.0</priority>"))
    assert(scixStatic.indexOf("/home") < scixStatic.indexOf("/help/"),
      "home entry precedes the shared block")
    parseXml(adsStatic); parseXml(scixStatic)
  }

  test("rendered documents are well-formed XML end to end " +
    "(test_multiple_entries_ads_and_scix)") {
    import spark.implicits._
    val records = Seq(
      (1L, "1980Ap&SS..68..111M", "2024-01-01"),
      (2L, "2023Test'Apos...123D", "2024-01-02"))
      .toDF("id", "bibcode", "lastmod")
    val rendered = Sitemap.renderFiles(
      Sitemap.assignFilenames(records, maxPerFile = 10), ads).collect()
    parseXml(rendered.head.getAs[String]("content"))
    parseXml(Sitemap.renderIndex(ads,
      rendered.map(r => r.getAs[String]("sitemap_filename") -> "2024-01-02").toSeq,
      staticFirst = Seq("sitemap_static.xml" -> "2024-01-02")))
    Pins.release(Sitemap.OrdinalPins)
  }
}
