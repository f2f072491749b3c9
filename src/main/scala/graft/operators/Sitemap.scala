package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.expressions.Window

/** Sitemap subsystem (SURVEY.md §2.7/§3.3; reference adsmp/tasks.py:585-1182,
  * adsmp/app.py:922-1313, adsmp/templates/__init__.py).
  *
  * Pipeline: inclusion predicate (P7) → sequential file bucketing (W1) →
  * per-file XML render (T19/S9) → sitemap index + robots (S10).
  *
  * W1 at scale: the reference assigns ordinals with a single-threaded
  * keyset scan. A naive Spark translation (`row_number` over a global
  * window) funnels every row through ONE partition — correct at 60k rows,
  * dead at 28.8M. Instead we range-partition by the order key, count rows
  * per partition (tiny job), and add each partition's prefix-sum offset to
  * its local rank — a fully distributed global ordinal with one extra
  * count over cached partitions.
  */
object Sitemap {

  val MaxRecordsPerSitemap = 50000 // config.py:51

  /** Site configs (config.py:63-77). `staticHead` entries precede the
    * shared help/about/blog block in the static page sitemap
    * (templates/sitemap_static_scix.xml adds a priority-1.0 home page). */
  case class Site(name: String, baseUrl: String, sitemapUrl: String,
      absUrlPattern: String, staticHead: Seq[(String, String)] = Nil)
  val Sites: Map[String, Site] = Map(
    "ads" -> Site("ADS", "https://ui.adsabs.harvard.edu",
      "https://ui.adsabs.harvard.edu/sitemap",
      "https://ui.adsabs.harvard.edu/abs/{bibcode}/abstract"),
    "scix" -> Site("SciX Explorer", "https://scixplorer.org",
      "https://scixplorer.org/sitemap",
      "https://scixplorer.org/abs/{bibcode}/abstract",
      staticHead = Seq("https://www.scixplorer.org/home" -> "1.0")))

  /** P7 — sitemap inclusion (app.py:922-973): needs bib_data; excludes
    * solr-failed/retrying; never-processed and stale records included. */
  def shouldInclude: Column =
    col("bib_data").isNotNull &&
      (col("status").isNull || !col("status").isin("solr-failed", "retrying"))

  /** Staleness diagnostic the reference logs (not an exclusion):
    * bib_data_updated more than 5 days past solr_processed. */
  def isStale: Column =
    col("solr_processed").isNotNull && col("bib_data_updated").isNotNull &&
      (col("bib_data_updated").cast("long") - col("solr_processed").cast("long") >
        lit(5L * 24 * 3600))

  /** Label of the partition pins [[withGlobalOrdinalBy]] holds in
    * [[graft.Pins]]. A pin is load-bearing until the ordinal frame is
    * materialized (the range partitioning is sampling-based, so an
    * uncached recompute could change partition boundaries between the
    * count job and the rank job), so only the CALLER can release it, once
    * downstream consumption has forced the frame: the pipeline's sitemap
    * runs and the CLI take it inside a [[graft.Pins.scope]], whose exit
    * releases it, so a long-running multi-site driver does not grow
    * executor storage by one cached frame per `assignFilenames` call. */
  val OrdinalPins = "sitemap.ordinal"

  /** Distributed global ordinal (0-based) ordered by `orderCol`.
    * One range shuffle + one tiny count job; no single-partition window. */
  def withGlobalOrdinal(df: DataFrame, orderCol: String, out: String,
      numPartitions: Int = 0): DataFrame =
    withGlobalOrdinalBy(df, Seq(col(orderCol)), out, numPartitions)

  /** Multi-key form of [[withGlobalOrdinal]] — order by several columns
    * without first concatenating them into one padded string. A formatted
    * composite key makes the range sampler, the exchange, and the
    * per-partition sort all compare (and carry) ~20-byte strings where the
    * natural keys are a few longs; ordering by the columns directly is the
    * same total order whenever the string form was zero-padded fixed-width
    * (w3_zorder_*, tx_curriculum_order), at long-comparison cost. */
  def withGlobalOrdinalBy(df: DataFrame, keys: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // pin partitioning: the count job and the rank job must agree
    val parts = graft.Pins.cache(df.repartitionByRange(n, keys: _*)
      .withColumn("__pid", spark_partition_id()), OrdinalPins)
    val counts = parts.groupBy(col("__pid")).count().collect()
      .map(r => r.getAs[Int]("__pid") -> r.getAs[Long]("count")).sortBy(_._1)
    val offsetsByPid = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2).init).toMap
    val offDf = broadcast(df.sparkSession.createDataFrame(
      offsetsByPid.toSeq.map(p => org.apache.spark.sql.Row(p._1, p._2)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("__offset", org.apache.spark.sql.types.LongType)))))
    val w = Window.partitionBy(col("__pid")).orderBy(keys: _*)
    parts
      .withColumn("__rn", row_number().over(w))
      .join(offDf, Seq("__pid"))
      .withColumn(out, col("__offset") + col("__rn") - 1)
      .drop("__pid", "__rn", "__offset")
  }

  /** W1 — sequential file bucketing (tasks.py:719-737, app.py:1019-1141):
    * records ordered by `id` fill `sitemap_bib_<k>.xml` files of
    * `maxPerFile`, continuing from `baseCount` already-assigned records
    * (stateful continuation from the current fill level). */
  def assignFilenames(records: DataFrame, maxPerFile: Int = MaxRecordsPerSitemap,
      baseCount: Long = 0): DataFrame =
    withGlobalOrdinal(records, "id", "__ord")
      .withColumn("sitemap_filename",
        concat(lit("sitemap_bib_"),
          (floor((col("__ord") + baseCount) / maxPerFile) + 1).cast("string"),
          lit(".xml")))
      .drop("__ord")

  // ── XML rendering (T19/S9/S10; templates/__init__.py:19-54) ────────────

  /** Minimal html.escape parity: &, <, >, ", '. */
  def xmlEscape(c: Column): Column = {
    val amp = regexp_replace(c, "&", "&amp;")
    val lt = regexp_replace(amp, "<", "&lt;")
    val gt = regexp_replace(lt, ">", "&gt;")
    val quot = regexp_replace(gt, "\"", "&quot;")
    regexp_replace(quot, "'", "&#x27;")
  }

  /** format_url_entry (templates/__init__.py:49-54) as a column expression:
    * '\n<url><loc>{url}</loc><lastmod>{date}</lastmod></url>'. A pattern
    * with no {bibcode} placeholder passes through unsubstituted — Python's
    * str.format leaves such a pattern untouched rather than raising
    * (test_templates.py test_template_error_handling). */
  def urlEntry(bibcode: Column, lastmod: Column, site: Site): Column = {
    // Python str.format substitutes EVERY {bibcode} occurrence, so the
    // escaped bibcode is interleaved between ALL split segments; the -1
    // limit keeps a trailing empty segment so a pattern ENDING in the
    // placeholder still substitutes at the end
    val segs = site.absUrlPattern.split("\\{bibcode\\}", -1)
    val loc =
      if (segs.length == 1) lit(site.absUrlPattern)
      else concat(segs.map(s => lit(s): Column).toSeq
        .flatMap(p => Seq(p, xmlEscape(bibcode))).dropRight(1): _*)
    concat(lit("\n<url><loc>"), loc,
      lit("</loc><lastmod>"), lastmod, lit("</lastmod></url>"))
  }

  /** render_sitemap_file: one row per filename with the full XML body.
    * The shuffle groups only (filename, entry) pairs — entries are
    * pre-rendered strings, sorted within the group for determinism.
    * `file_lastmod` carries max(lastmod) per file for the sitemap index:
    * the reference stamps index entries with each file's mtime
    * (tasks.py:932-941), which is stable for untouched files — the
    * content-derived max lastmod has the same stability without needing a
    * filesystem stat, so crawlers keep their cache for unchanged files. */
  def renderFiles(assigned: DataFrame, site: Site, lastmodCol: String = "lastmod"): DataFrame = {
    val entries = assigned.select(col("sitemap_filename"),
      col(lastmodCol).as("__lastmod"),
      struct(col("id"), urlEntry(col("bibcode"), col(lastmodCol), site).as("entry")).as("e"))
    entries.groupBy(col("sitemap_filename"))
      .agg(
        array_join(transform(array_sort(collect_list(col("e"))), e => e("entry")), "")
          .as("url_entries"),
        max(col("__lastmod")).as("file_lastmod"))
      .select(col("sitemap_filename"),
        concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          col("url_entries"),
          lit("\n</urlset>")).as("content"),
        col("file_lastmod"))
  }

  /** format_sitemap_entry golden string (templates/__init__.py:36-46). */
  def sitemapIndexEntry(site: Site, filename: String, lastmod: String): String = {
    def esc(s: String): String = s.replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;").replace("'", "&#x27;")
    s"""
            <sitemap>
            <loc>${esc(s"${site.sitemapUrl}/$filename")}</loc>
            <lastmod>${esc(lastmod)}</lastmod>
            </sitemap>"""
  }

  /** render_sitemap_index (S10): driver-side small render over the
    * aggregated (filename, lastmod) list. `staticFirst` entries (the
    * static page sitemap, tasks.py:916-928) precede the sorted bib files. */
  def renderIndex(site: Site, files: Seq[(String, String)],
      staticFirst: Seq[(String, String)] = Nil): String = {
    val entries = (staticFirst ++ files.sortBy(_._1))
      .map { case (f, lm) => sitemapIndexEntry(site, f, lm) }.mkString("")
    "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
      entries + "\n</sitemapindex>"
  }

  /** The static page sitemap the reference ships per site
    * (templates/sitemap_static_*.xml, byte-for-byte): any site-specific
    * head entries, then help/about/blog under the site's base URL at
    * weekly/0.8. */
  def renderStaticSitemap(site: Site): String = {
    val entries = site.staticHead ++
      Seq("help", "about", "blog").map(p => s"${site.baseUrl}/$p/" -> "0.8")
    val urls = entries.map { case (loc, prio) =>
      s"<url>\n  <loc>$loc</loc>\n  <changefreq>weekly</changefreq>\n  <priority>$prio</priority>\n</url>"
    }.mkString("\n")
    s"<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n$urls\n</urlset>\n"
  }

  /** robots.txt (templates/robots.txt, byte-for-byte): the sitemap pointer,
    * then per-crawler policy — Googlebot/msnbot/Slurp may crawl abstracts
    * and full text, Teoma is kept off /full/, and unknown agents are kept
    * off /abs/ and /full/ entirely; API/infra paths are closed to all. */
  def renderRobots(site: Site): String = {
    val common = Seq("/v1/", "/resources", "/core", "/tugboat",
      "/link_gateway/", "/search/", "/execute-query/", "/status", "/cgi-bin/")
    val absSub = Seq("coreads", "similar", "toc", "graphics", "metrics",
      "exportcitation").map(s => s"Disallow: /abs/*/$s")
    def disallows(ps: Seq[String]) = ps.map("Disallow: " + _).mkString("\n")
    def allows(ps: Seq[String]) = ps.map("Allow: " + _).mkString("\n")
    s"""Sitemap: ${site.sitemapUrl}/sitemap_index.xml
       |
       |# Google
       |# http://www.google.com/bot.html
       |User-agent: Googlebot
       |${disallows(common)}
       |
       |${allows(Seq("/help/", "/about/", "/blog/", "/abs/", "/full/"))}
       |
       |${absSub.mkString("\n")}
       |
       |# MS Live
       |# http://search.msn.com/msnbot.htm
       |User-agent: msnbot
       |
       |${disallows(common)}
       |
       |${allows(Seq("/help/", "/about/", "/blog/", "/abs/", "/full/"))}
       |
       |${absSub.mkString("\n")}
       |
       |# Yahoo
       |# http://help.yahoo.com/help/us/ysearch/slurp
       |User-agent: Slurp
       |
       |${disallows(common)}
       |
       |${allows(Seq("/help/", "/about/", "/blog/", "/abs/", "/full/"))}
       |
       |${absSub.mkString("\n")}
       |
       |# Ask.com
       |# http://about.ask.com/en/docs/about/webmasters.shtml
       |User-agent: Teoma
       |
       |
       |${disallows(common :+ "/full/")}
       |
       |${allows(Seq("/help/", "/about/", "/blog/", "/abs/"))}
       |
       |${absSub.mkString("\n")}
       |
       |# disallow harvesting from all other robots
       |User-agent: *
       |
       |${disallows(common ++ Seq("/abs/", "/full/"))}
       |
       |${allows(Seq("/help/", "/about/", "/blog/"))}
       |""".stripMargin
  }

  /** S9 sink: write one XML file per row of a (sitemap_filename, content)
    * frame. Files are small (≤50k URLs); a foreachPartition keeps the
    * writes distributed without a collect on the driver. Goes through the
    * Hadoop FileSystem API so `outDir` may be HDFS/S3/local and the same
    * code works on a multi-node cluster (executor-local java.io would
    * scatter files across worker disks). */
  def writeFiles(rendered: DataFrame, outDir: String): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      rendered.sparkSession.sparkContext.hadoopConfiguration)
    rendered.select(col("sitemap_filename"), col("content"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val dir = new org.apache.hadoop.fs.Path(outDir)
        val fs = dir.getFileSystem(conf.value)
        fs.mkdirs(dir)
        rows.foreach { r =>
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, r.getString(0)), true)
          try out.write(r.getString(1).getBytes("UTF-8")) finally out.close()
        }
      }
  }

  /** backup_sitemap_files (adsmp/app.py:1250-1261): park every rendered
    * tree under a dated directory before a destructive action
    * (delete-table). The reference shells out to `mkdir -p` + `mv`; here
    * it's Hadoop FS renames so the same code handles HDFS/S3A trees.
    * Returns the backup path, or None when there was nothing to park. */
  def backupFiles(spark: org.apache.spark.sql.SparkSession, outRoot: String,
      now: java.sql.Timestamp): Option[String] = {
    val src = new org.apache.hadoop.fs.Path(outRoot)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src)) return None
    val cal = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
    cal.setTimeInMillis(now.getTime)
    val stamp = "sitemap_%d_%d_%d-%02d%02d%02d".format(
      cal.get(java.util.Calendar.YEAR), cal.get(java.util.Calendar.MONTH) + 1,
      cal.get(java.util.Calendar.DAY_OF_MONTH), cal.get(java.util.Calendar.HOUR_OF_DAY),
      cal.get(java.util.Calendar.MINUTE), cal.get(java.util.Calendar.SECOND))
    val dst = new org.apache.hadoop.fs.Path(s"$outRoot-backup/$stamp")
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst)) {
      // same-dir rename refused (e.g. dst exists): fall back per-child
      fs.mkdirs(dst)
      fs.listStatus(src).foreach(st =>
        fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dst, st.getPath.getName)))
      fs.delete(src, true)
    }
    Some(dst.toString)
  }

  /** J5 — files needing regeneration: any row flagged → whole file
    * regenerates (tasks.py:1132-1141). */
  def filesNeedingUpdate(sitemap: DataFrame): DataFrame =
    sitemap.join(
      sitemap.filter(col("update_flag")).select(col("sitemap_filename")).distinct(),
      Seq("sitemap_filename"), "left_semi")
}
