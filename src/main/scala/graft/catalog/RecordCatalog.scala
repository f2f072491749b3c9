package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.sql.Timestamp

import graft.{Pins, Tables}
import graft.records._
import graft.operators.{IndexJob, MergeEngine, Sitemap, SitemapState}
import graft.streaming.{IngestStream, QueueDecode}

/** Record-domain pipeline operators surfaced to the driver's gate.
  *
  * Two kinds of entries:
  *  - oracle-checked: the real `Sitemap` implementation (distributed
  *    global ordinal, XML render) run over the driver's test tables with
  *    equivalent DuckDB SQL;
  *  - rows-only: the fixture-shaped flagship pipeline (T1 transform, M1
  *    record upsert, ST2 gate, full index job) whose semantics DuckDB SQL
  *    cannot express — these are golden-tested in ScalaTest instead
  *    (SolrTransformSpec/MergeEngineSpec/IndexJobSpec/IngestStreamSpec).
  */
object RecordCatalog extends Catalog {

  private def ts(s: String): Timestamp = Timestamp.from(java.time.Instant.parse(s))

  /** Deterministic fixture batch of update messages shaped like the
    * reference test corpus (FIXTURES.md §2). */
  private def fixtureUpdates(n: Int): Seq[UpdateMessage] =
    (1 to n).flatMap { i =>
      val bib = f"2024Fixt.$i%03d..001X"
      val t0 = ts("2024-01-01T00:00:00Z").getTime
      Seq(
        UpdateMessage(bib, "metadata",
          s"""{"bibcode": "$bib", "title": ["Fixture $i"], "database": ["astronomy"],
              "author_norm": ["Author, A$i"], "doctype": "article",
              "identifier": ["alt.$i"], "aff": ["-"]}""",
          new Timestamp(t0 + i * 1000)),
        UpdateMessage(bib, "nonbib_data",
          s"""{"boost": 0.${i % 10}, "data": ["MAST:$i", "SIMBAD:1"],
              "simbad_objects": ["$i sim*"], "grants": ["NASA $i"],
              "citation_count": $i}""",
          new Timestamp(t0 + i * 1000 + 100)),
        UpdateMessage(bib, "orcid_claims",
          s"""{"verified": ["0000-000$i"]}""", new Timestamp(t0 + i * 1000 + 200)),
        UpdateMessage(bib, "metrics",
          s"""{"reads": [$i, ${i * 2}], "citations": ["c$i"]}""",
          new Timestamp(t0 + i * 1000 + 300))) ++
        (if (i % 2 == 0) Seq(UpdateMessage(bib, "fulltext",
          s"""{"body": "body $i", "acknowledgements": "ack"}""",
          new Timestamp(t0 + i * 1000 + 400)))
        else Nil)
    }

  /** Deterministic raw queue envelopes over i = 1..n, seven shapes per
    * cycle: three single-record types, the two reference list types
    * (NonBibRecordList/MetricsRecordList → 2 elements each), one
    * unknown type (rejected, app.py's IgnorableException), one
    * deleted-status metadata message. Closed form, so DuckDB can
    * reconstruct every decoded row without parsing JSON. */
  private def fixtureEnvelopes(n: Int): Seq[String] =
    (1 to n).map { i =>
      val bib = f"2024Queue$i%03d..001Q"
      val t = 1700000000000L + i * 1000L
      i % 7 match {
        case 1 =>
          s"""{"type":"metadata","bibcode":"$bib","timestamp":$t,"status":"active","payload":{"bibcode":"$bib","title":["Queue $i"]}}"""
        case 2 =>
          s"""{"type":"nonbib_data","bibcode":"$bib","timestamp":$t,"payload":{"read_count":$i}}"""
        case 3 =>
          s"""{"type":"fulltext","bibcode":"$bib","timestamp":$t,"payload":{"body":"body $i"}}"""
        case 4 =>
          s"""{"type":"nonbib_records","timestamp":$t,"records":[{"bibcode":"$bib","boost":$i},{"bibcode":"${bib}B","boost":${i + 1}}]}"""
        case 5 =>
          s"""{"type":"metrics_records","timestamp":$t,"records":[{"bibcode":"$bib","reads":[$i]},{"bibcode":"${bib}B","reads":[${i + 1}]}]}"""
        case 6 =>
          s"""{"type":"frobnicate","bibcode":"$bib","timestamp":$t}"""
        case 0 =>
          s"""{"type":"metadata","bibcode":"$bib","timestamp":$t,"status":"deleted"}"""
      }
    }

  def queries: Map[String, QFn] = Map(

    // ── S1 queue-envelope decode: raw JSON lines → flat update messages,
    // list envelopes fanned out, unknown types dropped (rejects carry a
    // reason — QueueDecodeSpec covers the quarantine side) ──
    "s1_queue_decode" -> ((s, _) => {
      import s.implicits._
      val decoded = QueueDecode.decode(
        s.createDataset(fixtureEnvelopes(63)),
        ts("2024-01-01T00:00:00Z"))
      QueueDecode.messages(decoded)
        .select(col("bibcode"), col("mtype"), col("payload"),
          unix_millis(col("ts")).as("ts_ms"),
          coalesce(col("status"), lit("active")).as("status"))
        .orderBy("bibcode", "mtype")
    }),

    // ── W1 on real data: the distributed global-ordinal bucketing, checked
    // against DuckDB's ROW_NUMBER (proves the offset arithmetic is exactly
    // a sequential fill even though no global sort happens) ──
    "w1_distributed_bucketing" -> ((s, d) => {
      Sitemap.assignFilenames(
        Tables.documents(s, d).select(col("doc_id").as("id"), col("source")),
        maxPerFile = 64, baseCount = 25)
        .select(col("id").as("doc_id"), col("sitemap_filename"))
        .orderBy(col("doc_id"))
    }),

    // ── S9/T19 on real data: whole-file XML render (group + ordered join) ──
    "s9_sitemap_render" -> ((s, d) => {
      val recs = Tables.documents(s, d)
        .select(col("doc_id").as("id"),
          concat(col("source"), lit("."), col("doc_id")).as("bibcode"),
          date_format(date_add(lit("2026-01-01").cast("date"),
            (col("doc_id") % 365).cast("int")), "yyyy-MM-dd").as("lastmod"))
      val assigned = Sitemap.assignFilenames(recs, maxPerFile = 100)
      Sitemap.renderFiles(assigned, Sitemap.Sites("ads"))
        .orderBy(col("sitemap_filename"))
    }),

    // ── stateful manage-sitemap workflow on real data: bootstrap a subset,
    // generate, remove every 5th, then add the held-out records — sticky
    // assignments, remove reconciliation (one flagged survivor per shrunken
    // file), and last-file fill continuation are all value-checked against
    // DuckDB reconstructing the same state transitions ──
    "smx_sitemap_state" -> ((s, d) => {
      val master = Tables.documents(s, d).select(
        col("doc_id").as("id"),
        concat(lit("D."), col("doc_id")).as("bibcode"),
        lit("{}").as("bib_data"),
        lit("2024-01-01 00:00:00").cast("timestamp").as("bib_data_updated"),
        lit(null).cast("string").as("status"))
      // each action eagerly inspects its input state (fill level, remove
      // stats), so every intermediate state is materialized ONCE with its
      // lineage truncated (an eager checkpoint pin): the later actions'
      // inspection collects and the final plan then scan a few hundred
      // in-memory rows instead of re-deriving the bootstrap→generate→
      // remove chain (three ordinal shuffles deep) per job. A real driver
      // persists state to the store between actions (see Cli) — this
      // chained lineage only exists in the synthetic workflow
      // coalesce(8): the state is a few hundred rows — without it every
      // downstream inspection job schedules 32 tasks per stage just to
      // touch a handful of rows each
      def pin(st: DataFrame) = Pins.checkpoint(st.coalesce(8), "smx_sitemap_state")
      val boot = pin(SitemapState.bootstrap(SitemapState.empty(s),
        master.filter(col("id") % 7 =!= 0), maxPerFile = 64))
      val gen = pin(SitemapState.markGenerated(boot,
        boot.select(col("sitemap_filename")), ts("2024-06-01T00:00:00Z")))
      val removed = pin(SitemapState.remove(gen,
        master.filter(col("id") % 5 === 0).select(col("bibcode"))).state)
      val added = SitemapState.add(removed, master,
        master.filter(col("id") % 7 === 0).select(col("bibcode")), maxPerFile = 64)
      // NB: the LAST action's ordinal pin stays cached until the caller
      // materializes this frame — releasing Sitemap.OrdinalPins here would
      // un-pin the partitioning the lazy plan still depends on
      added.select(col("bibcode"), col("sitemap_filename"), col("update_flag"))
        .orderBy("bibcode")
    }),

    // ── the feed-cadence machinery under the oracle gate: bootstrap a
    // third of the corpus, clear flags (markGenerated), then TWO keyed add
    // waves where the second wave's fill cursor is carried ARITHMETICALLY
    // (SitemapState.advanceFill over the first wave's new-assignment
    // count — exactly what the ∝-delta sitemap cron does instead of
    // re-aggregating the table). The oracle derives every filename from a
    // pure global ordinal, a DIFFERENT derivation: a mis-carried fill at
    // any 64-row boundary shifts wave-2 filenames and fails the hash ──
    "smx_cadence_fill" -> ((s, d) => {
      val maxPerFile = 64
      def cls(n: Int) = Tables.documents(s, d).filter(col("doc_id") % 3 === n)
        .select(col("doc_id").as("id"),
          concat(lit("C."), col("doc_id")).as("bibcode"),
          lit("{}").as("bib_data"),
          lit("2024-01-01 00:00:00").cast("timestamp").as("bib_data_updated"),
          lit(null).cast("string").as("status"))
      def pin(st: DataFrame) = Pins.checkpoint(st.coalesce(8), "smx_cadence_fill")
      val boot = pin(SitemapState.bootstrap(SitemapState.empty(s), cls(0), maxPerFile))
      val gen = pin(SitemapState.markGenerated(boot,
        boot.select(col("sitemap_filename")), ts("2024-06-01T00:00:00Z")))
      val fill0 = SitemapState.currentFill(gen, maxPerFile)
      val w1 = cls(1)
      // disjoint waves: the due keys hold no current state rows, so the
      // key-local form receives an empty curRows frame — the cron's
      // brand-new-records shape
      val add1 = pin(SitemapState.addKeyed(SitemapState.empty(s), w1,
        w1.select(col("bibcode")), fill0, maxPerFile))
      val n1 = SitemapState.countNewAssignments(w1, w1.select(col("bibcode")),
        gen.select(col("bibcode")))
      val fill1 = SitemapState.advanceFill(fill0, n1, maxPerFile)
      val w2 = cls(2)
      val add2 = SitemapState.addKeyed(SitemapState.empty(s), w2,
        w2.select(col("bibcode")), fill1, maxPerFile)
      gen.unionByName(add1).unionByName(add2)
        .select(col("bibcode"), col("sitemap_filename"), col("update_flag"))
        .orderBy("bibcode")
    }),

    // ── T1 flagship transform on fixture records: the full transform runs,
    // then scalar projections of the search doc are exposed so the DuckDB
    // oracle can recompute every value independently from the fixture
    // generator's closed form (the full JSON stays golden-tested in
    // SolrTransformSpec against reference fixtures) ──
    "t1_solr_transform" -> ((s, _) => {
      import s.implicits._
      val master = MergeEngine.upsert(MergeEngine.emptyMaster(s),
        s.createDataset(fixtureUpdates(64))).master
      val selected = master.as[MasterRecord].filter(IndexJob.eligible(None, force = false))
      selected.map { r =>
        val docObj = graft.transform.SolrTransform.transform(r)
        val doc = docObj.obj.toMap
        def strsOf(k: String): Seq[String] = doc.get(k) match {
          case Some(org.json4s.JArray(xs)) => xs.collect { case org.json4s.JString(v) => v }
          case Some(org.json4s.JString(v)) => Seq(v)
          case _                           => Nil
        }
        // -1 sentinel for a missing numeric: NaN.toLong silently collapses
        // to 0, which a real fixture value could be — -1 cannot (counts
        // and boosts are non-negative), so a dropped field shows up as an
        // oracle mismatch instead of masquerading as zero
        def numOf(k: String): Double = doc.get(k) match {
          case Some(org.json4s.JInt(i))     => i.toDouble
          case Some(org.json4s.JLong(l))    => l.toDouble
          case Some(org.json4s.JDouble(d))  => d
          case Some(org.json4s.JDecimal(d)) => d.toDouble
          case _                            => -1.0
        }
        val cks = graft.transform.SolrTransform.render(docObj)._2
        (r.bibcode,
          strsOf("title").mkString("\u001F"),
          strsOf("database").mkString("\u001F"),
          numOf("cite_read_boost"),
          numOf("citation_count").toLong,
          strsOf("grant").mkString("\u001F"),
          strsOf("simbtype").mkString("\u001F"),
          strsOf("orcid_user").mkString("\u001F"),
          strsOf("citation").mkString("\u001F"),
          strsOf("has").mkString("\u001F"),
          numOf("doctype_boost").toLong,
          doc.get("update_timestamp").collect { case org.json4s.JString(v) => v }.getOrElse(""),
          r.scix_id.exists(_.matches("scix:[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}")),
          cks.matches("0x[0-9a-f]{1,8}"))
      }.toDF("bibcode", "title", "database_str", "cite_read_boost", "citation_count",
        "grant_str", "simbtype_str", "orcid_user_str", "citation_str", "has_str",
        "doctype_boost", "update_timestamp", "scix_ok", "checksum_ok")
        .orderBy("bibcode")
    }),

    // ── T1's COLUMNAR twin as a consumer-facing row: the same fixture
    // master through SolrColumnar.withDoc (pure from_json + expression
    // chains, no typed map), projected to the SAME oracle scalars as
    // t1_solr_transform — the oracle recomputes both paths' values from
    // one closed form, so this row pins (typed ≡ columnar ≡ oracle) at
    // the value level on every driver run. checksum_ok is absent by
    // design: the CRC needs the typed path's canonical byte-exact
    // render, which is exactly why the SINK path keeps the typed map
    // and this path owns analytics/projection (SURVEY §7.1(4)). The
    // ReadSchema/parse-schema pruning this path exists for is pinned in
    // PlanAuditSpec over a parquet-backed master ──
    "t1_solr_columnar" -> ((s, _) => {
      import s.implicits._
      val master = MergeEngine.upsert(MergeEngine.emptyMaster(s),
        s.createDataset(fixtureUpdates(64))).master
      val doc = graft.transform.SolrColumnar
        .withDoc(master.filter(IndexJob.eligible(None, force = false)))
      val us = "\u001F"
      doc.select(
        col("doc.bibcode").as("bibcode"),
        concat_ws(us, col("doc.title")).as("title"),
        concat_ws(us, col("doc.database")).as("database_str"),
        coalesce(col("doc.cite_read_boost"), lit(-1.0)).as("cite_read_boost"),
        coalesce(col("doc.citation_count").cast("long"), lit(-1L)).as("citation_count"),
        concat_ws(us, col("doc.grant")).as("grant_str"),
        concat_ws(us, col("doc.simbtype")).as("simbtype_str"),
        concat_ws(us, col("doc.orcid_user")).as("orcid_user_str"),
        concat_ws(us, col("doc.citation")).as("citation_str"),
        concat_ws(us, col("doc.has")).as("has_str"),
        coalesce(col("doc.doctype_boost").cast("long"), lit(-1L)).as("doctype_boost"),
        coalesce(col("doc.update_timestamp"), lit("")).as("update_timestamp"),
        coalesce(col("doc.scix_id").rlike(
          "^scix:[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}$"),
          lit(false)).as("scix_ok"))
        .orderBy("bibcode")
    }),

    // ── M1 record-shaped upsert incl. scix assignment: scalar projections
    // of the merged snapshot (full semantics in MergeEngineSpec) ──
    "m1_record_upsert" -> ((s, _) => {
      import s.implicits._
      val r1 = MergeEngine.upsert(MergeEngine.emptyMaster(s),
        s.createDataset(fixtureUpdates(32)))
      // second batch replays + updates half the records a day later
      val second = fixtureUpdates(16).map(m =>
        m.copy(payload = m.payload.replace("Fixture", "Updated"),
          ts = new Timestamp(m.ts.getTime + 86400000L)))
      val r2 = MergeEngine.upsert(r1.master, s.createDataset(second))
      r2.master.select(col("bibcode"),
        get_json_object(col("bib_data"), "$.title[0]").as("title"),
        get_json_object(col("nonbib_data"), "$.citation_count").cast("long").as("citation_count"),
        date_format(col("updated"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("updated_str"),
        col("scix_id").rlike("^scix:[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}-[0-9A-HJKMNP-TV-Z]{4}$").as("scix_ok"))
        .orderBy("bibcode")
    }),

    // ── full index job: gate → transform → identifier completeness →
    // checksum suppression, projected to oracle-checkable scalars ──
    "idx_index_job" -> ((s, _) => {
      import s.implicits._
      val master = MergeEngine.upsert(MergeEngine.emptyMaster(s),
        s.createDataset(fixtureUpdates(48))).master
      val batch = IndexJob.run(master.as[MasterRecord]
        .filter(IndexJob.eligible(None, force = false)))
      batch.solr.select(col("bibcode"), col("changed"),
        get_json_object(col("payload"), "$.title[0]").as("title"),
        get_json_object(col("payload"), "$.citation_count").cast("long").as("citation_count"),
        get_json_object(col("payload"), "$.identifier[0]").as("identifier0"),
        get_json_object(col("payload"), "$.identifier[1]").as("identifier1"),
        json_array_length(get_json_object(col("payload"), "$.has")).as("n_has"),
        col("checksum").rlike("^0x[0-9a-f]{1,8}$").as("checksum_ok"))
        .orderBy("bibcode")
    }),

    // ── P9 per-mode projection: the index job's mode gating
    // (adsmp/tasks.py:349-357 load_only lists) — each run produces rows
    // only for its enabled sinks. Every fixture record carries metadata +
    // metrics; every third additionally gets a nonbib payload with
    // data_links_rows so the links leg is non-trivial. Output is the
    // 3-runs × 3-sinks count matrix (9 rows — the operator-named-report
    // pattern; the count actions are over already-computed sink frames). ──
    "p9_mode_projection" -> ((s, _) => {
      import s.implicits._
      val linksMsgs = (1 to 24).filter(_ % 3 == 0).map { i =>
        val bib = f"2024Fixt.$i%03d..001X"
        UpdateMessage(bib, "nonbib_data",
          s"""{"data_links_rows": [{"url": ["http://x/$i"], "title": [""],
              "item_count": 0, "link_type": "ESOURCE", "link_sub_type": "DATA"}]}""",
          new Timestamp(ts("2024-01-01T00:00:00Z").getTime + i * 1000 + 500))
      }
      // cached: nine sink counts read this frame — without the cache each
      // count action re-runs the whole merge pipeline
      val master = Pins.cache(MergeEngine.upsert(MergeEngine.emptyMaster(s),
        s.createDataset(fixtureUpdates(24) ++ linksMsgs)).master.as[MasterRecord]
        .filter(IndexJob.eligible(None, force = false)), "p9_mode_projection")
      // the nine sink counts union into ONE counting aggregation (one
      // job, not nine .count() actions over the cached 24-record
      // master), left-joined onto the 9 expected (run, sink) keys so
      // empty sinks still report 0.
      val runs = Seq(
        ("all", Set("solr", "metrics", "links")),
        ("solr_only", Set("solr")),
        ("metrics_links", Set("metrics", "links")))
      val pieces = runs.flatMap { case (label, modes) =>
        val b = IndexJob.run(master, modes = modes)
        Seq("solr" -> b.solr, "metrics" -> b.metrics, "links" -> b.links)
          .map { case (sink, df) =>
            df.select(lit(label).as("run"), lit(sink).as("sink")) }
      }
      val counted = pieces.reduce(_ unionAll _)
        .groupBy(col("run"), col("sink")).agg(count(lit(1)).as("n_rows"))
      runs.flatMap { case (label, _) =>
          Seq("links", "metrics", "solr").map(sk => (label, sk)) }
        .toDF("run", "sink")
        .join(counted, Seq("run", "sink"), "left_outer")
        .select(col("run"), col("sink"),
          coalesce(col("n_rows"), lit(0L)).as("n_rows"))
        .orderBy("run", "sink")
    }),

    // ── ST2 completeness gate run in batch mode over the same state
    // machine the stream uses (rows-only; semantics in IngestStreamSpec) ──
    "st2_completeness_gate" -> ((s, _) => {
      import s.implicits._
      val partial = fixtureUpdates(24).filterNot(m =>
        m.mtype == "orcid_claims" && m.bibcode.contains("Fixt.00"))
      IngestStream.completenessGate(s.createDataset(partial))
        .map(r => (r.bibcode, r.bib_data.isDefined, r.fulltext.isDefined))
        .toDF("bibcode", "has_bib", "has_fulltext").orderBy("bibcode")
    }))

  def oracle: Map[String, String] = Map(
    // Seven envelope shapes per cycle of i; the oracle reconstructs the
    // decoded rows (payload text included) from the same closed form the
    // fixture generator uses — shape 6 (unknown type) yields no row, the
    // list shapes (4, 5) yield one row per element.
    "s1_queue_decode" ->
      """WITH base AS (
           SELECT i, printf('2024Queue%03d..001Q', i) AS bib,
                  1700000000000 + i * 1000 AS t, i % 7 AS m
           FROM generate_series(1, 63) AS s(i)),
         rows_out AS (
           SELECT bib AS bibcode, 'metadata' AS mtype,
             '{"bibcode":"' || bib || '","title":["Queue ' || i || '"]}' AS payload,
             t AS ts_ms, 'active' AS status FROM base WHERE m = 1
           UNION ALL
           SELECT bib, 'nonbib_data', '{"read_count":' || i || '}', t, 'active'
           FROM base WHERE m = 2
           UNION ALL
           SELECT bib, 'fulltext', '{"body":"body ' || i || '"}', t, 'active'
           FROM base WHERE m = 3
           UNION ALL
           SELECT bib || CASE WHEN j = 1 THEN 'B' ELSE '' END, 'nonbib_data',
             '{"bibcode":"' || bib || CASE WHEN j = 1 THEN 'B' ELSE '' END ||
               '","boost":' || (i + j) || '}', t, 'active'
           FROM base, generate_series(0, 1) AS g(j) WHERE m = 4
           UNION ALL
           SELECT bib || CASE WHEN j = 1 THEN 'B' ELSE '' END, 'metrics',
             '{"bibcode":"' || bib || CASE WHEN j = 1 THEN 'B' ELSE '' END ||
               '","reads":[' || (i + j) || ']}', t, 'active'
           FROM base, generate_series(0, 1) AS g(j) WHERE m = 5
           UNION ALL
           SELECT bib, 'metadata', NULL, t, 'deleted' FROM base WHERE m = 0)
         SELECT bibcode, mtype, payload, CAST(ts_ms AS BIGINT) AS ts_ms, status
         FROM rows_out ORDER BY bibcode, mtype""",
    // The fixture generator is a closed form over i = 1..N, so DuckDB can
    // reconstruct every expected scalar from generate_series without seeing
    // the engine's output: titles/boosts/counts come straight from the
    // payload templates, `has` follows the even/odd fulltext rule, and the
    // update_timestamp is the newest slot arrival (metrics +300ms, or
    // fulltext +400ms on even records).
    "t1_solr_transform" ->
      """SELECT printf('2024Fixt.%03d..001X', i) AS bibcode,
           'Fixture ' || i AS title,
           'astronomy' AS database_str,
           (i % 10) / 10.0 AS cite_read_boost,
           CAST(i AS BIGINT) AS citation_count,
           'NASA' || chr(31) || i AS grant_str,
           'Star' AS simbtype_str,
           '0000-000' || i AS orcid_user_str,
           'c' || i AS citation_str,
           CASE WHEN i % 2 = 0
             THEN replace('ack|body|citation|data|database|doctype|grant|identifier|orcid_user|title', '|', chr(31))
             ELSE replace('citation|data|database|doctype|grant|identifier|orcid_user|title', '|', chr(31)) END AS has_str,
           CAST(1 AS BIGINT) AS doctype_boost,
           strftime(TIMESTAMP '2024-01-01 00:00:00'
             + to_milliseconds(i * 1000 + CASE WHEN i % 2 = 0 THEN 400 ELSE 300 END),
             '%Y-%m-%dT%H:%M:%S.%fZ') AS update_timestamp,
           TRUE AS scix_ok,
           TRUE AS checksum_ok
         FROM generate_series(1, 64) AS t(i) ORDER BY bibcode""",
    // the columnar twin recomputes from the SAME closed form — minus
    // checksum_ok, which needs the typed path's canonical render
    "t1_solr_columnar" ->
      """SELECT printf('2024Fixt.%03d..001X', i) AS bibcode,
           'Fixture ' || i AS title,
           'astronomy' AS database_str,
           (i % 10) / 10.0 AS cite_read_boost,
           CAST(i AS BIGINT) AS citation_count,
           'NASA' || chr(31) || i AS grant_str,
           'Star' AS simbtype_str,
           '0000-000' || i AS orcid_user_str,
           'c' || i AS citation_str,
           CASE WHEN i % 2 = 0
             THEN replace('ack|body|citation|data|database|doctype|grant|identifier|orcid_user|title', '|', chr(31))
             ELSE replace('citation|data|database|doctype|grant|identifier|orcid_user|title', '|', chr(31)) END AS has_str,
           CAST(1 AS BIGINT) AS doctype_boost,
           strftime(TIMESTAMP '2024-01-01 00:00:00'
             + to_milliseconds(i * 1000 + CASE WHEN i % 2 = 0 THEN 400 ELSE 300 END),
             '%Y-%m-%dT%H:%M:%S.%fZ') AS update_timestamp,
           TRUE AS scix_ok
         FROM generate_series(1, 64) AS t(i) ORDER BY bibcode""",
    "m1_record_upsert" ->
      """SELECT printf('2024Fixt.%03d..001X', i) AS bibcode,
           (CASE WHEN i <= 16 THEN 'Updated ' ELSE 'Fixture ' END) || i AS title,
           CAST(i AS BIGINT) AS citation_count,
           strftime(TIMESTAMP '2024-01-01 00:00:00'
             + to_milliseconds((CASE WHEN i <= 16 THEN 86400000 ELSE 0 END)
               + i * 1000 + CASE WHEN i % 2 = 0 THEN 400 ELSE 300 END),
             '%Y-%m-%dT%H:%M:%S.%f') AS updated_str,
           TRUE AS scix_ok
         FROM generate_series(1, 32) AS t(i) ORDER BY bibcode""",
    "idx_index_job" ->
      """SELECT printf('2024Fixt.%03d..001X', i) AS bibcode,
           TRUE AS changed,
           'Fixture ' || i AS title,
           CAST(i AS BIGINT) AS citation_count,
           'alt.' || i AS identifier0,
           printf('2024Fixt.%03d..001X', i) AS identifier1,
           CAST(CASE WHEN i % 2 = 0 THEN 10 ELSE 8 END AS INTEGER) AS n_has,
           TRUE AS checksum_ok
         FROM generate_series(1, 48) AS t(i) ORDER BY bibcode""",
    "st2_completeness_gate" ->
      """SELECT printf('2024Fixt.%03d..001X', i) AS bibcode,
           TRUE AS has_bib,
           (i % 2 = 0) AS has_fulltext
         FROM generate_series(10, 24) AS t(i) ORDER BY bibcode""",
    // 24 fixture records, all with metadata+metrics, every third (8 of
    // 24) with a links-bearing nonbib payload; counts are closed-form
    "p9_mode_projection" ->
      """SELECT run, sink, n_rows FROM (VALUES
           ('all', 'links', CAST(8 AS BIGINT)),
           ('all', 'metrics', CAST(24 AS BIGINT)),
           ('all', 'solr', CAST(24 AS BIGINT)),
           ('metrics_links', 'links', CAST(8 AS BIGINT)),
           ('metrics_links', 'metrics', CAST(24 AS BIGINT)),
           ('metrics_links', 'solr', CAST(0 AS BIGINT)),
           ('solr_only', 'links', CAST(0 AS BIGINT)),
           ('solr_only', 'metrics', CAST(0 AS BIGINT)),
           ('solr_only', 'solr', CAST(24 AS BIGINT))
         ) AS t(run, sink, n_rows) ORDER BY run, sink""",
    "w1_distributed_bucketing" ->
      """SELECT doc_id,
           'sitemap_bib_' || CAST(CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id) - 1 + 25) / 64) AS BIGINT) + 1 AS VARCHAR) || '.xml' AS sitemap_filename
         FROM documents ORDER BY doc_id""",
    "smx_cadence_fill" ->
      """WITH d AS (SELECT doc_id, doc_id % 3 AS cls FROM documents),
         ranked AS (SELECT doc_id, cls,
           ROW_NUMBER() OVER (PARTITION BY cls ORDER BY doc_id) AS rn FROM d),
         counts AS (SELECT
           count(*) FILTER (WHERE cls = 0) AS n0,
           count(*) FILTER (WHERE cls = 1) AS n1 FROM d),
         pos AS (SELECT r.doc_id, r.cls,
           CASE r.cls WHEN 0 THEN r.rn
             WHEN 1 THEN c.n0 + r.rn
             ELSE c.n0 + c.n1 + r.rn END AS p
           FROM ranked r, counts c)
         SELECT 'C.' || CAST(doc_id AS VARCHAR) AS bibcode,
           'sitemap_bib_' || CAST(CAST(floor((p - 1) / 64) AS BIGINT) + 1 AS VARCHAR) || '.xml' AS sitemap_filename,
           (cls <> 0) AS update_flag
         FROM pos ORDER BY bibcode""",
    "smx_sitemap_state" ->
      """WITH boot AS (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id % 7 <> 0),
         assigned AS (
           SELECT doc_id, CAST(floor((rn - 1) / 64) AS BIGINT) + 1 AS fidx FROM boot),
         survivors AS (SELECT * FROM assigned WHERE doc_id % 5 <> 0),
         affected AS (SELECT DISTINCT fidx FROM assigned WHERE doc_id % 5 = 0),
         flagged AS (
           SELECT s.doc_id, s.fidx,
             (s.fidx IN (SELECT fidx FROM affected)
              AND s.doc_id = min(s.doc_id) OVER (PARTITION BY s.fidx)) AS update_flag
           FROM survivors s),
         fill AS (SELECT max(fidx) AS L FROM survivors),
         lastcount AS (
           SELECT count(*) AS c FROM survivors, fill WHERE fidx = L),
         addrn AS (
           SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
           FROM documents WHERE doc_id % 7 = 0),
         addassigned AS (
           SELECT a.doc_id,
             CASE WHEN lc.c >= 64
               THEN f.L + 1 + CAST(floor((a.rn - 1) / 64) AS BIGINT)
               ELSE f.L + CAST(floor((lc.c + a.rn - 1) / 64) AS BIGINT) END AS fidx,
             TRUE AS update_flag
           FROM addrn a, fill f, lastcount lc)
         SELECT 'D.' || CAST(doc_id AS VARCHAR) AS bibcode,
           'sitemap_bib_' || CAST(fidx AS VARCHAR) || '.xml' AS sitemap_filename,
           update_flag
         FROM (SELECT doc_id, fidx, update_flag FROM flagged
               UNION ALL SELECT doc_id, fidx, update_flag FROM addassigned)
         ORDER BY bibcode""",
    "s9_sitemap_render" ->
      """WITH assigned AS (
           SELECT doc_id, source || '.' || CAST(doc_id AS VARCHAR) AS bibcode,
             CAST(DATE '2026-01-01' + CAST(doc_id % 365 AS INTEGER) AS VARCHAR) AS lastmod,
             'sitemap_bib_' || CAST(CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) / 100) AS BIGINT) + 1 AS VARCHAR) || '.xml' AS sitemap_filename
           FROM documents),
         entries AS (
           SELECT sitemap_filename,
             string_agg(chr(10) || '<url><loc>https://ui.adsabs.harvard.edu/abs/' || bibcode ||
               '/abstract</loc><lastmod>' || lastmod || '</lastmod></url>', '' ORDER BY doc_id) AS url_entries,
             max(lastmod) AS file_lastmod
           FROM assigned GROUP BY sitemap_filename)
         SELECT sitemap_filename,
           '<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
           '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10) ||
           url_entries || chr(10) || '</urlset>' AS content,
           file_lastmod
         FROM entries ORDER BY sitemap_filename""")
}
