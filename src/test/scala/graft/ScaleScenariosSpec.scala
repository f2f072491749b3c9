package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.scale.Scale

/** Every scale scenario at a small size on the suite's session: its own
  * `require`s hold, and its records carry the fields that the
  * `*_BENCH.md` and SCALING.md lines quote. Nothing else runs these
  * scenarios, so this is what keeps them from rotting. */
class ScaleScenariosSpec extends AnyFunSuite with SparkSpec {

  // the catalog's smoke dataset: the directory holding the flagship
  // query's tables
  private lazy val sf = Iterator.iterate(new java.io.File(new java.net.URI(
    SparkEntry.entry(spark).inputFiles.head)))(_.getParentFile)
    .find(_.getName.endsWith(".parquet")).get.getParent

  private lazy val work = java.nio.file.Files.createTempDirectory("graft_scale").toString

  /** The scenario's records, run in a child session so its SQL confs stay
    * its own; each record renders as one JSON line. */
  private def scenario(name: String, args: String*): Seq[Scale.Record] = {
    val records = Scale.run(spark.newSession(), name, args, root = work)
    records.foreach(r => assert(Scale.render(r).startsWith("{")))
    records
  }

  private def fields(r: Scale.Record, names: String): Unit = {
    val missing = names.split("\\s+").filterNot(r.contains)
    assert(missing.isEmpty, s"${r.get("metric").orElse(r.get("stage"))} lacks $missing")
  }

  test("bootstrap: bootstrap, then feed and scan cadences") {
    val Seq(r) = scenario("bootstrap", "2000")
    fields(r, "value rows assigned files_per_site bib_files_on_disk rc fixture_sec " +
      "bootstrap_sec cadence_wave cadence_feed_sec cadence_scan_sec " +
      "cadence_members_files_opened cadence_members_files_total " +
      "baseline_avg_rec_per_sec baseline_peak_rec_per_sec")
    assert(r("rc") == 0 && r("assigned").asInstanceOf[Long] > 0)
  }

  test("store: write amplification, compaction, contention, rebucket, retention") {
    val Seq(r) = scenario("store", "2000")
    fields(r, "rows buckets delta_keys base_bytes full_merge_bytes full_merge_sec " +
      "keyed_merge_bytes keyed_merge_sec feed_rows feed_sec feed_history_rows " +
      "feed_history_sec feed_history_bytes write_volume_ratio compact_uniform_bytes " +
      "compact_uniform_sec compact_uniform_buckets_reused clustered_keys " +
      "compact_clustered_bytes compact_clustered_sec compact_clustered_buckets_reused " +
      "read_layered_sec read_folded_sec lookup_layered_sec lookup_files_opened " +
      "lookup_layer_files_opened layer_files_total contention_writers contention_merges " +
      "contention_published contention_retries contention_gross_bytes contention_sec " +
      "bytes_after_vacuum rebucket_from rebucket_to rebucket_sec rebucket_bytes " +
      "rebucket_lookup_files_opened consumer_pin_folds consumer_feed_rows " +
      "consumer_feed_sec history_bytes_fixed_window history_bytes_pinned")
  }

  test("transform: typed and columnar legs agree") {
    val Seq(r) = scenario("transform", "300")
    fields(r, "rows typed_full_sec typed_full_docs_per_sec columnar_strict_sec " +
      "columnar_strict_docs_per_sec columnar_full_sec columnar_full_docs_per_sec " +
      "columnar_pruned_sec columnar_pruned_docs_per_sec typed_pruned_sec " +
      "typed_pruned_docs_per_sec full_speedup pruned_speedup")
  }

  test("pipeline: stream phases, batch parity and the standing-table phases") {
    val Seq(r) = scenario("pipeline", "200", "2", "1000")
    fields(r, "records messages boot_batches bootstrap_sec bootstrap_recs_per_sec " +
      "bootstrap_msgs_per_sec table_bytes incr_records incr_sec incr_publish_bytes " +
      "incr_publish_vs_table replay_records replay_sec replay_delivered suppression_rate " +
      "parity parity_batch_sec parity_digest store_live_bytes solr_payload_bytes " +
      "max_generations disk_vs_live_final large_rows large_buckets feed_discover_rows " +
      "feed_discover_sec feed_sweep_sec scan_sweep_sec discovery_speedup " +
      "sweep_stage_discover_sec sweep_stage_transform_sec sweep_stage_sink_sec " +
      "sweep_stage_publish_sec rebucket_to rebucket_sec rebucket_lookup_files_opened " +
      "large_table_bytes large_keylocal_sec large_tablewide_sec large_speedup " +
      "large_small_batch large_keylocal_small_sec large_tablewide_small_sec " +
      "large_small_speedup batches")
    assert(r("parity") == "exact" && r("replay_delivered") == 0L)
  }

  test("ops: three cycles of wave, index sweep, sitemap cadence and vacuum") {
    val Seq(r) = scenario("ops", "1200")
    fields(r, "rows cycles wave fixture_sec sitemap_bootstrap_sec cursor_bootstrap_sec " +
      "wave_sec index_sec sitemap_sec vacuum_sec wave_merge_read_sec wave_publish_sec " +
      "wave_lookup_probe_sec steady_cycle_sec sitemap_state_rows master_generations " +
      "consumers_registered")
  }

  test("dedup: planted exact duplicates are recalled exactly") {
    val Seq(r) = scenario("dedup", "2000")
    fields(r, "value rows fixture_sec exact_sec exact_dup_groups exact_dup_members " +
      "minhash_sec candidate_pairs verify_sec exact_recall near_recall cdc_sec cdc_chunks " +
      "cdc_raw_bytes cdc_stored_bytes cdc_dedup_ratio cdc_verify_sec cdc_exact_containment " +
      "cdc_near_containment_avg cdc_near_containment_min containment_sec containment_pairs " +
      "containment_verify_sec containment_planted containment_recall edit_sec edit_pairs " +
      "edit_verify_sec edit_exact_recall edit_near_recall")
    assert(r("exact_recall") == 1.0 && r("containment_recall") == 1.0 &&
      r("edit_exact_recall") == 1.0 && r("cdc_exact_containment") == 1.0)
  }

  test("stream: prep funnel agreement, near-dup probes, compaction under probes") {
    val records = scenario("stream", "2000", "all", "12")
    val byStage = records.map(r => r("stage") -> r).toMap
    assert(byStage.keySet == Set("prep_fixture", "prep_long", "prep_funnel_agreement",
      "prep_short", "neardup_index", "neardup_stream", "neardup_compact"))
    for (tag <- Seq("prep_long", "prep_short"))
      fields(byStage(tag), "docs sec docs_per_sec batches retention_sec state_rows_max " +
        "state_rows_last state_rows_removed state_curve")
    fields(byStage("neardup_stream"), "index_docs index_rows segments probes sec " +
      "probes_per_sec planted planted_recall novel novel_false_flags")
    fields(byStage("neardup_compact"), "docs probes batches fold_started_after_batch " +
      "segments_before segments_after match retries baseline_probes_per_sec " +
      "compacting_probes_per_sec")
  }

  test("ann: IVF, compressed, filtered and composed legs") {
    val records = scenario("ann", "2000", "16")
    assert(records.map(_("metric")) ==
      Seq("ann_recall_at_10", "ann_compressed_at_10", "ann_stack_at_10"))
    val Seq(recall, compressed, stack) = records
    fields(recall, "geom rows cells n_queries fixture_sec train_sec rounds bruteforce_sec " +
      "nprobe4 nprobe8 nprobe16")
    fields(compressed, "geom rows bruteforce_l2_sec raw_bytes sq8 ivfpq filtered")
    fields(stack, "geom rows cells n_queries selectivity_pct compression_x adaptive_budget " +
      "avg_probes avg_candidates shortlist_depth search_sec recall")
  }

  test("fixture and plan over the smoke dataset") {
    val dst = s"$work/sf_k2"
    val Seq(f) = scenario("fixture", sf, dst, "2")
    assert(f("k") == 2)
    assert(Tables.load(spark, dst, "orders").count() ==
      2 * Tables.load(spark, sf, "orders").count())
    val Seq(p) = scenario("plan", "q1_agg", sf)
    fields(p, "query construct_sec rows run_sec plan")
    assert(new java.io.File(p("plan").toString).length() > 0)
  }
}
