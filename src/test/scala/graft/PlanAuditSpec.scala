package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale story is a property of the PLAN, not
  * of a small-SF timing, so pin it like any other behavior. Each assert
  * is a shape invariant that must survive refactors — filters reaching
  * the parquet scan, map-side ops staying shuffle-free, dedup candidate
  * generation staying equi-join (never cartesian), bounded dims being
  * broadcast. Checked against the pre-execution plan (AQE's initial
  * plan), so the invariants hold regardless of runtime re-planning. */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Unique Generate (explode) operators in the executed plan, descending
    * into cached subtrees but counting each shared InMemoryRelation once —
    * node-tree counting, because textual occurrence counts shift with how
    * the renderer prints shared/cached subtrees across Spark versions. */
  private def generateNodes(name: String): Int = {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: SparkPlan): Int = {
      // AdaptiveSparkPlanExec is a LEAF node — collect() never descends
      // into it, so an un-unwrapped walk returns 0 for every AQE plan and
      // the assertion pins nothing. Recurse into each AQE node's current
      // physical plan (and into cached subtrees, each counted once).
      val direct = p.collect { case g: GenerateExec => g }.size
      val aqe = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      val cached = p.collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.distinct
      direct + aqe.map(walk).sum + cached.map(walk).sum
    }
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // finalize AQE so executedPlan reflects the real stages
    walk(df.queryExecution.executedPlan)
  }

  /** Distinct shuffle exchanges (a shared subtree prints repeatedly but
    * keeps one plan_id — count ids, not lines). */
  private def exchanges(p: String): Int =
    "(?m)(?<!Broadcast)Exchange \\S+[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size

  test("map-side text ops carry no shuffle beyond the presentation sort") {
    for (q <- Seq("tx_lang_id", "tx_quality_score", "tx_token_count",
        "tx_fingerprint", "tx_rep_quality", "tx_sample_hash", "tx_chunk_split",
        "tx_pii_scrub", "tx_pii_extended", "tx_url_filter",
        "tx_quality_classifier", "tx_entropy")) {
      val p = plan(q)
      assert(exchanges(p) == 1,
        s"$q must shuffle only for the final orderBy — got:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q is a pure per-row transform")
    }
  }

  test("scan pruning: the pushed filter and pruned schema reach parquet") {
    val p = plan("s2_scan_prune")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.replaceAll("(?s)ReadSchema: [^\\n]*", "")
      .contains("fulltext"), "untouched wide columns stay out of the scan")
  }

  test("exact dedup is one aggregation exchange plus the output sort") {
    val p = plan("dd_exact_dedup")
    assert(exchanges(p) <= 2, s"partial agg + orderBy only:\n$p")
    assert(p.contains("HashAggregate"), "map-side partial combine present")
  }

  test("LSH candidate generation joins on band keys — never cartesian") {
    for (q <- Seq("dd_minhash_lsh", "dd_simhash_pairs", "dd_incremental",
        "dd_lenband_jaccard", "dd_phash_pairs", "dd_afp_pairs",
        "dd_video_pairs", "tx_span_scrub", "tx_source_overlap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidates must come from equi-joins:\n${p.take(2000)}")
    }
  }

  test("ANN paths broadcast the bounded side only") {
    // query sets / centroid tables are bounded; the corpus must never be
    // the build side of a broadcast
    for (q <- Seq("sim_ann_bruteforce", "sim_ann_ivf", "sim_ann_lsh",
        "sim_ann_multiprobe")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q broadcasts the query set")
      assert(!p.contains("CartesianProduct"), q)
    }
    // multi-probe in particular must stay an equi-join on probe signatures
    // (a hamming<=1 theta-join would nested-loop the corpus)
    assert(!plan("sim_ann_multiprobe").contains("BroadcastNestedLoopJoin"),
      "probe fan-out explodes the query side, never theta-joins")
    // the kmeans E-step IS a deliberate broadcast cross product over the
    // packed centroid row — broadcast NLJ is the wanted shape, a plain
    // (shuffled) cartesian is not; r16 made the argmin a per-row
    // array_min, so no Window may appear before the final presentation
    // sort either
    val km = plan("sim_kmeans_step")
    assert(km.contains("BroadcastNestedLoopJoin") && !km.contains("CartesianProduct"),
      s"centroids broadcast to the corpus:\n${km.take(2000)}")
    assert(!km.contains("Window"),
      s"E-step argmin must stay map-side (no window/exchange):\n${km.take(2000)}")
  }

  test("SQ8 scan keeps the corpus un-exploded: the one-row min/max model " +
    "and the query set broadcast; encode/decode are per-row transforms") {
    val p = plan("sim_ann_sq8")
    assert(p.contains("BroadcastExchange"),
      s"stats row + query set are the broadcast sides:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      "a plain cartesian would shuffle the corpus against the model row")
    // the only Generate is the stats derivation's posexplode (cached once);
    // the corpus-side encode must be array transforms, not an explode/agg
    assert(generateNodes("sim_ann_sq8") <= 1,
      s"corpus rows exploded on the scan side:\n${p.take(2000)}")
  }

  test("the composed prep pipeline runs in one plan: map-side stages fuse, " +
    "the benchmark gram index broadcasts, and the shuffle count stays " +
    "fixed regardless of stage count") {
    val p = plan("pl_corpus_prep")
    assert(p.contains("BroadcastExchange"),
      s"the eval-set gram index is the broadcast side:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // dedup hash exchange, contamination doc_id agg + join-back, final
    // source rollup, presentation sort — scrub/filter/classifier add none
    assert(exchanges(p) <= 6,
      s"composition leaked extra shuffles (${exchanges(p)}):\n${p.take(3000)}")
  }

  test("decontamination keeps the corpus side map-only against a " +
    "broadcast eval set") {
    val p = plan("tx_decontaminate")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"eval n-grams and per-doc counts both come back via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "no sort-merge join: the corpus side streams map-side")
  }

  test("temperature sampling reduces to one tiny count shuffle plus a " +
    "broadcast of the per-language weights") {
    val p = plan("tx_temperature_sample")
    assert(p.contains("BroadcastExchange"), "weights table is broadcast")
    // corpus-sized shuffles: exactly one (the per-language count) plus the
    // presentation sort; every other exchange is a SinglePartition fold of
    // the ≤|langs|-row stats frame
    val corpusShuffles = "(?m)Exchange hashpartitioning\\([^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(corpusShuffles == 1, s"corpus aggregates exactly once:\n$p")
    assert("(?m)Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
  }

  test("span-dup derives the exploded gram table exactly once: a single " +
    "documents scan feeding a count window, no join-back") {
    val p = plan("tx_span_dup_frac")
    assert("(?i)scan parquet".r.findAllIn(p).size == 1,
      s"one scan of documents — the df-count must not re-derive the grams:\n$p")
    assert(!p.contains("Join"),
      "per-gram document frequency comes from a window, not a join-back")
  }

  test("tfidf derives the tokenized tf frame once: both the scored side " +
    "and the df count read the tf cache, not fresh corpus scans") {
    val p = plan("tx_tfidf_keywords")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"tf and df must both consume the cached tf table (a FileScan in the " +
        s"plan text inside InMemoryRelation is the cache's recipe, not a " +
        s"live scan):\n${p.take(2000)}")
  }

  test("DSIR scoring broadcasts the 64-row feature model back onto the " +
    "token stream — model traffic is O(B), not O(corpus)") {
    val p = plan("tx_dsir_weight")
    assert(p.contains("BroadcastHashJoin"),
      s"the bucket model joins broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("ccnet bucketing ranks via the distributed range-partition prefix " +
    "sum — no per-language ntile funnel") {
    val p = plan("tx_ccnet_bucket")
    assert(!p.toLowerCase.contains("ntile"),
      "a lang-partitioned NTILE window would funnel each language through one task")
    assert("(?m)Exchange rangepartitioning".r.findAllIn(p).nonEmpty,
      s"per-lang rank comes from the Packing range-partition shape:\n${p.take(2000)}")
  }

  test("ngram top-k prunes map-side: a Partial WindowGroupLimit keeps the " +
    "vocab-sized frame out of the per-language window") {
    val p = plan("tx_ngram_topk")
    assert(p.contains("WindowGroupLimit") &&
      "WindowGroupLimit [^\\n]*Partial".r.findAllIn(p).nonEmpty,
      s"InferWindowGroupLimit must fire — every mapper forwards ≤ 10 rows " +
        s"per language, the native two-phase top-k:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("production KMV sketch plans carry NO exact comparison work: " +
    "map-side WindowGroupLimit, zero count_distinct, zero row_number") {
    for (q <- Seq("dd_kmv_prod", "dd_kmv_union_prod")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit") &&
        "WindowGroupLimit [^\\n]*Partial".r.findAllIn(p).nonEmpty,
        s"$q: the dense_rank ≤ k filter must prune map-side — each mapper " +
          s"forwards at most k rows per source:\n${p.take(2000)}")
      // the calibration rows (dd_kmv_distinct/_union) keep a corpus-wide
      // count(distinct h) as their n_exact measurement column; the prod
      // forms must not — this is the 100 TB difference
      assert(!p.contains("count(distinct"),
        s"$q: no exact distinct-count anywhere in the sketch-only plan:\n${p.take(2000)}")
      assert(!p.contains("row_number"),
        s"$q: no corpus row ranking beyond the group limit:\n${p.take(2000)}")
      assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    }
  }

  test("production quantile sketch never ranks a corpus row: histogram " +
    "aggs only, windows confined to the 32-bucket frame") {
    val p = plan("ev_quantile_prod")
    // the calibration row (ev_quantile_sketch) runs the per-type
    // row_number sort the histogram exists to replace; the prod form's
    // corpus-wide work is two map-side-combined aggregations
    assert(!p.contains("row_number"),
      s"no per-type corpus sort in the sketch-only plan:\n${p.take(2000)}")
    assert(!p.contains("count(distinct"), p)
    assert("(?m)Exchange hashpartitioning\\(event_type".r.findAllIn(p).nonEmpty,
      s"bucket cells and windows shuffle by type — never a global funnel:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing corpus-wide funnels through one partition:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("production CMS top-k is estimate-only: broadcast cell table, " +
    "TakeOrdered top-20, no exact per-key count join") {
    val p = plan("ev_cms_prod")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 by estimate is a TakeOrdered, never a materialized sort:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the 256-cell CMS table must broadcast against the key probe:\n${p.take(2000)}")
    assert(!p.contains("count(distinct"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("as-of join is the union+window shape: one user shuffle, no join " +
    "operator at all") {
    val p = plan("ev_asof_join")
    assert(!p.contains("Join"),
      s"as-of must not plan as a (range) join — the union+last-window " +
        s"form is linear per user partition:\n${p.take(2000)}")
    assert("(?m)Exchange hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty, p)
  }

  test("attribution window keys the range predicate on the user equi-join " +
    "— no band join, no nested loop over time") {
    val p = plan("ev_attribution_window")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the time-range predicate must ride inside the user_id join:\n${p.take(2000)}")
  }

  test("PQ assignment broadcasts the codebook; the corpus never shuffles " +
    "wider than its (vec_id, sub) partial aggregate") {
    val p = plan("sim_pq_assign")
    assert(p.contains("BroadcastExchange") && p.contains("BroadcastHashJoin"),
      s"8×4 codebook is the broadcast side:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("IVF-PQ search broadcasts the query LUT against the corpus code " +
    "table — equi-join only, corpus floats never cross the exchange") {
    val p = plan("sim_ann_ivfpq")
    assert(p.contains("BroadcastHashJoin"),
      s"the |queries|×32 LUT is the broadcast side:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("composed retrieval stack: ADC candidates come from a broadcast " +
    "equi-join on (cell, sub, code); no plain cartesian anywhere; the " +
    "only nested-loop joins are the bounded centroid-table crosses") {
    val p = plan("sim_ann_stack")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-(query, probed-cell) LUT is the broadcast side:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"),
      s"a shuffled cartesian would scan the corpus per query:\n${p.take(2000)}")
  }

  test("minhash calibration generates candidates by band equi-join, " +
    "never cartesian, and never broadcasts the corpus") {
    val p = plan("dd_minhash_calibration")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs leak into the calibration path:\n${p.take(2000)}")
    assert(p.contains("array_intersect"),
      "the exact verify is per-row set math on the attached arrays, " +
        "not a pair-by-shingle join expansion")
  }

  test("lenband Jaccard verifies pairs on attached hash arrays: per-row " +
    "array_intersect, no pair-by-shingle re-expansion after the candidate " +
    "join") {
    val p = plan("dd_lenband_jaccard")
    assert(p.contains("array_intersect"),
      s"the verify must be the array form:\n${p.take(2000)}")
    // the only explodes are the inverted-index build: df counts + ranked
    // postings derive the exploded select twice. The old pair-by-shingle
    // verify added two more (the re-exploded full index under each verify
    // join); pin that they stay gone — counted on the plan tree (shared
    // cached subtrees once), not on the rendered string.
    assert(generateNodes("dd_lenband_jaccard") <= 2,
      s"an extra explode means the verify re-expanded the corpus:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact-substring dedup: one documents scan, duplication from window " +
    "aggs over the gram hash — no join, no cartesian") {
    val p = plan("dd_exact_substring")
    assert("(?i)scan parquet".r.findAllIn(p).size == 1,
      s"the window table derives once:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "cross-doc detection is min/max windows on the hash partition")
  }

  test("the M1 merge co-partitions on bibcode: one shuffle per side, no " +
    "broadcast of the master") {
    val p = plan("m1_upsert_merge")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("URL dedup is one fixed-width aggregation exchange plus the output " +
    "sort — canonicalization is per-row, no join anywhere") {
    val p = plan("dd_url_dedup")
    assert(exchanges(p) <= 2, s"partial agg + orderBy only:\n$p")
    assert(p.contains("HashAggregate"), "map-side partial combine present")
    assert(!p.contains("Join"), "canonicalization must not join")
  }

  test("cluster compaction adds only the cluster_id shuffle and a " +
    "map-side-combined source rollup on top of component assignment") {
    val p = plan("dd_compact")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("(?m)Exchange hashpartitioning\\(cluster_id".r.findAllIn(p).nonEmpty,
      s"the keep-best window partitions by cluster:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"), "per-source rollup partial-aggregates")
  }

  test("cross-media clustering joins the component labels back by key — " +
    "the union pair graph never goes cartesian") {
    val p = plan("dd_media_cluster")
    assert(!p.contains("CartesianProduct"), p)
    assert("(?m)Exchange hashpartitioning\\(cluster_id".r.findAllIn(p).nonEmpty,
      s"cluster-size window partitions by cluster:\n${p.take(2000)}")
  }

  test("the composed media funnel (pl_media_prep) keeps the per-asset " +
    "work next to its scans: exactly three live documents scans (flag " +
    "universe, media tower, caption tower — decode/fingerprint/embed " +
    "fold each fuse into theirs), cluster labels ride the memoized " +
    "components cache instead of re-deriving the pair graphs, and " +
    "nothing goes cartesian") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    Pins.releaseAll()
    val df = SparkEntry.queries("pl_media_prep")(spark, sf)
    df.count() // finalize AQE
    // live scans only: cached subtrees (the banded fingerprint frames,
    // the components labels) materialize ONCE however many consumers
    // they have — that is the fusion being claimed, so they must not
    // count against the funnel's own scan budget
    def liveDocScans(p: SparkPlan): Int = {
      val direct = p.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("documents")) => s
      }.size
      val aqe = p.collect { case a: AdaptiveSparkPlanExec => a.executedPlan }
      direct + aqe.map(liveDocScans).sum
    }
    val n = liveDocScans(df.queryExecution.executedPlan)
    val p = df.queryExecution.executedPlan.toString
    assert(n == 3, s"expected 3 live documents scans, got $n:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("InMemoryTableScan"),
      s"cluster labels must come from the memoized components cache:\n${p.take(2000)}")
  }

  test("kmeans training keeps the per-round shape of the single step: " +
    "packed centroids broadcast (the deliberate BNLJ), argmin fully " +
    "map-side, stats fold 1-row frames only") {
    val p = plan("sim_kmeans_train")
    assert(p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the packed centroid row broadcasts against the corpus every round:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "no round may shuffle the corpus against the centroid table")
    // r16: the E-step argmin is array_min over the packed cells — a pure
    // per-row expression. A Window (the old crossJoin×k + row_number form)
    // would mean a corpus-wide exchange+sort sneaked back into a round.
    assert(!p.contains("Window"),
      s"the per-vector argmin must stay map-side (no window/exchange):\n${p.take(2000)}")
  }

  test("shard shuffle rides the distributed prefix sum: range partition on " +
    "the shuffle key, never a single-partition global window") {
    val p = plan("tx_shard_shuffle")
    assert("(?m)Exchange rangepartitioning".r.findAllIn(p).nonEmpty,
      s"the ordinal comes from the Packing range-partition shape:\n${p.take(2000)}")
    assert(!p.toLowerCase.contains("ntile") && !p.contains("CartesianProduct"), p)
    // the subtotal offsets come back via a driver collect of the
    // ≤(partitions×groups)-row frame, so the PLAN carries no
    // single-partition exchange at all — the corpus never funnels
    assert(!p.contains("Exchange SinglePartition"),
      s"no global-ordering funnel anywhere in the shard plan:\n${p.take(2000)}")
  }

  test("path top-k prunes transitions map-side: WindowGroupLimit on " +
    "from_type, lead() partitioned per user") {
    val p = plan("ev_path_topk")
    assert(p.contains("WindowGroupLimit"),
      s"rank<=3 must push a partial group limit below the exchange:\n${p.take(2000)}")
    assert("(?m)Exchange hashpartitioning\\(user_id".r.findAllIn(p).nonEmpty,
      "the transition lead() window is per-user, not global")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("anomaly detection z-scores the hourly summaries, not the events: " +
    "trailing window partitions by event_type over the aggregated frame") {
    val p = plan("ev_anomaly")
    assert("(?m)Exchange hashpartitioning\\(event_type".r.findAllIn(p).nonEmpty,
      s"the trailing-baseline window is per-type:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"),
      "no global-ordering funnel: baselines are per-type partitions")
    assert(p.contains("HashAggregate"),
      "the corpus-sized work is the map-side-combined hourly count")
  }

  test("BPE encode reuses the cached vocab across rounds; the 1-row merge " +
    "winner broadcasts (deliberate BNLJ), nothing goes cartesian") {
    val p = plan("tx_bpe_encode")
    assert(!p.contains("CartesianProduct"),
      s"the winner join must be the broadcast left-outer form:\n${p.take(2000)}")
    assert(p.contains("InMemoryTableScan"),
      "each round reads the previous round's cached vocab, not a fresh corpus scan")
    assert(p.contains("BroadcastHashJoin"),
      "the word→token-length table joins broadcast onto the token stream")
  }

  test("the training manifest composes sampling + packing without new " +
    "corpus-wide shuffles: weights broadcast back, totals fold 1-row frames") {
    val p = plan("pl_train_manifest")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"the per-language keep table is the broadcast side:\n${p.take(2000)}")
    assert("(?m)Exchange rangepartitioning".r.findAllIn(p).nonEmpty,
      "shard packing rides the distributed prefix sum")
  }

  test("the Gopher filter pipeline: signals are map-side, the repetition " +
    "mode is a token-shaped partial agg joined back by doc_id — no " +
    "cartesian, no nested loop") {
    val p = plan("tx_filter_pipeline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"),
      "the per-doc mode partial-aggregates map-side")
  }

  test("CDC dedup is per-row chunking plus one fixed-width aggregation " +
    "exchange — boundary detection never leaves the scan") {
    val p = plan("dd_cdc_chunks")
    // 3 = the (chunk_hash, doc_id) distinct-count partial, the chunk_hash
    // final agg, the presentation sort — all keyed on the fixed-width hash
    assert(exchanges(p) <= 3, s"chunk-hash aggs + orderBy only:\n${p.take(2000)}")
    assert(!p.contains("Join"), "chunking is content-local, no join anywhere")
    assert(p.contains("HashAggregate"), "map-side partial combine present")
  }

  test("containment candidates come from the asymmetric prefix equi-join " +
    "— never cartesian, verify on attached arrays") {
    val p = plan("dd_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"prefix probe joins the inverted index on the shingle key:\n${p.take(2000)}")
    assert(p.contains("array_intersect"),
      "the exact verify is per-row set math on the attached arrays")
    // r16 reversal of the r9 pin: prefixes are GLOBAL-RARITY-ordered
    // again (df join + per-doc rank window). The r9 form's value-ordered
    // prefixes admitted common-but-under-cap shingles and, because
    // dfCap = corpus/50 grows with the corpus, candidates grew
    // quadratically — measured 9.1M candidate pairs for 5,120 true pairs
    // (42 s of verify) at the sf1.0-class fixture vs ~0.4M/7 s with
    // rarity prefixes + the positional bound. The rank window is LINEAR
    // (one exchange over the postings, the lenbandJaccard shape) and
    // must partition by doc_id — never a corpus-global single partition.
    assert(p.contains("row_number"),
      s"rarity-ranked prefixes (df asc, shingle) drive the probe:\n${p.take(2000)}")
    assert(!"(?m)Exchange SinglePartition[^\\n]*\\n[^\\n]*Window".r
        .findAllIn(p).hasNext,
      s"the posting rank window must stay per-doc:\n${p.take(2000)}")
  }

  test("stratified exact-k prunes map-side: WindowGroupLimit on lang keeps " +
    "each mapper's contribution to k rows per stratum") {
    val p = plan("tx_stratified_k")
    assert(p.contains("WindowGroupLimit") &&
      "WindowGroupLimit [^\\n]*Partial".r.findAllIn(p).nonEmpty,
      s"rank<=k must prune below the exchange:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"),
      "per-language ranking, never a global funnel")
  }

  test("concat packing shares the shard-shuffle scale shape: range " +
    "partition prefix sum, no single-partition window, span columns are " +
    "pure arithmetic") {
    val p = plan("tx_pack_concat")
    assert("(?m)Exchange rangepartitioning".r.findAllIn(p).nonEmpty,
      s"the cumulative stream rides the Packing range-partition shape:\n${p.take(2000)}")
    assert(!p.contains("Exchange SinglePartition"),
      "no per-language global-window funnel")
  }

  test("novelty derives the gram table once: first-claimant is a min " +
    "window on the gram hash, no join-back, one documents scan") {
    val p = plan("tx_novelty")
    assert("(?i)scan parquet".r.findAllIn(p).size == 1,
      s"one scan of documents:\n${p.take(1500)}")
    assert(!p.contains("Join"),
      "the first corpus occurrence comes from a window, not a join-back")
  }

  test("bigram LM derives the transition table once: c12 is a count " +
    "window over the single exploded frame, not a groupBy joined back") {
    val p = plan("tx_bigram_logprob")
    // c1, c2, and the total fold must all read the CACHED unigram model
    // (a FileScan inside an InMemoryRelation is the cache's recipe, not a
    // live scan — the tfidf pin's convention); the transitions stream is
    // the one remaining live corpus scan
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"the unigram model must be derived once and cached:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("min-k scoring keeps the unigram-LM topology: token-shaped partial " +
    "aggs, the 1-row total folds broadcast, nothing goes cartesian") {
    val p = plan("tx_minkprob")
    assert(!p.contains("CartesianProduct"),
      s"the LM total must broadcast, not shuffle-cartesian:\n${p.take(2000)}")
    assert(p.contains("HashAggregate"),
      "vocab table and per-doc rollup both partial-aggregate map-side")
  }

  test("event analytics stay user-keyed: sessionize windows partition by " +
    "user, the funnel never goes cartesian") {
    val sess = plan("ev_sessionize")
    assert(sess.contains("partitionBy" ) || sess.contains("hashpartitioning(user_id"),
      s"per-user window, not a global one:\n${sess.take(1500)}")
    assert(!sess.contains("SinglePartition") ||
      "(?m)Exchange SinglePartition".r.findAllIn(sess).isEmpty,
      "no global-ordering funnel through one task")
    val fn = plan("ev_funnel")
    assert(!fn.contains("CartesianProduct") && !fn.contains("BroadcastNestedLoopJoin"),
      s"funnel joins stay keyed on user_id:\n${fn.take(1500)}")
  }

  test("edit-distance verify runs only on the banded candidate set: ONE " +
    "DP evaluation site above equi-joins, never a cartesian") {
    val p = plan("dd_edit_pairs")
    // exactly one UDF site: the nondeterministic marking must keep the
    // optimizer from substituting the DP into a pushed filter (double
    // eval) or sinking it below the fan-out exchange (serial eval) —
    // both measured pathologies (8.2 s vs 1.6 s for the same pairs)
    assert("(?i)UDF".r.findAllIn(p).size == 1,
      s"the banded DP evaluates exactly once per candidate:\n${p.take(2000)}")
    assert(p.contains("REPARTITION_BY_NUM") || p.contains("hashpartitioning(doc_a"),
      s"candidate fan-out exchange present (AQE-coalesce exempt):\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidates come from the banded equi-join, never corpus²:\n${p.take(1500)}")
  }

  test("leak-free split is one hash projection over the components frame: " +
    "no window, no cartesian, the cluster join keyed on doc_id") {
    val p = plan("dd_split_leakfree")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"split = map-side hash of the cluster label:\n${p.take(1500)}")
  }

  test("curriculum ordering uses the distributed ordinal: per-partition " +
    "windows only, never a single-partition global sort before the rank") {
    val p = plan("tx_curriculum_order")
    // the W2-style window must partition by __pid; a Window over
    // SinglePartition would funnel the corpus through one task
    assert(p.contains("hashpartitioning(__pid") ||
        p.contains("partitionBy") || p.contains("__pid"),
      s"rank rides the range-partition + offset ordinal:\n${p.take(1500)}")
    assert(!"(?m)Exchange SinglePartition[^\\n]*\\n[^\\n]*Window".r
        .findAllIn(p).hasNext,
      s"no global-window rank:\n${p.take(1500)}")
  }

  test("modal alignment never broadcasts or windows the corpus: tower " +
    "joins are keyed equi-joins on (doc_id, k)") {
    val p = plan("mm_modal_align")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cosine reduces over keyed joins:\n${p.take(1500)}")
    assert(!p.contains("Window"),
      "no window function anywhere in the alignment plan")
  }

  test("KMV sketch prunes map-side: the dense_rank ≤ k filter plans as a " +
    "Partial WindowGroupLimit, so no corpus-wide distinct feeds the rank") {
    val p = plan("dd_kmv_distinct")
    assert(p.contains("WindowGroupLimit") &&
      "WindowGroupLimit [^\\n]*Partial".r.findAllIn(p).nonEmpty,
      s"every map partition must forward ≤ k hash rows per source — the " +
        s"whole point of KMV over a global distinct:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"sketch + exact sides meet on a small keyed join:\n${p.take(1500)}")
  }

  test("CMS sketch: the 256-cell table is the BROADCAST side; the corpus " +
    "contributes two map-side-combined aggregations and nothing wider") {
    val p = plan("ev_cms_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"the sketch table must broadcast back onto the keys:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-sized join anywhere:\n${p.take(1500)}")
    assert("(?m)HashAggregate[^\\n]*partial_count".r.findAllIn(p).nonEmpty ||
      p.contains("partial_count"),
      s"cell and key counts partial-aggregate map-side:\n${p.take(1500)}")
  }

  test("quantile sketch: the histogram partial-aggregates map-side and " +
    "the min/max model joins broadcast — no corpus-sized join") {
    val p = plan("ev_quantile_sketch")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-type min/max model must broadcast back onto the scan:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"histogram + exact sides meet on small keyed joins:\n${p.take(1500)}")
  }

  test("Z-order pruning: exactly the two layout sorts shuffle corpus-wide; " +
    "probes and stats stay broadcast") {
    val p = plan("w3_zorder_prune")
    // 2 ordinal sorts + the presentation orderBy; cached ordinal subtrees
    // re-print under fresh plan_ids, so the textual count carries up to
    // two duplicates — the bound still pins "no hidden corpus re-sort
    // per probe" (a per-probe sort would add 16)
    val rangeEx = "(?m)Exchange rangepartitioning[^\\n]*plan_id=(\\d+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(rangeEx >= 2 && rangeEx <= 5,
      s"only the layout sorts + presentation sort range-shuffle — got " +
        s"$rangeEx:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"probe/stats joins are broadcasts of ≤16 and ≤⌈n/5000⌉ rows:\n${p.take(1500)}")
  }

  test("sampled-query embedding near-dup: the 200-query sample is a " +
    "TakeOrdered + broadcast; the corpus side never shuffles before the " +
    "candidate join") {
    val p = plan("dd_embedding_neardup")
    assert(p.contains("TakeOrderedAndProject"),
      s"the sample must be a global top-k, not a sort:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the sample joins broadcast onto the corpus scan:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no corpus-pair join — that was the r9 scale bug:\n${p.take(1500)}")
  }

  test("columnar doc projection over a parquet-backed master prunes BOTH " +
    "the scan ReadSchema (only the feeding payload columns) and the " +
    "from_json parse schemas (only the accessed fields)") {
    import org.apache.spark.sql.functions.col
    import graft.operators.MergeEngine
    import spark.implicits._
    // parquet-backed master: the pruning claim is about what leaves
    // STORAGE, so the scan must be a real file scan, not a LocalRelation
    val root = java.nio.file.Files
      .createTempDirectory("graft_colprune").toString
    val store = new graft.sources.MasterStore(s"$root/master")
    val fixtures = (1 to 32).flatMap { i =>
      val bib = f"2024Prun.$i%03d..001X"
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      Seq(
        graft.records.UpdateMessage(bib, "metadata",
          s"""{"bibcode":"$bib","title":["P $i"],"abstract":"never read me"}""",
          new java.sql.Timestamp(t0.getTime + i)),
        graft.records.UpdateMessage(bib, "nonbib_data",
          s"""{"citation_count":$i}""",
          new java.sql.Timestamp(t0.getTime + i + 1)),
        graft.records.UpdateMessage(bib, "fulltext",
          s"""{"body":"ten megabytes at production scale"}""",
          new java.sql.Timestamp(t0.getTime + i + 2)))
    }
    store.writeMerge(spark, cur =>
      MergeEngine.upsert(cur, fixtures.toDS()).master)

    val df = graft.transform.SolrColumnar.project(store.read(spark),
      Seq("title", "citation_count"), validated = true)
    val p = df.queryExecution.executedPlan.toString

    // 1. scan pruning: title needs bib_data, citation_count needs
    //    nonbib_data, bibcode is the key — nothing else leaves parquet.
    //    (doc.bibcode would also pull bib_data_updated via slot ordering;
    //    the report projects the record key instead.)
    val readSchemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(readSchemas.nonEmpty, s"no file scan in plan:\n${p.take(2000)}")
    for (rs <- readSchemas; fieldList = rs.split(",").map(_.takeWhile(_ != ':')).toSet)
      assert(fieldList == Set("bibcode", "bib_data", "nonbib_data"),
        s"scan must read exactly the feeding columns, got <$rs>:\n${p.take(2000)}")

    // 2. parse pruning: the bib from_json schema keeps only the accessed
    //    field (title), the nonbib one only citation_count; the fulltext/
    //    orcid/metrics/augments/boost parses vanish from the plan entirely
    assert(p.contains("from_json"), s"expected from_json in plan:\n${p.take(2000)}")
    // StructField(...) prints ONLY inside from_json parse schemas here
    // (scan schemas print as ReadSchema: struct<...>), so the set of all
    // StructField names IS the set of parsed JSON fields
    val parsedFields = "StructField\\((\\w+),".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(parsedFields == Set("title", "citation_count"),
      s"parse schemas must prune to the accessed fields, got $parsedFields:\n${p.take(2000)}")
    assert(!p.contains("\"body\"") && !parsedFields.contains("body"),
      s"the fulltext parse must vanish from a title/count report:\n${p.take(2000)}")

    // 3. values still correct through the pruned plan
    val rows = df.orderBy("bibcode").collect()
    assert(rows.length == 32)
    assert(rows(0).getSeq[String](1) == Seq("P 1"))
    assert(rows(0).getInt(2) == 1)
  }

  test("a local pin keeps its partitioning: a join on the pinned key " +
    "shuffles only the unpinned side, to the pin's width, and an " +
    "aggregation on the key shuffles nothing") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val pin = Pins.checkpoint((1L to 400L).map(i => (i % 50, i)).toDF("k", "v")
      .repartition(4, col("k")), "plan-audit.kept")
    try {
      val joined = pin.join((1L to 100L).map(i => (i % 50, s"w$i")).toDF("k", "w"), "k")
      assert(joined.count() == 800L)
      joined.collect() // the final adaptive plan of the frame itself
      val js = shuffles(joined.queryExecution.executedPlan)
      assert(js.size == 1, s"one shuffle:\n${joined.queryExecution.executedPlan}")
      assert(js.head.outputPartitioning.numPartitions == 4, js.head.toString)
      assert(js.head.child.collectFirst { case l: LocalTableScanExec => l }.nonEmpty,
        s"the shuffled side is the unpinned one:\n${js.head}")
      val agg = pin.groupBy(col("k")).count()
      assert(agg.collect().map(_.getLong(1)).sum == 400L)
      assert(shuffles(agg.queryExecution.executedPlan).isEmpty,
        agg.queryExecution.executedPlan.toString)
    } finally Pins.release(pin)
  }
}
