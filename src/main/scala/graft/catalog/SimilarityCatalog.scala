package graft.catalog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Pins, Tables}

/** Approximate-nearest-neighbor search over the embeddings table.
  *
  * Two tiers, matching how a 100 TB pipeline scales vector search:
  *  - brute force: broadcast the (small) query set against the full corpus —
  *    one pass, no shuffle of the corpus, exact results; the baseline.
  *  - IVF-style: restrict search to the query's coarse cell (`label` plays
  *    the role of a k-means cell assignment), turning O(N) per query into
  *    O(N / cells). Same shape as Faiss IVF probing with nprobe=1; on a
  *    cluster the corpus is bucketed by cell so a probe is a partition-local
  *    scan.
  */
object SimilarityCatalog extends Catalog {

  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineUdf(a, b)

  /** Corpus side with precomputed norms (one dot per candidate pair). */
  private def cosPrecomputed(qv: Column, qnorm: Column, v: Column, norm: Column): Column =
    round(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(qv, v) / (qnorm * norm), 6)

  private def dotSql(x: String, y: String) =
    s"list_sum(list_transform(generate_series(1, len($x)), i -> $x[i]::DOUBLE * $y[i]::DOUBLE))"

  private def cosineSql(a: String, b: String) =
    s"round(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})), 6)"

  private def vecs(s: SparkSession, d: String) =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

  def queries: Map[String, QFn] = Map(

    // ── Brute-force top-k: broadcast queries × full corpus, rank per query ──
    "sim_ann_bruteforce" -> ((s, d) => {
      val corpus = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val qs = corpus.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── Hyperplane-LSH bucketed top-k: 8 deterministic ±1 hyperplanes
    // (coefficients from the portable hash family) give an 8-bit bucket
    // signature; candidates = same-bucket vectors, exact-cosine reranked.
    // The scale path when no cell assignment exists: one equi-join on the
    // signature, work ∝ bucket occupancy, identical math in the oracle. ──
    "sim_ann_lsh" -> ((s, d) => {
      val corpus = Pins.cache(vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
        .withColumn("sig", graft.functions.VectorOps.lshSigUdf8(col("v"))), "sim_ann_lsh")
      val qs = corpus.filter(col("vec_id") >= 20 && col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("sig").as("qsig"),
          col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(qs),
          col("sig") === col("qsig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── Multi-probe LSH: probe the query's bucket AND the 8 buckets one
    // signature-bit away (the Lv et al. multi-probe trick) — near misses
    // on a single hyperplane are the dominant LSH failure mode, so the 9
    // probes buy most of the recall a second hash table would, without a
    // second index. Still a pure equi-join: the probe set explodes on the
    // (small, broadcast) QUERY side — 9 rows per query — while the corpus
    // keeps one signature row each, so corpus-side work stays ∝ bucket
    // occupancy and nothing re-fingerprints. ──
    "sim_ann_multiprobe" -> ((s, d) => {
      val corpus = Pins.cache(vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
        .withColumn("sig", graft.functions.VectorOps.lshSigUdf8(col("v"))), "sim_ann_multiprobe")
      val probes = array(lit(0) +: (0 until 8).map(j => lit(1 << j)): _*)
      val qs = corpus.filter(col("vec_id") >= 20 && col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("sig").as("qsig"),
          col("v").as("qv"), col("norm").as("qnorm"))
        .withColumn("probe_sig",
          explode(transform(probes, m => col("qsig").bitwiseXOR(m))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(qs),
          col("sig") === col("probe_sig") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .distinct()
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── Filtered vector search — the production pattern every vector
    // store ships (Qdrant/Milvus "filtered ANN"): an attribute predicate
    // composes with the similarity index, here "nearest neighbors from a
    // DIFFERENT label" (cross-category retrieval: recommend similar items
    // outside the user's own cluster). The predicate rides INSIDE the
    // multi-probe candidate equi-join, so non-qualifying vectors are
    // pruned before any cosine is computed — at 100 TB, with the
    // fingerprint index bucketed by (label, sig), the same predicate
    // prunes whole buckets at the scan and the post-filter candidate set
    // stays ∝ qualifying bucket occupancy. Post-filtering a top-k (the
    // naive composition) is WRONG under selective predicates — it
    // returns < k or misses qualifying neighbors ranked past k; the
    // filter must reach the candidate generator, which is what this row
    // pins. ──
    "sim_ann_filtered" -> ((s, d) => {
      val corpus = Pins.cache(vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
        .withColumn("sig", graft.functions.VectorOps.lshSigUdf8(col("v"))), "sim_ann_filtered")
      val probes = array(lit(0) +: (0 until 8).map(j => lit(1 << j)): _*)
      val qs = corpus.filter(col("vec_id") >= 20 && col("vec_id") < 25)
        .select(col("vec_id").as("query_id"), col("sig").as("qsig"),
          col("v").as("qv"), col("norm").as("qnorm"), col("label").as("qlabel"))
        .withColumn("probe_sig",
          explode(transform(probes, m => col("qsig").bitwiseXOR(m))))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(qs),
          col("sig") === col("probe_sig") && col("vec_id") =!= col("query_id") &&
            col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .distinct()
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── ADAPTIVE filtered search: widen the probe set as qualifying
    // occupancy thins. Fixed-nprobe filtered search decays under
    // selective predicates — the filter thins each probed cell below k
    // and true neighbors hide in unprobed cells (measured at 1M vectors:
    // recall 0.82 at 0.3 % selectivity, ANN_BENCH.md). The remedy is to
    // LET THE PREDICATE DRIVE THE PROBE WIDTH: per cell, count the
    // qualifying vectors (one map-side agg, ≤ C rows, broadcast); per
    // query, walk cells in centroid-distance order and keep the shortest
    // prefix whose cumulative qualifying occupancy reaches a candidate
    // budget. Dense predicates stop at the floor (1 cell here); sparse
    // ones widen until the budget is met — candidates stay ∝ the budget,
    // never ∝ corpus, and the per-query probe count (`n_probed` in the
    // output) is the adaptivity made visible. Cell ranking on ROUNDED
    // distances keeps the probe choice engine-exact, as in nprobe2. ──
    "sim_ann_filtered_adaptive" -> ((s, d) => {
      def dot(a: Column, b: Column) =
        org.apache.spark.sql.graftnative.NativeExpressions.dotCol(a, b)
      val corpus = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val cent = corpus
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("clabel"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s("m")).as("c"))
        .withColumn("cnorm2", dot(col("c"), col("c")))
      val qualifying = corpus.filter(pmod(col("vec_id"), lit(10)) === 7)
      val occ = qualifying.groupBy(col("label").as("clabel"))
        .agg(count(lit(1)).as("occ"))
      val qs = corpus.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("norm").as("qnorm"))
      val wc = Window.partitionBy(col("query_id")).orderBy(col("cd"), col("clabel"))
      val probed = qs.crossJoin(broadcast(cent))
        .select(col("query_id"), col("qv"), col("qnorm"), col("clabel"),
          round(dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("c")) +
            col("cnorm2"), 6).as("cd"))
        .join(broadcast(occ), Seq("clabel"), "left")
        .withColumn("occ", coalesce(col("occ"), lit(0L)))
        .withColumn("rk", row_number().over(wc))
        .withColumn("cum", sum(col("occ")).over(wc))
        // keep the floor cell plus every cell before the budget fills;
        // zero-occupancy cells order the walk but never join
        .filter(col("rk") === 1 || (col("cum") - col("occ")) < lit(12L))
        .filter(col("occ") > 0)
        .select(col("query_id"), col("qv"), col("qnorm"), col("clabel"))
      val nProbed = probed.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_probed"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      qualifying.join(broadcast(probed),
          col("label") === col("clabel") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .join(broadcast(nProbed), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
          col("rank"), col("n_probed"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── IVF-style cell-restricted top-k: probe only the query's cell ──
    "sim_ann_ivf" -> ((s, d) => {
      val corpus = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val qs = corpus.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("label").as("qcell"),
          col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(qs),
          col("label") === col("qcell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── IVF with nprobe=2: rank cells by query→centroid distance and
    // probe the two nearest — the standard fix for recall loss at cell
    // boundaries (a query near a Voronoi edge has true neighbors in the
    // adjacent cell that nprobe=1 never sees). Cell ranking happens on
    // the broadcast k×dim centroid table (k rows per query, map-side);
    // candidate generation stays an equi-join on the cell id, so corpus
    // work is ∝ occupancy of the two probed cells. Ranking on rounded
    // distances keeps the probe choice engine-exact. ──
    "sim_ann_ivf_nprobe2" -> ((s, d) => {
      val corpus = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val cent = corpus
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("clabel"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s("m")).as("c"))
        .withColumn("cnorm2",
          org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("c"), col("c")))
      val qs = corpus.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      val wc = Window.partitionBy(col("query_id")).orderBy(col("cd"), col("clabel"))
      val probed = qs.crossJoin(broadcast(cent))
        .select(col("query_id"), col("qv"), col("qnorm"), col("clabel"),
          round(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("qv"), col("qv")) -
            lit(2.0) * org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("qv"), col("c")) +
            col("cnorm2"), 6).as("cd"))
        .withColumn("rk", row_number().over(wc))
        .filter(col("rk") <= 2)
        .select(col("query_id"), col("qv"), col("qnorm"), col("clabel"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      corpus.join(broadcast(probed),
          col("label") === col("clabel") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── ANN quality evaluation: recall@3 of the IVF(nprobe=1) probe
    // against exact brute-force ground truth, per query — the
    // index-quality gate every embedding pipeline runs before trusting
    // an ANN path with its retrieval. Ground truth is inherently a full
    // scan, which is why recall is evaluated on a SAMPLED query set (10
    // queries here): cost is |sample|×corpus with the broadcast query
    // pattern of sim_ann_bruteforce, corpus never shuffles. Both
    // rankings derive from ONE scored frame: rank_all is a row_number
    // and the within-cell rank a cumulative conditional count over the
    // SAME window sort, so the plan carries a single exchange+sort. ──
    "sim_ann_recall" -> ((s, d) => {
      val corpus = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val qs = corpus.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("label").as("qcell"),
          col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = corpus.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (col("label") === col("qcell")).as("in_cell"),
          cosPrecomputed(col("qv"), col("qnorm"), col("v"), col("norm")).as("cos_sim"))
        .withColumn("rank_all", row_number().over(w))
        .withColumn("cell_rank",
          sum(when(col("in_cell"), 1L).otherwise(0L)).over(cum))
      val probedHit = col("in_cell") && col("cell_rank") <= 3
      ranked.groupBy(col("query_id"))
        .agg(sum(when(col("rank_all") <= 3, 1L).otherwise(0L)).as("n_truth"),
          sum(when(probedHit, 1L).otherwise(0L)).as("n_probed"),
          sum(when(probedHit && col("rank_all") <= 3, 1L).otherwise(0L)).as("n_hits"))
        .withColumn("recall_at_3",
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // ── SemDeDup (Abbas et al. 2023): semantic dedup inside embedding
    // clusters — within each cell, any pair with cosine above the
    // threshold keeps only the member CLOSER to the cell centroid (ties →
    // lower vec_id), the paper's keep-the-prototype rule. The threshold
    // is data-dependent (the paper uses ~0.95 on real encoder
    // embeddings); the synthetic corpus is near-orthogonal, so 0.35
    // exercises the rule here — it is one constant. Work ∝ within-cell pairs (the cell
    // structure is the candidate generator, as in the ANN paths);
    // centroids are a broadcast k×dim table; comparisons use the same
    // round(6) values both engines compute, so the keep/drop decision is
    // reproducible bit-for-bit. ──
    "dd_semdedup" -> ((s, d) => {
      val e = vecs(s, d)
        .withColumn("norm", graft.functions.VectorOps.normUdf(col("v")))
      val cent = e
        .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("label"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s("m")).as("c"))
        .withColumn("cnorm", sqrt(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("c"), col("c"))))
      val withSim = Pins.cache(e.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"), col("v"), col("norm"),
          round(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("v"), col("c")) /
            (col("norm") * col("cnorm")), 6).as("centroid_sim")), "dd_semdedup")
      // a vector drops iff some same-cell near-twin beats it: closer to
      // the centroid, or equally close with a lower id
      val beat = withSim.as("a").join(withSim.as("b"),
          col("a.label") === col("b.label") &&
            col("a.vec_id") =!= col("b.vec_id") &&
            round(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("a.v"), col("b.v")) /
              (col("a.norm") * col("b.norm")), 6) >= 0.35 &&
            (col("b.centroid_sim") > col("a.centroid_sim") ||
              (col("b.centroid_sim") === col("a.centroid_sim") &&
                col("b.vec_id") < col("a.vec_id"))))
        .select(col("a.vec_id").as("vec_id")).distinct()
        .withColumn("dropped", lit(true))
      withSim.select(col("vec_id"), col("label"), col("centroid_sim"))
        .join(beat, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("label"), col("centroid_sim"),
          coalesce(col("dropped"), lit(false)).as("dropped"))
        .orderBy(col("vec_id"))
    }),

    // ── One k-means Lloyd iteration over the corpus (the clustering
    // primitive behind SemDeDup-style curation and IVF cell training):
    // M-step — per-cell centroid means via posexplode + map-side-combined
    // avg (the shuffle carries (cell, dim, partial) rows, k·64·partitions,
    // never vectors); E-step — every vector scores against the BROADCAST
    // k×64 centroid table map-side and keeps its nearest (squared
    // euclidean via the ‖v‖²−2v·c+‖c‖² form, one compiled dot per pair).
    // Ranking on the ROUNDED distance makes the argmin reproducible across
    // engines. At larger k the E-step cross product is restricted by the
    // IVF candidate join above instead of scored exhaustively. ──
    "sim_kmeans_step" -> ((s, d) => {
      // the same map-side argmin as lloydTrain — the k cells pack into
      // ONE broadcast row and array_min over (dist2, clabel) structs
      // replaces the crossJoin×k + row_number corpus shuffle; struct
      // ordering is the window's (dist2 asc, clabel asc) rank-1 rule.
      import org.apache.spark.sql.graftnative.NativeExpressions.dotCol
      val e = vecs(s, d)
      val cents = e
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("clabel"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s("m")).as("c"))
        .withColumn("cnorm2", dotCol(col("c"), col("c")))
        .agg(array_sort(collect_list(struct(col("clabel"), col("c"), col("cnorm2"))))
          .as("cents"))
      e.withColumn("vnorm2", dotCol(col("v"), col("v")))
        .crossJoin(broadcast(cents))
        .withColumn("best", array_min(transform(col("cents"), cell =>
          struct(
            round(col("vnorm2") - lit(2.0) * dotCol(col("v"), cell("c")) +
              cell("cnorm2"), 6).as("dist2"),
            cell("clabel").as("clabel")))))
        .select(col("vec_id"), col("label").as("old_label"),
          col("best.clabel").as("new_label"), col("best.dist2").as("dist2"),
          (col("label") =!= col("best.clabel")).as("changed"))
        .orderBy(col("vec_id"))
    }),

    // ── K-MEANS TRAINED IN-PLAN — the Lloyd loop sim_kmeans_step is one
    // round of, chained for 3 iterations with NOTHING collected to the
    // driver: each round's M-step is the partial-aggregated (cell, dim)
    // mean, packed per cell and broadcast back for the E-step argmin,
    // and the next round reads the previous round's cached assignment.
    // Output is the training curve — per-iteration inertia and moved
    // points — i.e. the convergence evidence a clustering job publishes.
    // At 100 TB each round is one corpus scan + a k×d-sized broadcast;
    // rounds stack linearly, exactly like the production IVF trainer. ──
    "sim_kmeans_train" -> ((s, d) => {
      val (stats, _) = lloydTrain(s, d, rounds = 3)
      stats.reduce(_ unionAll _).orderBy(col("iter"))
    }),

    // ── Trained IVF, end to end: the 3-round Lloyd assignment above IS
    // the index — cells come from the trained centroids, not the stored
    // `label` column — and this row closes the train→index→search loop
    // by probing those cells and scoring recall@3 against exact full-
    // corpus L2 truth (the sim_ann_recall methodology on the trained
    // index). A corpus query's probe cell is its own trained assignment
    // (that is literally the argmin over the round-3 centroids, the same
    // rounded-distance tie-break the trainer used), so the search adds
    // ZERO work beyond the training plan: one broadcast-query cell join
    // + the sampled brute-force truth scan. The cached final assignment
    // is shared by the query side, the probe side, and the truth side —
    // the corpus never re-trains or shuffles. ──
    "sim_ann_ivf_trained" -> ((s, d) => {
      // same lineage truncation as sim_ann_stack — three consumers (query
      // side, probe side, truth side) would each carry the full 3-round
      // training tree in the final plan; the eager checkpoint pin
      // materializes the assignment once per invocation and the search
      // plans against the checkpointed rows.
      val (_, trained) = lloydTrain(s, d, rounds = 3)
      val assigned = Pins.checkpoint(trained, "sim_ann_ivf_trained")
      val qs = assigned.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("label").as("qcell"),
          col("v").as("qv"))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      val truth = assigned.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
        .withColumn("r", row_number().over(wE)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val wP = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      val probed = assigned.join(broadcast(qs),
          col("label") === col("qcell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
        .withColumn("r", row_number().over(wP)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_probe"))
      truth.join(probed, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("in_probe"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall_at_3",
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // ── Product-quantization code assignment (Jégou et al. 2011), the
    // compression half of IVF-PQ: split each 64-dim vector into 8
    // subvectors of 8 dims and replace each with the id of its nearest
    // codeword. The codebook here is data-derived-but-deterministic (the
    // subvectors of vec_id 0..3 → 8×4 codewords); in production it comes
    // from k-means (sim_kmeans_step) and the assignment plan is THIS one.
    // Shape: corpus explodes ×8 (map-side), codebook (8×4 rows) joins
    // BROADCAST on the subspace key, argmin is a min(struct) aggregation
    // (map-side combined, no window). Corpus never shuffles wider than
    // (vec_id, sub) partials; 100× data = same plan. ──
    "sim_pq_assign" -> ((s, d) =>
      pqCodes(s, d)
        .select(col("vec_id"), col("sub"), col("code"), col("dist2"))
        .orderBy(col("vec_id"), col("sub"))),

    // ── IVF-PQ search with asymmetric distance computation (ADC): the
    // query builds a per-subspace lookup table of distances to every
    // codeword (8×4 = 32 entries per query), and a candidate's
    // approximate distance is the SUM of 8 table entries selected by its
    // stored codes — the corpus side never touches raw floats at query
    // time. Shape: the LUT (|queries|×32 rows) is the broadcast side of
    // an equi-join on (sub, code) restricted to the query's IVF cell;
    // the corpus contributes only its code table. At 100 TB this is the
    // whole point of PQ: the scanned side is 8 small ints per vector,
    // 32× narrower than the embeddings, and the plan is the same
    // broadcast-join-then-partial-agg at any corpus size. ──
    "sim_ann_ivfpq" -> ((s, d) => {
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      adcPairs(s, d).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("neighbor_id"), col("approx_d2"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── PQ fidelity: within the SAME probed cell, how well the quantized
    // ADC ranking reproduces the exact-L2 ranking — the metric that
    // isolates pure quantization loss (sim_ann_recall isolates the cell
    // probe's loss; together they decompose IVF-PQ error into its two
    // sources). Per query: top-3 by exact distance, top-3 by ADC over
    // stored codes, and their overlap. Exact side is |queries|×cell
    // pairs with the query side broadcast — the corpus never shuffles. ──
    "sim_pq_fidelity" -> ((s, d) => {
      val v = vecs(s, d)
      val qs = v.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("label").as("qcell"),
          col("v").as("qv"))
      val exact = v.join(broadcast(qs),
          col("label") === col("qcell") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      val truth = exact.withColumn("r", row_number().over(wE)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      val adcTop = adcPairs(s, d)
        .withColumn("r", row_number().over(wA)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_adc"))
      truth.join(adcTop, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("in_adc"), lit(0))).cast("long").as("n_overlap"))
        .withColumn("fidelity_at_3",
          round(col("n_overlap").cast("double") / col("n_exact").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // ── IVF-PQ end-to-end recall: ADC top-3 through the composed index
    // (cell probe + quantized codes) against exact-L2 top-3 over the FULL
    // corpus — the single quality number for the whole index.
    // sim_ann_recall isolates the cell probe's loss and sim_pq_fidelity
    // the quantization loss; this row is their composition, what an
    // embedding pipeline actually gates deployment on. Truth is a
    // broadcast-query brute-force scan (corpus never shuffles); the ADC
    // side reuses the adcPairs plan, so everything expensive is shared
    // with the sibling queries via the session-scoped caches. ──
    // ── Scalar-quantization (SQ8) full-scan ANN — the OTHER standard
    // compression point on the speed/recall curve: 4× smaller than raw
    // floats (vs PQ's 32×) but near-lossless, searched by a full scan of
    // reconstructed vectors instead of a cell probe. Query side is the
    // broadcast; the corpus contributes only its code arrays. The 2×64
    // min/max model is a one-row broadcast — no codebook join at all. ──
    "sim_ann_sq8" -> ((s, d) => {
      val qs = vecs(s, d).filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      sq8Rec(s, d).join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("rec")), 6).as("approx_d2"))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ── SQ8 end-to-end recall vs exact full-corpus truth — positions SQ8
    // on the same quality axis as sim_ann_ivfpq_recall, so the
    // compression choice (4× near-lossless scan vs 32× cell-probed ADC)
    // is a measured tradeoff, not a guess. ──
    "sim_ann_sq8_recall" -> ((s, d) => {
      val v = vecs(s, d)
      val qs = v.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      val truth = v.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
        .withColumn("r", row_number().over(wE)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      val sqTop = sq8Rec(s, d).join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("rec")), 6).as("approx_d2"))
        .withColumn("r", row_number().over(wA)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_sq"))
      truth.join(sqTop, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("in_sq"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall_at_3",
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    "sim_ann_ivfpq_recall" -> ((s, d) => {
      val v = vecs(s, d)
      val qs = v.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("d2"), col("neighbor_id"))
      val truth = v.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
        .withColumn("r", row_number().over(wE)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      val adcTop = adcPairs(s, d)
        .withColumn("r", row_number().over(wA)).filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_adc"))
      truth.join(adcTop, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("in_adc"), lit(0))).cast("long").as("n_hits"))
        .withColumn("recall_at_3",
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
        .orderBy(col("query_id"))
    }),

    // ── The PRODUCTION retrieval stack, composed end-to-end in one plan:
    // trained IVF cells (3 Lloyd rounds) + PQ codes + an attribute
    // predicate + occupancy-adaptive probe widening + ADC shortlist +
    // exact re-rank. Each stage is proven in isolation by its sibling
    // row (sim_ann_ivf_trained / sim_pq_assign / sim_ann_filtered /
    // sim_ann_filtered_adaptive / sim_ann_ivfpq); this row runs them
    // TOGETHER — the query a real deployment serves. Scale shape: the
    // trained centroids, per-cell qualifying occupancy, probe list, and
    // per-query code LUT are all bounded frames (≤ cells / ≤ queries×32
    // rows) and broadcast; the corpus contributes only its qualifying
    // PQ codes to the ADC join (8 small ints per vector — never raw
    // floats at scan time) and the raw-vector fetch touches only the
    // per-query shortlist (3k rows). Candidates ∝ the occupancy budget,
    // never ∝ corpus. The recall columns compare the stack's top-3
    // against exact filtered brute force over the sampled query set —
    // the quality gate a deployment reads next to the result. ──
    "sim_ann_stack" -> ((s, d) => {
      def dot(a: Column, b: Column) =
        org.apache.spark.sql.graftnative.NativeExpressions.dotCol(a, b)
      // the trained assignment is consumed by SIX downstream branches
      // (cent, qualifying/occ, qs, qcodes, raw-vector fetch, truth); with
      // the Lloyd rounds left as a lazy cached tree, every branch's plan
      // carries the full 3-round subtree — a ~5,600-line physical plan
      // that AQE re-optimizes per stage, which a warm re-run measured as
      // the query's dominant residual (orchestration, not data; planning
      // time itself becomes the bottleneck). The eager checkpoint pin
      // materializes the SAME rows once per invocation, held until the
      // catalog teardown, and every consumer plans against the
      // checkpointed blocks instead of the training tree.
      val (_, trained) = lloydTrain(s, d, rounds = 3)
      val assigned = Pins.checkpoint(trained, "sim_ann_stack")
      val cent = assigned
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("clabel"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          p => p("m")).as("c"))
        .withColumn("cnorm2", dot(col("c"), col("c")))
      val qualifying = assigned.filter(pmod(col("vec_id"), lit(10)) === 7)
      val occ = qualifying.groupBy(col("label").as("clabel"))
        .agg(count(lit(1)).as("occ"))
      val qs = assigned.filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // adaptive probe walk over TRAINED cells (sim_ann_filtered_adaptive
      // rule, budget 12): floor cell + widen while cumulative qualifying
      // occupancy is under budget; rounded distances keep it engine-exact
      val wc = Window.partitionBy(col("query_id")).orderBy(col("cd"), col("clabel"))
      val probed = qs.crossJoin(broadcast(cent))
        .select(col("query_id"), col("clabel"),
          round(dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("c")) +
            col("cnorm2"), 6).as("cd"))
        .join(broadcast(occ), Seq("clabel"), "left")
        .withColumn("occ", coalesce(col("occ"), lit(0L)))
        .withColumn("rk", row_number().over(wc))
        .withColumn("cum", sum(col("occ")).over(wc))
        .filter(col("rk") === 1 || (col("cum") - col("occ")) < lit(12L))
        .filter(col("occ") > 0)
        .select(col("query_id"), col("clabel"))
      val nProbed = probed.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_probed"))
      // qualifying corpus side: PQ codes keyed to the TRAINED cell
      val qcodes = pqCodes(s, d)
        .select(col("vec_id").as("cvec"), col("sub").as("csub"),
          col("code").as("ccode"))
        .join(qualifying.select(col("vec_id").as("cvec"),
          col("label").as("tcell")), Seq("cvec"))
      // per-(query, probed cell) LUT: 8×4 codeword distances per query
      val lutP = subspaced(s, d).filter(col("vec_id") >= 3 && col("vec_id") < 13)
        .select(col("vec_id").as("query_id"), col("sub"), col("sv").as("qsv"))
        .join(codebook(s, d), Seq("sub"))
        .select(col("query_id"), col("sub"), col("code_id"),
          sqdist(col("qsv"), col("cv")).as("ld2"))
        .join(probed, Seq("query_id"))
      val adc = qcodes.join(broadcast(lutP),
          qcodes("csub") === lutP("sub") && qcodes("ccode") === lutP("code_id") &&
            qcodes("tcell") === lutP("clabel") && qcodes("cvec") =!= lutP("query_id"))
        .groupBy(col("query_id"), col("cvec").as("neighbor_id"))
        .agg(round(sum(col("ld2")), 6).as("approx_d2"))
      val wS = Window.partitionBy(col("query_id"))
        .orderBy(col("approx_d2"), col("neighbor_id"))
      val short = adc.withColumn("rn", row_number().over(wS)).filter(col("rn") <= 9)
        .select(col("query_id"), col("neighbor_id"))
      // exact re-rank of the shortlist (raw-vector fetch ≤ 9 rows/query)
      val wR = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
      val top = short
        .join(assigned.select(col("vec_id").as("neighbor_id"), col("v")),
          Seq("neighbor_id"))
        .join(broadcast(qs), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("d2"))
        .withColumn("rank", row_number().over(wR)).filter(col("rank") <= 3)
      // exact filtered brute-force truth for the recall columns
      val truth = qualifying.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(sqdist(col("qv"), col("v")), 6).as("td2"))
        .withColumn("r", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("td2"), col("neighbor_id"))))
        .filter(col("r") <= 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("in_truth"))
      val flagged = top.join(truth, Seq("query_id", "neighbor_id"), "left_outer")
        .withColumn("hit", coalesce(col("in_truth"), lit(0)))
      val rec = flagged.groupBy(col("query_id"))
        .agg(sum(col("hit")).cast("long").as("n_hits"))
        .join(truth.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth")),
          Seq("query_id"))
        .withColumn("recall_at_3",
          round(col("n_hits").cast("double") / col("n_truth").cast("double"), 6))
        .select(col("query_id"), col("recall_at_3"))
      flagged
        .join(broadcast(nProbed), Seq("query_id"))
        .join(broadcast(rec), Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"),
          col("n_probed"), col("hit"), col("recall_at_3"))
        .orderBy(col("query_id"), col("rank"))
    })
  )

  /** The in-plan Lloyd loop shared by sim_kmeans_train (which publishes
    * the per-round stats) and sim_ann_ivf_trained (which consumes the
    * final assignment as the IVF index): each round's M-step is the
    * partial-aggregated (cell, dim) mean packed per cell and broadcast
    * back for the E-step argmin; NOTHING is collected to the driver, and
    * each round's assignment is cached because the next round, the stats
    * row, and the trained-search consumers all read it. Ranking on the
    * ROUNDED distance keeps the argmin reproducible across engines.
    *
    * Shape: the E-step argmin is MAP-SIDE — the k cells are packed
    * (clabel-sorted) into ONE broadcast row and each vector takes
    * `array_min` over per-cell (dist2, clabel) structs, whose struct
    * ordering IS a window's (dist2 asc, clabel asc) rank-1 rule. A
    * crossJoin ×k + row_number over vec_id would shuffle and sort the
    * ×k-exploded corpus, vectors included, once per round; this way no
    * round moves a vector at all, and the only exchanges
    * left are the M-step's k·64-row partial aggregates. Same rounded
    * arithmetic (‖v‖²−2v·c+‖c‖², round 6, cnorm2 computed once per
    * cell), so the assignment is value-identical.
    * Returns (per-round stat frames, final (vec_id, v, label) state). */
  private def lloydTrain(s: SparkSession, d: String, rounds: Int)
      : (Seq[org.apache.spark.sql.DataFrame], org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.graftnative.NativeExpressions.dotCol
    var state = vecs(s, d).select(col("vec_id"), col("v"), col("label"))
    val stats = (1 to rounds).map { r =>
      val cents = state
        .select(col("label").as("clabel"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("clabel"), col("i")).agg(avg(col("x")).as("m"))
        .groupBy(col("clabel"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          p => p("m")).as("c"))
        .withColumn("cnorm2", dotCol(col("c"), col("c")))
        .agg(array_sort(collect_list(struct(col("clabel"), col("c"), col("cnorm2"))))
          .as("cents"))
      // read twice+: round stats, next round, trained search
      val assigned = Pins.cache(state
        .withColumn("vnorm2", dotCol(col("v"), col("v")))
        .crossJoin(broadcast(cents))
        .withColumn("best", array_min(transform(col("cents"), cell =>
          struct(
            round(col("vnorm2") - lit(2.0) * dotCol(col("v"), cell("c")) +
              cell("cnorm2"), 6).as("dist2"),
            cell("clabel").as("clabel")))))
        .select(col("vec_id"), col("v"), col("best.clabel").as("label"),
          col("best.dist2").as("dist2"), col("label").as("old_label")), "lloydTrain")
      state = assigned.select(col("vec_id"), col("v"), col("label"))
      assigned.agg(round(sum(col("dist2")), 6).as("inertia"),
        sum(when(col("label") =!= col("old_label"), 1L).otherwise(0L))
          .as("n_changed"))
        .select(lit(r).as("iter"), col("inertia"), col("n_changed"))
    }
    (stats, state)
  }

  /** ADC scores for every (query, cell-mate) pair: the stored-code side
    * joined against the broadcast per-query LUT (see sim_ann_ivfpq). */
  private def adcPairs(s: SparkSession, d: String) = {
    val codes = pqCodes(s, d)
    val qs = subspaced(s, d).filter(col("vec_id") >= 3 && col("vec_id") < 13)
      .select(col("vec_id").as("query_id"), col("label").as("qcell"),
        col("sub"), col("sv").as("qv"))
    val lut = qs.join(codebook(s, d), Seq("sub"))
      .select(col("query_id"), col("qcell"), col("sub"), col("code_id"),
        sqdist(col("qv"), col("cv")).as("d2"))
    codes
      .join(broadcast(lut),
        codes("sub") === lut("sub") && col("code") === col("code_id") &&
          codes("label") === col("qcell") && codes("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), codes("vec_id").as("neighbor_id"))
      .agg(round(sum(col("d2")), 6).as("approx_d2"))
  }

  /** Per-dimension corpus (min, max) packed as two dim-length arrays in
    * ONE row — the entire SQ8 "model" (a 2×64-double table, the scalar-
    * quantization analog of the PQ codebook). Derived by a map-side-
    * combined per-dim aggregate (64 groups), then packed so the corpus
    * encode stays UN-exploded: a one-row broadcast against the corpus. */
  private def sq8Stats(s: SparkSession, d: String) =
    vecs(s, d).select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("mn")))),
          p => p("mn")).as("mns"),
        transform(array_sort(collect_list(struct(col("dim"), col("mx")))),
          p => p("mx")).as("mxs"))

  /** SQ8 encode + reconstruct per vector: code_i = ⌊(x_i − mn_i)/(mx_i −
    * mn_i) · 255⌋ (constant dims guard to scale 1), rec_i decodes the
    * code back to the value grid. Everything is a per-row array
    * transform against the broadcast one-row stats — the corpus never
    * explodes and never shuffles; at 100 TB the scan side is the 4×-
    * compressed code array, which is the point of SQ8. Cached
    * session-scoped like the PQ slice frame (same design note). */
  private def sq8Rec(s: SparkSession, d: String) = {
    def scaleAt(i: Column) = {
      val mn = element_at(col("mns"), i + 1)
      val mx = element_at(col("mxs"), i + 1)
      when(mx === mn, lit(1.0)).otherwise(mx - mn)
    }
    Pins.cache(vecs(s, d).crossJoin(broadcast(sq8Stats(s, d)))
      .select(col("vec_id"), col("label"),
        transform(col("v"), (x, i) =>
          floor((x - element_at(col("mns"), i + 1)) / scaleAt(i) * 255.0)
            .cast("long")).as("codes"),
        col("mns"), col("mxs"))
      .select(col("vec_id"), col("label"), col("codes"),
        transform(col("codes"), (c, i) =>
          element_at(col("mns"), i + 1) +
            c.cast("double") * scaleAt(i) / 255.0).as("rec")), "sq8Rec")
  }

  /** Squared euclidean distance between two equal-length double arrays
    * (sequential left fold — the same accumulation order both engines use). */
  private def sqdist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Each vector exploded into its 8 PQ subspaces of 8 dims. CACHED: one
    * IVF-PQ query composes this through pqCodes, codebook, and the query
    * side, which would otherwise scan + explode the embeddings three or
    * four times per execution (the single-derivation rule). The frame is
    * |vectors|×8 rows of 8-dim slices; Spark's cache manager dedupes the
    * identical plan across the helper calls, so every consumer reads the
    * one in-memory copy. Catalog caches are SESSION-SCOPED BY DESIGN:
    * nothing unpersists them, because the catalog serves repeated
    * interactive/bench queries over one fixed corpus and re-deriving the
    * slice frame per query would cost more than the pinned storage; a
    * caller embedding these plans in a long-lived service with rotating
    * corpora should clear them via spark.catalog.clearCache() between
    * corpus swaps. */
  private def subspaced(s: SparkSession, d: String) = {
    val sv = transform(sequence(lit(0), lit(7)),
      m => struct(m.cast("long").as("sub"), slice(col("v"), m * 8 + 1, lit(8)).as("sv")))
    Pins.cache(vecs(s, d).select(col("vec_id"), col("label"), explode(sv).as("s"))
      .select(col("vec_id"), col("label"), col("s.sub").as("sub"), col("s.sv").as("sv")), "subspaced")
  }

  /** Deterministic data-derived codebook: the subvectors of vec_id 0..3
    * (8 subspaces × 4 codewords). Production swaps in k-means centroids
    * (sim_kmeans_step); every consumer keeps the same plan. */
  private def codebook(s: SparkSession, d: String) =
    subspaced(s, d).filter(col("vec_id") < 4)
      .select(col("vec_id").as("code_id"), col("sub"), col("sv").as("cv"))

  /** PQ code assignment per (vector, subspace): nearest codeword by
    * rounded squared distance, ties to the smaller code id. Argmin is a
    * map-side-combinable min(struct) aggregation against the broadcast
    * codebook — no window, no corpus-wide sort. */
  private def pqCodes(s: SparkSession, d: String) =
    subspaced(s, d)
      .join(broadcast(codebook(s, d)), Seq("sub"))
      .select(col("vec_id"), col("label"), col("sub"), col("code_id"),
        round(sqdist(col("sv"), col("cv")), 6).as("dist"))
      .groupBy(col("vec_id"), col("label"), col("sub"))
      .agg(min(struct(col("dist"), col("code_id"))).as("m"))
      .select(col("vec_id"), col("label"), col("sub"),
        col("m.code_id").as("code"), col("m.dist").as("dist2"))

  private def sqdistSql(x: String, y: String): String =
    s"list_sum(list_transform(generate_series(1, len($x)), i -> ($x[i] - $y[i]) * ($x[i] - $y[i])))"

  /** The oracle's mirror of lloydTrain: CTE chain a0 (cast embeddings) →
    * c/s/a/r per round — a_r the round-r assignment, r_r its stats. */
  private def lloydCteSql(rounds: Int): String = {
    val rs = (1 to rounds).map { r =>
      s"""c$r AS (SELECT clabel, list(m ORDER BY i) AS c
           FROM (SELECT clabel, i, AVG(x) AS m
                 FROM (SELECT label AS clabel, unnest(v)::DOUBLE AS x,
                         unnest(generate_series(1, len(v))) AS i
                       FROM a${r - 1})
                 GROUP BY clabel, i)
           GROUP BY clabel),
         s$r AS (SELECT a.vec_id, a.v, a.label AS old_label, c.clabel,
             round(${dotSql("a.v", "a.v")}
               - 2.0 * ${dotSql("a.v", "c.c")}
               + ${dotSql("c.c", "c.c")}, 6) AS dist2
           FROM a${r - 1} a CROSS JOIN c$r c),
         a$r AS (SELECT vec_id, v, clabel AS label, dist2, old_label
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist2, clabel) AS rn FROM s$r) t
           WHERE rn = 1),
         r$r AS (SELECT $r AS iter, round(SUM(dist2), 6) AS inertia,
             CAST(SUM(CASE WHEN label <> old_label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_changed
           FROM a$r)"""
    }.mkString(",\n         ")
    s"""a0 AS (SELECT vec_id, label,
           list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         $rs"""
  }

  /** DuckDB mirror of VectorOps.lshSig: same coefficients (portable hash
    * of "plane:dim"), same left-to-right double accumulation, same strict
    * sign test — bit-identical signatures. */
  private def lshSigSql(emb: String): String = {
    val planeTerms = (0 until 8).map { j =>
      val coef = s"(((('0x' || substr(md5(CAST($j AS VARCHAR) || ':' || CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 2147483647) % 2) * 2 - 1)"
      s"CASE WHEN list_sum(list_transform(generate_series(1, len($emb)), i -> $emb[i]::DOUBLE * $coef)) > 0 THEN ${1 << j} ELSE 0 END"
    }
    s"CAST(${planeTerms.mkString("(", " + ", ")")} AS INT)"
  }

  def oracle: Map[String, String] = Map(
    "sim_ann_lsh" ->
      s"""WITH sigs AS (
           SELECT vec_id, embedding, ${lshSigSql("embedding")} AS sig FROM embeddings),
         q AS (SELECT vec_id AS query_id, sig AS qsig, embedding AS qv
             FROM sigs WHERE vec_id >= 20 AND vec_id < 25),
         p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM sigs e JOIN q ON e.sig = q.qsig AND e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
         p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 5 ORDER BY query_id, rank""",
    "sim_ann_multiprobe" ->
      s"""WITH sigs AS (
           SELECT vec_id, embedding, ${lshSigSql("embedding")} AS sig FROM embeddings),
         q AS (SELECT vec_id AS query_id, sig AS qsig, embedding AS qv
             FROM sigs WHERE vec_id >= 20 AND vec_id < 25),
         p AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM sigs e JOIN q
             ON bit_count(xor(e.sig, q.qsig)) <= 1 AND e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_filtered" ->
      s"""WITH sigs AS (
           SELECT vec_id, label, embedding, ${lshSigSql("embedding")} AS sig FROM embeddings),
         q AS (SELECT vec_id AS query_id, sig AS qsig, embedding AS qv, label AS qlabel
             FROM sigs WHERE vec_id >= 20 AND vec_id < 25),
         p AS (SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
             e.label AS neighbor_label,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM sigs e JOIN q
             ON bit_count(xor(e.sig, q.qsig)) <= 1 AND e.vec_id <> q.query_id
               AND e.label <> q.qlabel)
         SELECT query_id, neighbor_id, neighbor_label, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_filtered_adaptive" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         cent AS (SELECT clabel, list(m ORDER BY i) AS c
           FROM (SELECT clabel, i, AVG(x) AS m
                 FROM (SELECT label AS clabel,
                         unnest(embedding)::DOUBLE AS x,
                         unnest(generate_series(1, len(embedding))) AS i
                       FROM e)
                 GROUP BY clabel, i)
           GROUP BY clabel),
         qual AS (SELECT vec_id, label, embedding FROM e WHERE vec_id % 10 = 7),
         occ AS (SELECT label AS clabel, COUNT(*) AS occ FROM qual GROUP BY 1),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
               WHERE vec_id >= 3 AND vec_id < 13),
         scored AS (SELECT q.query_id, q.qv, cent.clabel,
             COALESCE(occ.occ, 0) AS occ,
             round(${dotSql("q.qv", "q.qv")}
               - 2.0 * ${dotSql("q.qv", "cent.c")}
               + ${dotSql("cent.c", "cent.c")}, 6) AS cd
           FROM q CROSS JOIN cent LEFT JOIN occ USING (clabel)),
         ranked AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd, clabel) AS rk,
             SUM(occ) OVER (PARTITION BY query_id ORDER BY cd, clabel
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM scored),
         sel AS (SELECT query_id, qv, clabel FROM ranked
           WHERE (rk = 1 OR cum - occ < 12) AND occ > 0),
         np AS (SELECT query_id, COUNT(*) AS n_probed FROM sel GROUP BY 1),
         p AS (SELECT sel.query_id, qual.vec_id AS neighbor_id,
             ${cosineSql("sel.qv", "qual.embedding")} AS cos_sim
           FROM qual JOIN sel
             ON qual.label = sel.clabel AND qual.vec_id <> sel.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank, n_probed
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         JOIN np USING (query_id)
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_recall" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qcell, embedding AS qv
             FROM embeddings WHERE vec_id >= 3 AND vec_id < 13),
         p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             e.label = q.qcell AS in_cell,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id) AS rank_all,
             SUM(CASE WHEN in_cell THEN 1 ELSE 0 END) OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cell_rank
           FROM p)
         SELECT query_id,
           CAST(SUM(CASE WHEN rank_all <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN in_cell AND cell_rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN in_cell AND cell_rank <= 3 AND rank_all <= 3
             THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(CAST(SUM(CASE WHEN in_cell AND cell_rank <= 3 AND rank_all <= 3
               THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN rank_all <= 3 THEN 1 ELSE 0 END), 6) AS recall_at_3
         FROM r GROUP BY query_id ORDER BY query_id""",
    "sim_ann_ivf" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qcell, embedding AS qv
             FROM embeddings WHERE vec_id >= 3 AND vec_id < 13),
         p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM embeddings e JOIN q ON e.label = q.qcell AND e.vec_id <> q.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_ivf_nprobe2" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         cent AS (SELECT clabel, list(m ORDER BY i) AS c
           FROM (SELECT clabel, i, AVG(x) AS m
                 FROM (SELECT label AS clabel,
                         unnest(embedding)::DOUBLE AS x,
                         unnest(generate_series(1, len(embedding))) AS i
                       FROM e)
                 GROUP BY clabel, i)
           GROUP BY clabel),
         q AS (SELECT vec_id AS query_id, embedding AS qv FROM e
               WHERE vec_id >= 3 AND vec_id < 13),
         qc AS (SELECT query_id, qv, clabel FROM (
             SELECT q.query_id, q.qv, cent.clabel,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                 round(${dotSql("q.qv", "q.qv")}
                   - 2.0 * ${dotSql("q.qv", "cent.c")}
                   + ${dotSql("cent.c", "cent.c")}, 6), cent.clabel) AS rk
             FROM q CROSS JOIN cent) t
           WHERE rk <= 2),
         p AS (SELECT qc.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("qc.qv", "e.embedding")} AS cos_sim
           FROM e JOIN qc ON e.label = qc.clabel AND e.vec_id <> qc.query_id)
         SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank FROM p) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "dd_semdedup" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         cent AS (SELECT label, list(m ORDER BY i) AS c
           FROM (SELECT label, i, AVG(x) AS m
                 FROM (SELECT label,
                         unnest(embedding)::DOUBLE AS x,
                         unnest(generate_series(1, len(embedding))) AS i
                       FROM e)
                 GROUP BY label, i)
           GROUP BY label),
         sims AS (SELECT vec_id, e.label,
             round(${dotSql("e.embedding", "cent.c")}
               / (sqrt(${dotSql("e.embedding", "e.embedding")})
                  * sqrt(${dotSql("cent.c", "cent.c")})), 6) AS centroid_sim,
             embedding
           FROM e JOIN cent USING (label)),
         beat AS (SELECT DISTINCT a.vec_id
           FROM sims a JOIN sims b
             ON a.label = b.label AND a.vec_id <> b.vec_id
             AND ${cosineSql("a.embedding", "b.embedding")} >= 0.35
             AND (b.centroid_sim > a.centroid_sim
                  OR (b.centroid_sim = a.centroid_sim AND b.vec_id < a.vec_id)))
         SELECT s.vec_id, s.label, s.centroid_sim,
           b.vec_id IS NOT NULL AS dropped
         FROM sims s LEFT JOIN beat b ON s.vec_id = b.vec_id
         ORDER BY s.vec_id""",
    "sim_kmeans_step" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         cent AS (SELECT clabel, list(m ORDER BY i) AS c
           FROM (SELECT clabel, i, AVG(x) AS m
                 FROM (SELECT label AS clabel,
                         unnest(embedding)::DOUBLE AS x,
                         unnest(generate_series(1, len(embedding))) AS i
                       FROM e)
                 GROUP BY clabel, i)
           GROUP BY clabel),
         scored AS (SELECT vec_id, label, clabel,
             round(${dotSql("e.embedding", "e.embedding")}
               - 2.0 * ${dotSql("e.embedding", "cent.c")}
               + ${dotSql("cent.c", "cent.c")}, 6) AS dist2
           FROM e CROSS JOIN cent)
         SELECT vec_id, label AS old_label, clabel AS new_label, dist2,
           label <> clabel AS changed
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                 ORDER BY dist2, clabel) AS rn FROM scored) t
         WHERE rn = 1 ORDER BY vec_id""",
    "sim_kmeans_train" ->
      s"""WITH ${lloydCteSql(3)}
         SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
         SELECT * FROM r3 ORDER BY iter""",
    "sim_ann_ivf_trained" ->
      s"""WITH ${lloydCteSql(3)},
         q AS (SELECT vec_id AS query_id, label AS qcell, v AS qv
           FROM a3 WHERE vec_id >= 3 AND vec_id < 13),
         ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             round(${sqdistSql("q.qv", "e.v")}, 6) AS d2
           FROM a3 e JOIN q ON e.vec_id <> q.query_id),
         truth AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS r FROM ex) t
           WHERE r <= 3),
         pc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             round(${sqdistSql("q.qv", "e.v")}, 6) AS d2
           FROM a3 e JOIN q ON e.label = q.qcell AND e.vec_id <> q.query_id),
         probed AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS r FROM pc) t
           WHERE r <= 3)
         SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_3
         FROM truth t LEFT JOIN probed p USING (query_id, neighbor_id)
         GROUP BY t.query_id ORDER BY t.query_id""",
    "sim_pq_assign" ->
      """WITH v AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         subs AS (SELECT vec_id, t.m AS sub, emb[t.m*8+1 : t.m*8+8] AS sv
           FROM v, generate_series(0, 7) t(m)),
         cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
         d AS (SELECT s.vec_id, s.sub, c.code_id,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS dist
           FROM subs s JOIN cb c USING (sub))
         SELECT vec_id, sub, code_id AS code, dist AS dist2
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                 ORDER BY dist, code_id) AS rn FROM d) t
         WHERE rn = 1 ORDER BY vec_id, sub""",
    "sim_ann_ivfpq" ->
      """WITH v AS (SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         subs AS (SELECT vec_id, label, t.m AS sub, emb[t.m*8+1 : t.m*8+8] AS sv
           FROM v, generate_series(0, 7) t(m)),
         cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
         da AS (SELECT s.vec_id, s.label, s.sub, c.code_id,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS dist
           FROM subs s JOIN cb c USING (sub)),
         codes AS (SELECT vec_id, label, sub, code_id AS code
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist, code_id) AS rn FROM da) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, label AS qcell, sub, sv AS qv
           FROM subs WHERE vec_id >= 3 AND vec_id < 13),
         lut AS (SELECT q.query_id, q.qcell, q.sub, c.code_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d2
           FROM q JOIN cb c USING (sub)),
         pairs AS (SELECT l.query_id, co.vec_id AS neighbor_id,
             round(SUM(l.d2), 6) AS approx_d2
           FROM codes co JOIN lut l
             ON co.sub = l.sub AND co.code = l.code_id
             AND co.label = l.qcell AND co.vec_id <> l.query_id
           GROUP BY 1, 2)
         SELECT query_id, neighbor_id, approx_d2, CAST(rank AS INT) AS rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY approx_d2, neighbor_id) AS rank FROM pairs) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_pq_fidelity" ->
      """WITH v AS (SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         subs AS (SELECT vec_id, label, t.m AS sub, emb[t.m*8+1 : t.m*8+8] AS sv
           FROM v, generate_series(0, 7) t(m)),
         cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
         da AS (SELECT s.vec_id, s.label, s.sub, c.code_id,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS dist
           FROM subs s JOIN cb c USING (sub)),
         codes AS (SELECT vec_id, label, sub, code_id AS code
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist, code_id) AS rn FROM da) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, label AS qcell, sub, sv AS qv
           FROM subs WHERE vec_id >= 3 AND vec_id < 13),
         lut AS (SELECT q.query_id, q.qcell, q.sub, c.code_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d2
           FROM q JOIN cb c USING (sub)),
         pairs AS (SELECT l.query_id, co.vec_id AS neighbor_id,
             round(SUM(l.d2), 6) AS approx_d2
           FROM codes co JOIN lut l
             ON co.sub = l.sub AND co.code = l.code_id
             AND co.label = l.qcell AND co.vec_id <> l.query_id
           GROUP BY 1, 2),
         adc AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_d2, neighbor_id) AS r FROM pairs) t
           WHERE r <= 3),
         qf AS (SELECT vec_id AS query_id, label AS qcell, emb AS qv
           FROM v WHERE vec_id >= 3 AND vec_id < 13),
         ex AS (SELECT qf.query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(e.emb)),
               i -> (qf.qv[i] - e.emb[i]) * (qf.qv[i] - e.emb[i]))), 6) AS d2
           FROM v e JOIN qf ON e.label = qf.qcell AND e.vec_id <> qf.query_id),
         truth AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS r FROM ex) t
           WHERE r <= 3)
         SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           round(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS fidelity_at_3
         FROM truth t LEFT JOIN adc a USING (query_id, neighbor_id)
         GROUP BY t.query_id ORDER BY t.query_id""",
    "sim_ann_ivfpq_recall" ->
      """WITH v AS (SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         subs AS (SELECT vec_id, label, t.m AS sub, emb[t.m*8+1 : t.m*8+8] AS sv
           FROM v, generate_series(0, 7) t(m)),
         cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
         da AS (SELECT s.vec_id, s.label, s.sub, c.code_id,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS dist
           FROM subs s JOIN cb c USING (sub)),
         codes AS (SELECT vec_id, label, sub, code_id AS code
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist, code_id) AS rn FROM da) t
           WHERE rn = 1),
         q AS (SELECT vec_id AS query_id, label AS qcell, sub, sv AS qv
           FROM subs WHERE vec_id >= 3 AND vec_id < 13),
         lut AS (SELECT q.query_id, q.qcell, q.sub, c.code_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS d2
           FROM q JOIN cb c USING (sub)),
         pairs AS (SELECT l.query_id, co.vec_id AS neighbor_id,
             round(SUM(l.d2), 6) AS approx_d2
           FROM codes co JOIN lut l
             ON co.sub = l.sub AND co.code = l.code_id
             AND co.label = l.qcell AND co.vec_id <> l.query_id
           GROUP BY 1, 2),
         adc AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_d2, neighbor_id) AS r FROM pairs) t
           WHERE r <= 3),
         qf AS (SELECT vec_id AS query_id, emb AS qv
           FROM v WHERE vec_id >= 3 AND vec_id < 13),
         ex AS (SELECT qf.query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(e.emb)),
               i -> (qf.qv[i] - e.emb[i]) * (qf.qv[i] - e.emb[i]))), 6) AS d2
           FROM v e JOIN qf ON e.vec_id <> qf.query_id),
         truth AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS r FROM ex) t
           WHERE r <= 3)
         SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_3
         FROM truth t LEFT JOIN adc a USING (query_id, neighbor_id)
         GROUP BY t.query_id ORDER BY t.query_id""",
    "sim_ann_sq8" ->
      s"""WITH $Sq8PairsCte
         SELECT query_id, neighbor_id, approx_d2, rank
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY approx_d2, neighbor_id) AS rank FROM pairs) t
         WHERE rank <= 3 ORDER BY query_id, rank""",
    "sim_ann_sq8_recall" ->
      s"""WITH $Sq8PairsCte,
         sq AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_d2, neighbor_id) AS r FROM pairs) t
           WHERE r <= 3),
         ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(e.v)),
               i -> (q.qv[i] - e.v[i]) * (q.qv[i] - e.v[i]))), 6) AS d2
           FROM v e JOIN q ON e.vec_id <> q.query_id),
         truth AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS r FROM ex) t
           WHERE r <= 3)
         SELECT t.query_id, CAST(COUNT(*) AS BIGINT) AS n_truth,
           CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           round(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_3
         FROM truth t LEFT JOIN sq s USING (query_id, neighbor_id)
         GROUP BY t.query_id ORDER BY t.query_id""",
    "sim_ann_stack" ->
      s"""WITH ${lloydCteSql(3)},
         cent AS (SELECT clabel, list(m ORDER BY i) AS c
           FROM (SELECT clabel, i, AVG(x) AS m
                 FROM (SELECT label AS clabel, unnest(v)::DOUBLE AS x,
                         unnest(generate_series(1, len(v))) AS i
                       FROM a3)
                 GROUP BY clabel, i)
           GROUP BY clabel),
         qual AS (SELECT vec_id, v, label FROM a3 WHERE vec_id % 10 = 7),
         occ AS (SELECT label AS clabel, COUNT(*) AS occ FROM qual GROUP BY 1),
         q AS (SELECT vec_id AS query_id, v AS qv FROM a3
               WHERE vec_id >= 3 AND vec_id < 13),
         scored AS (SELECT q.query_id, cent.clabel,
             COALESCE(occ.occ, 0) AS occ,
             round(${dotSql("q.qv", "q.qv")}
               - 2.0 * ${dotSql("q.qv", "cent.c")}
               + ${dotSql("cent.c", "cent.c")}, 6) AS cd
           FROM q CROSS JOIN cent LEFT JOIN occ USING (clabel)),
         rankedc AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd, clabel) AS rk,
             SUM(occ) OVER (PARTITION BY query_id ORDER BY cd, clabel
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM scored),
         sel AS (SELECT query_id, clabel FROM rankedc
           WHERE (rk = 1 OR cum - occ < 12) AND occ > 0),
         np AS (SELECT query_id, COUNT(*) AS n_probed FROM sel GROUP BY 1),
         v0 AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
         subs AS (SELECT vec_id, t.m AS sub, emb[t.m*8+1 : t.m*8+8] AS sv
           FROM v0, generate_series(0, 7) t(m)),
         cb AS (SELECT vec_id AS code_id, sub, sv AS cv FROM subs WHERE vec_id < 4),
         da AS (SELECT s.vec_id, s.sub, c.code_id,
             round(list_sum(list_transform(generate_series(1, 8),
               i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]))), 6) AS dist
           FROM subs s JOIN cb c USING (sub)),
         codes AS (SELECT vec_id, sub, code_id AS code
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                   ORDER BY dist, code_id) AS rn FROM da) t
           WHERE rn = 1),
         qcodes AS (SELECT c.vec_id, c.sub, c.code, ql.label AS tcell
           FROM codes c JOIN qual ql USING (vec_id)),
         qsub AS (SELECT vec_id AS query_id, sub, sv AS qsv FROM subs
           WHERE vec_id >= 3 AND vec_id < 13),
         lut AS (SELECT qs.query_id, qs.sub, c.code_id,
             list_sum(list_transform(generate_series(1, 8),
               i -> (qs.qsv[i] - c.cv[i]) * (qs.qsv[i] - c.cv[i]))) AS ld2
           FROM qsub qs JOIN cb c USING (sub)),
         pairs AS (SELECT l.query_id, qc.vec_id AS neighbor_id,
             round(SUM(l.ld2), 6) AS approx_d2
           FROM qcodes qc
           JOIN sel ON qc.tcell = sel.clabel
           JOIN lut l ON l.query_id = sel.query_id
             AND qc.sub = l.sub AND qc.code = l.code_id
           WHERE qc.vec_id <> sel.query_id
           GROUP BY 1, 2),
         short AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY approx_d2, neighbor_id) AS rn FROM pairs) t
           WHERE rn <= 9),
         rer AS (SELECT sh.query_id, sh.neighbor_id,
             round(${sqdistSql("q.qv", "a.v")}, 6) AS d2
           FROM short sh
           JOIN a3 a ON a.vec_id = sh.neighbor_id
           JOIN q ON q.query_id = sh.query_id),
         top AS (SELECT query_id, neighbor_id, d2, rank
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY d2, neighbor_id) AS rank FROM rer) t
           WHERE rank <= 3),
         ex AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             round(${sqdistSql("q.qv", "e.v")}, 6) AS td2
           FROM qual e JOIN q ON e.vec_id <> q.query_id),
         truth AS (SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY td2, neighbor_id) AS r FROM ex) t
           WHERE r <= 3),
         hits AS (SELECT t.query_id,
             SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
           FROM top t LEFT JOIN truth tr USING (query_id, neighbor_id)
           GROUP BY 1),
         tn AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY 1)
         SELECT t.query_id, t.neighbor_id, t.d2, CAST(t.rank AS INT) AS rank,
           np.n_probed,
           CAST(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS hit,
           round(hits.n_hits::DOUBLE / tn.n_truth, 6) AS recall_at_3
         FROM top t
         JOIN np USING (query_id)
         JOIN hits ON hits.query_id = t.query_id
         JOIN tn ON tn.query_id = t.query_id
         LEFT JOIN truth tr ON tr.query_id = t.query_id
           AND tr.neighbor_id = t.neighbor_id
         ORDER BY t.query_id, t.rank"""
  )

  /** Shared CTE chain for the SQ8 oracles: per-dim min/max model, encode
    * ⌊(x−mn)/scale·255⌋, decode back to the grid, all-pairs asymmetric
    * distances for queries 3..12. Mirrors sq8Stats/sq8Rec exactly
    * (constant dims guard to scale 1; same op order for IEEE parity). */
  private val Sq8PairsCte: String =
    """v AS (SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         d AS (SELECT t.i AS dim, MIN(v.v[t.i]) AS mn, MAX(v.v[t.i]) AS mx
           FROM v, generate_series(1, 64) t(i) GROUP BY 1),
         m AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
           FROM d),
         r AS (SELECT vec_id, v,
             list_transform(generate_series(1, len(v)), i ->
               mns[i] + floor((v[i] - mns[i])
                   / (CASE WHEN mxs[i] = mns[i] THEN 1.0 ELSE mxs[i] - mns[i] END)
                   * 255.0)
                 * (CASE WHEN mxs[i] = mns[i] THEN 1.0 ELSE mxs[i] - mns[i] END)
                 / 255.0) AS rec
           FROM v, m),
         q AS (SELECT vec_id AS query_id, v AS qv FROM v
           WHERE vec_id >= 3 AND vec_id < 13),
         pairs AS (SELECT q.query_id, r.vec_id AS neighbor_id,
             round(list_sum(list_transform(generate_series(1, len(q.qv)),
               i -> (q.qv[i] - r.rec[i]) * (q.qv[i] - r.rec[i]))), 6) AS approx_d2
           FROM q JOIN r ON r.vec_id <> q.query_id)"""
}
