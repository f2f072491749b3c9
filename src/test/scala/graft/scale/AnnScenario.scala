package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.PortableHash
import graft.scale.Scale.timed

/** ANN-family throughput and recall at corpus scale. The sf0.1 catalog
  * runs the similarity family at 5k vectors, which cannot show whether IVF
  * buys anything: a probe scans nprobe/C of the corpus instead of all of
  * it, and that only shows at scale. This scenario trains the coarse
  * quantizer with the catalog's Lloyd-step shape (`sim_kmeans_train`),
  * builds the cell index, runs the query set at several nprobe settings
  * and reports recall@10 against the exact brute-force answer with the
  * speedup, then the compressed (SQ8, IVF-PQ), filtered and composed legs.
  *
  * Corpus (no RNG): C true centers with coordinates from the portable hash
  * in [-1, 1]; vector i = center(i mod C) + hash noise in [-0.1, 0.1] per
  * dim. Queries are held-out perturbations of the same centers, so each
  * query's true neighbours concentrate in one planted cluster, the regime
  * IVF exists for. K-means starts from a sign-LSH of the raw vectors (no
  * knowledge of the planted cells).
  *
  * At 100 TB the corpus never broadcasts and never pairs with itself:
  * training is rounds × (corpus × C) map-side distances, search is the
  * candidate equi-join on the cell id, and the only corpus-sized shuffles
  * are the per-round centroid aggregations (map-side combined).
  *
  * Arguments after `rows`: `cells` (default 256; recorded at 64, 256 and
  * 1024) and `geom` (iid or correlated, default iid; both recorded).
  * Output → ANN_BENCH.md. */
object AnnScenario {

  private val Dim = 32

  /** hash(salt:a:b) → double in [-scale, scale], as a column expr. */
  private def h(salt: String, a: Column, b: Column, scale: Double) =
    (PortableHash.hash64(concat_ws(":", lit(salt), a.cast("string"), b.cast("string")))
      % 2001L - 1000L).cast("double") / lit(1000.0 / scale)

  def syntheticVecs(spark: SparkSession, n: Long, cells: Int): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("true_cell", col("vec_id") % cells)
      .withColumn("v", transform(sequence(lit(0), lit(Dim - 1)), k =>
        h("c", col("true_cell"), k, 1.0) + h("n", col("vec_id"), k, 0.1)))
      .drop("true_cell")

  /** Correlated-subspace variant (`geom` = correlated):
    * within each 4-dim PQ subspace the residual is one of 16 shared
    * patterns plus a ±0.01 jitter — the low-intrinsic-dimension
    * structure real embeddings carry (PCA energy concentration), which
    * is the regime product quantization is DESIGNED for (Jégou et al.
    * 2011 evaluate on SIFT/GIST, both strongly correlated). The default
    * iid corpus above is PQ's adversarial floor: its residual spends
    * equal energy in every direction, so 8 bits per 4-dim subspace
    * cannot resolve within-cell order. Benchmarking both pins the
    * operator's floor AND its intended regime. */
  def syntheticVecsCorrelated(spark: SparkSession, n: Long, cells: Int): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("true_cell", col("vec_id") % cells)
      .withColumn("v", transform(sequence(lit(0), lit(Dim - 1)), k => {
        val m = (k / 4) // PQ subspace of this coordinate
        // within-cell residual = a PRODUCT DICTIONARY: per subspace one
        // of 16 shared 4-dim atoms, chosen independently per vector
        // (16^8 ≈ 4.3B combinations — vectors stay unique). This is the
        // structure PQ assumes exactly (a product code over per-subspace
        // dictionaries): the codebook can represent every residual
        // losslessly, so the quantized ordering IS the exact ordering.
        // Real embeddings sit between this and the iid floor; the two
        // corpora bracket the operator.
        val z = pmod(PortableHash.hash64(concat_ws(":", lit("z"),
          col("vec_id").cast("string"), m.cast("string"))), lit(16L))
        h("c", col("true_cell"), k, 1.0) +
          h("pat", concat_ws("#", z.cast("string"), m.cast("string")), k, 0.1)
      }))
      .drop("true_cell")

  def syntheticQueries(spark: SparkSession, nq: Int, cells: Int): DataFrame =
    spark.range(nq).toDF("query_id")
      .withColumn("qcell", col("query_id") % cells)
      .withColumn("qv", transform(sequence(lit(0), lit(Dim - 1)), k =>
        h("c", col("qcell"), k, 1.0) + h("q", col("query_id"), k, 0.1)))
      .drop("qcell")

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, n) = (r.spark, r.rows)
    val cells = r.arg(0, "256").toInt
    val geom = r.arg(1, "iid")
    val nq = 64
    val topK = 10
    val work = r.dir
    import org.apache.spark.sql.graftnative.NativeExpressions.dotCol
    val fs = new org.apache.hadoop.fs.Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

    // fixture (untimed): to parquet, like a real embedding table
    val dir = s"$work/vecs"
    val (_, fixtureS) = timed((if (geom == "correlated") syntheticVecsCorrelated(spark, n, cells)
      else syntheticVecs(spark, n, cells))
      .repartition(math.max(32, (n / 125000L).toInt), col("vec_id"))
      .write.mode("overwrite").parquet(dir))
    val corpus = spark.read.parquet(dir)
    val queries = syntheticQueries(spark, nq, cells).cache()
    queries.count()

    // ── stage 1: coarse-quantizer training, the sim_kmeans_train shape.
    // Init = 8-hyperplane sign LSH over the raw vector (hyperplane
    // coefficients from the hash family — no knowledge of planted cells;
    // 256 signature buckets, relabeled to 0..C-1). ──
    // centroids + squared norms of the vectors grouped by `label`
    def centroidsOf(df: DataFrame, label: String): DataFrame = df
      .select(col(label), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col(label), col("i")).agg(avg(col("x")).as("m"))
      .groupBy(col(label))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))), q => q("m")).as("c"))
      .withColumn("cnorm2", dotCol(col("c"), col("c")))
    val ((roundStats, index, indexedN), trainS) = timed {
      // one hyperplane per label bit: 8 planes give only 256 signatures, so
      // a larger cell budget would silently collapse back to 256 populated
      // labels (and each "cell" would then mix several planted clusters)
      val nPlanes = math.max(8, (math.log(cells.toDouble) / math.log(2.0)).ceil.toInt)
      val planes = (0 until nPlanes).map { b =>
        val coef = transform(sequence(lit(0), lit(Dim - 1)), k =>
          when(PortableHash.hash64(concat_ws(":", lit("p"), lit(b), k.cast("string")))
            % 2 === 0, 1.0).otherwise(-1.0))
        when(dotCol(col("v"), coef) > 0, 1L << b).otherwise(0L)
      }.reduce(_ + _)
      var state = corpus.withColumn("label", planes % cells)
        .select(col("vec_id"), col("v"), col("label"))
      // `state` is a projection of the cached `assigned`, so unpersisting it
      // would be a no-op: the previous round's cached frame itself is freed
      var prevCached: DataFrame = null
      val stats = (1 to 3).map { iter =>
        val cent = centroidsOf(state.withColumnRenamed("label", "clabel"), "clabel")
        val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2"), col("clabel"))
        val assigned = state
          .withColumn("vnorm2", dotCol(col("v"), col("v")))
          .crossJoin(broadcast(cent))
          .select(col("vec_id"), col("v"), col("label").as("old_label"), col("clabel"),
            (col("vnorm2") - lit(2.0) * dotCol(col("v"), col("c")) + col("cnorm2"))
              .as("dist2"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("vec_id"), col("v"), col("clabel").as("label"), col("dist2"),
            col("old_label"))
          .cache()
        val agg = assigned
          .agg(sum(col("dist2")).as("inertia"),
            sum(when(col("label") =!= col("old_label"), 1L).otherwise(0L)).as("moved"))
          .collect().head
        // agg.collect() above materialized this round's `assigned` cache, so
        // the previous round's cached frame can be freed now.
        if (prevCached != null) prevCached.unpersist()
        prevCached = assigned
        state = assigned.select(col("vec_id"), col("v"), col("label"))
        Scale.record("iter" -> iter, "inertia" -> agg.getDouble(0), "moved" -> agg.getLong(1))
    }
    val idx = state.cache()
    val cnt = idx.count()
    if (prevCached != null) prevCached.unpersist()
    (stats, idx, cnt)
    }

    // trained centroids + norms, broadcast-sized (C × dim)
    val centroids = centroidsOf(index.withColumnRenamed("label", "cell"), "cell").cache()
    centroids.count()

    // ── stage 2: exact truth — brute-force top-10 per query (the cost
    // this index exists to avoid; timed as the baseline) ──
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    def cosExpr = dotCol(col("qv"), col("v")) /
      (sqrt(dotCol(col("qv"), col("qv"))) * sqrt(dotCol(col("v"), col("v"))))
    /** The top-k of `df` by `score` per query. */
    def topByQuery(df: DataFrame, score: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      df.select(col("query_id"), col("vec_id"), score)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
        .select(col("query_id"), col("vec_id"))
    def hitsIn(got: DataFrame, truth: DataFrame): Long =
      got.join(truth, Seq("query_id", "vec_id"), "left_semi").count()
    val ((truth, truthN), bruteS) = timed {
      val t = topByQuery(corpus.crossJoin(broadcast(queries)), cosExpr.as("cos_sim"), wq).cache()
      (t, t.count())
    }

    // every query against every centroid, nearest cells first
    val qdist = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("cell"),
        (dotCol(col("qv"), col("qv")) - lit(2.0) * dotCol(col("qv"), col("c")) +
          col("cnorm2")).as("qdist2"))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("qdist2"), col("cell"))
    def probedCells(nprobe: Int): DataFrame =
      qdist.withColumn("rn", row_number().over(wc)).filter(col("rn") <= nprobe)
        .select(col("query_id"), col("qv"), col("cell"))

    // ── stage 3: IVF search at nprobe ∈ {4, 8, 16} ──
    val results = Seq(4, 8, 16).map { nprobe =>
      val (hits, searchS) = timed(hitsIn(topByQuery(index.withColumnRenamed("label", "cell")
        .join(probedCells(nprobe), Seq("cell")), cosExpr.as("cos_sim"), wq), truth))
      (nprobe, searchS, hits.toDouble / truthN)
    }

    def sqd(a: Column, b: Column) = dotCol(a, a) - lit(2.0) * dotCol(a, b) + dotCol(b, b)
    def dirBytes(d: String): Long =
      fs.getContentSummary(new org.apache.hadoop.fs.Path(d)).getLength

    // ── stage 4: L2 exact truth — the baseline the compressed paths
    // approximate (PQ's ADC and SQ8's reconstruction are L2 estimators;
    // judging them against the cosine truth would mix metric error into
    // quantization error) ──
    val wL2 = Window.partitionBy(col("query_id")).orderBy(col("l2"), col("vec_id"))
    val ((truthL2, truthL2N), bruteL2S) = timed {
      val t = topByQuery(corpus.crossJoin(broadcast(queries)),
        sqd(col("qv"), col("v")).as("l2"), wL2).cache()
      (t, t.count())
    }

    // ── stage 5: SQ8 — per-dim min/max model (2×Dim values, a one-row
    // broadcast), codes stored as a 1-byte-per-dim table; search is a
    // FULL scan of reconstructed vectors. In a compute-bound local bench
    // the scan does the same distance work as brute force — the 4× win
    // is bytes scanned (recorded below), which is the production
    // bottleneck; recall is the near-lossless claim under test. ──
    val sq8Dir = s"$work/sq8"
    val ((loC, hiC), sq8TrainS) = timed {
      val mm = corpus.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
        .orderBy(col("i")).collect()
      val loC = typedLit(mm.map(_.getDouble(1)).toSeq)
      val hiC = typedLit(mm.map(_.getDouble(2)).toSeq)
      corpus.select(col("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), i =>
          round((element_at(col("v"), i + 1) - element_at(loC, i + 1)) /
            (element_at(hiC, i + 1) - element_at(loC, i + 1)) * 255.0).cast("int")).as("codes"))
        .write.mode("overwrite").parquet(sq8Dir)
      (loC, hiC)
    }
    val (sqHits, sq8S) = timed {
      val rec8 = spark.read.parquet(sq8Dir).select(col("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), i =>
          element_at(loC, i + 1) + element_at(col("codes"), i + 1).cast("double") /
            255.0 * (element_at(hiC, i + 1) - element_at(loC, i + 1))).as("rv"))
      hitsIn(topByQuery(rec8.crossJoin(broadcast(queries)), sqd(col("qv"), col("rv")).as("l2"), wL2),
        truthL2)
    }

    // ── stage 6: IVF-PQ with RESIDUAL encoding (Jégou et al. 2011, the
    // IVFADC design): PQ quantizes v − centroid(cell), not v — the
    // residual lives at the within-cell noise scale, which is exactly
    // the scale a same-cell top-10 ranking must resolve (quantizing raw
    // vectors was measured at recall 0.14 here: codeword resolution ~
    // cell radius, useless within a cell). M=8 subspaces × K=256
    // codewords; codebook = 256 hash-picked seed residuals refined by 2
    // Lloyd rounds per subspace over a ~1.6% hash sample. Codes: one
    // broadcast-codebook join + map-side argmin per (vector, subspace) —
    // the corpus's only wide row is 8 small ints, 32× narrower than the
    // raw doubles. Search: per-(query, probed-cell) LUT of codeword
    // distances to the QUERY residual, broadcast against the candidates'
    // codes; approx distance is a SUM of 8 table entries — the ADC scan
    // never touches raw floats. ──
    import spark.implicits._
    val Msub = 8; val dsub = Dim / Msub; val Kcb = 256
    val centC = centroids.select(col("cell").as("label"), col("c"))
    def residual(v: Column, c: Column) = zip_with(v, c, (a, b) => a - b)
    val pqDir = s"$work/pq"
    val (cb, pqTrainS) = timed {
      val seedVs = index.join(broadcast(centC), Seq("label"))
        .orderBy(PortableHash.hash64(col("vec_id").cast("string")), col("vec_id"))
        .limit(Kcb).select(residual(col("v"), col("c")).as("rv"))
        .collect().map(_.getSeq[Double](0))
      require(seedVs.length >= Kcb,
        s"IVF-PQ needs at least $Kcb indexed vectors to seed a $Kcb-codeword " +
          s"codebook; got ${seedVs.length}: raise the row count")
      var cb = (for { m <- 0 until Msub; k <- 0 until Kcb }
        yield (m, k, seedVs(k).slice(m * dsub, (m + 1) * dsub))).toDF("m", "k", "cw")
      val subSample = index.filter(pmod(xxhash64(col("vec_id")), lit(61L)) === 0)
        .join(broadcast(centC), Seq("label"))
        .withColumn("rv", residual(col("v"), col("c")))
        .withColumn("m", explode(sequence(lit(0), lit(Msub - 1))))
        .select(col("vec_id"), col("m"),
          slice(col("rv"), col("m") * dsub + 1, lit(dsub)).as("sv"))
        .cache()
      (1 to 2).foreach { _ =>
        val best = subSample.join(broadcast(cb), Seq("m"))
          .select(col("vec_id"), col("m"), col("sv"),
            struct(sqd(col("sv"), col("cw")).as("d2"), col("k").as("k")).as("s"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min(col("s")).as("best"), first(col("sv")).as("sv"))
        cb = best.select(col("m"), col("best.k").as("k"),
            posexplode(col("sv")).as(Seq("i", "x")))
          .groupBy(col("m"), col("k"), col("i")).agg(avg(col("x")).as("mu"))
          .groupBy(col("m"), col("k"))
          .agg(transform(array_sort(collect_list(struct(col("i"), col("mu")))),
            s => s("mu")).as("cw"))
          .cache()
        cb.count()
    }
    index.join(broadcast(centC), Seq("label"))
      .withColumn("rv", residual(col("v"), col("c")))
      .withColumn("m", explode(sequence(lit(0), lit(Msub - 1))))
      .select(col("vec_id"), col("label"), col("m"),
        slice(col("rv"), col("m") * dsub + 1, lit(dsub)).as("sv"))
      .join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("label"), col("m"),
        struct(sqd(col("sv"), col("cw")).as("d2"), col("k").as("k")).as("s"))
      .groupBy(col("vec_id"), col("label"), col("m"))
      .agg(min(col("s")).as("best"))
      .select(col("vec_id"), col("label"), col("m"), col("best.k").as("k"))
      .groupBy(col("vec_id"), col("label"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("k")))),
        s => s("k")).as("codes"))
      .write.mode("overwrite").parquet(pqDir)
    cb
    }

    // ── shared ANN building blocks: the composed stack (stage 8) runs
    // the SAME definitions as the isolated legs it claims to compose
    // (stage 6's ADC scorer, stage 7's adaptive walk) — one body each,
    // so a fix to either cannot silently diverge the measurements ──

    // adaptive budget: per query, widen past the 8-cell floor until the
    // probed cells hold at least this many QUALIFYING vectors — the
    // remedy for the fixed-nprobe recall decay under selective
    // predicates (a fixed nprobe measured 0.8219 at 0.3 %): candidates stay ∝ the
    // budget, never ∝ corpus, and dense predicates never widen at all
    val adaptiveBudget = 100L * topK

    // occupancy-driven probe walk: per-cell QUALIFYING occupancy (one
    // map-side agg, ≤ C rows, broadcast) drives the per-query width —
    // keep the 8 nearest cells, widen in centroid-distance order until
    // cumulative qualifying occupancy reaches the budget
    def adaptiveProbes(pred: Column => Column): DataFrame = {
      val occ = index.filter(pred(col("vec_id")))
        .groupBy(col("label").as("cell")).agg(count(lit(1)).as("occ"))
      qdist.join(broadcast(occ), Seq("cell"), "left")
        .withColumn("occ", coalesce(col("occ"), lit(0L)))
        .withColumn("rn", row_number().over(wc))
        .withColumn("cum", sum(col("occ")).over(wc))
        .filter(col("rn") <= 8 ||
          (col("cum") - col("occ")) < lit(adaptiveBudget))
        .filter(col("occ") > 0)
        .select(col("query_id"), col("qv"), col("cell"))
    }

    // ADC scorer: the LUT is per (query, probed cell) — codeword
    // distances to the QUERY's residual against that cell's centroid,
    // nq × probes × M × K rows, corpus-independent, broadcast; the
    // corpus side contributes only (optionally predicate-filtered) PQ
    // codes, 8 small ints per vector
    def adcCandidates(probes: DataFrame,
        vecPred: Option[Column => Column]): DataFrame = {
      val lut = probes
        .join(broadcast(centroids.select(col("cell"), col("c"))), Seq("cell"))
        .withColumn("qres", residual(col("qv"), col("c")))
        .withColumn("m", explode(sequence(lit(0), lit(Msub - 1))))
        .select(col("query_id"), col("cell"), col("m"),
          slice(col("qres"), col("m") * dsub + 1, lit(dsub)).as("qsv"))
        .join(broadcast(cb), Seq("m"))
        .select(col("query_id"), col("cell"), col("m"), col("k"),
          sqd(col("qsv"), col("cw")).as("ld2"))
      val codes0 = spark.read.parquet(pqDir).withColumnRenamed("label", "cell")
      val codes = vecPred.fold(codes0)(p => codes0.filter(p(col("vec_id"))))
      codes
        .withColumn("m", explode(sequence(lit(0), lit(Msub - 1))))
        .select(col("cell"), col("vec_id"), col("m"),
          col("codes")(col("m")).as("k"))
        .join(broadcast(lut), Seq("cell", "m", "k"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("ld2")).as("approx_d2"))
    }

    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx_d2"), col("vec_id"))
    // ADC shortlist: top-1000 by quantized distance (cached: both the
    // pure-ADC top-10 and the re-rank leg read it; 100x the final k, the
    // shortlist depth the IVFADC+R design runs at, ~3% of the ~31k
    // probed candidates per query)
    val (pqCand, candS) = timed {
      val c = adcCandidates(probedCells(8), None)
        .withColumn("rank", row_number().over(wA)).filter(col("rank") <= 1000).cache()
      c.count()
      c
    }
    val (pqHits, adcS) = timed(hitsIn(pqCand.filter(col("rank") <= topK)
      .select(col("query_id"), col("vec_id")), truthL2))
    val pqSearchS = candS + adcS
    /** The top-k by exact L2 among `shortlist`'s raw vectors. */
    def reranked(shortlist: DataFrame): DataFrame =
      topByQuery(shortlist.select(col("query_id"), col("vec_id"))
        .join(index.select(col("vec_id"), col("v")), Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id")), sqd(col("qv"), col("v")).as("l2"), wL2)
    // re-rank (IVFADC+R, Jégou 2011 §VI): fetch the 100 shortlisted raw
    // vectors per query and order them by EXACT distance — the standard
    // production refinement; the corpus-wide scan still touched only
    // codes, the raw fetch is 100 rows/query
    val (rerHits, rerS) = timed(hitsIn(reranked(pqCand), truthL2))
    val rerSearchS = candS + rerS
    pqCand.unpersist()

    // ── stage 7: filtered search at three selectivities — the predicate
    // rides INSIDE the candidate join (sim_ann_filtered's contract), so
    // the candidate set shrinks with qualifying bucket occupancy instead
    // of post-filtering a fixed-k result down to nothing. Truth is brute
    // force over the qualifying corpus at the same predicate. ──
    val probedQ8 = probedCells(8).cache()
    probedQ8.count()
    /** Filtered candidates (predicate inside the join), their count and
      * the recall of their cosine top-k against `truth`. */
    def filteredLeg(pred: Column => Column, probes: DataFrame, truth: DataFrame,
        truthN: Long): (Long, Double) = {
      val cand = index.withColumnRenamed("label", "cell").filter(pred(col("vec_id")))
        .join(probes, Seq("cell")).cache()
      val n = cand.count()
      val hits = hitsIn(topByQuery(cand, cosExpr.as("cos_sim"), wq), truth)
      cand.unpersist()
      (n, hits.toDouble / math.max(truthN, 1L))
    }
    def avgProbesOf(probes: DataFrame): Double =
      probes.groupBy(col("query_id")).count().agg(avg(col("count"))).collect().head.getDouble(0)
    val filtered = Seq(10L, 100L, 1000L).map { mod =>
      def pred(c: Column) = pmod(c, lit(mod)) < 3
      val truthF = topByQuery(corpus.filter(pred(col("vec_id"))).crossJoin(broadcast(queries)),
        cosExpr.as("cos_sim"), wq).cache()
      val truthFN = truthF.count()
      val ((nCand, recF), fS) = timed(filteredLeg(pred, probedQ8, truthF, truthFN))
      // the adaptive leg: the occupancy-driven walk the composed stack uses
      val (((nCandA, recA), avgProbes), aS) = timed {
        val probedA = adaptiveProbes(pred).cache()
        val avgP = avgProbesOf(probedA)
        val leg = filteredLeg(pred, probedA, truthF, truthFN)
        probedA.unpersist()
        (leg, avgP)
      }
      truthF.unpersist()
      s"sel_${300.0 / mod}pct" -> Scale.record("candidates" -> nCand, "recall" -> recF,
        "search_sec" -> fS, "adaptive" -> Scale.record("candidates" -> nCandA,
          "recall" -> recA, "search_sec" -> aS, "avg_probes" -> avgProbes))
    }
    probedQ8.unpersist()

    // ── stage 8: the composed production stack, the sim_ann_stack
    // catalog row's topology at corpus scale: trained IVF + 32× PQ
    // residual codes + a 0.3%-selectivity attribute filter +
    // occupancy-adaptive probes + ADC shortlist + exact re-rank. At 0.3%
    // the adaptive walk widens far past the 8-cell floor to gather its
    // budget, and the PQ shortlist must still surface the true top-10
    // from those candidates before the re-rank can recover them: probe
    // recall and shortlist depth interact only here. The corpus
    // contributes qualifying PQ codes only; the raw-float fetch is
    // shortlist-sized. ──
    def predS(c: Column) = pmod(c, lit(1000L)) < 3
    val truthS = topByQuery(corpus.filter(predS(col("vec_id"))).crossJoin(broadcast(queries)),
      sqd(col("qv"), col("v")).as("l2"), wL2).cache()
    val truthSN = truthS.count()
    val shortDepth = 10 * topK
    // the composition is the shared definitions: stage 7's adaptive walk
    // feeding stage 6's ADC scorer, predicate inside both
    val ((stackHits, avgProbesS, nCandStack), stackSearchS) = timed {
      val probedS = adaptiveProbes(predS).cache()
      val avgP = avgProbesOf(probedS)
      val cand = adcCandidates(probedS, Some(predS)).cache()
      val nCand = cand.count()
      val hits = hitsIn(reranked(cand.withColumn("rank", row_number().over(wA))
        .filter(col("rank") <= shortDepth)), truthS)
      cand.unpersist(); probedS.unpersist()
      (hits, avgP, nCand)
    }
    truthS.unpersist()
    Seq(index, centroids, queries, truth, truthL2).foreach(_.unpersist())

    Seq(Scale.record("metric" -> s"ann_recall_at_$topK", "geom" -> geom, "rows" -> indexedN,
        "cells" -> cells, "n_queries" -> nq, "fixture_sec" -> fixtureS, "train_sec" -> trainS,
        "rounds" -> roundStats, "bruteforce_sec" -> bruteS) ++
        results.map { case (np, sSec, rec) => s"nprobe$np" -> Scale.record(
          "search_sec" -> sSec, "recall" -> rec, "speedup" -> bruteS / sSec) },
      Scale.record("metric" -> s"ann_compressed_at_$topK", "geom" -> geom, "rows" -> indexedN,
        "bruteforce_l2_sec" -> bruteL2S, "raw_bytes" -> dirBytes(dir),
        "sq8" -> Scale.record("train_sec" -> sq8TrainS, "bytes" -> dirBytes(sq8Dir),
          "scan_sec" -> sq8S, "recall" -> sqHits.toDouble / truthL2N),
        "ivfpq" -> Scale.record("train_sec" -> pqTrainS, "bytes" -> dirBytes(pqDir),
          "search_sec" -> pqSearchS, "speedup_vs_l2_brute" -> bruteL2S / pqSearchS,
          "recall" -> pqHits.toDouble / truthL2N, "rerank_search_sec" -> rerSearchS,
          "rerank_recall" -> rerHits.toDouble / truthL2N),
        "filtered" -> Scale.record(filtered: _*)),
      Scale.record("metric" -> s"ann_stack_at_$topK", "geom" -> geom, "rows" -> indexedN,
        "cells" -> cells, "n_queries" -> nq, "selectivity_pct" -> 0.3,
        "compression_x" -> Dim * 8 / Msub, "adaptive_budget" -> adaptiveBudget,
        "avg_probes" -> avgProbesS, "avg_candidates" -> nCandStack.toDouble / nq,
        "shortlist_depth" -> shortDepth, "search_sec" -> stackSearchS,
        "recall" -> stackHits.toDouble / math.max(truthSN, 1L)))
  }
}
