package graft.scale

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures.word
import graft.catalog.DedupCatalog
import graft.functions.TextHashes
import graft.scale.Scale.timed

/** Dedup-family throughput at corpus scale, with the recall of planted
  * duplicates, since a speed number without a quality number means
  * nothing here. The sf0.1 catalog runs dedup at 5k documents, which says
  * nothing about the shuffles that decide whether MinHash-LSH survives a
  * real corpus.
  *
  * Corpus (`docs`): ~120 words per document from the 50k-word vocabulary
  * (≈ 800 B of text per doc); 4% exact duplicates (doc i with i % 25 == 1
  * repeats doc i - 1); 4% near duplicates (i % 25 == 13 copies doc i - 1
  * and rewrites every 40th word: shingle Jaccard ≈ 0.77, so the 4-band ×
  * 2-row LSH should recall ≈ 0.97, measured, not assumed); 4% truncated
  * prefixes (i % 25 == 19: the first 60 words of doc i - 1, contained in
  * it but at Jaccard ≈ 0.49).
  *
  * Timed stages: exact hash groupBy; minhash-LSH candidates and their
  * planted recall (an exact dup shares every minhash, so its recall must
  * be 1.0); content-defined chunking and chunk containment; the
  * containment join (planted recall must be exactly 1.0: the asymmetric
  * prefix filter's recall proof); the simhash + bounded-Levenshtein edit
  * verify. Output → DEDUP_BENCH.md. */
object DedupScenario {

  def docs(spark: SparkSession, n: Long): DataFrame = {
    // exact and near dups re-derive from the predecessor id, so the
    // generator stays a pure map (no self-join)
    def textOf(id: Column, mutate: Boolean, nWords: Int = 120) =
      array_join(transform(sequence(lit(0), lit(nWords - 1)), i => {
        val w = word(concat_ws(":", id.cast("string"), i.cast("string")))
        if (mutate) when(i % 40 === 7,
          concat(lit("m"), word(concat_ws(";", id.cast("string"), i.cast("string"))))).otherwise(w)
        else w
      }), " ")
    spark.range(n).toDF("doc_id")
      .withColumn("role",
        when(col("doc_id") % 25 === 1 && col("doc_id") > 0, lit("exact_dup"))
          .when(col("doc_id") % 25 === 13, lit("near_dup"))
          .when(col("doc_id") % 25 === 19 && col("doc_id") > 0, lit("contained"))
          .otherwise(lit("base")))
      .withColumn("text",
        when(col("role") === "exact_dup", textOf(col("doc_id") - 1, mutate = false))
          .when(col("role") === "near_dup", textOf(col("doc_id") - 1, mutate = true))
          .when(col("role") === "contained", textOf(col("doc_id") - 1, mutate = false, nWords = 60))
          .otherwise(textOf(col("doc_id"), mutate = false)))
  }

  def run(r: Scale.Run): Seq[Scale.Record] = {
    val (spark, n) = (r.spark, r.rows)
    // fixture: parquet, so every stage reads storage like a pipeline pass
    val dir = s"${r.dir}/docs"
    val (_, fixtureS) = timed(docs(spark, n)
      .repartition(math.max(32, (n / 250000L).toInt), col("doc_id"))
      .write.mode("overwrite").parquet(dir))
    val corpus = spark.read.parquet(dir)
    def planted(role: String): DataFrame = corpus.filter(col("role") === role)
      .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"))
    def recallOf(pairs: DataFrame, role: String): Double =
      planted(role).join(pairs, Seq("doc_a", "doc_b"), "left_semi").count().toDouble /
        math.max(planted(role).count(), 1L)

    // ── 1. exact dedup (dd_exact_dedup shape) ───────────────────────────
    val ((exGroups, exMembers), exactS) = timed {
      val r = corpus.select(col("doc_id"), xxhash64(col("text")).as("h"))
        .groupBy(col("h")).agg(count(lit(1)).as("members"))
        .filter(col("members") > 1)
        .agg(count(lit(1)), sum(col("members"))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // ── 2. minhash-LSH candidate pairs (dd_minhash_lsh shape) ───────────
    val (pairs, minhashS) = timed {
      val fp = corpus.select(col("doc_id"), TextHashes.minhashesUdf(8)(col("text")).as("mh"))
      val bands = fp.select(col("doc_id"),
          explode(array((0 until 4).map(k => struct(lit(k).as("band_idx"),
            (element_at(col("mh"), 2 * k + 1) * graft.functions.PortableHash.Mersenne31 +
              element_at(col("mh"), 2 * k + 2)).as("band_val"))): _*)).as("b"))
        .select(col("doc_id"), col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
      val p = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") && col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct().cache()
      p.count()
      p
    }
    val nPairs = pairs.count()
    // ── 3. planted-structure recall ─────────────────────────────────────
    val ((exactRecall, nearRecall), verifyS) =
      timed((recallOf(pairs, "exact_dup"), recallOf(pairs, "near_dup")))
    pairs.unpersist()

    // ── 4. content-defined chunking (dd_cdc_chunks shape): the chunk-store
    // dedup ratio, plus planted-pair chunk containment, which shows why
    // CDC: a mutation damages only the chunks containing it. Exact-dup
    // containment must be exactly 1.0 (same text, same chunks) ──────────
    val chunks = corpus
      .select(col("doc_id"), explode(DedupCatalog.cdcChunks(col("text"))).as("c"))
      .select(col("doc_id"), col("c.h").as("h"), col("c.l").as("l"))
    val (chunkStats, cdcS) = timed(chunks
      .groupBy(col("h")).agg(min(col("l")).as("l"), count(lit(1)).as("occ"))
      .agg(count(lit(1)), sum(col("l") * col("occ")), sum(col("l")))
      .collect()(0))
    val (nChunks, rawBytes, storedBytes) =
      (chunkStats.getLong(0), chunkStats.getLong(1), chunkStats.getLong(2))
    val (contByRole, cdcContS) = timed {
      val pl = planted("exact_dup").withColumn("role", lit("exact_dup"))
        .unionByName(planted("near_dup").withColumn("role", lit("near_dup")))
      val plIds = pl.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id")).distinct()
      val arr = chunks.join(plIds, Seq("doc_id"), "left_semi")
        .groupBy(col("doc_id")).agg(collect_list(col("h")).as("hs"))
      pl.join(arr.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
        .join(arr.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
        .select(col("role"), (size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
          size(array_distinct(col("hs_a"))).cast("double")).as("cont"))
        .groupBy(col("role")).agg(avg(col("cont")), min(col("cont")))
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    val exactCont = contByRole.getOrElse("exact_dup", (0.0, 0.0))
    val nearCont = contByRole.getOrElse("near_dup", (0.0, 0.0))

    // ── 5. containment join (dd_containment shape) on the planted
    // truncated prefixes, whose Jaccard sits under every symmetric
    // threshold. The shingle sets are cached as the catalog path caches
    // them: containmentPairs reads them about 4 times ──────────────────
    val (cpairs, contJoinS) = timed {
      val shingleSets = corpus.select(col("doc_id"),
        TextHashes.windowHashesUdf(3, distinct = true)(col("text")).as("sh")).cache()
      val p = DedupCatalog.containmentPairs(shingleSets, threshold = 0.8,
        dfCap = math.max(100L, n / 50)).select(col("doc_a"), col("doc_b")).cache()
      p.count()
      shingleSets.unpersist()
      p
    }
    val nContPairs = cpairs.count()
    val contained = corpus.filter(col("role") === "contained")
      .select(col("doc_id").as("doc_a"), (col("doc_id") - 1).as("doc_b"))
    val ((totCont, contRecall), contRecallS) = timed {
      val tot = contained.count()
      (tot, contained.join(cpairs, Seq("doc_a", "doc_b"), "left_semi").count().toDouble /
        math.max(tot, 1L))
    }
    cpairs.unpersist()

    // ── 6. edit-distance verify (dd_edit_pairs shape): banded 60-bit
    // simhash candidates, then bounded Levenshtein at sim ≥ 0.75. Every
    // exact-dup pair must verify at distance 0; near-dup recall is the
    // compound number of the simhash bands and the edit gate ────────────
    val (epairs, editS) = timed {
      val texts = corpus.select(col("doc_id"), col("text"))
      val len = greatest(length(col("ta")), length(col("tb")))
      val p = DedupCatalog.bandedHammingPairs(corpus.select(col("doc_id"),
          org.apache.spark.sql.graftnative.NativeExpressions.simhash60Col(col("text")).as("fp")),
          maxHamming = 6)
        .select(col("doc_a"), col("doc_b"))
        .repartition(spark.sparkContext.defaultParallelism * 4, col("doc_a"), col("doc_b"))
        .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
        .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), TextHashes.boundedLevUdf(col("ta"), col("tb"),
          (floor(lit(0.25) * len).cast("int") + 1)).cast("long").as("edit_dist"),
          len.cast("double").as("__len"))
        .filter(col("edit_dist") >= 0 &&
          lit(1.0) - col("edit_dist").cast("double") / col("__len") >= 0.75)
        .select(col("doc_a"), col("doc_b"), col("edit_dist")).cache()
      p.count()
      p
    }
    val nEditPairs = epairs.count()
    val ((editExactRecall, editNearRecall), editRecallS) = timed(
      (recallOf(epairs.filter(col("edit_dist") === 0), "exact_dup"), recallOf(epairs, "near_dup")))
    epairs.unpersist()

    val totalS = exactS + minhashS + verifyS + cdcS + cdcContS +
      contJoinS + contRecallS + editS + editRecallS
    Seq(Scale.record("metric" -> "dedup_docs_per_sec", "value" -> math.round(n / totalS),
      "rows" -> n, "fixture_sec" -> fixtureS,
      "exact_sec" -> exactS, "exact_dup_groups" -> exGroups, "exact_dup_members" -> exMembers,
      "minhash_sec" -> minhashS, "candidate_pairs" -> nPairs, "verify_sec" -> verifyS,
      "exact_recall" -> exactRecall, "near_recall" -> nearRecall,
      "cdc_sec" -> cdcS, "cdc_chunks" -> nChunks,
      "cdc_raw_bytes" -> rawBytes, "cdc_stored_bytes" -> storedBytes,
      "cdc_dedup_ratio" -> rawBytes.toDouble / math.max(storedBytes, 1L),
      "cdc_verify_sec" -> cdcContS,
      "cdc_exact_containment" -> exactCont._1,
      "cdc_near_containment_avg" -> nearCont._1, "cdc_near_containment_min" -> nearCont._2,
      "containment_sec" -> contJoinS, "containment_pairs" -> nContPairs,
      "containment_verify_sec" -> contRecallS,
      "containment_planted" -> totCont, "containment_recall" -> contRecall,
      "edit_sec" -> editS, "edit_pairs" -> nEditPairs, "edit_verify_sec" -> editRecallS,
      "edit_exact_recall" -> editExactRecall, "edit_near_recall" -> editNearRecall))
  }
}
