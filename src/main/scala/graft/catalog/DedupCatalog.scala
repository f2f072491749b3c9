package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pins, Tables}
import graft.functions.PortableHash._

/** Deduplication operators for a training-data pipeline: exact content
  * dedup, MinHash+LSH near-dup, SimHash near-dup, length-banded n-gram
  * Jaccard. All oracle-checkable value-for-value (hashing is the portable
  * md5-derived family from PortableHash).
  *
  * Scale design: every variant is candidate-generation-by-equi-join — the
  * only shuffles are on (band_idx, band_value) or bucket keys, so work is
  * proportional to candidate pairs, never to n². Exact Jaccard verification
  * happens only on candidates (classic LSH verify step). At 100 TB the same
  * plans hold: band buckets stay small because band values are ~uniform, and
  * skewed buckets are split by AQE.
  */
object DedupCatalog extends Catalog {

  /** Distinct word-3-gram shingles of a text column (compiled UDF — the
    * HOF lambda equivalent evaluates interpreted and dominated the dedup
    * runtime; see graft.functions.TextHashes). */
  private def shingles3(textCol: Column): Column =
    graft.functions.TextHashes.shingles3Udf(textCol)

  private val Shingles3Sql =
    """list_distinct(list_transform(
         generate_series(1, greatest(len(string_split(text,' ')) - 2, 1)),
         i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))"""

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  /** doc_id + shingle set + 31-bit shingle hashes. */
  private def shingled(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), shingles3(col("text")).as("sh"),
        graft.functions.TextHashes.shingleHashesUdf(col("text")).as("hs"))

  /** Length-banded n-gram Jaccard with prefix-filtered candidate
    * generation. `docs` must carry (doc_id, sh, bucket) where `sh` is the
    * DISTINCT shingle set in any equality-comparable element type — the
    * catalog feeds 60-bit window hashes (array<long>, the scale choice:
    * fixed-width join keys and compact verify arrays); specs feed
    * array<string> fixtures. Whatever the type, the oracle must derive
    * the same elements (the hashed caller mirrors with
    * list_distinct(list_transform(..., hash64))).
    *
    * Candidate generation is an exact-recall prefix filter (the
    * Bayardo/ppjoin family, symmetric-join form): rank each doc's
    * shingles by global rarity (df asc, shingle) and index only the first
    * |A| − ⌈β·|A|⌉ + 2 of them, β = t/(1+t). Proof of recall: J(A,B) ≥ t
    * forces |A∩B| ≥ β(|A|+|B|); if no common shingle sat in both
    * prefixes, every intersection shingle would live in one of the two
    * suffixes, whose combined size is ≤ β(|A|+|B|) − 2 — a contradiction.
    * So any qualifying pair collides inside the index while ~β of every
    * doc's postings (its most common shingles) stay out of the pair
    * traffic. On top of that:
    *  - a document-frequency cap drops stop-shingle postings (df > cap),
    *    whose lists are quadratic pair bombs;
    *  - the rarest-K floor keeps each doc's K rarest shingles indexed
    *    REGARDLESS of df — a mass-duplicated doc cluster larger than the
    *    cap pushes all of its shingles over the cap, and without the
    *    floor the whole cluster would vanish from the candidates (the
    *    primary dedup target!). Identical docs share identical rarest-K
    *    sets, so the floor always re-links them.
    *  - the length-band predicate (|bucket_a − bucket_b| ≤ 1) is applied
    *    inside the candidate join, before the distinct, not after.
    * The exact-Jaccard verify on full shingle sets is unchanged, so the
    * caps affect candidate recall only — and the floor + prefix guarantee
    * make that recall exact for J ≥ t pairs unless a non-duplicated doc
    * genuinely shares nothing but stop-shingles with its match.
    * No broadcast of corpus-derived frames (AQE may choose one locally). */
  def lenbandJaccard(docs: DataFrame, threshold: Double, dfCap: Long,
      keepRarest: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // setsize rides along from the array — no second window pass needed
    val inv = docs.select(col("doc_id"), col("bucket"),
      size(col("sh")).as("setsize"), explode(col("sh")).as("s"))
    // df per shingle as an aggregation (map-side partial combine collapses
    // hot shingles before the exchange)
    val dfs = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val ranked = inv.join(dfs, Seq("s"))
      .withColumn("rn", row_number().over(w))
    val beta = threshold / (1 + threshold)
    val prefixLen = greatest(
      col("setsize") - ceil(lit(beta) * col("setsize")) + 2, lit(1L))
    // cached: the candidate self-join reads the postings twice. rn and
    // setsize ride along for the positional filter below
    val postings = Pins.cache(ranked
      .filter(col("rn") <= prefixLen &&
        (col("df") <= dfCap || col("rn") <= keepRarest))
      .select(col("doc_id"), col("bucket"), col("s"), col("rn"), col("setsize")), "lenbandJaccard")
    // ppjoin positional + symmetric length filters, both exact:
    //  - J ≥ t forces min ≥ t·max on set sizes (I ≤ min, U ≥ max);
    //  - the global (df, s) rank order is shared by every doc, so a pair's
    //    EARLIEST common shingle at ranks (i, j) has all I common shingles
    //    at ranks ≥ (i, j) — overlap ≤ min(|A|−i, |B|−j)+1, which must
    //    reach α = ⌈β(|A|+|B|)⌉. A qualifying pair always passes at its
    //    earliest match, so keeping pairs where ANY match passes loses
    //    nothing; the filters just strip the single-rare-shingle
    //    coincidence pairs that otherwise dominate the verify input.
    val alpha = ceil(lit(beta) * (col("a.setsize") + col("b.setsize")))
    val bound = least(col("a.setsize") - col("a.rn"),
      col("b.setsize") - col("b.rn")) + 1
    val cand = postings.as("a").join(postings.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.bucket") - col("b.bucket")) <= 1 &&
          col("b.setsize") >= lit(threshold) * col("a.setsize") &&
          col("a.setsize") >= lit(threshold) * col("b.setsize") &&
          bound >= alpha)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify: re-attach each side's shingle-set ARRAY to the pair
    // and evaluate J with codegen'd Catalyst collection expressions.
    // String arrays per candidate would carry hundreds of MB of shuffle,
    // and an exploded inverted index would push (ids, one shingle) —
    // O(cand × doclen) narrow ROWS — through two wide shuffles. With
    // shingles pre-hashed to fixed-width longs the same O(cand × doclen)
    // bytes move in
    // O(cand) rows (8 B/element, no per-element string headers), the two
    // joins key on a single long each, and per-pair set intersection runs
    // as a per-row hash probe inside codegen instead of a 50×-row shuffle
    // expansion. Both forms scale linearly in candidates × doc length;
    // this one pays ~50× less per-row shuffle machinery.
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Content-defined (hash, len) chunk structs for one text column —
    * boundaries where the trailing 8-char window hash has its low 6 bits
    * zero (~64-char expected chunks). Shared by the dd_cdc_chunks catalog
    * row and the `dedup` scale scenario's corpus-scale stage, so the
    * measured shape IS the shipped shape. Compiled (TextHashes.cdcChunks): the equivalent HOF
    * expression (`transform(sequence(1, n-7), i -> hash64(substr(text, i,
    * 8)))` + zip_with over the boundary list) evaluated one interpreted
    * md5 tree per CHARACTER and was the slowest map-side op in the
    * catalog (11.7 s at sf0.1); the per-row state is still only the
    * document's own boundary list. */
  def cdcChunks(text: Column): Column =
    graft.functions.TextHashes.cdcChunksUdf(text)

  /** Directed containment pairs (C(A,B) = |A∩B| / |A| ≥ t, A ≠ B) with
    * asymmetric prefix filtering and a df-capped container index.
    * `docs` carries (doc_id, sh) with sh the DISTINCT shingle set
    * (fixed-width hashes in the catalog path; string fixtures in specs).
    * Emits both directions when both clear t; verify is per-row set math
    * on the attached arrays (the lenband discipline — candidate rows
    * carry ids only until the final join-back).
    *
    * Plan shape, measured against a broadcast-hot-map form. That form
    * ordered each doc's sub-cap ("cold") shingles by VALUE (per-doc
    * rarity is unavailable without a df join), so probes
    * carried common-but-under-cap shingles, and since dfCap = corpus/50
    * GROWS with the corpus, candidate traffic grew ~quadratically: at
    * the sf1.0-class fixture the prefilter emitted 9.1M candidate pairs
    * for 5,120 true pairs and the verify's array-attach joins took 42 s
    * (2.7 s at sf0.1 — a 10× corpus cost 16×). This form ranks every
    * posting by GLOBAL rarity (df asc, shingle) — the classic prefix
    * filter — so probe shingles are each doc's rarest and fan out to
    * near-constant posting lists; the same measured wave dropped to
    * ~0.6M candidates and 6.8 s. The price is the df join-back + a
    * per-doc rank window over the postings (sorting corpus×doclen
    * posting rows); that exchange is LINEAR in the
    * corpus and is the exact shape lenbandJaccard already pays, while
    * the candidate bomb is quadratic — at 100 TB the trade is not close.
    *
    * Ordering note: under (df asc, s asc), cold shingles (df ≤ dfCap)
    * sort before hot ones automatically, so the contract is:
    *   prefix(A) = first ⌊(1−t)|A|⌋+2 of ordered(A)      (probe side)
    *   index(B)  = cold(B) ∪ (hot(B) ∩ prefix(B))        (container side,
    *               i.e. df ≤ dfCap OR rank ≤ prefixLen)
    *
    * Recall argument. Pigeonhole: C(A,B) ≥ t means
    * B misses ≤ (1−t)|A| of A's shingles, so ANY ⌊(1−t)|A|⌋+2-subset of
    * A intersects B. Hence ≥1 s ∈ prefix(A) ∩ B always. If prefix(A) is
    * all cold, that s is cold and index(B) keeps ALL cold postings → the
    * pair is found: **zero loss for every probe doc with at least
    * ⌊(1−t)|A|⌋+2 shingles under the cap.** A loss needs a
    * boilerplate-saturated probe; mass duplication still re-links via
    * the hot∩prefix floor (identical sets order identically under the
    * global order). ContainmentPropSpec pins soundness, cap-off
    * exactness, and the bounded-loss condition on random hot corpora.
    *
    * Positional bound (ppjoin-style, exact): ranks come from ONE
    * global total order, so a pair's common shingles all rank at or
    * after its earliest common shingle in both docs — overlap ≤
    * min(|A|−rnA, |B|−rnB)+1, which must reach t·|A|. A qualifying pair
    * always passes at its earliest match; the usual one-unit slack
    * guards the IEEE boundary. */
  def containmentPairs(docs: DataFrame, threshold: Double,
      dfCap: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val inv = docs.select(col("doc_id"), size(col("sh")).as("setsize"),
      explode(col("sh")).as("s"))
    // df per shingle: map-side-combined aggregation, joined back so every
    // posting knows its global rarity (the lenband shape)
    val dfs = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val ranked = inv.join(dfs, Seq("s"))
      .withColumn("rn", row_number().over(w))
    // +2 (not +1) absorbs IEEE undercount at the EXACT boundary:
    // (1.0 − 0.8) is 0.1999…96, so ⌊(1−t)|A|⌋ can come out one short
    // precisely when C(A,B) = t (seen live at sf0.1: |A|=10, |A∩B|=8).
    // Over-inclusion costs one extra posting; under-inclusion is a
    // missed duplicate.
    val prefixLen = floor(lit(1.0 - threshold) * col("setsize")) + 2
    // cached: the candidate join reads the ranked postings twice
    val kept = Pins.cache(ranked
      .filter(col("df") <= dfCap || col("rn") <= prefixLen)
      .select(col("doc_id"), col("setsize"), col("s"), col("rn"),
        (col("rn") <= prefixLen).as("__inPrefix")), "containmentPairs")
    val probe = kept.filter(col("__inPrefix"))
      .select(col("doc_id").as("doc_a"), col("setsize").as("size_a"),
        col("s"), col("rn").as("ra"))
    val index = kept
      .select(col("doc_id").as("doc_b"), col("setsize").as("size_b"),
        col("s"), col("rn").as("rb"))
    // the size bound gets the same one-unit slack as the prefix length:
    // t·|A| as a double can land a hair ABOVE the exact rational
    // (0.8·10 = 8.000…0004), which would veto the boundary pair the
    // verify then proves qualifies. The positional bound (scaladoc) uses
    // 1-based ranks: overlap ≤ min(|A|−ra, |B|−rb)+1 ≥ t·|A|, slacked
    // the same way.
    val cand = probe.join(index, Seq("s"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("size_b") >= lit(threshold) * col("size_a") - 1 &&
        least(col("size_a") - col("ra"), col("size_b") - col("rb")) + 1 >=
          lit(threshold) * col("size_a") - 1)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** (doc_id, fp) fingerprints for one media modality slice (doc_id mod 3
    * picks the modality; ASCII filter mirrors the oracle's byte-indexing
    * constraint). Shared by the per-modality pair rows and the cross-media
    * cluster row. */
  private def mediaFps(s: SparkSession, d: String, mod: Int,
      fpUdf: org.apache.spark.sql.expressions.UserDefinedFunction): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 3 === mod && col("text").rlike("^[\\x00-\\x7F]*$"))
      .select(col("doc_id"), fpUdf(col("text")).as("fp"))

  /** Video frame-set overlap pairs (≥ 2 shared frame hashes) with the
    * containment score — shared by dd_video_pairs and the cross-media
    * cluster row. */
  private def videoSharedPairs(s: SparkSession, d: String): DataFrame = {
    // built on the same modality-slice helper as the Hamming families so
    // the slice predicate lives in one place; fp here is the frame-hash
    // ARRAY, exploded into the inverted (doc, frame-hash) index
    val fh = Pins.cache(mediaFps(s, d, 2, graft.operators.Multimodal.frameHashesUdf)
      .select(col("doc_id"), explode(col("fp")).as("fh")), "videoSharedPairs")
    val nf = fh.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val shared = fh.as("a").join(fh.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= 2)
    shared
      .join(nf.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")), Seq("doc_a"))
      .join(nf.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        col("shared_frames").cast("long").as("shared_frames"),
        round(col("shared_frames") / least(col("nf_a"), col("nf_b")), 6).as("overlap"))
  }

  /** Banded-Hamming near-dup pairs over ANY 60-bit fingerprint frame
    * `(doc_id, fp)`: 4 LSH bands × 15 bits generate candidates by
    * equi-join (never cartesian), exact Hamming verify keeps doc_a < doc_b
    * pairs within `maxHamming`. One plan shape serves every
    * Hamming-fingerprint family — text simhash (dd_simhash_pairs) and
    * image dHash (dd_phash_pairs) — exactly as one shuffle shape should.
    * Fingerprints are cached pre-join: the fingerprint expression is
    * ~1000× the cost of the join probe, so it must evaluate once per doc,
    * not once per join side per reference. */
  private[graft] def bandedHammingPairs(fps: DataFrame, maxHamming: Int): DataFrame = {
    val base = Pins.cache(fps
      .select(col("doc_id"), col("fp"),
        explode(array((0 until 4).map(k => struct(
          lit(k).as("band_idx"),
          (expr(s"fp div ${1L << (15 * k)}") % 32768L).as("band_val"))): _*)).as("band"))
      .select(col("doc_id"), col("fp"),
        col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val")),
      "bandedHammingPairs")
    base.as("a").join(base.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs (doc_a < doc_b, hamming ≤ 6). Shared by the
    * pair query and the cluster-assignment query (Spark's cache manager
    * dedupes the identical banded plan across both). */
  /** Quality-canonical compaction given a near-dup pair graph: collapse
    * each connected component to the doc with the most tokens (tie →
    * lowest doc_id) and report per-source what the corpus kept/lost.
    * `docs` = (doc_id, source, n_tokens); `pairs` = (src, dst) edges.
    * Only new cost over cluster assignment: one shuffle on cluster_id
    * (row_number — per-partition state bounded by cluster size) and a
    * map-side-combined per-source rollup; document text never moves. */
  def compact(docs: DataFrame, pairs: DataFrame): DataFrame =
    compactOn(docs, graft.operators.Components.assign(pairs))

  /** As [[compact]], over an already-computed components frame
    * (node, cluster_id) — the catalog path shares the memoized
    * simhash components with dd_cluster_assign. */
  def compactOn(docs: DataFrame, comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = docs
      .join(comp.select(col("node").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    assigned.withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
      .withColumn("kept_frac",
        round(col("tokens_kept").cast("double") / col("tokens_total").cast("double"), 6))
      .orderBy(col("source"))
  }

  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    bandedHammingPairs(
      Tables.documents(s, d)
        .select(col("doc_id"), simhash60(col("text")).as("fp")),
      maxHamming = 6)

  /** Memoized connected components over the simhash pair graph, shared by
    * dd_cluster_assign and dd_compact: Components.assign collects a graph
    * within the broadcast threshold and labels it on the driver, and runs
    * a loop of per-round checkpoints only above it. Neither is a plan
    * Spark's cache can dedupe across queries the way it dedupes identical
    * declarative subtrees (both start with an eager pin of the pair
    * graph), so without this every consumer re-runs the pair search and
    * the labelling. Held in [[graft.Pins]] per (session, dir) until the
    * catalog teardown releases it, so a timed query never reuses an
    * earlier query's result. The label frame is |paired docs| rows. */
  private def simhashComponents(s: SparkSession, d: String): DataFrame =
    graft.Pins.memo(s, s"components.simhash:$d")(
      graft.operators.Components.assign(
        simhashPairs(s, d).select(col("doc_a").as("src"), col("doc_b").as("dst"))))

  /** Union of the three modality pair graphs — image/audio banded-Hamming
    * and video frame-set overlap — as (src, dst) edges. Shared by
    * dd_media_cluster and the composed pl_media_prep funnel. */
  private[graft] def mediaEdges(s: SparkSession, d: String): DataFrame =
    bandedHammingPairs(mediaFps(s, d, 0,
        graft.operators.Multimodal.dhash60Udf), maxHamming = 8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    .union(bandedHammingPairs(mediaFps(s, d, 1,
        graft.operators.Multimodal.afp60Udf), maxHamming = 8)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    .union(videoSharedPairs(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")))

  /** Cross-media connected components, memoized per (session, dir) like
    * [[simhashComponents]] — the cluster pass runs once however many
    * catalog rows consume it (dd_media_cluster, pl_media_prep). */
  private[graft] def mediaComponents(s: SparkSession, d: String): DataFrame =
    graft.Pins.memo(s, s"components.media:$d")(
      graft.operators.Components.assign(mediaEdges(s, d)))

  def queries: Map[String, QFn] = Map(

    // ── Exact dedup: group by full-content hash, keep lowest id ──
    "dd_exact_dedup" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy(hash64(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // ── Soft dedup (SoftDeDup, He et al. 2024): instead of DROPPING
    // duplicates, keep every copy and DOWN-WEIGHT by its content's
    // commonness — sampling weight 1/n_copies, so each distinct content
    // contributes one unit of expected training mass however many times
    // the crawl found it. The production argument: hard dedup throws
    // away the duplication signal (popular ≈ higher quality) and
    // amplifies whatever survived; soft dedup preserves the corpus while
    // fixing the expectation. Shape: the SAME fixed-width content-hash
    // groupBy as dd_exact_dedup, joined back on the hash — two shuffles
    // on 8-byte keys, text never moves, weight is per-row arithmetic.
    // The per-source rollup (effective vs raw size) is the number a
    // mixture designer actually reads. ──
    "dd_soft_weight" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), hash64(col("text")).as("content_hash"))
      val sizes = docs.groupBy(col("content_hash"))
        .agg(count(lit(1)).as("n_copies"))
      docs.join(sizes, Seq("content_hash"))
        .select(col("source"), col("doc_id"),
          col("n_copies"), round(lit(1.0) / col("n_copies"), 6).as("weight"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_duplicated"),
          round(sum(col("weight")), 6).as("effective_docs"))
        .orderBy(col("source"))
    }),

    // ── Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better"): find verbatim token runs
    // shared across documents and score each doc by how much of it is
    // covered by cross-document duplicated spans. The distributed shape
    // is the sorted-group approximation of the paper's suffix array —
    // hash every sliding W-token window and GROUP BY WINDOW HASH, never
    // all-pairs: a hash is cross-doc duplicated iff min(doc_id) ≠
    // max(doc_id) over its partition (two codegen'd window aggs — no
    // collected set, and no join-back re-deriving the windows, the
    // tx_span_dup_frac lesson). Overlapping duplicated windows then
    // merge into covered-token intervals with one sorted-array fold per
    // doc. Work ∝ corpus tokens; the wide shuffles carry fixed-width
    // (hash) then (doc_id) keys, so the plan survives 100× unchanged. ──
    "dd_exact_substring" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val W = 8
      val n = size(split(col("text"), " "))
      // compiled window hashing + posexplode: the window START is just the
      // array position + 1, so no per-window struct is built at all (and
      // the interpreted slice/join/hash HOF this replaces dominated the
      // query's runtime — the tx_ngram_topk measurement)
      val exploded = Tables.documents(s, d)
        .select(col("doc_id"), n.cast("long").as("n_tokens"),
          posexplode(graft.functions.TextHashes
            .windowHashesUdf(W, distinct = false)(col("text"))).as(Seq("p", "h")))
        .select(col("doc_id"), col("n_tokens"),
          (col("p") + 1).cast("long").as("s"), col("h"))
      val byHash = Window.partitionBy(col("h"))
      val flagged = exploded.withColumn("dup",
        min(col("doc_id")).over(byHash) =!= max(col("doc_id")).over(byHash))
      val perDoc = flagged.groupBy(col("doc_id"))
        .agg(max(col("n_tokens")).as("n_tokens"),
          count(lit(1)).as("n_windows"),
          sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"),
          sort_array(collect_list(when(col("dup"), col("s")))).as("starts"))
      // interval-union length over sorted starts: consecutive duplicated
      // windows closer than W overlap, so each contributes its gap; the
      // last (and a short doc's only) window contributes its clamped width
      val k = size(col("starts"))
      val covered = when(k === 0, lit(0L)).otherwise(
        aggregate(
          zip_with(
            slice(col("starts"), lit(1), k - 1),
            slice(col("starts"), lit(2), k - 1),
            (a, b) => least(b - a, lit(W.toLong))),
          lit(0L), (acc, x) => acc + x)
          + least(lit(W.toLong), col("n_tokens") - element_at(col("starts"), -1) + 1L))
      perDoc
        .withColumn("covered_tokens", covered)
        .withColumn("dup_frac",
          round(col("covered_tokens").cast("double") / col("n_tokens").cast("double"), 6))
        .select(col("doc_id"), col("n_tokens"), col("n_windows"),
          col("n_dup_windows"), col("covered_tokens"), col("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // ── MinHash + LSH near-dup: shingle → 8 minhashes → 4 bands of 2 →
    // band-bucket equi-join → exact-Jaccard verify on candidates only.
    // The banded frame is cached before the self-join: fingerprints are
    // computed once, not re-derived per join side (at cluster scale this
    // is a persisted fingerprint table — the standard LSH shape).
    "dd_minhash_lsh" -> ((s, d) => {
      val base = Pins.cache(shingled(s, d)
        .withColumn("mh", graft.functions.TextHashes.minhashesUdf(8)(col("text"))), "dd_minhash_lsh")
      // candidate generation joins ONLY (doc_id, band) — the shingle and
      // minhash arrays stay out of the exploded band traffic and come back
      // from a broadcast dim for the verify step
      val bands = base.select(col("doc_id"),
        explode(array((0 until 4).map(k => struct(
          lit(k).as("band_idx"),
          (element_at(col("mh"), 2 * k + 1) * Mersenne31 +
            element_at(col("mh"), 2 * k + 2)).as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.band_val").as("band_val"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // exact verify by inverted-index intersection counts (same shape as
      // lenbandJaccard): shuffles carry (id, id, shingle) rows, never the
      // per-pair document arrays the old dim-join shipped. A band
      // collision without any shared shingle yields no isect row — the
      // inner join drops it, which the jaccard >= t filter would anyway.
      val sizes = base.select(col("doc_id"), size(col("sh")).as("setsize"))
      val full = base.select(col("doc_id"), explode(col("sh")).as("s"))
      val isect = cand
        .join(full.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(full.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      val verified = cand
        .join(sizes.select(col("doc_id").as("doc_a"), col("setsize").as("size_a")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("setsize").as("size_b")), Seq("doc_b"))
        .join(isect, Seq("doc_a", "doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (col("inter") / (col("size_a") + col("size_b") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      // the minhash estimate rides along only for the few surviving pairs,
      // so the 8-long signature arrays never enter the candidate shuffles
      val mhDim = base.select(col("doc_id"), col("mh"))
      val est = (0 until 8).map(i =>
        when(element_at(col("mha"), i + 1) === element_at(col("mhb"), i + 1), 1)
          .otherwise(0)).reduce(_ + _) / 8.0
      verified
        .join(mhDim.select(col("doc_id").as("doc_a"), col("mh").as("mha")), Seq("doc_a"))
        .join(mhDim.select(col("doc_id").as("doc_b"), col("mh").as("mhb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("jaccard"), est.as("est_jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── MinHash estimator calibration: the index-quality report for the
    // dedup family (the dedup analog of sim_ann_recall) — over ALL band
    // candidates (no similarity floor, LEFT-joined intersection counts so
    // zero-overlap band collisions land in bucket 0), compare the
    // 8-signature Jaccard estimate against exact Jaccard, aggregated per
    // true-Jaccard decile: pair count, mean estimate, mean truth, mean
    // absolute error. This is what picks (num_hashes, bands, rows) before
    // trusting LSH at corpus scale. Same candidate-equi-join shape as
    // dd_minhash_lsh — work ∝ candidate pairs, output ≤ 10 rows. Per-pair
    // doubles are exact cross-engine (correctly-rounded division); only
    // the decile AVGs are sum-order-sensitive, and round(6) absorbs that.
    "dd_minhash_calibration" -> ((s, d) => {
      val base = Pins.cache(shingled(s, d)
        .withColumn("mh", graft.functions.TextHashes.minhashesUdf(8)(col("text"))),
        "dd_minhash_calibration")
      val bands = base.select(col("doc_id"),
        explode(array((0 until 4).map(k => struct(
          lit(k).as("band_idx"),
          (element_at(col("mh"), 2 * k + 1) * Mersenne31 +
            element_at(col("mh"), 2 * k + 2)).as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.band_val").as("band_val"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      // exact-Jaccard verify in the lenband array form: one join per pair
      // side attaches (shingle set, minhash signature) together, and the
      // set overlap evaluates as a codegen'd per-row array_intersect —
      // this replaced a 6-join plan (pair×shingle expansion for the
      // intersection, two size joins, two signature joins) with 2 joins
      // moving the same O(cand × doclen) bytes in O(cand) rows. A band
      // collision does not guarantee a shared shingle (minhash values can
      // collide across disjoint sets); array_intersect yields 0 there,
      // which the old left-join+coalesce encoded explicitly.
      val est = (0 until 8).map(i =>
        when(element_at(col("mha"), i + 1) === element_at(col("mhb"), i + 1), 1)
          .otherwise(0)).reduce(_ + _) / 8.0
      val pairs = cand
        .join(base.select(col("doc_id").as("doc_a"),
          col("sh").as("sh_a"), col("mh").as("mha")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"),
          col("sh").as("sh_b"), col("mh").as("mhb")), Seq("doc_b"))
        .select(jaccard(col("sh_a"), col("sh_b")).as("jaccard"),
          est.as("est_jaccard"))
      pairs
        .withColumn("bucket",
          least(floor(col("jaccard") * 10).cast("long"), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("est_jaccard")), 6).as("mean_est"),
          round(avg(col("jaccard")), 6).as("mean_true"),
          round(avg(abs(col("est_jaccard") - col("jaccard"))), 6).as("mae"))
        .orderBy(col("bucket"))
    }),

    // ── Length-banded n-gram Jaccard via a prefix-filtered inverted index
    // (see lenbandJaccard below). DfCap scales with the corpus; the
    // rarest-K floor keeps mass-duplicated docs discoverable even when
    // every one of their shingles is over the cap. Shingles enter the
    // pipeline as 60-bit portable hashes, not strings: every downstream
    // shuffle (df aggregation, postings self-join, verify joins) carries
    // fixed-width longs, and join probes compare one word instead of
    // hashing variable-length text — the same pre-hashing the gram
    // pipelines (tx_span_dup_frac, dd_exact_substring) use. The oracle
    // hashes identically, so values stay engine-exact. ──
    "dd_lenband_jaccard" -> ((s, d) => {
      val docs = Pins.cache(Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text")).as("sh"),
          expr("n_chars div 64").as("bucket")), "dd_lenband_jaccard")
      val dfCap = math.max(100L, docs.count() / 50) // ~2% of the corpus
      lenbandJaccard(docs, threshold = 0.5, dfCap = dfCap)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── Content-defined chunking dedup (the Rabin/LBFS family): chunk
    // boundaries are set by the CONTENT (positions where the hash of the
    // trailing 8-char window has its low 6 bits zero, ~64-char expected
    // chunks), not by fixed offsets — so an insertion early in a
    // document shifts every fixed window but only ONE content-defined
    // chunk, and the rest still dedup. This is the storage-layer
    // complement to dd_exact_substring's fixed windows: byte-range
    // dedup for snapshots/mirrors/appended crawls. Boundary detection
    // and chunk hashing are per-row HOF transforms next to the scan
    // (state = the doc's own boundary list); the dedup itself is one
    // fixed-width groupBy on the 64-bit chunk hash — the dd_exact_dedup
    // shape, so the shuffle carries (hash, len) pairs, never text. ──
    "dd_cdc_chunks" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(cdcChunks(col("text"))).as("c"))
        .select(col("doc_id"), col("c.h").as("chunk_hash"), col("c.l").as("chunk_len"))
        .groupBy(col("chunk_hash"))
        .agg(min(col("chunk_len")).as("chunk_len"),
          count_distinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("chunk_hash"))),

    // ── Containment near-dup: directed C(A,B) = |A∩B| / |A| over shingle
    // sets — the asymmetric case the Jaccard families structurally miss.
    // A page wrapped in boilerplate, a document quoted whole inside a
    // larger one, a truncated mirror: containment is ~1 while Jaccard
    // collapses toward |A|/|B| and slips under every symmetric threshold.
    // Pipelines run this AFTER Jaccard dedup to kill subset copies.
    // Candidate generation is the asymmetric prefix filter: rank each
    // doc's shingles by global rarity (df asc, shingle) and probe only
    // its ⌊(1−t)·|A|⌋ + 1 rarest against the FULL corpus index — if none
    // of those prefix shingles is in B, then B misses > (1−t)|A| of A's
    // shingles and C(A,B) < t, so recall is exact. Unlike the symmetric
    // join there is no index-side prefix and no length band (a 50-word
    // doc can sit inside a 50k-word one — that's the point); the size
    // filter is the one real bound: |B| ≥ t·|A|. Probe traffic stays
    // small because prefixes are rare-shingle-biased — a stop-shingle
    // only enters a prefix when a doc has almost nothing rarer; the
    // CONTAINER side gets the lenband posting discipline (df-cap +
    // rarest-K floor, recall argument at containmentPairs) so hot
    // posting lists never meet the probe fan-out at all instead of
    // being left to AQE skew handling. ──
    "dd_containment" -> ((s, d) => {
      val docs = Pins.cache(Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text")).as("sh")),
        "dd_containment")
      val dfCap = math.max(100L, docs.count() / 50) // ~2% of the corpus
      containmentPairs(docs, threshold = 0.8, dfCap = dfCap)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── SimHash: 60-bit locality-sensitive fingerprint per document (the
    // widest sign-safe BIGINT fingerprint portable to the oracle; on a
    // real cluster this is where a full 64-bit xxhash-based simhash goes) ──
    "dd_simhash" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), simhash60(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    // ── SimHash near-dup pairs: 4 LSH bands × 15 bits over the 60-bit
    // fingerprint, Hamming ≤ 6 verify. At billions of docs the 2×16-bit
    // banding of a 32-bit simhash leaves ~n/65k docs per bucket (quadratic
    // in-bucket probing); 4×15-bit bands over 60 bits keep the per-band
    // bucket count at 32k while the extra bands cut the per-bucket false
    // candidates multiplicatively. Fingerprints are cached pre-join — the
    // simhash expression is ~1000× the cost of the join probe, so it must
    // evaluate once per doc, not once per join side per reference. ──
    "dd_simhash_pairs" -> ((s, d) =>
      simhashPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // ── Edit-distance verification over the banded candidates: the
    // strictest near-dup verdict (true Levenshtein similarity, not a
    // sketch), affordable ONLY because the quadratic DP runs on the
    // LSH-bounded pair set, never the corpus — the classic
    // candidate-then-verify split with the verify step upgraded from set
    // math to sequence alignment (catches word-ORDER edits Jaccard is
    // blind to). Shape: the cached simhash banded join emits id-pairs,
    // two hash joins attach the texts, and the DP is per-row inside
    // codegen (built-in levenshtein). At 100 TB the knob is the simhash
    // Hamming radius: pairs scale with near-dup density, not corpus², and
    // Spark's bounded levenshtein(l, r, k) caps the DP at O(k·n) per pair
    // if a deployment loosens the radius. ──
    "dd_edit_pairs" -> ((s, d) => {
      val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val sp = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
      // explicit fan-out BEFORE the text join-backs: the candidate frame
      // is KB-sized, so AQE coalesces its shuffle to one partition — and
      // then one task pays the entire O(pairs · len²) DP serially
      // (measured 47 s at sf0.1). A user-fixed partition count is exempt
      // from AQE coalescing, the broadcast joins preserve it, and sitting
      // UPSTREAM of the joins means the optimizer cannot sink the DP
      // projection below the exchange back into the coalesced stage.
      simhashPairs(s, d).select(col("doc_a"), col("doc_b"))
        .repartition(sp, col("doc_a"), col("doc_b"))
        .join(texts.select(col("doc_id").as("doc_a"), col("text").as("ta")), Seq("doc_a"))
        .join(texts.select(col("doc_id").as("doc_b"), col("text").as("tb")), Seq("doc_b"))
        // bounded DP: a pair can only pass sim ≥ 0.75 with distance
        // ≤ 0.25·maxlen, so hand the DP that bound (+1 for the rounding
        // boundary, the dd_containment slack lesson) — it narrows to an
        // O(k·n) band and rejects early for the vast majority of
        // candidates that fail the gate (236 of 31,937 pass at sf0.1),
        // returning -1 which the filter below discards. Distances for
        // PASSING pairs are exact, so the full-DP oracle sees identical
        // output. Compiled band (TextHashes.boundedLevenshtein), NOT the
        // built-in `levenshtein(l, r, k)`: the built-in's per-access
        // UTF8String byte scan made the DP effectively cubic — measured
        // 49 s (unbounded) / 6 s (bounded) for this candidate set where
        // the compiled band takes ~0.3 s.
        .select(col("doc_a"), col("doc_b"),
          graft.functions.TextHashes.boundedLevUdf(col("ta"), col("tb"),
            (floor(lit(0.25) * greatest(length(col("ta")), length(col("tb"))))
              .cast("int") + 1))
            .cast("long").as("edit_dist"),
          greatest(length(col("ta")), length(col("tb"))).cast("double").as("__len"))
        .select(col("doc_a"), col("doc_b"), col("edit_dist"),
          round(lit(1.0) - col("edit_dist").cast("double") / col("__len"), 6)
            .as("edit_sim"))
        .filter(col("edit_dist") >= 0 && col("edit_sim") >= 0.75)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // ── Image near-dup pairs: 60-bit perceptual dHash
    // (graft.operators.Multimodal.dhash60 — real pixel decode for real
    // images, byte-grid stub for the synthetic corpus) through the SAME
    // banded-Hamming plan as the text simhash family. The threshold is
    // looser than simhash's (8 vs 6): a byte-level edit moves more dHash
    // grid cells than a word-level edit moves simhash terms. ASCII/image
    // filters mirror MultimodalCatalog.DhashGridSql's oracle constraint. ──
    "dd_phash_pairs" -> ((s, d) =>
      bandedHammingPairs(mediaFps(s, d, 0,
          graft.operators.Multimodal.dhash60Udf), maxHamming = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── Audio near-dup pairs: the 60-bit energy-envelope fingerprint
    // (graft.operators.Multimodal.afp60 — real PCM envelope for real
    // WAVs, byte-grid stub for the synthetic corpus) through the SAME
    // banded-Hamming plan as the simhash/dHash families. Three
    // modalities, one shuffle shape. The sf0.01 gate slice happens to
    // plant no audio near-dups (closest pair: Hamming 13, i.e. noise
    // floor — measured), so the 0-row result there is the correct
    // answer; sf0.1 carries 35 value-checked pairs and the real-PCM
    // path is pinned by MediaDecodeSpec's envelope tests. ──
    "dd_afp_pairs" -> ((s, d) =>
      bandedHammingPairs(mediaFps(s, d, 1,
          graft.operators.Multimodal.afp60Udf), maxHamming = 8)
        .orderBy(col("doc_a"), col("doc_b"))),

    // ── Video near-dup pairs: frame-level content matching — the
    // content-ID shape, which is a DIFFERENT join geometry from the
    // banded-Hamming families: two videos are near-duplicates iff they
    // SHARE frames (≥ 2 distinct per-frame content hashes,
    // graft.operators.Multimodal.frameHashes — dHash per decoded AVI
    // frame for real video, the mm_frame_sample window grid for the
    // synthetic corpus), however differently the surrounding footage is
    // cut or reordered. Candidates come from an exact equi-join on the
    // frame hash; overlap = shared / min(frame counts) is the containment
    // score (a clip fully inside a longer video scores 1.0). At 100 TB
    // the corpus-side table is (video, frame_hash) — set-sized, never
    // raw frames — and production adds a lenband-style df cap dropping
    // ubiquitous boilerplate frames (intro cards, black frames) before
    // the join, exactly the stop-gram discipline of dd_lenband_jaccard. ──
    "dd_video_pairs" -> ((s, d) =>
      videoSharedPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),

    // ── Cross-media duplicate groups: ONE connected-components pass over
    // the union of all three modality pair graphs (image banded-Hamming,
    // audio banded-Hamming, video frame-set overlap), assigning every
    // ASCII-domain asset a canonical representative — the operation a
    // dedup pipeline actually ships after pair generation, here proving
    // the Components operator is fingerprint-agnostic. The modality
    // slices are disjoint by construction (doc_id mod 3), so clusters
    // stay within a modality; the UNION still matters operationally: one
    // CC job over the whole asset universe instead of three, one
    // canonical-id namespace, one output table. ──
    "dd_media_cluster" -> ((s, d) => {
      val comp = mediaComponents(s, d)
      val universe = Tables.documents(s, d)
        .filter(col("text").rlike("^[\\x00-\\x7F]*$"))
        .select(col("doc_id").as("media_id"),
          element_at(typedLit(Seq("image", "audio", "video")),
            (col("doc_id") % 3).cast("int") + 1).as("kind"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      universe
        .join(comp.select(col("node").as("media_id"), col("cluster_id")),
          Seq("media_id"), "left_outer")
        .select(col("media_id"), col("kind"),
          coalesce(col("cluster_id"), col("media_id")).as("cluster_id"))
        .select(col("media_id"), col("kind"), col("cluster_id"),
          count(lit(1)).over(w).as("cluster_size"),
          (col("media_id") === col("cluster_id")).as("is_canonical"))
        .orderBy(col("media_id"))
    }),

    // ── Cluster assignment: connected components over the simhash
    // near-dup pair graph (graft.operators.Components — min-label
    // propagation, O(diameter) shuffle rounds), so a dedup pipeline keeps
    // one canonical document per cluster instead of reasoning about raw
    // pairs. Singleton docs never enter the loop: the label frame holds
    // only docs that appear in a pair, and everyone else rejoins as their
    // own cluster at the end. ──
    "dd_cluster_assign" -> ((s, d) => {
      val comp = simhashComponents(s, d)
      val assigned = Tables.documents(s, d).select(col("doc_id"))
        .join(comp.select(col("node").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      assigned
        .select(col("doc_id"), col("cluster_id"),
          count(lit(1)).over(w).as("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // ── Leakage-proof train/dev/test split (the decontamination rule
    // turned inward): hash-split by near-dup CLUSTER, not by document, so
    // two near-copies can never land on opposite sides of the train/eval
    // fence — the split-level leak that inflates every benchmark number
    // (Lee et al. 2022 §5 measure it; this op prevents it by
    // construction). Deterministic salted hash of the cluster canonical →
    // 8/1/1 buckets; singletons hash their own id. Adds ONE broadcast-
    // sized join over the memoized components frame — the split of a 12B-
    // doc corpus costs one map-side hash once clustering exists. ──
    "dd_split_leakfree" -> ((s, d) => {
      val comp = simhashComponents(s, d)
      Tables.documents(s, d).select(col("doc_id"))
        .join(comp.select(col("node").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("bucket", pmod(
          hash64(concat(lit("split:"), col("cluster_id").cast("string"))), lit(10L)))
        .select(col("doc_id"), col("cluster_id"),
          when(col("bucket") < 8, lit("train"))
            .when(col("bucket") < 9, lit("dev"))
            .otherwise(lit("test")).as("split"))
        .orderBy(col("doc_id"))
    }),

    // ── Compaction: the step a dedup pipeline actually ships — collapse
    // each near-dup cluster to ONE representative and account for what
    // the corpus lost. Unlike dd_cluster_assign's min-id canonical, the
    // kept doc is chosen by QUALITY (most tokens, tie → lowest id): when
    // a crawl holds a full article and three truncated mirrors, min-id
    // keeps whichever was crawled first, this keeps the longest. Plan
    // shape: the only new cost over cluster assignment is one shuffle on
    // cluster_id (row_number within clusters — per-partition state is
    // bounded by cluster size) and a map-side-combined per-source rollup,
    // both fixed-width; the corpus text never moves. ──
    "dd_compact" -> ((s, d) =>
      compactOn(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        simhashComponents(s, d))),

    // ── URL dedup — the step a crawl pipeline runs BEFORE any content
    // dedup: two fetches of the same resource differ only in URL noise
    // (scheme/host case, www, default port, tracking params, fragments,
    // trailing slash), so canonicalizing URLs collapses them without
    // touching document bytes. Planted-URL fixture (the tx_pii_scrub
    // discipline — the synthetic corpus carries no URLs); the
    // normalization policy: lowercase scheme+host, strip www/default
    // port/fragment, drop utm_* params, sort surviving params, strip the
    // trailing slash. All per-row regex/array expressions; the dedup is
    // one fixed-width groupBy on the canonical string — the exact
    // dd_exact_dedup shape, upstream of it in a real pipeline. ──
    "dd_url_dedup" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("HTTPS://WWW.Site"), (id % 7).cast("string"),
        lit(".COM:443/p/"), (id % 10).cast("string"),
        when(id % 2 === 0, "/").otherwise(""),
        lit("?utm_source=x&id="), (id % 3).cast("string"),
        when(id % 5 === 0, "&utm_campaign=y").otherwise(""),
        lit("#s"), id.cast("string"))
      val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
      val host = lower(regexp_extract(url,
        "^[A-Za-z]+://(?:[Ww][Ww][Ww]\\.)?([^/:?#]+)", 1))
      val path = regexp_replace(
        regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
      val params = array_join(array_sort(filter(
        split(regexp_extract(url, "\\?([^#]*)", 1), "&"),
        p => !p.startsWith("utm_") && length(p) > 0)), "&")
      val canonical = concat(scheme, lit("://"), host, path,
        when(length(params) > 0, concat(lit("?"), params)).otherwise(""))
      Tables.documents(s, d)
        .select(id, canonical.as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keep_id"))
    }),

    // ── Incremental near-dup: dedup an incoming BATCH against the
    // standing corpus — the production shape at 100 TB, where re-running
    // all-pairs LSH over the whole corpus per crawl is a non-starter. The
    // corpus side's banded minhash fingerprints are exactly what the
    // full-corpus query computes, i.e. at scale a PERSISTED fingerprint
    // index keyed (band_idx, band_val) that each new batch equi-joins
    // into; only band collisions reach the exact-Jaccard verify, and the
    // verify shuffles carry (id, id, shingle) rows, never documents. The
    // batch here is doc_id % 10 == 7, standing in for today's crawl. New
    // docs matching no corpus doc pass through with dup_of = NULL. ──
    "dd_incremental" -> ((s, d) => {
      val base = Pins.cache(shingled(s, d)
        .withColumn("mh", graft.functions.TextHashes.minhashesUdf(8)(col("text"))), "dd_incremental")
      def bands(df: DataFrame) = df.select(col("doc_id"),
        explode(array((0 until 4).map(k => struct(
          lit(k).as("band_idx"),
          (element_at(col("mh"), 2 * k + 1) * Mersenne31 +
            element_at(col("mh"), 2 * k + 2)).as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.band_val").as("band_val"))
      val isNew = col("doc_id") % 10 === 7
      val cand = bands(base.filter(isNew)).as("a")
        .join(bands(base.filter(!isNew)).as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val"))
        .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
        .distinct()
      val sizes = base.select(col("doc_id"), size(col("sh")).as("setsize"))
      val full = base.select(col("doc_id"), explode(col("sh")).as("s"))
      val isect = cand
        .join(full.select(col("doc_id").as("new_id"), col("s")), Seq("new_id"))
        .join(full.select(col("doc_id").as("old_id"), col("s")), Seq("old_id", "s"))
        .groupBy(col("new_id"), col("old_id")).agg(count(lit(1)).as("inter"))
      val best = cand
        .join(sizes.select(col("doc_id").as("new_id"), col("setsize").as("size_n")), Seq("new_id"))
        .join(sizes.select(col("doc_id").as("old_id"), col("setsize").as("size_o")), Seq("old_id"))
        .join(isect, Seq("new_id", "old_id"))
        .filter(col("inter") / (col("size_n") + col("size_o") - col("inter")) >= 0.5)
        .groupBy(col("new_id")).agg(min(col("old_id")).as("dup_of"))
      base.filter(isNew).select(col("doc_id"))
        .join(best.withColumnRenamed("new_id", "doc_id"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("dup_of"), col("dup_of").isNotNull.as("is_dup"))
        .orderBy(col("doc_id"))
    }),

    // ── Bloom-pruned exact incremental dedup: classify a new batch
    // against the corpus by content hash, with a driver-built Bloom
    // sketch (~10 bits/key at 1% fpp, the same shape Spark's own
    // runtime-filter injection broadcasts) pruning the probe side BEFORE
    // the shuffle join: definitely-novel docs — the overwhelming
    // majority of a healthy crawl batch — never enter the exchange, and
    // only might-contain survivors pay the exact verify join. The OUTPUT
    // is exact regardless of the sketch: Bloom filters have no false
    // negatives, and false positives resolve to null in the left join —
    // which is why a value-level oracle can check an approximately-
    // accelerated plan. Sketch memory is items×10 bits on the driver;
    // past driver scale, swap to per-partition sketches or drop the
    // prune (the join is already co-partitioned and exact). ──
    "dd_bloom_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), hash64(col("text")).as("content_hash"))
      val isNew = col("doc_id") % 10 === 7
      val batch = docs.filter(isNew)
      val corpus = Pins.cache(docs.filter(!isNew), "dd_bloom_incremental")
      // an EMPTY corpus has no bloom aggregate to read (stat.bloomFilter
      // NPEs deserializing the null byte[] the empty aggregate returns) —
      // and semantically nothing can be a dup of nothing, so the filter
      // is constant-false. The count is already needed for sizing.
      val corpusN = corpus.count()
      val mightContain = if (corpusN == 0) udf((_: Long) => false)
      else {
        val bloom = corpus.stat.bloomFilter("content_hash",
          math.max(corpusN, 1000L), 0.01)
        udf((h: Long) => bloom.mightContainLong(h))
      }
      val owners = corpus.groupBy(col("content_hash"))
        .agg(min(col("doc_id")).as("dup_of"))
      val checked = batch.filter(mightContain(col("content_hash")))
        .join(owners, Seq("content_hash"), "left_outer")
      val novel = batch.filter(!mightContain(col("content_hash")))
        .withColumn("dup_of", lit(null).cast("long"))
      checked.select(col("doc_id"), col("dup_of"))
        .unionByName(novel.select(col("doc_id"), col("dup_of")))
        .withColumn("is_dup", col("dup_of").isNotNull)
        .orderBy(col("doc_id"))
    }),

    // ── Embedding-cosine near-dup, SAMPLED-QUERY gold standard: the exact
    // nearest same-label neighbor for a deterministic fixed-size sample of
    // vectors (the 200 lowest by (portable hash of vec_id, vec_id) — a
    // uniform draw both engines reproduce bit-for-bit). This is the check
    // the approximate paths (sim_ann_lsh / sim_ann_ivf*, dd_semdedup) are
    // judged against, and a gold standard only ever needs a query SAMPLE:
    // recall estimated on 200 uniform queries has a ±~3% CI at 95%, which
    // is the resolution any ANN tuning decision uses — sim_ann_recall
    // already established this pattern. All-pairs within label (exact
    // for EVERY vector) was measured at slope 34.7× for 10× data: a
    // cell-cartesian that is simply not runnable at 100×. This
    // form is |sample|·corpus: the sample is a global TakeOrdered (one
    // pass, 200 rows) broadcast to the corpus scan, so the corpus NEVER
    // shuffles and cost grows linearly with it; the per-query exact
    // answer is unchanged for every sampled vector. Norms are computed
    // once per row before the join (one compiled dot per pair); same FP
    // order as the oracle, round(6) absorbs op-order ulps. ──
    "dd_embedding_neardup" -> ((s, d) => {
      import graft.functions.{PortableHash, VectorOps}
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
        .withColumn("norm", VectorOps.normUdf(col("v")))
      val sample = e
        .orderBy(PortableHash.hash64(col("vec_id").cast("string")), col("vec_id"))
        .limit(200)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("v").as("qv"), col("norm").as("qnorm"))
      val pairs = e.join(broadcast(sample),
          col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(org.apache.spark.sql.graftnative.NativeExpressions.dotCol(col("qv"), col("v")) /
            (col("qnorm") * col("norm")), 6).as("cos_sim"))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_sim").desc, col("neighbor_id"))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id"), col("cos_sim"))
        .orderBy(col("vec_id"))
    }),

    // ── KMV (k-minimum-values) distinct-count sketch per source over the
    // corpus's 3-gram shingle hashes — the cardinality primitive a 100 TB
    // dedup pipeline plans with: |distinct shingles| / |shingles| is the
    // duplication mass, and computing it exactly means a corpus-wide
    // distinct. The KMV estimator (Bar-Yossef et al. 2002) needs only
    // each source's k smallest DISTINCT hash values: with uniform 60-bit
    // hashes, E[k-th smallest / 2^60] = k / (n+1), so n̂ = (k−1)/u_k,
    // within ~1/√(k−2) relative error (k=64 → ~13 %).
    //
    // Scale shape: the rank filter is dense_rank ≤ k over (source, hash)
    // rows, which Spark executes as WindowGroupLimit — each map partition
    // keeps only its own k smallest before the exchange, so the shuffle
    // carries ≤ k·partitions rows per source and there is NO corpus-wide
    // distinct anywhere in the sketch path. The n_exact column exists to
    // MEASURE the estimator (it is the global distinct the sketch
    // replaces — at 100 TB you drop it and keep n_est). The estimator
    // arithmetic is two IEEE divisions in the same order on both engines;
    // h_k and k_used are exact integers, so the compare pins the sketch
    // itself, not just the estimate. ──
    "dd_kmv_distinct" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text"))).as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"))
      val kth = h.withColumn("dr", dense_rank().over(w)).filter(col("dr") <= k)
        .groupBy(col("source"))
        .agg(max(col("h")).as("h_k"), count_distinct(col("h")).as("k_used"))
      val exact = h.groupBy(col("source"))
        .agg(count_distinct(col("h")).as("n_exact"))
      exact.join(kth, Seq("source"))
        .withColumn("n_est",
          when(col("k_used") < k, col("n_exact"))
            .otherwise(round(lit((k - 1).toDouble) /
              (col("h_k").cast("double") / lit(1152921504606846976.0))).cast("long")))
        .withColumn("rel_err",
          round(abs(col("n_est") - col("n_exact")).cast("double") /
            col("n_exact").cast("double"), 6))
        .select(col("source"), col("n_exact"), col("h_k"), col("k_used"),
          col("n_est"), col("rel_err"))
        .orderBy(col("source"))
    }),

    // ── b-bit minhash (Li & König 2010): keep only the LOWEST BIT of
    // each minhash, so a 16-hash signature is 16 BITS — one integer per
    // document instead of 16, the compression that makes billion-doc
    // signature tables fit in memory (at production width, 128 hashes
    // pack into two longs, 32× smaller than 4-byte values). The
    // estimator corrects for chance agreement: P(bits agree) =
    // J + (1−J)/2, so Ĵ = 2·A − 1 where A is the agreeing-bit fraction.
    // This row prices the trade on the SAME banded candidates as
    // dd_minhash_calibration: per true-Jaccard decile, the full-width
    // estimate and the 1-bit estimate side by side with their MAEs —
    // mean calibration holds (the estimator is unbiased) while per-pair
    // MAE grows by the predicted √((1+J)(1−J))-ish factor; the per-pair
    // cost is one XOR + popcount instead of 16 comparisons. ──
    "dd_minhash_bbit" -> ((s, d) => {
      val base = Pins.cache(shingled(s, d)
        .withColumn("mh", graft.functions.TextHashes.minhashesUdf(16)(col("text")))
        .withColumn("sig", (0 until 16).map(i =>
          (element_at(col("mh"), i + 1) % 2) * lit(1L << i)).reduce(_ + _)), "dd_minhash_bbit")
      val bands = base.select(col("doc_id"),
        explode(array((0 until 4).map(k => struct(
          lit(k).as("band_idx"),
          (element_at(col("mh"), 2 * k + 1) * Mersenne31 +
            element_at(col("mh"), 2 * k + 2)).as("band_val"))): _*)).as("band"))
        .select(col("doc_id"), col("band.band_idx").as("band_idx"),
          col("band.band_val").as("band_val"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val estFull = (0 until 16).map(i =>
        when(element_at(col("mha"), i + 1) === element_at(col("mhb"), i + 1), 1)
          .otherwise(0)).reduce(_ + _) / 16.0
      val est1 = lit(2.0) * ((lit(16) - bit_count(col("siga").bitwiseXOR(col("sigb"))))
        .cast("double") / lit(16.0)) - lit(1.0)
      val pairs = cand
        .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("mh").as("mha"), col("sig").as("siga")), Seq("doc_a"))
        .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("mh").as("mhb"), col("sig").as("sigb")), Seq("doc_b"))
        .select(jaccard(col("sh_a"), col("sh_b")).as("jaccard"),
          estFull.as("est_full"), est1.as("est_1bit"))
      pairs
        .withColumn("bucket",
          least(floor(col("jaccard") * 10).cast("long"), lit(9L)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 6).as("mean_true"),
          round(avg(col("est_full")), 6).as("mean_est_full"),
          round(avg(col("est_1bit")), 6).as("mean_est_1bit"),
          round(avg(abs(col("est_full") - col("jaccard"))), 6).as("mae_full"),
          round(avg(abs(col("est_1bit") - col("jaccard"))), 6).as("mae_1bit"))
        .orderBy(col("bucket"))
    }),

    // ── KMV MERGEABILITY — the property that makes sketches the 100 TB
    // tool: the union of per-source k-min sketches, re-trimmed to its k
    // smallest values, IS the global sketch. Proof: any hash among the
    // global k smallest distinct values is necessarily among its own
    // source's k smallest, so it survives into the merged set — combine
    // per-day/per-source sketches forever without re-touching the
    // corpus. This row CHECKS the theorem value-for-value: the k-th
    // smallest of the merged sketch (`h_k_merged`) must equal the k-th
    // smallest of a direct global sketch (`h_k_direct`), and
    // `sketch_agree` must be true; the union estimate then prices the
    // whole corpus's distinct-shingle mass from ≤ k·|sources| retained
    // values. n_exact and the direct sketch are comparison columns — at
    // scale only the per-source sketches and the merge exist. ──
    "dd_kmv_union" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text"))).as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"))
      val perSource = h.withColumn("dr", dense_rank().over(w))
        .filter(col("dr") <= k).select(col("source"), col("h")).distinct()
      val merged = perSource.select(col("h")).distinct()
        .orderBy(col("h")).limit(k)
        .agg(max(col("h")).as("h_k_merged"), count(lit(1)).as("k_used"))
      val globalDistinct = h.select(col("h")).distinct()
      val direct = globalDistinct.orderBy(col("h")).limit(k)
        .agg(max(col("h")).as("h_k_direct"))
      val stats = h.agg(count_distinct(col("h")).as("n_exact"),
        count_distinct(col("source")).as("n_sources"))
      stats.crossJoin(merged).crossJoin(direct)
        .withColumn("sketch_agree", col("h_k_merged") === col("h_k_direct"))
        .withColumn("n_est",
          when(col("k_used") < k, col("n_exact"))
            .otherwise(round(lit((k - 1).toDouble) /
              (col("h_k_merged").cast("double") / lit(1152921504606846976.0))).cast("long")))
        .withColumn("rel_err",
          round(abs(col("n_est") - col("n_exact")).cast("double") /
            col("n_exact").cast("double"), 6))
        .select(col("n_sources"), col("n_exact"), col("k_used"),
          col("h_k_direct"), col("h_k_merged"), col("sketch_agree"),
          col("n_est"), col("rel_err"))
        // a global aggregate emits one row even over NOTHING — an empty
        // corpus has no sketch to merge, so the report is empty
        .filter(col("n_sources") > 0)
        .orderBy(col("n_sources"))
    }),

    // ── PRODUCTION form of the KMV sketch: estimate-only. The
    // calibration row above carries `n_exact` (a corpus-wide
    // count_distinct) to MEASURE the estimator; this is the form a
    // 100 TB deployment actually runs — the plan's only corpus-wide
    // work is the dense_rank ≤ k filter, which executes as a Partial
    // WindowGroupLimit (each map partition forwards at most its own k
    // smallest rows per source before the exchange). Everything past
    // the rank filter touches ≤ k·|sources| retained rows. When the
    // sketch saw fewer than k distinct values it IS the exact set, so
    // n_est = k_used there — no exact fallback column needed.
    // PlanAuditSpec pins the plan: WindowGroupLimit present, zero
    // count_distinct, zero row_number anywhere. ──
    "dd_kmv_prod" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text"))).as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"))
      h.withColumn("dr", dense_rank().over(w)).filter(col("dr") <= k)
        .select(col("source"), col("h")).distinct()
        .groupBy(col("source"))
        .agg(max(col("h")).as("h_k"), count(lit(1)).as("k_used"))
        .withColumn("n_est",
          when(col("k_used") < k, col("k_used"))
            .otherwise(round(lit((k - 1).toDouble) /
              (col("h_k").cast("double") / lit(1152921504606846976.0))).cast("long")))
        .select(col("source"), col("h_k"), col("k_used"), col("n_est"))
        .orderBy(col("source"))
    }),

    // ── PRODUCTION form of the KMV merge: per-source sketches folded to
    // the global estimate with NO direct global sketch and NO exact
    // count beside it (dd_kmv_union keeps both as the mergeability
    // proof; this is what runs once the theorem is trusted). Past the
    // map-side rank filter every frame is sketch-sized: the merge
    // re-trims ≤ k·|sources| values to k, and n_sources counts the
    // sketch frame's sources, never the corpus's rows. ──
    "dd_kmv_union_prod" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val h = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextHashes.windowHashesUdf(3, distinct = true)(col("text"))).as("h"))
      val w = Window.partitionBy(col("source")).orderBy(col("h"))
      val perSource = h.withColumn("dr", dense_rank().over(w))
        .filter(col("dr") <= k).select(col("source"), col("h")).distinct()
      val merged = perSource.select(col("h")).distinct()
        .orderBy(col("h")).limit(k)
        .agg(max(col("h")).as("h_k_merged"), count(lit(1)).as("k_used"))
      val nSources = perSource.select(col("source")).distinct()
        .agg(count(lit(1)).as("n_sources"))
      nSources.crossJoin(merged)
        .withColumn("n_est",
          when(col("k_used") < k, col("k_used"))
            .otherwise(round(lit((k - 1).toDouble) /
              (col("h_k_merged").cast("double") / lit(1152921504606846976.0))).cast("long")))
        // a global aggregate emits one row even over NOTHING — an empty
        // corpus has no sketch to merge, so the report is empty
        .filter(col("n_sources") > 0)
        .select(col("n_sources"), col("k_used"), col("h_k_merged"), col("n_est"))
        .orderBy(col("n_sources"))
    })
  )

  /** 60-bit simhash from the universal-hash bit family, as a native
    * Catalyst expression with codegen (stays inside whole-stage codegen;
    * the interpreted HOF formulation measured ~5 ms/doc, the UDF added a
    * per-row closure hop). Portable to the oracle; swap the per-word hash
    * for xxhash64 bits on a real cluster. */
  private def simhash60(textCol: Column): Column =
    org.apache.spark.sql.graftnative.NativeExpressions.simhash60Col(textCol)

  /** Unrolled min-label hook+jump rounds over edges(src, dst) →
    * lbl(doc_id, cluster_id) — the polynomial form of connected
    * components in one SQL statement, mirroring Components.assign's own
    * scheme. Each round is two hash joins + a group-by over O(V + E)
    * rows, replacing the transitive-closure `reach` CTE whose
    * materialized size is Σ|component|² — at the sf1.0-class fixture the
    * simhash pair graph has ~10⁶ edges with corpus-sized components, and
    * that quadratic blowup was the last oracle timeout class.
    *
    * Convergence honesty: the jump (label-of-label) compresses chains
    * TOWARD the current label, so on adversarial id layouts (the
    * component minimum at one end of a path of ascending ids) the hook
    * is the only mover and the minimum advances one hop per round —
    * rounds bound convergence by component DIAMETER, not log n. The
    * catalog fixtures' near-dup components are shallow (they converge
    * well under 17 rounds at all three SFs; the rounds are cheap), and
    * the final CANARY round makes the bound self-checking instead of
    * assumed: if one more round would still change any label, the lbl
    * projection raises via DuckDB's error() (lazily evaluated inside
    * the CASE, so a converged run never touches it), aborting the
    * oracle query itself. A hard failure is the only unmaskable shape:
    * callers COALESCE(cluster_id, doc_id) for the singleton docs absent
    * from lbl, which would have laundered a NULL poison into a
    * plausible all-singleton clustering. Singleton docs (no edges) are
    * absent from lbl; callers COALESCE to self. */
  private def doublingLabelsSql(rounds: Int): String = {
    // every round references its predecessor FOUR times; MATERIALIZED is
    // load-bearing — an inlining planner would otherwise expand the chain
    // 4^rounds-fold
    val steps = (1 to rounds).map { i =>
      val p = s"p${i - 1}"
      s"""p$i AS MATERIALIZED (SELECT v, MIN(l) AS l FROM (
             SELECT a.v, b.l FROM $p a JOIN $p b ON a.l = b.v
             UNION ALL SELECT e.src AS v, p.l FROM edges e JOIN $p p ON e.dst = p.v
             UNION ALL SELECT v, l FROM $p) GROUP BY v)"""
    }
    ("""p0 AS MATERIALIZED (SELECT src AS v, LEAST(src, MIN(dst)) AS l
             FROM edges GROUP BY src)""" +: steps).mkString(",\n         ") +
      s""",
         conv AS MATERIALIZED (SELECT COUNT(*) AS moved FROM (
             SELECT v, MIN(l) AS l FROM (
               SELECT a.v, b.l FROM p$rounds a JOIN p$rounds b ON a.l = b.v
               UNION ALL SELECT e.src AS v, p.l FROM edges e JOIN p$rounds p ON e.dst = p.v
               UNION ALL SELECT v, l FROM p$rounds) GROUP BY v) q
           JOIN p$rounds f ON q.v = f.v AND q.l <> f.l),
         lbl AS (SELECT v AS doc_id,
             CASE WHEN (SELECT moved FROM conv) > 0
                  THEN error('hook+jump CC oracle unconverged after $rounds rounds')
                  ELSE l END
               AS cluster_id
           FROM p$rounds)"""
  }

  /** Shared CTE chain mirroring Components.assign over the simhash
    * banded-Hamming pair graph: ends in lbl(doc_id, cluster_id);
    * singleton docs are absent from lbl (callers COALESCE to self). */
  /** DuckDB CTE chain for the CROSS-MEDIA cluster labels (`lbl`:
    * media_id → cluster_id over the union of the image/audio
    * banded-Hamming and video frame-overlap pair graphs) — shared by
    * dd_media_cluster's oracle and pl_media_prep's. Callers prepend
    * `WITH RECURSIVE`. */
  private[graft] lazy val MediaComponentsCte: String = {
    import MultimodalCatalog.{DhashGridSql, Dhash60FromGridSql, AfpGridSql, Afp60FromGridSql}
    val bandDiv = """(CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                      WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT"""
    s"""img AS (SELECT doc_id, $DhashGridSql AS grid FROM documents
           WHERE doc_id % 3 = 0 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         fimg AS (SELECT doc_id, $Dhash60FromGridSql AS fp FROM img),
         aud AS (SELECT doc_id, $AfpGridSql AS grid FROM documents
           WHERE doc_id % 3 = 1 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         faud AS (SELECT doc_id, $Afp60FromGridSql AS fp FROM aud),
         fps AS (SELECT * FROM fimg UNION ALL SELECT * FROM faud),
         bands AS (SELECT doc_id, fp, t.k AS band_idx,
             (fp // $bandDiv) % 32768 AS band_val
           FROM fps, generate_series(0, 3) t(k)),
         hpairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id AND a.doc_id % 3 = b.doc_id % 3
           WHERE bit_count(xor(a.fp, b.fp)) <= 8),
         vid AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 3 = 2 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         fr AS (SELECT doc_id, text,
             unnest(range(0, octet_length(encode(text)), 50)) AS off FROM vid),
         fh AS (SELECT DISTINCT doc_id,
             ${graft.functions.PortableHash.hash64Sql("substr(text, CAST(off AS INT) + 1, 16)")} AS fh
           FROM fr),
         vpairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM fh a JOIN fh b ON a.fh = b.fh AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         mpairs AS MATERIALIZED (SELECT doc_a, doc_b FROM hpairs
           UNION SELECT doc_a, doc_b FROM vpairs),
         medges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM mpairs
                   UNION SELECT doc_b, doc_a FROM mpairs),
         mreach AS (SELECT src, dst FROM medges
                   UNION SELECT r.src, e.dst FROM mreach r JOIN medges e
                     ON r.dst = e.src AND e.dst <> r.src),
         lbl AS (SELECT src AS media_id, LEAST(src, MIN(dst)) AS cluster_id
                 FROM mreach GROUP BY src)"""
  }

  private lazy val SimhashComponentsCte: String =
    s"""$SimhashCteSql,
         bands AS (SELECT doc_id, simhash, t.k AS band_idx,
             (simhash // (CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                          WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT) % 32768 AS band_val
           FROM s, generate_series(0, 3) t(k)),
         pairs AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
         edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION SELECT doc_b, doc_a FROM pairs),
         ${doublingLabelsSql(24)}"""

  /** Vocabulary-factored simhash CTE chain ending in s(doc_id, simhash).
    * Value-identical to the naive inline form (the per-plane sign sums
    * are exact integer arithmetic, so only the evaluation order is
    * factored): the word hash and its 60 per-plane signs are computed
    * once per DISTINCT word instead of once per occurrence per plane,
    * and each document's per-plane sign sum becomes a (doc, word, count)
    * × (word, plane, sign) join + group-by instead of a 60-pass lambda
    * over every word occurrence. Corpora are Zipfian (the fixture's
    * vocabulary is tiny), so this turns a 60·|occurrences| md5 storm
    * into |vocab| hashes: measured 226 s → 0.7 s at sf0.1 (314×), the
    * difference between the sf1.0-class oracle sweep timing out and
    * finishing. */
  private lazy val SimhashCteSql: String =
    s"""wc AS (SELECT doc_id, w, COUNT(*) AS cnt
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents)
           GROUP BY 1, 2),
         vsign AS (SELECT w, t.j,
             ((${hash31Sql("w")} * (${sqlList(SimhashA)})[t.j+1]
               + (${sqlList(SimhashB)})[t.j+1]) % $Mersenne31) % 2 * 2 - 1 AS sg
           FROM (SELECT DISTINCT w FROM wc), generate_series(0, 59) t(j)),
         ssum AS (SELECT wc.doc_id, v.j, SUM(wc.cnt * v.sg) AS sm
           FROM wc JOIN vsign v USING (w) GROUP BY 1, 2),
         s AS (SELECT doc_id, CAST(SUM(CASE WHEN sm > 0
               THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
           FROM ssum GROUP BY doc_id)"""

  /** Exact-order cosine (compiled; see graft.functions.VectorOps). */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorOps.cosineUdf(a, b)

  private def cosineSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, len($x)), i -> $x[i]::DOUBLE * $y[i]::DOUBLE))"
    s"round(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})), 6)"
  }

  def oracle: Map[String, String] = Map(
    "dd_exact_dedup" ->
      s"""SELECT ${hash64Sql("text")} AS content_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY 1 ORDER BY keep_id""",
    "dd_soft_weight" ->
      s"""WITH h AS (SELECT doc_id, source, ${hash64Sql("text")} AS ch FROM documents),
         sz AS (SELECT ch, COUNT(*) AS n_copies FROM h GROUP BY 1)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated,
           round(SUM(round(1.0 / n_copies, 6)), 6) AS effective_docs
         FROM h JOIN sz USING (ch) GROUP BY source ORDER BY source""",
    "dd_exact_substring" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         win AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
             unnest(list_transform(generate_series(1, greatest(len(words) - 7, 1)),
               i -> struct_pack(s := CAST(i AS BIGINT),
                 h := ${hash64Sql("array_to_string(words[i:i+7], ' ')")}))) AS u
           FROM w),
         f AS (SELECT doc_id, n_tokens, u.s AS s,
             MIN(doc_id) OVER (PARTITION BY u.h) <> MAX(doc_id) OVER (PARTITION BY u.h) AS dup
           FROM win),
         p AS (SELECT doc_id, MAX(n_tokens) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
             list_sort(list(s) FILTER (WHERE dup)) AS starts
           FROM f GROUP BY doc_id),
         c AS (SELECT doc_id, n_tokens, n_windows, n_dup_windows,
             CAST(CASE WHEN COALESCE(len(starts), 0) = 0 THEN 0
               ELSE COALESCE(list_sum(list_transform(
                   generate_series(1, len(starts) - 1),
                   i -> least(starts[i + 1] - starts[i], 8))), 0)
                 + least(8, n_tokens - starts[len(starts)] + 1)
               END AS BIGINT) AS covered_tokens
           FROM p)
         SELECT doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens,
           round(CAST(covered_tokens AS DOUBLE) / n_tokens, 6) AS dup_frac
         FROM c ORDER BY doc_id""",
    "dd_minhash_lsh" -> {
      val mhList = (0 until 8).map(k =>
        minhashSql("hs", MinhashA(k), MinhashB(k))).mkString("[", ", ", "]")
      val estTerms = (1 to 8).map(i =>
        s"CASE WHEN a.mh[$i] = b.mh[$i] THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS (SELECT doc_id, $Shingles3Sql AS sh FROM documents),
         hs AS (SELECT doc_id, sh, list_transform(sh, s -> ${hash31Sql("s")}) AS hs FROM sh),
         mh AS (SELECT doc_id, sh, $mhList AS mh FROM hs),
         bands AS (SELECT doc_id, sh, mh, t.k AS band_idx,
             mh[2*t.k+1] * $Mersenne31 + mh[2*t.k+2] AS band_val
           FROM mh, generate_series(0, 3) t(k)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard,
             ($estTerms) / 8.0 AS est_jaccard
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, jaccard, est_jaccard FROM cand
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""
    },
    "dd_minhash_calibration" -> {
      val mhList = (0 until 8).map(k =>
        minhashSql("hs", MinhashA(k), MinhashB(k))).mkString("[", ", ", "]")
      val estTerms = (1 to 8).map(i =>
        s"CASE WHEN a.mh[$i] = b.mh[$i] THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sh AS (SELECT doc_id, $Shingles3Sql AS sh FROM documents),
         hs AS (SELECT doc_id, sh, list_transform(sh, s -> ${hash31Sql("s")}) AS hs FROM sh),
         mh AS (SELECT doc_id, sh, $mhList AS mh FROM hs),
         bands AS (SELECT doc_id, sh, mh, t.k AS band_idx,
             mh[2*t.k+1] * $Mersenne31 + mh[2*t.k+2] AS band_val
           FROM mh, generate_series(0, 3) t(k)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh))
               / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard,
             ($estTerms) / 8.0 AS est_jaccard
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         bk AS (SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bucket,
             jaccard, est_jaccard FROM cand)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(AVG(est_jaccard), 6) AS mean_est,
           round(AVG(jaccard), 6) AS mean_true,
           round(AVG(abs(est_jaccard - jaccard)), 6) AS mae
         FROM bk GROUP BY bucket ORDER BY bucket"""
    },
    "dd_minhash_bbit" -> {
      val mhList = (0 until 16).map(k =>
        minhashSql("hs", MinhashA(k), MinhashB(k))).mkString("[", ", ", "]")
      val estTerms = (1 to 16).map(i =>
        s"CASE WHEN a.mh[$i] = b.mh[$i] THEN 1 ELSE 0 END").mkString(" + ")
      val sigSql = "CAST(list_sum(list_transform(range(1, 17), i -> " +
        "(mh[CAST(i AS INT)] % 2) * (CAST(1 AS BIGINT) << CAST(i - 1 AS INT)))) AS BIGINT)"
      s"""WITH sh AS (SELECT doc_id, $Shingles3Sql AS sh FROM documents),
         hs AS (SELECT doc_id, sh, list_transform(sh, s -> ${hash31Sql("s")}) AS hs FROM sh),
         mh AS (SELECT doc_id, sh, $mhList AS mh FROM hs),
         sg AS (SELECT doc_id, sh, mh, $sigSql AS sig FROM mh),
         bands AS (SELECT doc_id, sh, mh, sig, t.k AS band_idx,
             mh[2*t.k+1] * $Mersenne31 + mh[2*t.k+2] AS band_val
           FROM sg, generate_series(0, 3) t(k)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh))
               / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard,
             ($estTerms) / 16.0 AS est_full,
             2.0 * (CAST(16 - bit_count(xor(a.sig, b.sig)) AS DOUBLE) / 16.0) - 1.0 AS est_1bit
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         bk AS (SELECT least(CAST(floor(jaccard * 10) AS BIGINT), 9) AS bucket,
             jaccard, est_full, est_1bit FROM cand)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(AVG(jaccard), 6) AS mean_true,
           round(AVG(est_full), 6) AS mean_est_full,
           round(AVG(est_1bit), 6) AS mean_est_1bit,
           round(AVG(abs(est_full - jaccard)), 6) AS mae_full,
           round(AVG(abs(est_1bit - jaccard)), 6) AS mae_1bit
         FROM bk GROUP BY bucket ORDER BY bucket"""
    },
    // Banded all-pairs rewritten as a per-band inverted-index co-count
    // (exact: Jaccard ≥ 0.5 > 0 implies a shared shingle, so the
    // (bucket, shingle) self-join emits every qualifying same-band pair;
    // |A∩B| is the co-count over distinct lists and |A∪B| = |A|+|B|−|A∩B|;
    // a pair sharing both bands yields the same Jaccard from each, and
    // the DISTINCT collapses it exactly as the original did). Measured
    // 169 s → 1.8 s at sf0.1; band occupancy grows linearly with the
    // corpus, so the quadratic-in-band form was the sf1.0 timeout.
    "dd_lenband_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, n_chars,
           list_distinct(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS sh
         FROM documents),
         bk AS (SELECT doc_id, n_chars, sh, len(sh) AS n,
           unnest([n_chars // 64, n_chars // 64 + 1]) AS bucket FROM sh),
         inv AS (SELECT doc_id, bucket, n, unnest(sh) AS h FROM bk),
         co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.bucket,
             COUNT(*) AS inter, MIN(a.n) AS na, MIN(b.n) AS nb
           FROM inv a JOIN inv b
             ON a.bucket = b.bucket AND a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3)
         SELECT DISTINCT doc_a, doc_b,
           inter / (na + nb - inter) AS jaccard
         FROM co WHERE inter / (na + nb - inter) >= 0.5
         ORDER BY doc_a, doc_b""",
    "dd_simhash" ->
      s"""WITH $SimhashCteSql
         SELECT doc_id, simhash FROM s ORDER BY doc_id""",
    "dd_simhash_pairs" ->
      s"""WITH $SimhashCteSql,
         bands AS (SELECT doc_id, simhash, t.k AS band_idx,
             (simhash // (CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                          WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT) % 32768 AS band_val
           FROM s, generate_series(0, 3) t(k))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         ORDER BY doc_a, doc_b""",
    "dd_edit_pairs" ->
      s"""WITH $SimhashCteSql,
         bands AS (SELECT doc_id, simhash, t.k AS band_idx,
             (simhash // (CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                          WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT) % 32768 AS band_val
           FROM s, generate_series(0, 3) t(k)),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 6),
         scored AS (SELECT doc_a, doc_b,
             CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist,
             round(1.0 - levenshtein(ta.text, tb.text)::DOUBLE /
               greatest(length(ta.text), length(tb.text))::DOUBLE, 6) AS edit_sim
           FROM cand JOIN documents ta ON cand.doc_a = ta.doc_id
                     JOIN documents tb ON cand.doc_b = tb.doc_id)
         SELECT * FROM scored WHERE edit_sim >= 0.75 ORDER BY doc_a, doc_b""",
    "dd_phash_pairs" -> {
      import MultimodalCatalog.{DhashGridSql, Dhash60FromGridSql}
      s"""WITH img AS (SELECT doc_id, $DhashGridSql AS grid FROM documents
           WHERE doc_id % 3 = 0 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         f AS (SELECT doc_id, $Dhash60FromGridSql AS fp FROM img),
         bands AS (SELECT doc_id, fp, t.k AS band_idx,
             (fp // (CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                      WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT) % 32768 AS band_val
           FROM f, generate_series(0, 3) t(k))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 8
         ORDER BY doc_a, doc_b"""
    },
    "dd_afp_pairs" -> {
      import MultimodalCatalog.{AfpGridSql, Afp60FromGridSql}
      s"""WITH aud AS (SELECT doc_id, $AfpGridSql AS grid FROM documents
           WHERE doc_id % 3 = 1 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         f AS (SELECT doc_id, $Afp60FromGridSql AS fp FROM aud),
         bands AS (SELECT doc_id, fp, t.k AS band_idx,
             (fp // (CASE t.k WHEN 0 THEN 1 WHEN 1 THEN 32768
                      WHEN 2 THEN 1073741824 ELSE 35184372088832 END)::BIGINT) % 32768 AS band_val
           FROM f, generate_series(0, 3) t(k))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         FROM bands a JOIN bands b
           ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 8
         ORDER BY doc_a, doc_b"""
    },
    "dd_video_pairs" -> {
      import graft.functions.PortableHash
      s"""WITH vid AS (SELECT doc_id, text FROM documents
           WHERE doc_id % 3 = 2 AND regexp_matches(text, '^[\\x00-\\x7F]*$$')),
         fr AS (SELECT doc_id, text,
             unnest(range(0, octet_length(encode(text)), 50)) AS off FROM vid),
         fh AS (SELECT DISTINCT doc_id,
             ${PortableHash.hash64Sql("substr(text, CAST(off AS INT) + 1, 16)")} AS fh
           FROM fr),
         nf AS (SELECT doc_id, COUNT(*) AS nf FROM fh GROUP BY 1),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS shared_frames
           FROM fh a JOIN fh b ON a.fh = b.fh AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         SELECT doc_a, doc_b, CAST(shared_frames AS BIGINT) AS shared_frames,
           round(shared_frames / least(na.nf, nb.nf), 6) AS overlap
         FROM pairs
         JOIN nf na ON na.doc_id = doc_a
         JOIN nf nb ON nb.doc_id = doc_b
         ORDER BY doc_a, doc_b"""
    },
    "dd_media_cluster" ->
      s"""WITH RECURSIVE
         $MediaComponentsCte
         SELECT d.doc_id AS media_id,
           CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COUNT(*) OVER (PARTITION BY COALESCE(l.cluster_id, d.doc_id)) AS cluster_size,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS is_canonical
         FROM documents d LEFT JOIN lbl l ON d.doc_id = l.media_id
         WHERE regexp_matches(d.text, '^[\\x00-\\x7F]*$$')
         ORDER BY media_id""",
    "dd_cluster_assign" ->
      s"""WITH RECURSIVE
         $SimhashComponentsCte
         SELECT d.doc_id,
           COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
           COUNT(*) OVER (PARTITION BY COALESCE(l.cluster_id, d.doc_id)) AS cluster_size,
           d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS is_canonical
         FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
         ORDER BY d.doc_id""",
    "dd_split_leakfree" ->
      s"""WITH RECURSIVE
         $SimhashComponentsCte,
         a AS (SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
               FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id)
         SELECT doc_id, cluster_id,
           CASE WHEN ${hash64Sql("'split:' || CAST(cluster_id AS VARCHAR)")} % 10 < 8
                  THEN 'train'
                WHEN ${hash64Sql("'split:' || CAST(cluster_id AS VARCHAR)")} % 10 < 9
                  THEN 'dev'
                ELSE 'test' END AS split
         FROM a ORDER BY doc_id""",
    "dd_compact" ->
      s"""WITH RECURSIVE
         $SimhashComponentsCte,
         docs AS (SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
         asg AS (SELECT d.doc_id, d.source, d.n_tokens,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id
           FROM docs d LEFT JOIN lbl l ON d.doc_id = l.doc_id),
         pick AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
             ORDER BY n_tokens DESC, doc_id) = 1 AS keep FROM asg)
         SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
           round(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END)::DOUBLE
             / SUM(n_tokens)::DOUBLE, 6) AS kept_frac
         FROM pick GROUP BY source ORDER BY source""",
    "dd_cdc_chunks" ->
      s"""WITH b AS (SELECT doc_id, text, len(text) AS n FROM documents),
         pos AS (SELECT doc_id, text, n,
             list_filter(list_transform(
               generate_series(1, greatest(n - 7, 0)),
               i -> CASE WHEN ${hash64Sql("substr(text, i, 8)")} % 64 = 0
                    THEN i END), x -> x IS NOT NULL) AS bp
           FROM b),
         bnd AS (SELECT doc_id, text,
             [CAST(1 AS BIGINT)] || bp || [CAST(n + 1 AS BIGINT)] AS bs FROM pos),
         ch AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(bs) - 1),
               k -> struct_pack(
                 h := ${hash64Sql("substr(text, bs[k], bs[k+1] - bs[k])")},
                 l := CAST(bs[k+1] - bs[k] AS BIGINT)))) AS c
           FROM bnd)
         SELECT c.h AS chunk_hash, MIN(c.l) AS chunk_len,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           COUNT(*) AS n_occ
         FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
         ORDER BY chunk_hash""",
    // CONTRACT NOTE (bounded loss vs exact oracle): this oracle is exact
    // brute force while the Spark plan is df-capped (dfCap = corpus/50).
    // The plan's recall is exact only under the ZERO-LOSS CONDITION —
    // every probe doc has ≥ ⌊(1−t)|A|⌋+2 shingles with df ≤ dfCap (see
    // containmentPairs scaladoc; ContainmentPropSpec pins the bounded
    // case). ContainmentPropSpec's fixture leg ASSERTS the condition on
    // the gate fixtures, so a future red compare on a boilerplate-heavy
    // corpus is the documented approximation kicking in, not a plan bug:
    // triage by re-checking the condition before touching the plan.
    // The all-pairs form is written as an inverted-index co-count join
    // (exact, not an approximation: containment ≥ 0.8 > 0 implies the
    // pair shares a shingle, so every qualifying pair is emitted by the
    // shingle self-join; the intersection size is the co-count because
    // the shingle lists are distinct). Same VALUES as the quadratic
    // nested-loop form — measured 197 s → 1.9 s at sf0.1, which is what
    // keeps the sf1.0-class oracle sweep inside its per-query budget.
    "dd_containment" ->
      s"""WITH sh AS (SELECT doc_id,
           list_distinct(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS sh
         FROM documents),
         inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS h FROM sh),
         co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS inter, MIN(a.n) AS na
           FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT doc_a, doc_b, inter / na AS containment
         FROM co WHERE inter / na >= 0.8
         ORDER BY doc_a, doc_b""",
    "dd_url_dedup" ->
      """WITH u AS (SELECT doc_id,
           'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM:443/p/'
             || CAST(doc_id % 10 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || '?utm_source=x&id=' || CAST(doc_id % 3 AS VARCHAR)
             || (CASE WHEN doc_id % 5 = 0 THEN '&utm_campaign=y' ELSE '' END)
             || '#s' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         q AS (SELECT doc_id, url,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
               p -> NOT starts_with(p, 'utm_') AND len(p) > 0)), '&') AS pq
           FROM u),
         c AS (SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
             || lower(regexp_extract(url,
                  '^[A-Za-z]+://(?:[Ww][Ww][Ww]\.)?([^/:?#]+)', 1))
             || regexp_replace(regexp_extract(url,
                  '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '')
             || (CASE WHEN length(pq) > 0 THEN '?' || pq ELSE '' END)
               AS canonical_url
           FROM q)
         SELECT canonical_url, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM c GROUP BY 1 ORDER BY keep_id""",
    "dd_bloom_incremental" ->
      s"""WITH h AS (SELECT doc_id, ${hash64Sql("text")} AS content_hash FROM documents),
         b AS (SELECT doc_id, content_hash FROM h WHERE doc_id % 10 = 7),
         c AS (SELECT content_hash, MIN(doc_id) AS dup_of FROM h
               WHERE doc_id % 10 <> 7 GROUP BY 1)
         SELECT b.doc_id, c.dup_of, c.dup_of IS NOT NULL AS is_dup
         FROM b LEFT JOIN c USING (content_hash) ORDER BY b.doc_id""",
    "dd_incremental" -> {
      val mhList = (0 until 8).map(k =>
        minhashSql("hs", MinhashA(k), MinhashB(k))).mkString("[", ", ", "]")
      s"""WITH sh AS (SELECT doc_id, $Shingles3Sql AS sh FROM documents),
         hs AS (SELECT doc_id, sh, list_transform(sh, s -> ${hash31Sql("s")}) AS hs FROM sh),
         mh AS (SELECT doc_id, sh, $mhList AS mh FROM hs),
         bands AS (SELECT doc_id, sh, mh, t.k AS band_idx,
             mh[2*t.k+1] * $Mersenne31 + mh[2*t.k+2] AS band_val
           FROM mh, generate_series(0, 3) t(k)),
         cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id,
             len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
           FROM bands a JOIN bands b
             ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
         best AS (SELECT new_id, MIN(old_id) AS dup_of FROM cand
           WHERE jaccard >= 0.5 GROUP BY 1)
         SELECT d.doc_id, b.dup_of, b.dup_of IS NOT NULL AS is_dup
         FROM documents d LEFT JOIN best b ON d.doc_id = b.new_id
         WHERE d.doc_id % 10 = 7 ORDER BY d.doc_id"""
    },
    "dd_embedding_neardup" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qv
           FROM embeddings
           ORDER BY ${hash64Sql("CAST(vec_id AS VARCHAR)")}, vec_id
           LIMIT 200),
         p AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             ${cosineSql("q.qv", "e.embedding")} AS cos_sim
           FROM embeddings e JOIN q
             ON e.label = q.qlabel AND e.vec_id <> q.query_id)
         SELECT query_id AS vec_id, neighbor_id, cos_sim
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn FROM p) t
         WHERE rn = 1 ORDER BY vec_id""",
    "dd_kmv_distinct" ->
      s"""WITH sh AS (SELECT DISTINCT source, h
           FROM (SELECT source,
                   unnest(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS h
                 FROM documents)),
         kth AS (SELECT source, MAX(h) AS h_k, COUNT(*) AS k_used
           FROM (SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
                 FROM sh) WHERE rn <= 64 GROUP BY 1),
         ex AS (SELECT source, COUNT(*) AS n_exact FROM sh GROUP BY 1),
         est AS (SELECT ex.source, n_exact, h_k, k_used,
             CASE WHEN k_used < 64 THEN n_exact
                  ELSE CAST(round(63.0 / (h_k / 1152921504606846976.0)) AS BIGINT)
             END AS n_est
           FROM ex JOIN kth USING (source))
         SELECT source, n_exact, h_k, k_used, n_est,
           round(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE), 6) AS rel_err
         FROM est ORDER BY source""",
    "dd_kmv_union" ->
      s"""WITH sh AS (SELECT DISTINCT source, h
           FROM (SELECT source,
                   unnest(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS h
                 FROM documents)),
         ps AS (SELECT DISTINCT source, h
           FROM (SELECT source, h,
                   DENSE_RANK() OVER (PARTITION BY source ORDER BY h) AS dr
                 FROM sh) WHERE dr <= 64),
         mg AS (SELECT MAX(h) AS h_k_merged, COUNT(*) AS k_used
           FROM (SELECT DISTINCT h FROM ps ORDER BY h LIMIT 64)),
         dr AS (SELECT MAX(h) AS h_k_direct
           FROM (SELECT DISTINCT h FROM sh ORDER BY h LIMIT 64)),
         st AS (SELECT COUNT(DISTINCT h) AS n_exact,
             COUNT(DISTINCT source) AS n_sources FROM sh),
         est AS (SELECT n_sources, n_exact, k_used, h_k_direct, h_k_merged,
             h_k_merged = h_k_direct AS sketch_agree,
             CASE WHEN k_used < 64 THEN n_exact
                  ELSE CAST(round(63.0 / (h_k_merged / 1152921504606846976.0)) AS BIGINT)
             END AS n_est
           FROM st CROSS JOIN mg CROSS JOIN dr)
         SELECT n_sources, n_exact, k_used, h_k_direct, h_k_merged,
           sketch_agree, n_est,
           round(abs(n_est - n_exact) / CAST(n_exact AS DOUBLE), 6) AS rel_err
         FROM est WHERE n_sources > 0 ORDER BY n_sources""",
    "dd_kmv_prod" ->
      s"""WITH sh AS (SELECT DISTINCT source, h
           FROM (SELECT source,
                   unnest(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS h
                 FROM documents)),
         ps AS (SELECT source, h
           FROM (SELECT source, h,
                   DENSE_RANK() OVER (PARTITION BY source ORDER BY h) AS dr
                 FROM sh) WHERE dr <= 64),
         agg AS (SELECT source, MAX(h) AS h_k, COUNT(*) AS k_used
           FROM ps GROUP BY 1)
         SELECT source, h_k, k_used,
           CASE WHEN k_used < 64 THEN k_used
                ELSE CAST(round(63.0 / (h_k / 1152921504606846976.0)) AS BIGINT)
           END AS n_est
         FROM agg ORDER BY source""",
    "dd_kmv_union_prod" ->
      s"""WITH sh AS (SELECT DISTINCT source, h
           FROM (SELECT source,
                   unnest(list_transform($Shingles3Sql, s -> ${hash64Sql("s")})) AS h
                 FROM documents)),
         ps AS (SELECT source, h
           FROM (SELECT source, h,
                   DENSE_RANK() OVER (PARTITION BY source ORDER BY h) AS dr
                 FROM sh) WHERE dr <= 64),
         mg AS (SELECT MAX(h) AS h_k_merged, COUNT(*) AS k_used
           FROM (SELECT DISTINCT h FROM ps ORDER BY h LIMIT 64)),
         st AS (SELECT COUNT(DISTINCT source) AS n_sources FROM ps)
         SELECT n_sources, k_used, h_k_merged,
           CASE WHEN k_used < 64 THEN k_used
                ELSE CAST(round(63.0 / (h_k_merged / 1152921504606846976.0)) AS BIGINT)
           END AS n_est
         FROM st CROSS JOIN mg WHERE n_sources > 0 ORDER BY n_sources"""
  )
}
