package graft.catalog

import org.apache.spark.sql.functions._
import graft.{Pins, Tables}
import graft.functions.PortableHash

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure column expressions (whole-stage codegen, no UDFs), each with an
  * exact DuckDB oracle.
  *
  * At 100 TB these are embarrassingly parallel map-side transforms: no
  * shuffle, cost scales with input splits, and the regex/hash work happens
  * next to the parquet scan with only the projected columns read.
  */
object TextCatalog extends Catalog {

  private[catalog] val StopEn = Seq("the", "a", "of", "and")
  private[catalog] val StopFr = Seq("le", "la", "et", "les")
  private[catalog] val StopEs = Seq("el", "los", "y", "que")
  private[catalog] val StopDe = Seq("der", "die", "und", "das")

  /** Max multiplicity of any element of a string array — the repetition
    * signal of the Gopher rules. Sorted-run scan: one array_sort plus one
    * linear aggregate, O(n log n) per row. Replaces the count-per-distinct
    * form `array_max(transform(array_distinct(a), x => size(filter(a, _
    * === x))))`, which is O(n·distinct) — quadratic on natural text, i.e.
    * a 10k-word document costs ~10⁸ comparisons instead of ~10⁵ (this was
    * the admission pipeline's hot-loop bottleneck, not a theoretical
    * concern). Value-identical, so the DuckDB oracles keep the explicit
    * count-per-distinct form as an independent formulation. */
  private[catalog] def maxMultiplicity(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, w) => {
        val run = when(w === st("prev"), st("run") + 1L).otherwise(1L)
        struct(w.as("prev"), run.as("run"),
          greatest(st("best"), run).as("best"))
      },
      st => st("best"))

  /** Planted-PII fixture column (the synthetic corpus carries no PII, so
    * deterministic spans are planted per doc to make scrub stages
    * measurable — shared by tx_pii_scrub and pl_corpus_prep). */
  private[graft] def piiPlanted: org.apache.spark.sql.Column = {
    val m5 = col("doc_id") % 5
    concat(col("text"),
      when(m5 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com now")))
      .when(m5 === 1, concat(lit(" call +1555"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
      .when(m5 === 2, concat(lit(" host 10."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string"), lit(".9 logged")))
      .when(m5 === 3, concat(lit(" mail a.b"),
        col("doc_id").cast("string"), lit("@x.org and ip 192.168.1."),
        (col("doc_id") % 200).cast("string"), lit(" end")))
      .otherwise(lit("")))
  }

  private[graft] def piiMatches(c: org.apache.spark.sql.Column, re: String) =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  private[graft] def piiScrubbed(c: org.apache.spark.sql.Column) =
    regexp_replace(regexp_replace(regexp_replace(c,
      PiiEmailRe, "[EMAIL]"), PiiIpRe, "[IP]"), PiiPhoneRe, "[PHONE]")

  /** The admission funnel's PII stage as ONE compiled invocation
    * returning (pii_total, clean_text) — value-identical to
    * `piiMatches ×3 + piiScrubbed` (pinned by PiiParitySpec and the pl_*
    * oracles), cheaper per row: the expression form ran six regex
    * expressions, each converting the full document UTF8String→String and
    * the scrub chain materializing two intermediate document copies
    * between codegen operators. Here the document crosses the boundary
    * once and the email matcher feeds its count and its replacement from
    * the same pass (5 regex passes, not 6; zero redundant conversions).
    * The counts MUST stay on the original text — an email's local part
    * can contain a phone match and its domain an IP match, so counting
    * after a replace would change the totals (which is also why the ip/
    * phone passes cannot fuse count and replace the way email does: their
    * replaces run on the partially-scrubbed text, their counts on the
    * original, exactly the sequential-regexp_replace semantics). */
  private[graft] lazy val piiAdmitUdf = {
    val (emailP, ipP, phoneP) = (
      java.util.regex.Pattern.compile(PiiEmailRe),
      java.util.regex.Pattern.compile(PiiIpRe),
      java.util.regex.Pattern.compile(PiiPhoneRe))
    udf { (text: String) =>
      if (text == null) null
      else {
        def countOf(p: java.util.regex.Pattern): Long = {
          val m = p.matcher(text); var n = 0L
          while (m.find()) n += 1
          n
        }
        val mE = emailP.matcher(text)
        var nEmail = 0L
        val sb = new java.lang.StringBuffer(text.length)
        while (mE.find()) { nEmail += 1; mE.appendReplacement(sb, "[EMAIL]") }
        mE.appendTail(sb)
        val scrub1 = sb.toString
        val scrub2 = ipP.matcher(scrub1).replaceAll("[IP]")
        val clean = phoneP.matcher(scrub2).replaceAll("[PHONE]")
        (nEmail + countOf(ipP) + countOf(phoneP), clean)
      }
    }
  }

  /** Hashed-feature classifier model shape (tx_quality_classifier): 64
    * weight buckets, weights in [-1, 1] derived deterministically from the
    * bucket index by the portable hash (a public stand-in for trained
    * parameters — the oracle recomputes them, so inference is checked
    * value-for-value). */
  private[catalog] val QcBuckets = 64
  private[catalog] val QcSalt = "qw"
  private[catalog] val QcBias = -0.1
  private[catalog] val QcScale = 4.0

  /** Mean hashed-bucket weight of a word array — the raw (pre-sigmoid,
    * pre-bias) margin of the linear model: per word, bucket =
    * hash64(word) % buckets, weight = (hash64(salt || bucket) % 2001 -
    * 1000) / 1000. Collisions sharing one weight IS the hashing trick,
    * not a defect. Compiled (TextHashes.classifierRaw): the interpreted
    * aggregate-HOF form paid two md5 expression trees per word and was
    * the admission pipeline's second hot spot after gram hashing. */
  def hashedClassifierRaw(words: org.apache.spark.sql.Column, buckets: Int,
      salt: String): org.apache.spark.sql.Column =
    graft.functions.TextHashes.classifierRawUdf(buckets, salt)(words)

  /** Deterministic pseudo-shuffle + fixed-size shard packing over
    * (doc_id, source, n_tokens): position = portable hash of the salted
    * doc key (made strictly unique by suffixing the key itself —
    * hash-collision ties would otherwise make the ordinal
    * nondeterministic), global ordinal via the distributed prefix-sum,
    * shard = ⌊ordinal / shardSize⌋, rolled up per shard. */
  def shardShuffle(docs: org.apache.spark.sql.DataFrame,
      shardSize: Long): org.apache.spark.sql.DataFrame = {
    val keyed = docs
      .withColumn("pos", PortableHash.hash64(
        concat(lit("shuf:"), col("doc_id").cast("string"))))
      .withColumn("pos_key", concat(lpad(col("pos").cast("string"), 19, "0"),
        lit(":"), col("doc_id").cast("string")))
      .withColumn("one", lit(1L))
      .withColumn("all", lit(0))
    graft.operators.Packing
      .exclusiveGroupCumsum(keyed, "all", "pos_key", "one", "ordinal")
      .withColumn("shard_id", floor(col("ordinal") / shardSize).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("shard_tokens"),
        count_distinct(col("source")).as("n_sources"))
      .orderBy(col("shard_id"))
  }

  def queries: Map[String, QFn] = Map(

    // ── Language ID: marker-word scoring with deterministic tie-break.
    // (A real corpus would use char-n-gram profiles; the scoring/argmax
    // plumbing is identical and that is what the oracle pins down.)
    "tx_lang_id" -> ((s, d) => {
      val words = split(col("text"), " ")
      def hits(markers: Seq[String]) =
        size(filter(words, w => w.isInCollection(markers))).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          hits(StopEn).as("en_hits"), hits(StopFr).as("fr_hits"),
          hits(StopEs).as("es_hits"), hits(StopDe).as("de_hits"))
        .withColumn("best",
          greatest(col("en_hits"), col("fr_hits"), col("es_hits"), col("de_hits")))
        .select(col("doc_id"), col("lang"),
          when(col("best") === 0, "und")
            .when(col("en_hits") === col("best"), "en")
            .when(col("fr_hits") === col("best"), "fr")
            .when(col("es_hits") === col("best"), "es")
            .otherwise("de").as("predicted_lang"))
        .orderBy(col("doc_id"))
    }),

    // ── Quality scoring: length / word-shape / stopword-ratio features ──
    "tx_quality_score" -> ((s, d) => {
      val words = split(col("text"), " ")
      val nWords = size(words).cast("long")
      val charLen = length(regexp_replace(col("text"), " ", "")).cast("double")
      val stopHits = size(filter(words, w => w.isInCollection(StopEn))).cast("double")
      val avgWordLen = charLen / nWords.cast("double")
      val score =
        least(nWords.cast("double") / 100.0, lit(1.0)) * 0.5 +
          (stopHits / nWords.cast("double")) * 0.3 +
          (lit(1.0) - least(abs(avgWordLen - 4.0) / 4.0, lit(1.0))) * 0.2
      Tables.documents(s, d)
        .select(col("doc_id"), nWords.as("n_words"),
          round(avgWordLen, 6).as("avg_word_len"),
          round(score, 6).as("quality_score"))
        .orderBy(col("doc_id"))
    }),

    // ── Learned quality classifier, inference side (the fasttext-shaped
    // linear model of CCNet/GPT-3-style quality filtering): bag-of-words
    // with the HASHING TRICK — each word maps to one of 64 weight buckets,
    // the doc's raw margin is the mean bucket weight, squashed by a
    // sigmoid, thresholded into a keep decision. The engine's job is the
    // INFERENCE plan, not the training: per-word bucket lookup + weight
    // is a pure map-side column expression (zero shuffle, whole-stage
    // codegen), which is what lets a 100 TB corpus be scored in one scan.
    // The weight table here is a deterministic public stand-in for a
    // trained model — derived from the bucket index by the same portable
    // hash the oracle computes — so the oracle checks the full inference
    // path value-for-value; swapping in real trained weights changes a
    // 64-literal table, not the plan. ──
    "tx_quality_classifier" -> ((s, d) => {
      val words = filter(split(col("text"), " "), w => length(w) > 0)
      val raw = hashedClassifierRaw(words, QcBuckets, QcSalt)
      val margin = lit(QcBias) + lit(QcScale) * raw
      Tables.documents(s, d)
        .select(col("doc_id"), size(words).cast("long").as("n_words"),
          round(raw, 6).as("raw_margin"),
          round(lit(1.0) / (lit(1.0) + exp(-margin)), 6).as("clf_score"),
          (margin >= 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // ── Word-distribution entropy — the information-density signal
    // quality filters pair with the repetition rules: boilerplate and
    // keyword-stuffed docs have low entropy even when no single word
    // dominates (which is all rep_quality's max-frequency rule sees).
    // Shannon entropy over the word distribution plus the
    // vocabulary-normalized form (÷ log2 distinct, the 0..1 scale that
    // compares docs of different lengths). Per-row array expressions,
    // O(distinct·n) bounded by document length — zero shuffle. ──
    "tx_entropy" -> ((s, d) => {
      val words = split(col("text"), " ")
      val n = size(words).cast("double")
      val nd = size(array_distinct(words)).cast("double")
      val ent = aggregate(
        transform(array_distinct(words), w => {
          val p = size(filter(words, x => x === w)).cast("double") / n
          -p * log2(p)
        }), lit(0.0), (acc, x) => acc + x)
      Tables.documents(s, d)
        .select(col("doc_id"), size(words).cast("long").as("n_words"),
          nd.cast("long").as("n_distinct"),
          round(ent, 6).as("entropy"),
          when(nd > 1, round(ent / log2(nd), 6)).as("norm_entropy"))
        .orderBy(col("doc_id"))
    }),

    // ── Token counting: whitespace tokens + BPE-ish regex pre-tokenizer ──
    "tx_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"))
        .orderBy(col("doc_id"))
    }),

    // ── Deterministic stratified sampling: hash-bucket the doc key and
    // keep a per-language permille rate. No RNG — the sample is
    // reproducible across runs/retries (a rerun of a failed partition
    // must select the same rows), and at 100 TB it is a pure map-side
    // filter that pushes nothing through a shuffle. The hash is salted so
    // the sample is independent of every other hash use of doc_id. ──
    "tx_sample_hash" -> ((s, d) => {
      val rate = when(col("lang") === "en", 500L)
        .when(col("lang").isin("fr", "es"), 250L)
        .otherwise(100L)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          pmod(PortableHash.hash64(concat(lit("sample:"), col("doc_id").cast("string"))),
            lit(1000L)).as("bucket"), rate.as("rate_permille"))
        .withColumn("sampled", col("bucket") < col("rate_permille"))
        .orderBy(col("doc_id"))
    }),

    // ── Stratified exact-k sampling: exactly min(k, |stratum|) documents
    // per language, deterministically (salted-hash order, doc_id
    // tiebreak) — the eval-set / ablation-split guarantee tx_sample_hash
    // cannot give: a rate sample's stratum size is binomial, an eval set
    // wants EXACTLY k. Rank-by-hash ≡ a uniform draw without replacement,
    // and the salt makes it independent of the tx_sample_hash draw.
    // Scale shape: the rank ≤ k filter plans as a two-phase
    // WindowGroupLimit — every mapper forwards at most k rows per
    // language, so the exchange carries ≤ k·|langs|·|mappers| rows, not
    // the corpus (pinned in PlanAuditSpec). ──
    "tx_stratified_k" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("pos"), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          PortableHash.hash64(concat(lit("strk:"), col("doc_id").cast("string")))
            .as("pos"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 60)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy(col("lang"), col("rk"))
    }),

    // ── Token-budget shard packing (graft.operators.Packing): documents
    // fill fixed-budget training shards per language in doc_id order via a
    // DISTRIBUTED exclusive prefix sum — range-partition on (lang,
    // doc_id), per-(partition, lang) subtotals, broadcast offsets,
    // partition-local window. A plain lang-partitioned window would
    // funnel each language through one task at scale. ──
    // ── Deterministic global shuffle + shard assignment — the write-side
    // of a training run: SGD wants document order decorrelated from crawl
    // order (adjacent crawl docs share domains/topics), and the shuffle
    // must be REPRODUCIBLE so a re-run of a failed stage or a resumed job
    // lands every doc in the same shard (no RNG — the position is a
    // salted hash of the doc key, the tx_sample_hash discipline). The
    // global ordinal over hash order is the two-phase range-partition +
    // per-partition-offset pattern (Packing.exclusiveGroupCumsum with a
    // constant group — one subtotal row per partition reaches the
    // driver), NOT a single-partition window; at 100 TB the plan is one
    // range shuffle of fixed-width keys. Per-shard rollups then confirm
    // the property the shuffle exists for: every shard sees every source. ──
    "tx_shard_shuffle" -> ((s, d) =>
      shardShuffle(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
        shardSize = 64L)),

    // ── Curriculum ordering (Bengio et al. 2009 curriculum learning, the
    // data-engineering half): rank the corpus easy→hard on a cheap
    // difficulty proxy (chars/token — longer words ≈ denser text) and cut
    // it into 4 training stages, so the loader feeds stage 0 first. The
    // ordering key is the INTEGER ⌊chars·10⁶/tokens⌋, not the rounded
    // double — float rounding must never decide a sort the two engines
    // compare (the tx_dsir_weight −0.0 lesson, applied to ordering).
    // Scale shape: the global rank rides the same range-partition +
    // per-partition-offset ordinal as every packing op (no single-
    // partition window); the stage cut is arithmetic on the rank against
    // a 1-row broadcast total. ──
    "tx_curriculum_order" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("difficulty",
          round(col("n_chars").cast("double") / col("n_tokens"), 6))
        // order by the two non-negative longs directly: the same total
        // order as a zero-padded "%012d%010d" string, without building
        // and comparing a 22-byte string per row per sort pass
        .withColumn("__diff_key", expr("n_chars * 1000000L DIV n_tokens"))
      val total = scored.agg(count(lit(1)).as("__total"))
      graft.operators.Sitemap.withGlobalOrdinalBy(scored,
          Seq(col("__diff_key"), col("doc_id")), "curriculum_rank")
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("difficulty"), col("curriculum_rank"),
          expr("curriculum_rank * 4 DIV __total").as("stage"))
        .orderBy(col("curriculum_rank"))
    }),

    // ── Concat-stream packing — the OTHER packing semantic, the one a
    // GPT-style trainer actually materializes: per language, documents
    // concatenate into one token stream cut at exact multiples of the
    // context budget, so a document may STRADDLE a shard boundary
    // (shard_first ≠ shard_last) and is attributed to every shard its
    // span touches. Contrast tx_pack_budget (first-fit: a doc stays
    // whole in the shard where it starts — eval-shard semantics).
    // Identical scale shape: the span columns are pure arithmetic on the
    // same distributed exclusive prefix sum; no extra shuffle. ──
    "tx_pack_concat" -> ((s, d) => {
      val withTokens = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Packing
        .exclusiveGroupCumsum(withTokens, "lang", "doc_id", "n_tokens", "cum_before")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_before"),
          expr("cum_before DIV 2000").as("shard_first"),
          expr("(cum_before + n_tokens - 1) DIV 2000").as("shard_last"))
        .withColumn("straddles", col("shard_last") > col("shard_first"))
        .orderBy(col("doc_id"))
    }),

    "tx_pack_budget" -> ((s, d) => {
      val withTokens = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
      graft.operators.Packing
        .packByBudget(withTokens, "lang", "doc_id", "n_tokens", budget = 2000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_before"), col("shard_id"))
        .orderBy(col("doc_id"))
    }),

    // ── Benchmark decontamination: flag corpus documents sharing word
    // n-grams with a held-out eval set (the train/test-overlap screen every
    // LM data pipeline runs before training; n=3 here so the synthetic
    // corpus exercises the graded-overlap path — production uses n≈13,
    // which is only this constant). The eval side is docs with
    // doc_id % 97 == 0, standing in for an external benchmark suite.
    //
    // Scale design: n-grams are hashed to 64-bit before the join so the
    // broadcast side and the shuffle keys are fixed-width longs, never
    // strings. The eval n-gram set is broadcast — sized by the BENCHMARK
    // (thousands of docs however big the corpus is), so the corpus side
    // streams map-side against it with no shuffle at all; overlap counts
    // then reduce with map-side partial aggregation. ──
    "tx_decontaminate" -> ((s, d) => {
      // materialize the split once: slice(split(text)) inside the lambda
      // would re-split per gram (no CSE across a lambda boundary)
      val words = col("ws")
      val grams = array_distinct(transform(
        sequence(lit(1), greatest(size(words) - 2, lit(1))),
        i => PortableHash.hash64(array_join(slice(words, i, lit(3)), " "))))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), grams.as("ng"))
      val isEval = col("doc_id") % 97 === 0
      val evalNg = base.filter(isEval)
        .select(explode(col("ng")).as("ng")).distinct()
      val hits = base.filter(!isEval)
        .select(col("doc_id"), explode(col("ng")).as("ng"))
        .join(broadcast(evalNg), Seq("ng"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("overlap_ngrams"))
      Tables.documents(s, d).select(col("doc_id")).filter(!isEval)
        .join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("overlap_ngrams"), lit(0L)).as("overlap_ngrams"),
          (coalesce(col("overlap_ngrams"), lit(0L)) >= 2).as("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // ── Repetition-quality filter (the Gopher/MassiveText repetition
    // rules, word-granular): duplicate-word fraction and top-bigram
    // fraction, with the paper's 0.18 top-2-gram threshold. All per-row
    // array expressions — map-side, zero shuffle; the top-bigram count
    // is the O(n log n) sorted-run maxMultiplicity, bounded by document
    // length, not corpus size. ──
    "tx_rep_quality" -> ((s, d) => {
      // materialize the split once: inside the lambda it would re-run per gram
      val words = col("ws")
      val nWords = size(words).cast("long")
      val bigrams = transform(
        sequence(lit(1), greatest(size(words) - 1, lit(1))),
        i => array_join(slice(words, i, lit(2)), " "))
      val topBigram = maxMultiplicity(bigrams)
      val dupFrac = round(lit(1.0) -
        size(array_distinct(words)).cast("double") / nWords.cast("double"), 6)
      val topFrac = round(
        topBigram.cast("double") / size(bigrams).cast("double"), 6)
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), nWords.as("n_words"),
          dupFrac.as("dup_word_frac"), topFrac.as("top_bigram_frac"))
        .withColumn("low_quality",
          col("dup_word_frac") > 0.5 || col("top_bigram_frac") > 0.18)
        .orderBy(col("doc_id"))
    }),

    // ── Temperature-balanced language sampling (the multilingual-LM
    // resampling rule: q_l ∝ p_l^α, α = 0.3): rare languages are kept
    // whole, dominant ones down-sampled to the tempered share. Selection
    // is the same deterministic salted-hash gate as tx_sample_hash — a
    // rerun of a failed partition must pick the same rows, so no RNG.
    //
    // Scale design: the per-language stats frame has one row per LANGUAGE
    // (bounded, corpus-size-independent), built by a map-side-combined
    // count; it is explicitly broadcast back, so the corpus-side pass is
    // a pure map filter — the only shuffle in the whole plan is the
    // ~|langs|-row count aggregation. keep_micro is materialized as an
    // integer so the per-row gate compares longs, not floats. ──
    "tx_temperature_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      // cached at the COUNT layer: everything below derives from this
      // ≤|langs|-row frame, so the corpus is aggregated exactly once (an
      // uncached counts frame is re-scanned by its own total) and the
      // share/adj arithmetic re-runs only over the tiny cached rows
      val counts = Pins.cache(docs.groupBy(col("lang")).agg(count(lit(1)).as("cnt")),
        "tx_temperature_sample")
      val withShare = counts
        .crossJoin(counts.agg(sum(col("cnt")).as("total")))
        .withColumn("share", col("cnt").cast("double") / col("total").cast("double"))
        .withColumn("adj", pow(col("share"), lit(0.3)))
      // round(6) before the floor: Spark (Java Math.pow) and the oracle
      // (C pow) may differ in the last ulp, and an ulp that crosses an
      // integer boundary would flip keep_micro by 1 — deriving from the
      // same 6-decimal value makes the gate engine-independent
      val weights = withShare
        .crossJoin(withShare.agg(sum(col("adj")).as("z")))
        .select(col("lang"),
          floor(round(least(lit(1.0), (col("adj") / col("z")) / col("share")), 6) * 1e6)
            .cast("long").as("keep_micro"))
      docs.join(broadcast(weights), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("keep_micro"),
          (pmod(PortableHash.hash64(
            concat(lit("tsample:"), col("doc_id").cast("string"))),
            lit(1000000L)) < col("keep_micro")).as("sampled"))
        .orderBy(col("doc_id"))
    }),

    // ── Unigram-LM scoring (the CCNet/perplexity-filter shape, unigram
    // order): score every document by its average token log-probability
    // under a language model estimated FROM the corpus itself, then flag
    // the tail. Two-pass: (1) unigram counts — a map-side-combined
    // groupBy on the token, vocab-sized output, Zipf-skewed keys are
    // exactly what AQE skew-join handles; (2) tokens re-join the model
    // and reduce per doc. At 100 TB the model table is vocab-sized (≪
    // corpus), so pass 2's join is a broadcast in practice — but the plan
    // does not REQUIRE it, so a giant vocab degrades to a shuffle join
    // instead of an OOM. round(6) absorbs cross-engine sum-order ulps. ──
    "tx_unigram_logprob" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      // cached: the vocab table feeds both the scoring join and the
      // total fold — one derivation, not two corpus scans (the same
      // persisted-LM-table reasoning as tx_bigram_logprob)
      val uni = Pins.cache(toks.groupBy(col("w")).agg(count(lit(1)).as("cnt")), "tx_unigram_logprob")
      val total = uni.agg(sum(col("cnt")).as("total"))
      val scored = toks.join(uni, Seq("w")).crossJoin(total)
        .select(col("doc_id"),
          log(col("cnt").cast("double") / col("total").cast("double")).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), round(avg(col("lp")), 6).as("avg_logprob"))
      scored
        .withColumn("ppl", round(exp(-col("avg_logprob")), 4))
        .withColumn("low_quality", col("avg_logprob") < -6.0)
        .orderBy(col("doc_id"))
    }),

    // ── Min-K% Prob (Shi 2023): mean logprob of each document's k%
    // LEAST-probable tokens under the reference LM — the membership-
    // inference signal a pipeline runs to flag benchmark text or
    // memorized content that slipped past n-gram decontamination. A
    // normal document always carries some rare tokens (bottom-k mean
    // stays low); text the model/corpus already contains scores
    // anomalously high because even its rarest tokens are well-predicted.
    // Same LM-table topology as tx_unigram_logprob (vocab-sized unigram
    // table equi-joined onto the token stream — at 100 TB a persisted
    // model table, built once); the extra work over avg-logprob is the
    // per-doc bottom-k selection, done with a per-doc sorted logprob
    // array whose size is bounded by the document's own token count —
    // the same O(doc) state the text column itself occupies. ──
    "tx_minkprob" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      // cached: the vocab table feeds both the scoring join and the
      // total fold — one derivation, not two corpus scans (the same
      // persisted-LM-table reasoning as tx_bigram_logprob)
      val uni = Pins.cache(toks.groupBy(col("w")).agg(count(lit(1)).as("cnt")), "tx_minkprob")
      val total = uni.agg(sum(col("cnt")).as("total"))
      val lp = toks.join(uni, Seq("w")).crossJoin(total)
        .select(col("doc_id"),
          log(col("cnt").cast("double") / col("total").cast("double")).as("lp"))
      lp.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("lp"))).as("lps"),
          count(lit(1)).as("n_tokens"))
        .withColumn("n_k",
          greatest(ceil(col("n_tokens") * lit(0.2)), lit(1.0)).cast("long"))
        .withColumn("mink_score", round(
          aggregate(slice(col("lps"), lit(1), col("n_k").cast("int")),
            lit(0.0), (acc, x) => acc + x) / col("n_k").cast("double"), 6))
        .select(col("doc_id"), col("n_tokens"), col("n_k"), col("mink_score"),
          (col("mink_score") > -3.43).as("flag_memorized"))
        .orderBy(col("doc_id"))
    }),

    // ── Interpolated bigram-LM scoring — one model order up from
    // tx_unigram_logprob, the shape of CCNet's KenLM quality signal
    // (Wenzek 2020 uses a 5-gram; the table/join topology is identical
    // at any order): P(w2|w1) = 0.7·c(w1w2)/c(w1) + 0.3·c(w2)/N, doc
    // score = mean ln P over its transitions. Bigram extraction is a
    // map-side transform over the split array (no shuffle); the unigram
    // table is a vocab-sized aggregation the scoring pass equi-joins —
    // at 100 TB the persisted model, built once and reused, exactly like
    // the DSIR/CCNet tables — while the transition count rides a window
    // over the single exploded transition table (train-and-score in one
    // pass; with a PERSISTED bigram model the join form returns, keyed
    // the same way). ──
    "tx_bigram_logprob" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(explode(split(col("text"), " ")).as("w"))
      // the unigram table IS the model — cache it so its three consumers
      // (c1 join, c2 join, the total fold) share one corpus derivation
      // instead of three full scans (session-scoped, the catalog-cache
      // discipline; at production scale this is the persisted LM table)
      val uni = Pins.cache(toks.groupBy(col("w")).agg(count(lit(1)).as("cnt")), "tx_bigram_logprob")
      val total = uni.agg(sum(col("cnt")).as("total"))
      // split ONCE into a materialized array column: `split(text, ' ')`
      // inside the transform lambda would re-run twice per transition
      // element (no CSE across a lambda boundary), i.e. O(tokens²)
      // string splitting per document.
      val bg = docs
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 1)," +
            " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"))
          .as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      // c12 via a count window over the one exploded transition table —
      // the tx_span_dup_frac shape: the groupBy+join-back form derived
      // the explode TWICE and paid an extra corpus-wide shuffle for the
      // same value (the window hashes bg on (w1,w2), exactly the keys
      // the join would have; skew profile is identical)
      val w12 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1"), col("w2"))
      bg
        .withColumn("c12", count(lit(1)).over(w12))
        .join(uni.select(col("w").as("w1"), col("cnt").as("c1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("cnt").as("c2")), Seq("w2"))
        .crossJoin(total)
        .select(col("doc_id"),
          log(lit(0.7) * col("c12") / col("c1") +
            lit(0.3) * col("c2") / col("total")).as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 6).as("avg_logprob"))
        .withColumn("ppl", round(exp(-col("avg_logprob")), 4))
        .orderBy(col("doc_id"))
    }),

    // ── Context-window chunking: split documents into overlapping
    // fixed-size training chunks (64-token windows, stride 48 → 16-token
    // overlap), the doc→sample splitter that feeds sequence packing
    // (tx_pack_budget downstream). A pure generator: per-row window
    // arithmetic + explode, zero shuffle, output rows ∝ corpus tokens /
    // stride. The tail window clamps (slice never reads past the end) and
    // every doc yields ≥ 1 chunk so no document silently vanishes. ──
    "tx_chunk_split" -> ((s, d) => {
      val ChunkLen = 64
      val Stride = 48
      // split ONCE into a materialized array column: inside the lambda
      // split(text) would re-run per chunk slice.
      val words = col("ws")
      val n = size(words).cast("long")
      val nChunks = greatest(
        ceil((n - lit(ChunkLen)).cast("double") / lit(Stride)).cast("long") + 1L,
        lit(1L))
      val chunks = transform(sequence(lit(0L), nChunks - 1), k =>
        struct(k.as("chunk_idx"),
          slice(words, (k * Stride + 1).cast("int"), lit(ChunkLen)).as("w")))
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"), explode(chunks).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          size(col("c.w")).cast("long").as("n_tokens"),
          PortableHash.hash64(array_join(col("c.w"), " ")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // ── Per-domain quota: keep at most K documents per source (the
    // anti-domination cap every web-corpus pipeline applies so one domain
    // cannot flood the training mix). Selection ranks by a salted hash —
    // i.e. a deterministic uniform sample WITHIN each domain, reproducible
    // under retries like tx_sample_hash. The window partitions by SOURCE
    // (cardinality ∝ corpus, no global ordering); domains smaller than K
    // pass through whole. ──
    "tx_domain_cap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val rankHash = PortableHash.hash64(
        concat(lit("domcap:"), col("doc_id").cast("string")))
      val w = Window.partitionBy(col("source"))
        .orderBy(rankHash, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("kept", col("rank") <= 10)
        .orderBy(col("doc_id"))
    }),

    // ── Cross-document span duplication: for each document, the fraction
    // of its distinct word-5-grams that also occur in OTHER documents —
    // the corpus-wide repetition filter (boilerplate, mirrored pages,
    // license blocks) that within-document tx_rep_quality cannot see.
    // Shape: ONE derivation of the exploded gram frame — the per-gram
    // document frequency is an unordered count window over the gram hash
    // (one shuffle on fixed-width longs, no join-back, no second scan of
    // documents), then a per-doc conditional average. Work ∝ corpus
    // tokens; the only wide shuffles carry (gram_hash) then (doc_id). ──
    "tx_span_dup_frac" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // compiled gram hashing (TextHashes.windowHashes): the interpreted
      // transform/slice/array_join HOF was this query's dominant cost
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.TextHashes
            .windowHashesUdf(5, distinct = true)(col("text"))).as("g"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          round(avg(when(col("df") > 1, 1.0).otherwise(0.0)), 6).as("dup_frac"))
        .withColumn("boilerplate", col("dup_frac") > 0.5)
        .orderBy(col("doc_id"))
    }),

    // ── First-occurrence novelty: the fraction of a document's distinct
    // 3-grams whose FIRST corpus occurrence (min doc_id — ingestion
    // order) is this document. The curation signal behind "the crawl is
    // saturating": aggregate novelty falling across snapshots means new
    // fetches mostly restate the standing corpus, and per-doc novelty ≈ 0
    // identifies documents contributing nothing a dedup threshold would
    // catch. Same plan family as tx_span_dup_frac: one exploded gram
    // table, first-claimant via a min window on the 64-bit gram hash
    // (fixed-width shuffle keys, map-side partial agg), per-doc rollup. ──
    "tx_novelty" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.functions.TextHashes
            .windowHashesUdf(3, distinct = true)(col("text"))).as("g"))
        .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("g"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // ── Duplicated-span REMOVAL — the cleaning step tx_span_dup_frac
    // only measures (C4's "deduplicate three-sentence spans", Raffel
    // 2020; CCNet/RefinedWeb run the same shape): any word covered by a
    // 5-gram that occurs in ≥ 2 distinct documents is dropped, and each
    // document is reassembled from its surviving words. Plan shape at
    // 100 TB: gram df is an equi-shuffle on the 64-bit gram hash
    // (map-side partial count over fixed-width keys), covered positions
    // derive by exploding dup grams only (the duplicated tail, not the
    // corpus), and reassembly is a per-doc sort of surviving (pos, word)
    // pairs — bounded by document length. The corpus text bytes cross a
    // shuffle exactly once (the reassembly groupBy). ──
    "tx_span_scrub" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("word"))
      val grams = docs.select(col("doc_id"),
        posexplode(graft.functions.TextHashes
          .windowHashesUdf(5, distinct = false)(col("text"))).as(Seq("gp0", "g")))
        .select(col("doc_id"), (col("gp0") + 1).as("gp"), col("g"))
      // df = distinct-doc count per gram; grams repeated inside one doc
      // count once (a doc does not make its own spans "duplicated")
      val dupG = grams.groupBy(col("g"))
        .agg(count_distinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2)
      val covered = grams.join(dupG.select(col("g")), Seq("g"), "left_semi")
        .select(col("doc_id"), explode(sequence(col("gp"), col("gp") + 4)).as("p"))
        .distinct()
      val kept = words.join(covered, Seq("doc_id", "p"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("p"), col("word")))),
            x => x("word")), " ").as("clean_text"))
      docs.select(col("doc_id"), size(split(col("text"), " ")).as("n_words"))
        .join(kept, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          (col("n_words") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ── BPE merge statistic — the inner step of tokenizer induction
    // (Sennrich 2016): the most frequent adjacent symbol pairs over the
    // corpus, weighted by word frequency. The 100 TB shape is the whole
    // point: the corpus collapses to the vocab×freq table first (a
    // wordcount — map-side combined, shuffle keyed on the word), and
    // pair counting then runs over DISTINCT words only — vocabulary-
    // sized, not corpus-sized — so each additional merge iteration
    // would rescan megabytes, not terabytes. Top-20 candidates by
    // (count desc, pair asc) gives the learner its next merges;
    // iterating = re-applying the winning merge to the symbol arrays
    // of the vocab table, same plan. ──
    "tx_bpe_step" -> ((s, d) => {
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      val pairs = vocab
        .filter(length(col("word")) > 1)
        .select(col("freq"),
          explode(expr("transform(sequence(1, length(word) - 1)," +
            " i -> substr(word, i, 2))")).as("pair"))
      pairs.groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(20)
        .select(col("pair"), col("pair_count"))
    }),

    // ── BPE iteration proof: apply the step-1 winning merge and recount
    // — the loop body of tokenizer induction, shown distributed. The
    // winning pair (from the same statistic tx_bpe_step ranks) joins the
    // vocab table as a broadcast 1-row frame; application replaces its
    // non-overlapping leftmost occurrences with a single atomic
    // placeholder symbol (chr(1) — replace() semantics are identical in
    // Spark and DuckDB), after which adjacent-symbol pairs are 2-char
    // substrings again. Each iteration rescans the vocab-freq table
    // only; the corpus is never touched after the initial wordcount. ──
    "tx_bpe_apply" -> ((s, d) => {
      val vocab = Pins.cache(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq")), "tx_bpe_apply")
      // ONE pair-count shape for both passes (a drifted copy would let
      // the step statistic and the applied-merge recount diverge): input
      // carries the symbol string in `w` plus any pass-through key cols
      def pairCounts(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) = df
        .filter(length(col("w")) > 1)
        .select(keys.map(col) ++ Seq(col("freq"),
          explode(expr("transform(sequence(1, length(w) - 1)," +
            " i -> substr(w, i, 2))")).as("pair")): _*)
        .groupBy((keys :+ "pair").map(col): _*)
        .agg(sum(col("freq")).as("pair_count"))
      val top1 = pairCounts(vocab.withColumn("w", col("word")), Nil)
        .orderBy(col("pair_count").desc, col("pair")).limit(1)
        .select(col("pair").as("merge_pair"))
      pairCounts(
        vocab.crossJoin(broadcast(top1))
          .withColumn("w", expr("replace(word, merge_pair, chr(1))")),
        Seq("merge_pair"))
        .orderBy(col("pair_count").desc, col("pair"))
        .limit(10)
        .select(col("merge_pair"), col("pair"), col("pair_count"))
    }),

    // ── BPE ENCODE — the tokenizer loop closed: learn the top merge 4
    // times in sequence (each round's pair statistic is computed on the
    // vocab as rewritten by the previous rounds — real induction, not 4
    // independent picks), then price every document in learned tokens.
    // The 100 TB shape is the vocab-table trick end-to-end: all 4
    // learning rounds AND the encode run over the DISTINCT-word table
    // (vocabulary-sized), the chosen merge reaches the workers as a
    // broadcast 1-row frame inside the plan (never collected), and the
    // corpus is touched exactly once at the end — a token-table join
    // (word → token count) in the tx_unigram_logprob shuffle family.
    // chars_per_token is the metric a tokenizer is actually graded by. ──
    "tx_bpe_encode" -> ((s, d) => {
      val vocab = Pins.cache(Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .groupBy(col("word")).agg(count(lit(1)).as("freq")), "tx_bpe_encode")
      def pairCounts(df: org.apache.spark.sql.DataFrame) = df
        .filter(length(col("w")) > 1)
        .select(col("freq"),
          explode(expr("transform(sequence(1, length(w) - 1)," +
            " i -> substr(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))
      var state = vocab.withColumn("w", col("word"))
      for (k <- 1 to 4) {
        val top1 = pairCounts(state)
          .orderBy(col("pair_count").desc, col("pair")).limit(1)
          .select(col("pair").as("mp"))
        // LEFT join against the 1-row winner: when the vocab runs out of
        // pairs before round 4, top1 is EMPTY and a cross join would
        // annihilate the vocabulary — the round must no-op instead
        // two readers per round: next pair count + next rewrite
        state = Pins.cache(state.join(broadcast(top1), lit(true), "left_outer")
          .withColumn("w", when(col("mp").isNull, col("w"))
            .otherwise(expr(s"replace(w, mp, chr($k))"))).drop("mp"), "tx_bpe_encode")
      }
      val wordTokens = state
        .select(col("word"), length(col("w")).cast("long").as("n_tok"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) > 0)
        .join(wordTokens, Seq("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("bpe_tokens"),
          sum(length(col("word")).cast("long")).as("n_chars"))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("bpe_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // ── Gopher-style quality filter pipeline (Rae 2021 §A.1.1): the
    // composed keep/drop DECISION with the first failing rule as the
    // reject reason — the operator a cleaning pipeline actually gates
    // on, built from the same signals the individual tx_* rows measure.
    // Rules in precedence order: word count in [20, 100k]; mean word
    // length in [3, 10]; ≥ 2 distinct stopwords of the document's own
    // language (rule passes vacuously for langs without a stoplist —
    // here zh, matching Gopher's English-centric scoping); max single-
    // word frequency ≤ 0.2 (the repetition rule). Everything except the
    // repetition mode is map-side; the mode is a (doc, word) partial-agg
    // groupBy — token-table shaped, the same shuffle family as
    // tx_unigram_logprob. ──
    "tx_filter_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val words = split(col("text"), " ")
      val nWords = size(words).cast("long")
      val avgLen = length(regexp_replace(col("text"), " ", "")).cast("double") /
        nWords.cast("double")
      val stopList = map(
        lit("en"), typedLit(StopEn), lit("fr"), typedLit(StopFr),
        lit("es"), typedLit(StopEs), lit("de"), typedLit(StopDe))
      val nStops = size(array_intersect(array_distinct(words),
        coalesce(element_at(stopList, col("lang")), typedLit(Seq.empty[String]))))
      val base = docs.select(col("doc_id"), col("lang"), nWords.as("n_words"),
        avgLen.as("avg_len"), nStops.as("n_stops"),
        element_at(stopList, col("lang")).isNotNull.as("has_stoplist"))
      val mode = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("max_c"))
      base.join(mode, Seq("doc_id"))
        .withColumn("rep_ratio",
          round(col("max_c").cast("double") / col("n_words"), 6))
        .withColumn("reason",
          when(col("n_words") < 20 || col("n_words") > 100000, lit("word_count"))
            .when(col("avg_len") < 3.0 || col("avg_len") > 10.0, lit("word_length"))
            .when(col("has_stoplist") && col("n_stops") < 2, lit("stopwords"))
            .when(col("rep_ratio") > 0.2, lit("repetition"))
            .otherwise(lit("")))
        .select(col("doc_id"), (col("reason") === "").as("keep"),
          col("reason"), col("n_words"), col("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // ── Cross-source contamination matrix: pairwise 5-gram overlap
    // between corpus sources — the report a mixing decision reads before
    // upweighting a source (shared grams ⇒ double-counted evidence; a
    // high-overlap pair means dedup BEFORE mixing). Plan: the corpus
    // collapses to DISTINCT (source, gram) first — bounded by
    // |sources| × vocab of grams, not corpus rows — then the pairwise
    // counts are an equi-join on the gram hash; per-gram fan-out is
    // bounded by |sources|², independent of corpus size. ──
    "tx_source_overlap" -> ((s, d) => {
      // ONE corpus-wide exchange: collect_set dedups inside the
      // aggregation state, so grouping the raw exploded pairs by gram
      // directly yields the per-gram source set that a `.distinct()` on
      // (source, gram) followed by the set aggregation would, without the
      // distinct's second full shuffle of the same rows;
      // per-source distinct-gram counts fall out of the same cached sets
      // map-side (explode of ≤|sources| arrays + partial agg).
      val bySets = Pins.cache(Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextHashes
            .windowHashesUdf(5, distinct = true)(col("text"))).as("g"))
        .groupBy(col("g"))
        .agg(sort_array(collect_set(col("source"))).as("srcs")), "tx_source_overlap")
      val sizes = bySets
        .select(explode(col("srcs")).as("source"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
      // per-gram source SET, then the a<b pair expansion map-side — the
      // set (and so the fan-out) is bounded by |sources| however hot the
      // gram
      val shared = bySets
        .filter(size(col("srcs")) >= 2)
        .select(explode(col("srcs")).as("source_a"), col("srcs"))
        .select(col("source_a"), explode(col("srcs")).as("source_b"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("shared_grams"))
      shared
        .join(sizes.select(col("source").as("source_a"), col("n").as("n_a")), Seq("source_a"))
        .join(sizes.select(col("source").as("source_b"), col("n").as("n_b")), Seq("source_b"))
        .select(col("source_a"), col("source_b"),
          col("shared_grams").cast("long").as("shared_grams"),
          round(col("shared_grams") /
            (col("n_a") + col("n_b") - col("shared_grams")), 6).as("jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // ── Document fingerprint: min rolling-hash over 5-gram word shingles ──
    "tx_fingerprint" -> ((s, d) => {
      // materialize the split once: inside the lambda it would re-run per gram
      val words = col("ws")
      val shingles = transform(
        sequence(lit(1), greatest(size(words) - 4, lit(1))),
        i => array_join(slice(words, i, lit(5)), " "))
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          array_min(transform(shingles, sh => PortableHash.hash64(sh))).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // ── TF-IDF keyword extraction: the top-3 most characteristic terms
    // per document — the classic corpus-statistics summarizer (domain
    // tagging, topic routing, search-index boosting). tf is a map-side-
    // combined groupBy(doc, term), CACHED so df derives from it instead
    // of re-scanning and re-exploding the corpus (the tx_span_dup_frac
    // lesson — on a real cluster this cache is the persisted tf table
    // every IR stack keeps). df counts tf's rows per term (one row per
    // doc×term, so row count = document frequency — no count_distinct),
    // and deliberately NOT as a term-partitioned window: a stopword's
    // window partition would be one task holding most of the corpus,
    // while the groupBy+join pair partial-aggregates map-side and AQE
    // splits any skewed join key. The corpus size joins in as a 1-row
    // broadcast. The final top-3 window partitions by doc_id
    // (cardinality ∝ corpus, InferWindowGroupLimit prunes it map-side).
    // tfidf is rounded to 6 BEFORE ranking so the cross-engine ln() ulp
    // cannot reorder near-ties; the term tie-break makes rank total. ──
    "tx_tfidf_keywords" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = Pins.cache(toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")), "tx_tfidf_keywords")
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .withColumn("tfidf", round(
          col("tf").cast("double") *
            log(col("n_docs").cast("double") / col("df").cast("double")), 6))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term"))
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rank"))
    }),

    // ── Per-language top-K n-grams: the boilerplate-DISCOVERY query (the
    // span/rep filters score docs against known repetition; this one
    // surfaces WHAT repeats, for filter-list curation). Counting is a
    // map-side-combined groupBy on (lang, bigram) — vocab-sized output.
    // The final window partitions by lang — a handful of hot keys at
    // corpus scale — but the rank ≤ 10 filter is written in the form
    // Catalyst's InferWindowGroupLimit recognizes, so the physical plan
    // inserts a PARTIAL WindowGroupLimit before the exchange: every map
    // task forwards at most its local top-10 per language, and the lang
    // window ranks ≤ 10×partitions survivors. That IS the two-phase
    // top-k — native, no hand-rolled salt (PlanAuditSpec pins it). ──
    "tx_ngram_topk" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // compiled bigram UDF, not the slice/array_join HOF: lambda HOFs
      // evaluate interpreted per element and dominated the dedup shingle
      // runtime (TextHashes history); same trade here
      val counts = Tables.documents(s, d)
        .select(col("lang"),
          explode(graft.functions.TextHashes.bigramsUdf(col("text"))).as("bigram"))
        .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("cnt"))
      val wLang = Window.partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("bigram"))
      counts
        .withColumn("rank", row_number().over(wLang).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("lang"), col("rank"), col("bigram"), col("cnt"))
        .orderBy(col("lang"), col("rank"))
    }),

    // ── Exact per-language token-length quantiles: the corpus-profile
    // report every mix decision (chunk length, packing budget, length
    // filters) reads first. Spark's exact `percentile` aggregates a
    // value→count map, so memory is ∝ DISTINCT lengths (bounded by the
    // longest document, not the corpus) — exact quantiles are safe here
    // at any scale, unlike on an unbounded-cardinality column (where
    // approx_percentile is the right call). One map-side-combined
    // aggregation, |langs| output rows. ──
    "tx_length_quantiles" -> ((s, d) => {
      val n = size(split(col("text"), " ")).cast("long")
      Tables.documents(s, d)
        .select(col("lang"), n.as("n_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          percentile(col("n_tokens"),
            array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
        .select(col("lang"), col("n_docs"),
          round(element_at(col("qs"), 1), 6).as("p25"),
          round(element_at(col("qs"), 2), 6).as("p50"),
          round(element_at(col("qs"), 3), 6).as("p75"),
          round(element_at(col("qs"), 4), 6).as("p95"))
        .orderBy(col("lang"))
    }),

    // ── DSIR importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw
    // document by how much its hashed-feature distribution looks like
    // the TARGET domain — here the corpus' own 'en' slice stands in for
    // the target (production points this at a curated target set; the
    // plan is identical). Features are hashed-unigram buckets (B=64),
    // so BOTH distribution models are B-row tables: one token-keyed
    // map-side-combined count each, then a 64-row broadcast back onto
    // the token stream — the whole model traffic is O(B) regardless of
    // corpus size, the trick that makes DSIR run at dataset scale.
    // Add-one smoothing keeps empty buckets finite; per-token log ratios
    // average per doc and round(6) absorbs cross-engine ln/sum ulps. ──
    "tx_dsir_weight" -> ((s, d) => {
      val B = 64
      // tokenize ONCE into a cached (doc, lang, bucket)-count table — at
      // most docs×64 rows, the persisted feature table a production DSIR
      // keeps — so the target model, the raw model, and the per-doc
      // scoring all derive from it instead of each re-exploding the
      // corpus token stream (the tx_span_dup_frac / tfidf lesson)
      val bt = Pins.cache(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .withColumn("b", pmod(
          PortableHash.hash64(concat(lit("dsir:"), col("w"))), lit(B.toLong)))
        .groupBy(col("doc_id"), col("lang"), col("b"))
        .agg(count(lit(1)).as("c")), "tx_dsir_weight")
      val tgt = bt.filter(col("lang") === "en")
        .groupBy(col("b")).agg(sum(col("c")).as("ct"))
      val raw = bt.groupBy(col("b")).agg(sum(col("c")).as("cs"))
      val tTot = tgt.agg(sum(col("ct")).as("t_total"))
      val sTot = raw.agg(sum(col("cs")).as("s_total"))
      val model = raw.join(tgt, Seq("b"), "left_outer")
        .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
        .select(col("b"),
          (log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("t_total") + B)) -
            log((col("cs") + 1.0) / (col("s_total") + B))).as("log_ratio"))
      // per-token average = bucket-count-weighted average (exact).
      // + 0.0 normalizes IEEE negative zero: a doc whose average rounds
      // to zero came out -0.0 in DuckDB and +0.0 in Spark at sf1.0 —
      // equal values, but a sign the comparator's row SORT can see
      bt.join(broadcast(model), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          (round(sum(col("c").cast("double") * col("log_ratio")) / sum(col("c")), 6)
            + lit(0.0)).as("avg_log_ratio"))
        .withColumn("upweighted", col("avg_log_ratio") > 0.0)
        .orderBy(col("doc_id"))
    }),

    // ── CCNet-style quality bucketing (Wenzek et al. 2020): split each
    // language into head/middle/tail terciles by unigram-LM score — the
    // shape CCNet uses with wiki-trained KenLM perplexity; the LM here is
    // the corpus unigram model of tx_unigram_logprob. The tercile is NOT
    // a per-lang ntile window (|langs| hot keys funneling the corpus
    // through single tasks): the per-lang rank comes from the
    // distributed range-partition + offset prefix sum (Packing, value=1)
    // over a struct sort key, and ⌊rank·3/n⌋ reproduces NTILE's
    // first-buckets-get-the-remainder split exactly. avg_logprob is
    // rounded to 6 before ordering (cross-engine ln ulps), doc_id breaks
    // ties totally. ──
    "tx_ccnet_bucket" -> ((s, d) => {
      // The token stream is derived twice (LM counts, per-doc scoring) ON
      // PURPOSE: unlike tfidf/DSIR, collapsing it first into a per-doc
      // term-frequency table only pays when documents repeat words — on a
      // repeat-poor corpus tf ≈ the token stream, so the extra
      // (doc, lang, w) shuffle costs more than the second columnar scan
      // it saves (measured: +70% at sf0.1). The LM derivation partial-
      // aggregates map-side to ≤|vocab| shuffle rows, so the re-scan is
      // the cheap leg. Corpora with heavy within-doc repetition flip the
      // trade; then reuse the tfidf tf-table pattern.
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
      // cached: the vocab table feeds both the scoring join and the
      // total fold — one derivation, not two corpus scans (the same
      // persisted-LM-table reasoning as tx_bigram_logprob)
      val uni = Pins.cache(toks.groupBy(col("w")).agg(count(lit(1)).as("cnt")), "tx_ccnet_bucket")
      val total = uni.agg(sum(col("cnt")).as("total"))
      val perDoc = toks.join(uni, Seq("w")).crossJoin(broadcast(total))
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(avg(log(col("cnt").cast("double") / col("total").cast("double"))), 6)
          .as("avg_logprob"))
      val nLang = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val ordered = perDoc
        .withColumn("__one", lit(1L))
        .withColumn("__ord",
          struct((-col("avg_logprob")).as("nlp"), col("doc_id").as("id")))
      val ranked = graft.operators.Packing
        .exclusiveGroupCumsum(ordered, "lang", "__ord", "__one", "rank0")
      ranked.join(broadcast(nLang), Seq("lang"))
        .withColumn("tercile", expr("CAST(rank0 * 3 DIV n_lang AS BIGINT) + 1"))
        .withColumn("bucket",
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle").otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("avg_logprob"),
          col("tercile"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // ── Source-mixture reweighting: the data-mixing step before
    // training — per-source token shares vs a target distribution
    // (uniform here; production points this at DoReMi/curated weights),
    // yielding the per-source sampling weight, capped at 5 epochs the way
    // real mixes bound upsampling of tiny sources. One map-side-combined
    // aggregation to |sources| rows plus a 1-row broadcast total: the
    // whole query's shuffle traffic is O(|sources|) at any corpus size. ──
    "tx_mix_weights" -> ((s, d) => {
      val per = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val tot = per.agg(sum(col("n_tokens")).as("t_total"),
        count(lit(1)).as("n_sources"))
      val target = col("t_total").cast("double") / col("n_sources")
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double") / col("t_total"), 6).as("token_share"),
          round(least(target / col("n_tokens"), lit(5.0)), 6).as("weight"),
          (target / col("n_tokens") > 5.0).as("capped"))
        .orderBy(col("source"))
    }),

    // ── PII redaction: regex detection + scrub of emails / E.164-style
    // phone numbers / IPv4 addresses — the compliance pass every crawl
    // corpus takes before training. The synthetic corpus carries no PII,
    // so each doc deterministically PLANTS its own from doc_id (the
    // tx_domain_cap planted-corpus pattern, identical in both engines);
    // detection must then find exactly what was planted. Pure map-side
    // regex work: at 100 TB an embarrassingly parallel scan-adjacent
    // transform, zero shuffles beyond the output sort, and the three
    // patterns are written in the Java-regex/RE2 common dialect so the
    // same strings run unchanged in Spark codegen and the oracle. ──
    "tx_pii_scrub" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), piiPlanted.as("pii_text"))
        .select(col("doc_id"),
          piiMatches(col("pii_text"), PiiEmailRe).as("n_emails"),
          piiMatches(col("pii_text"), PiiIpRe).as("n_ips"),
          piiMatches(col("pii_text"), PiiPhoneRe).as("n_phones"),
          piiScrubbed(col("pii_text")).as("clean_text"))
        .withColumn("pii_total",
          col("n_emails") + col("n_ips") + col("n_phones"))
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          col("pii_total"), col("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ── PII breadth: SSN-shaped national ids and 16-digit card numbers
    // with a REAL Luhn mod-10 check — the two detectors a production
    // compliance pass adds beyond email/ip/phone. Same planted-corpus
    // pattern as tx_pii_scrub; the planted card's validity varies
    // naturally with doc_id, so the Luhn column discriminates (it is not
    // constant-true). Luhn runs as nested codegen'd collection HOFs over
    // position-indexed digits — no UDF — and redaction scrubs every card
    // CANDIDATE (conservative compliance: a Luhn-failing 16-digit run is
    // still not trainable text) while n_luhn_valid reports how many were
    // verifiably real. Map-side only; the output sort is the lone shuffle. ──
    "tx_pii_extended" -> ((s, d) => {
      val m4 = col("doc_id") % 4
      val ssn = concat(lit("523-"),
        lpad(((col("doc_id") * 3) % 100).cast("string"), 2, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val card = concat(lit("4"),
        lpad((col("doc_id") % 1000000).cast("string"), 6, "0"),
        lpad(((col("doc_id") * 7) % 1000000).cast("string"), 6, "0"),
        lpad(((col("doc_id") * 13) % 1000).cast("string"), 3, "0"))
      val planted = concat(col("text"),
        when(m4 === 0, concat(lit(" id "), ssn, lit(" filed")))
        .when(m4 === 1, concat(lit(" paid with "), card, lit(" ok")))
        .when(m4 === 2, concat(lit(" cards "), card, lit(" and "), ssn, lit(" leaked")))
        .otherwise(lit("")))
      // Luhn over a 16-digit candidate: double every even left-index digit
      // (= every second digit from the right at this fixed length),
      // subtract 9 on overflow, valid iff the sum is ≡ 0 (mod 10)
      def luhnValid(c: org.apache.spark.sql.Column) = {
        val contrib = transform(sequence(lit(0), lit(15)), i => {
          val dg = substring(c, (i + 1).cast("int"), lit(1)).cast("int")
          when(i % 2 === 0, when(dg * 2 > 9, dg * 2 - 9).otherwise(dg * 2))
            .otherwise(dg)
        })
        aggregate(contrib, lit(0), (a, x) => a + x) % 10 === 0
      }
      Tables.documents(s, d)
        .select(col("doc_id"), planted.as("pii_text"))
        .select(col("doc_id"), col("pii_text"),
          regexp_extract_all(col("pii_text"), lit(PiiCardRe), lit(0)).as("cards"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("pii_text"), lit(PiiSsnRe), lit(0)))
            .cast("long").as("n_ssn"),
          size(col("cards")).cast("long").as("n_cards"),
          size(filter(col("cards"), luhnValid _)).cast("long").as("n_luhn_valid"),
          regexp_replace(regexp_replace(col("pii_text"),
            PiiSsnRe, "[SSN]"), PiiCardRe, "[CARD]").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // ── URL/domain quality filter: the C4/RefinedWeb-style source gate —
    // drop documents whose origin domain is blocklisted, spam-TLD'd,
    // tracker-hosted, or suspiciously deep. The corpus' `source` column is
    // a bare label, so the URL is deterministically planted from
    // (source, doc_id) in both engines; the FILTER logic (blocklist
    // membership, TLD class, subdomain depth, tracker prefix) is the
    // operator under test. Map-side only: the blocklist is a literal
    // IN-list (at scale: a broadcast lookup), every feature is a string
    // expression beside the scan, no shuffle beyond the output sort. ──
    "tx_url_filter" -> ((s, d) => {
      val tld = when(col("doc_id") % 3 === 0, ".com")
        .when(col("doc_id") % 3 === 1, ".info").otherwise(".org")
      val sub = when(col("doc_id") % 5 === 0, "ads.")
        .when(col("doc_id") % 5 === 1, "cdn.static.").otherwise("")
      val host = concat(sub, lit("w"), (col("doc_id") % 7).cast("string"),
        lit("."), col("source"), tld)
      val url = concat(lit("https://"), host, lit("/p/"),
        col("doc_id").cast("string"))
      val depth = (length(host) -
        length(regexp_replace(host, "\\.", ""))).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), url.as("url"),
          depth.as("subdomain_depth"),
          sub.startsWith("ads.").as("is_tracker"),
          (tld === ".info").as("spam_tld"),
          col("source").isInCollection(UrlBlocklist).as("blocked_domain"))
        .withColumn("kept",
          !col("is_tracker") && !col("spam_tld") && !col("blocked_domain") &&
            col("subdomain_depth") <= 2)
        .orderBy(col("doc_id"))
    })
  )

  /** PII patterns in the Java-regex/RE2 common dialect (no lookaround, no
    * backrefs) so Spark and DuckDB match identically. */
  private[graft] val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private[graft] val PiiPhoneRe = "\\+\\d{7,15}"
  private val PiiSsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val PiiCardRe = "\\b\\d{16}\\b"

  /** Blocked origin labels for tx_url_filter (at scale: a broadcast
    * blocklist table). */
  private val UrlBlocklist = Seq("src3", "src7", "src13")

  private def hitsSql(markers: Seq[String]) =
    s"CAST(len(list_filter(string_split(text, ' '), w -> list_contains(${markers.mkString("['", "','", "']")}, w))) AS BIGINT)"

  def oracle: Map[String, String] = Map(
    "tx_lang_id" ->
      s"""WITH scored AS (
           SELECT doc_id, lang,
             ${hitsSql(StopEn)} AS en_hits, ${hitsSql(StopFr)} AS fr_hits,
             ${hitsSql(StopEs)} AS es_hits, ${hitsSql(StopDe)} AS de_hits
           FROM documents)
         SELECT doc_id, lang,
           CASE WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0 THEN 'und'
                WHEN en_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'en'
                WHEN fr_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'fr'
                WHEN es_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'es'
                ELSE 'de' END AS predicted_lang
         FROM scored ORDER BY doc_id""",
    "tx_quality_score" ->
      s"""WITH f AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) AS char_len,
             CAST(${hitsSql(StopEn)} AS DOUBLE) AS stop_hits
           FROM documents)
         SELECT doc_id, n_words,
           round(char_len / CAST(n_words AS DOUBLE), 6) AS avg_word_len,
           round(least(CAST(n_words AS DOUBLE) / 100.0, 1.0) * 0.5
                 + (stop_hits / CAST(n_words AS DOUBLE)) * 0.3
                 + (1.0 - least(abs(char_len / CAST(n_words AS DOUBLE) - 4.0) / 4.0, 1.0)) * 0.2,
                 6) AS quality_score
         FROM f ORDER BY doc_id""",
    "tx_quality_classifier" -> {
      val wSql = PortableHash.hash64Sql(
        s"'$QcSalt' || CAST(${PortableHash.hash64Sql("x")} % $QcBuckets AS VARCHAR)")
      s"""WITH w AS (SELECT doc_id,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
           FROM documents),
         r AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
             list_sum(list_transform(words,
               x -> ($wSql % 2001 - 1000)::DOUBLE / 1000.0))
               / CAST(len(words) AS DOUBLE) AS raw
           FROM w)
         SELECT doc_id, n_words, round(raw, 6) AS raw_margin,
           round(1.0 / (1.0 + exp(-($QcBias + $QcScale * raw))), 6) AS clf_score,
           ($QcBias + $QcScale * raw) >= 0 AS keep
         FROM r ORDER BY doc_id"""
    },
    "tx_entropy" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         e AS (SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
             list_sum(list_transform(list_distinct(words), w ->
               -(len(list_filter(words, x -> x = w))::DOUBLE / len(words))
                 * log2(len(list_filter(words, x -> x = w))::DOUBLE / len(words))))
               AS ent
           FROM w)
         SELECT doc_id, n_words, n_distinct, round(ent, 6) AS entropy,
           CASE WHEN n_distinct > 1
             THEN round(ent / log2(n_distinct::DOUBLE), 6) END AS norm_entropy
         FROM e ORDER BY doc_id""",
    "tx_token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
         FROM documents ORDER BY doc_id""",
    "tx_stratified_k" ->
      s"""WITH r AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               ${PortableHash.hash64Sql("'strk:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
           FROM documents)
         SELECT doc_id, lang, rk FROM r WHERE rk <= 60
         ORDER BY lang, rk""",
    "tx_sample_hash" ->
      s"""WITH b AS (SELECT doc_id, lang,
             ${PortableHash.hash64Sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 1000 AS bucket,
             CASE WHEN lang = 'en' THEN 500
                  WHEN lang IN ('fr', 'es') THEN 250
                  ELSE 100 END::BIGINT AS rate_permille
           FROM documents)
         SELECT doc_id, lang, bucket, rate_permille,
           bucket < rate_permille AS sampled
         FROM b ORDER BY doc_id""",
    "tx_shard_shuffle" -> {
      val posSql = PortableHash.hash64Sql("'shuf:' || CAST(doc_id AS VARCHAR)")
      s"""WITH t AS (SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             $posSql AS pos
           FROM documents),
         o AS (SELECT *, row_number() OVER (ORDER BY
             lpad(CAST(pos AS VARCHAR), 19, '0') || ':' || CAST(doc_id AS VARCHAR))
             - 1 AS ordinal FROM t)
         SELECT CAST(ordinal // 64 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         FROM o GROUP BY 1 ORDER BY shard_id"""
    },
    "tx_curriculum_order" ->
      """WITH s AS (SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         r AS (SELECT doc_id,
             round(n_chars::DOUBLE / n_tokens, 6) AS difficulty,
             row_number() OVER (ORDER BY (n_chars * 1000000) // n_tokens, doc_id)
               - 1 AS curriculum_rank,
             COUNT(*) OVER () AS n
           FROM s)
         SELECT doc_id, difficulty, CAST(curriculum_rank AS BIGINT) AS curriculum_rank,
           CAST((curriculum_rank * 4) // n AS BIGINT) AS stage
         FROM r ORDER BY curriculum_rank""",
    "tx_pack_concat" ->
      """WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM t)
         SELECT doc_id, lang, n_tokens, cum_before,
           CAST(cum_before // 2000 AS BIGINT) AS shard_first,
           CAST((cum_before + n_tokens - 1) // 2000 AS BIGINT) AS shard_last,
           (cum_before + n_tokens - 1) // 2000 > cum_before // 2000 AS straddles
         FROM c ORDER BY doc_id""",
    "tx_pack_budget" ->
      """WITH t AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents)
         SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000 AS BIGINT) AS shard_id
         FROM t ORDER BY doc_id""",
    "tx_decontaminate" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         g AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(words) - 2, 1)),
             i -> ${PortableHash.hash64Sql("array_to_string(words[i:i+2], ' ')")})) AS ng
           FROM w),
         ev AS (SELECT DISTINCT unnest(ng) AS ng FROM g WHERE doc_id % 97 = 0),
         hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS overlap_ngrams
           FROM (SELECT doc_id, unnest(ng) AS ng FROM g WHERE doc_id % 97 <> 0) c
           JOIN ev USING (ng) GROUP BY 1)
         SELECT d.doc_id,
           CAST(COALESCE(h.overlap_ngrams, 0) AS BIGINT) AS overlap_ngrams,
           COALESCE(h.overlap_ngrams, 0) >= 2 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id)
         WHERE d.doc_id % 97 <> 0 ORDER BY doc_id""",
    "tx_rep_quality" ->
      """WITH f AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         b AS (SELECT doc_id, words, list_transform(
             generate_series(1, greatest(len(words) - 1, 1)),
             i -> array_to_string(words[i:i+1], ' ')) AS bigrams
           FROM f),
         m AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
             round(1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 6) AS dup_word_frac,
             round(CAST(list_max(list_transform(list_distinct(bigrams),
               x -> len(list_filter(bigrams, y -> y = x)))) AS DOUBLE) / len(bigrams), 6) AS top_bigram_frac
           FROM b)
         SELECT doc_id, n_words, dup_word_frac, top_bigram_frac,
           dup_word_frac > 0.5 OR top_bigram_frac > 0.18 AS low_quality
         FROM m ORDER BY doc_id""",
    "tx_temperature_sample" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
         t AS (SELECT SUM(cnt) AS total FROM c),
         s AS (SELECT lang, CAST(cnt AS DOUBLE) / total AS share,
             pow(CAST(cnt AS DOUBLE) / total, 0.3) AS adj FROM c, t),
         z AS (SELECT SUM(adj) AS z FROM s),
         w AS (SELECT lang,
             CAST(floor(round(least(1.0, (adj / z.z) / share), 6) * 1e6) AS BIGINT) AS keep_micro
           FROM s, z)
         SELECT d.doc_id, d.lang, w.keep_micro,
           ${PortableHash.hash64Sql("'tsample:' || CAST(doc_id AS VARCHAR)")} % 1000000 < w.keep_micro AS sampled
         FROM documents d JOIN w USING (lang) ORDER BY d.doc_id""",
    "tx_novelty" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(words) - 2, 1)),
             i -> ${PortableHash.hash64Sql("array_to_string(words[i:i+2], ' ')")}))) AS g
           FROM w),
         f AS (SELECT doc_id, g, MIN(doc_id) OVER (PARTITION BY g) AS first_doc FROM g)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           round(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) / (COUNT(*) * 1.0), 6) AS novelty
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    "tx_span_dup_frac" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(words) - 4, 1)),
             i -> ${PortableHash.hash64Sql("array_to_string(words[i:i+4], ' ')")}))) AS g
           FROM w),
         dfs AS (SELECT g, COUNT(*) AS df FROM g GROUP BY 1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           round(AVG(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_frac,
           round(AVG(CASE WHEN df > 1 THEN 1.0 ELSE 0.0 END), 6) > 0.5 AS boilerplate
         FROM g JOIN dfs USING (g) GROUP BY doc_id ORDER BY doc_id""",
    "tx_bigram_logprob" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         toks AS (SELECT unnest(ws) AS w FROM w),
         uni AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT SUM(cnt) AS total FROM uni),
         bg0 AS (SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
           FROM w WHERE len(ws) >= 2),
         bg AS (SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2 FROM bg0),
         bi AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
         scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(AVG(ln(0.7 * bi.c12 / u1.cnt + 0.3 * u2.cnt / tot.total)), 6)
               AS avg_logprob
           FROM bg JOIN bi USING (w1, w2)
           JOIN uni u1 ON u1.w = bg.w1
           JOIN uni u2 ON u2.w = bg.w2, tot
           GROUP BY doc_id)
         SELECT doc_id, n_bigrams, avg_logprob,
           round(exp(-avg_logprob), 4) AS ppl
         FROM scored ORDER BY doc_id""",
    "tx_bpe_apply" ->
      """WITH v AS (SELECT w AS word, COUNT(*) AS freq FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w),
         p1 AS (SELECT unnest(list_transform(
               generate_series(1, length(word) - 1), i -> substr(word, i, 2))) AS pair,
             freq
           FROM v WHERE length(word) > 1),
         top1 AS (SELECT pair AS merge_pair FROM
           (SELECT pair, SUM(freq) AS s FROM p1 GROUP BY pair
            ORDER BY s DESC, pair LIMIT 1)),
         m AS (SELECT merge_pair, replace(word, merge_pair, chr(1)) AS w, freq
           FROM v, top1),
         p2 AS (SELECT merge_pair, unnest(list_transform(
               generate_series(1, length(w) - 1), i -> substr(w, i, 2))) AS pair,
             freq
           FROM m WHERE length(w) > 1)
         SELECT merge_pair, pair, CAST(SUM(freq) AS BIGINT) AS pair_count
         FROM p2 GROUP BY merge_pair, pair
         ORDER BY pair_count DESC, pair LIMIT 10""",
    "tx_bpe_encode" -> {
      // four sequential merge stages, each generated from the previous
      // state — sN mirrors the Spark loop's round N exactly
      val stages = (1 to 4).map { k =>
        s"""p$k AS (SELECT unnest(list_transform(
               generate_series(1, length(w) - 1), i -> substr(w, i, 2))) AS pair, freq
             FROM s${k - 1} WHERE length(w) > 1),
           t$k AS (SELECT pair FROM (SELECT pair, SUM(freq) AS s FROM p$k
             GROUP BY pair ORDER BY s DESC, pair LIMIT 1)),
           s$k AS (SELECT word, freq, CASE WHEN (SELECT pair FROM t$k) IS NULL
               THEN w ELSE replace(w, (SELECT pair FROM t$k), chr($k)) END AS w
             FROM s${k - 1})"""
      }.mkString(",\n         ")
      s"""WITH v AS (SELECT w AS word, COUNT(*) AS freq FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w),
         s0 AS (SELECT word, freq, word AS w FROM v),
         $stages,
         wt AS (SELECT word, CAST(length(w) AS BIGINT) AS n_tok FROM s4),
         dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents)
         SELECT doc_id, COUNT(*) AS n_words,
           CAST(SUM(n_tok) AS BIGINT) AS bpe_tokens,
           CAST(SUM(length(word)) AS BIGINT) AS n_chars,
           round(SUM(length(word))::DOUBLE / SUM(n_tok), 6) AS chars_per_token
         FROM dw JOIN wt USING (word) WHERE length(word) > 0
         GROUP BY doc_id ORDER BY doc_id"""
    },
    "tx_filter_pipeline" -> {
      def lst(ws: Seq[String]) = s"['${ws.mkString("','")}']"
      s"""WITH wc AS (SELECT doc_id, w, COUNT(*) AS c FROM
           (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
           GROUP BY 1, 2),
         mx AS (SELECT doc_id, MAX(c) AS max_c FROM wc GROUP BY 1),
         f AS (SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(length(replace(text, ' ', '')) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_len,
             len(list_intersect(list_distinct(string_split(text, ' ')),
               CASE lang WHEN 'en' THEN ${lst(StopEn)} WHEN 'fr' THEN ${lst(StopFr)}
                 WHEN 'es' THEN ${lst(StopEs)} WHEN 'de' THEN ${lst(StopDe)}
                 ELSE [] END)) AS n_stops,
             lang IN ('en', 'fr', 'es', 'de') AS has_stoplist
           FROM documents),
         r AS (SELECT f.doc_id, f.n_words,
             round(CAST(max_c AS DOUBLE) / f.n_words, 6) AS rep_ratio,
             CASE WHEN f.n_words < 20 OR f.n_words > 100000 THEN 'word_count'
               WHEN avg_len < 3.0 OR avg_len > 10.0 THEN 'word_length'
               WHEN has_stoplist AND n_stops < 2 THEN 'stopwords'
               WHEN round(CAST(max_c AS DOUBLE) / f.n_words, 6) > 0.2 THEN 'repetition'
               ELSE '' END AS reason
           FROM f JOIN mx USING (doc_id))
         SELECT doc_id, reason = '' AS keep, reason, n_words, rep_ratio
         FROM r ORDER BY doc_id""" },
    "tx_source_overlap" ->
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
         g0 AS (SELECT source, unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(words) - 4, 1)),
             i -> ${PortableHash.hash64Sql("array_to_string(words[i:i+4], ' ')")}))) AS g
           FROM w),
         g AS (SELECT DISTINCT source, g FROM g0),
         n AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
         sh AS (SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS shared
           FROM g a JOIN g b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
         SELECT source_a, source_b, CAST(shared AS BIGINT) AS shared_grams,
           round(shared / (na.n + nb.n - shared), 6) AS jaccard
         FROM sh JOIN n na ON na.source = source_a JOIN n nb ON nb.source = source_b
         ORDER BY source_a, source_b""",
    "tx_span_scrub" ->
      s"""WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         wp0 AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS p, ws FROM w),
         wp AS (SELECT doc_id, p, ws[p] AS word FROM wp0),
         g0 AS (SELECT doc_id, unnest(generate_series(1, greatest(len(ws) - 4, 1))) AS gp, ws FROM w),
         g AS (SELECT doc_id, gp,
             ${PortableHash.hash64Sql("array_to_string(ws[gp:gp+4], ' ')")} AS g
           FROM g0),
         dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
         cov AS (SELECT DISTINCT doc_id, p FROM
           (SELECT doc_id, unnest(generate_series(gp, gp + 4)) AS p
            FROM g JOIN dup USING (g))),
         kept AS (SELECT wp.doc_id, wp.p, wp.word FROM wp
           LEFT JOIN cov ON wp.doc_id = cov.doc_id AND wp.p = cov.p
           WHERE cov.p IS NULL),
         res AS (SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(word, ' ' ORDER BY p) AS clean_text
           FROM kept GROUP BY doc_id)
         SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
           coalesce(clean_text, '') AS clean_text
         FROM documents d LEFT JOIN res USING (doc_id) ORDER BY doc_id""",
    "tx_bpe_step" ->
      """WITH v AS (SELECT w AS word, COUNT(*) AS freq FROM
           (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
           WHERE length(w) > 0 GROUP BY w),
         p AS (SELECT unnest(list_transform(
               generate_series(1, length(word) - 1), i -> substr(word, i, 2))) AS pair,
             freq
           FROM v WHERE length(word) > 1)
         SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
         FROM p GROUP BY pair
         ORDER BY pair_count DESC, pair LIMIT 20""",
    "tx_domain_cap" ->
      s"""SELECT doc_id, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY ${PortableHash.hash64Sql("'domcap:' || CAST(doc_id AS VARCHAR)")}, doc_id)
             AS BIGINT) AS rank,
           ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY ${PortableHash.hash64Sql("'domcap:' || CAST(doc_id AS VARCHAR)")}, doc_id) <= 10 AS kept
         FROM documents ORDER BY doc_id""",
    "tx_chunk_split" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         c AS (SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(greatest(
                 ceil((len(words) - 64) / 48.0) + 1, 1) AS BIGINT) - 1),
               k -> struct_pack(chunk_idx := k,
                 w := words[k*48+1 : k*48+64]))) AS ch
           FROM w)
         SELECT doc_id, ch.chunk_idx AS chunk_idx,
           CAST(len(ch.w) AS BIGINT) AS n_tokens,
           ${PortableHash.hash64Sql("array_to_string(ch.w, ' ')")} AS chunk_hash
         FROM c ORDER BY doc_id, chunk_idx""",
    "tx_minkprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         uni AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT SUM(cnt) AS total FROM uni),
         lp AS (SELECT doc_id, ln(CAST(cnt AS DOUBLE) / total) AS lp
           FROM toks JOIN uni USING (w), tot),
         g AS (SELECT doc_id, list_sort(list(lp)) AS lps,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
           FROM lp GROUP BY doc_id),
         k AS (SELECT doc_id, n_tokens,
             GREATEST(CAST(ceil(n_tokens * 0.2) AS BIGINT), 1) AS n_k, lps FROM g),
         sc AS (SELECT doc_id, n_tokens, n_k,
             round(list_sum(lps[1:CAST(n_k AS INT)]) / n_k, 6) AS mink_score FROM k)
         SELECT doc_id, n_tokens, n_k, mink_score,
           mink_score > -3.43 AS flag_memorized
         FROM sc ORDER BY doc_id""",
    "tx_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         uni AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT SUM(cnt) AS total FROM uni),
         scored AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             round(AVG(ln(CAST(cnt AS DOUBLE) / total)), 6) AS avg_logprob
           FROM toks JOIN uni USING (w), tot GROUP BY doc_id)
         SELECT doc_id, n_tokens, avg_logprob,
           round(exp(-avg_logprob), 4) AS ppl,
           avg_logprob < -6.0 AS low_quality
         FROM scored ORDER BY doc_id""",
    "tx_fingerprint" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         sh AS (SELECT doc_id,
             list_transform(generate_series(1, greatest(len(words) - 4, 1)),
               i -> array_to_string(words[i:i+4], ' ')) AS shingles
           FROM w)
         SELECT doc_id,
           list_min(list_transform(shingles, s -> ${PortableHash.hash64Sql("s")})) AS fingerprint
         FROM sh ORDER BY doc_id""",
    "tx_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
         df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, term, tf, df,
             round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
           FROM tf JOIN df USING (term), n),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, term) AS rank FROM sc)
         SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, tfidf
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    "tx_ngram_topk" ->
      """WITH w AS (SELECT lang, string_split(text, ' ') AS words FROM documents),
         b AS (SELECT lang, unnest(list_transform(
             generate_series(1, greatest(len(words) - 1, 1)),
             i -> array_to_string(words[i:i+1], ' '))) AS bigram FROM w),
         c AS (SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY cnt DESC, bigram) AS rank FROM c)
         SELECT lang, CAST(rank AS BIGINT) AS rank, bigram, cnt
         FROM r WHERE rank <= 10 ORDER BY lang, rank""",
    "tx_length_quantiles" ->
      """WITH t AS (SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             FROM documents),
         q AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             quantile_cont(n_tokens, [0.25, 0.5, 0.75, 0.95]) AS qs
           FROM t GROUP BY 1)
         SELECT lang, n_docs, round(qs[1], 6) AS p25, round(qs[2], 6) AS p50,
           round(qs[3], 6) AS p75, round(qs[4], 6) AS p95
         FROM q ORDER BY lang""",
    "tx_dsir_weight" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
         tb AS (SELECT doc_id, lang,
             ${PortableHash.hash64Sql("'dsir:' || w")} % 64 AS b FROM toks),
         tgt AS (SELECT b, COUNT(*) AS ct FROM tb WHERE lang = 'en' GROUP BY 1),
         raw AS (SELECT b, COUNT(*) AS cs FROM tb GROUP BY 1),
         tt AS (SELECT SUM(ct) AS t_total FROM tgt),
         st AS (SELECT SUM(cs) AS s_total FROM raw),
         model AS (SELECT r.b,
             ln((COALESCE(t.ct, 0) + 1.0) / (tt.t_total + 64))
               - ln((r.cs + 1.0) / (st.s_total + 64)) AS log_ratio
           FROM raw r LEFT JOIN tgt t ON r.b = t.b, tt, st)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(AVG(m.log_ratio), 6) + 0.0 AS avg_log_ratio,
           round(AVG(m.log_ratio), 6) > 0.0 AS upweighted
         FROM tb JOIN model m USING (b) GROUP BY doc_id ORDER BY doc_id""",
    "tx_ccnet_bucket" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
         uni AS (SELECT w, COUNT(*) AS cnt FROM toks GROUP BY 1),
         tot AS (SELECT SUM(cnt) AS total FROM uni),
         sc AS (SELECT doc_id, lang,
             round(AVG(ln(CAST(cnt AS DOUBLE) / total)), 6) AS avg_logprob
           FROM toks JOIN uni USING (w), tot GROUP BY doc_id, lang),
         r AS (SELECT *, NTILE(3) OVER (PARTITION BY lang
             ORDER BY avg_logprob DESC, doc_id) AS tercile FROM sc)
         SELECT doc_id, lang, avg_logprob, CAST(tercile AS BIGINT) AS tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         FROM r ORDER BY doc_id""",
    "tx_mix_weights" ->
      """WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY source),
         tot AS (SELECT SUM(n_tokens) AS t_total, COUNT(*) AS n_sources FROM per)
         SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / t_total, 6) AS token_share,
           round(least((CAST(t_total AS DOUBLE) / n_sources) / n_tokens, 5.0), 6) AS weight,
           (CAST(t_total AS DOUBLE) / n_sources) / n_tokens > 5.0 AS capped
         FROM per, tot ORDER BY source""",
    "tx_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, text || CASE doc_id % 5
           WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
           WHEN 1 THEN ' call +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
           WHEN 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
             || CAST((doc_id * 7) % 256 AS VARCHAR) || '.9 logged'
           WHEN 3 THEN ' mail a.b' || CAST(doc_id AS VARCHAR) || '@x.org and ip 192.168.1.'
             || CAST(doc_id % 200 AS VARCHAR) || ' end'
           ELSE '' END AS pii_text
         FROM documents),
         c AS (SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '$PiiEmailRe')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '$PiiIpRe')) AS BIGINT) AS n_ips,
           CAST(len(regexp_extract_all(pii_text, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(pii_text,
             '$PiiEmailRe', '[EMAIL]', 'g'), '$PiiIpRe', '[IP]', 'g'),
             '$PiiPhoneRe', '[PHONE]', 'g') AS clean_text
         FROM p)
         SELECT doc_id, n_emails, n_ips, n_phones,
           n_emails + n_ips + n_phones AS pii_total, clean_text
         FROM c ORDER BY doc_id""",
    "tx_pii_extended" -> {
      val luhnDigit = (pos: String) =>
        s"CAST(substr(cd, CAST($pos AS INT) + 1, 1) AS INT)"
      s"""WITH ids AS (SELECT doc_id, text,
           '523-' || lpad(CAST((doc_id * 3) % 100 AS VARCHAR), 2, '0') || '-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS ssn,
           '4' || lpad(CAST(doc_id % 1000000 AS VARCHAR), 6, '0')
             || lpad(CAST((doc_id * 7) % 1000000 AS VARCHAR), 6, '0')
             || lpad(CAST((doc_id * 13) % 1000 AS VARCHAR), 3, '0') AS card
         FROM documents),
         p AS (SELECT doc_id, text || CASE doc_id % 4
           WHEN 0 THEN ' id ' || ssn || ' filed'
           WHEN 1 THEN ' paid with ' || card || ' ok'
           WHEN 2 THEN ' cards ' || card || ' and ' || ssn || ' leaked'
           ELSE '' END AS pii_text
         FROM ids),
         c AS (SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '$PiiSsnRe')) AS BIGINT) AS n_ssn,
           regexp_extract_all(pii_text, '$PiiCardRe') AS cards,
           regexp_replace(regexp_replace(pii_text,
             '$PiiSsnRe', '[SSN]', 'g'), '$PiiCardRe', '[CARD]', 'g') AS clean_text
         FROM p)
         SELECT doc_id, n_ssn, CAST(len(cards) AS BIGINT) AS n_cards,
           CAST(len(list_filter(cards, cd ->
             list_sum(list_transform(range(0, 16), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN 2 * ${luhnDigit("i")} > 9
                      THEN 2 * ${luhnDigit("i")} - 9
                      ELSE 2 * ${luhnDigit("i")} END
               ELSE ${luhnDigit("i")} END)) % 10 = 0)) AS BIGINT) AS n_luhn_valid,
           clean_text
         FROM c ORDER BY doc_id"""
    },
    "tx_url_filter" ->
      s"""WITH u AS (SELECT doc_id, source,
           CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.info' ELSE '.org' END AS tld,
           CASE doc_id % 5 WHEN 0 THEN 'ads.' WHEN 1 THEN 'cdn.static.' ELSE '' END AS sub
         FROM documents),
         h AS (SELECT doc_id, source, tld, sub,
           sub || 'w' || CAST(doc_id % 7 AS VARCHAR) || '.' || source || tld AS host
         FROM u),
         f AS (SELECT doc_id, source,
           'https://' || host || '/p/' || CAST(doc_id AS VARCHAR) AS url,
           CAST(length(host) - length(replace(host, '.', '')) AS BIGINT) AS subdomain_depth,
           starts_with(sub, 'ads.') AS is_tracker,
           tld = '.info' AS spam_tld,
           source IN (${UrlBlocklist.map("'" + _ + "'").mkString(", ")}) AS blocked_domain
         FROM h)
         SELECT doc_id, source, url, subdomain_depth, is_tracker, spam_tld,
           blocked_domain,
           (NOT is_tracker) AND (NOT spam_tld) AND (NOT blocked_domain)
             AND subdomain_depth <= 2 AS kept
         FROM f ORDER BY doc_id"""
  )
}
