package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf
import java.security.MessageDigest

/** Compiled implementations of the fingerprint family from
  * [[PortableHash]] — bit-identical to the DuckDB oracle SQL mirrors, but
  * evaluated as tight JVM loops instead of nested Catalyst higher-order
  * functions.
  *
  * Why: Catalyst HOF lambdas (`transform`/`aggregate`) evaluate
  * interpreted, with per-element boxing — measured ~5 ms/document for the
  * 32-bit simhash (32 bit-planes × words), i.e. the fingerprint cost
  * dominated the whole dedup pipeline at sf0.1 and would burn a cluster at
  * scale. The same math in compiled Scala is ~100× cheaper; the UDF
  * boundary costs one string per row. (A native Catalyst Expression with
  * doGenCode would shave the last UDF overhead; the math below is already
  * the dominant win.)
  */
object TextHashes {

  import PortableHash.{Mersenne31, SimhashA, SimhashB}

  private val simhashA: Array[Long] = SimhashA.toArray
  private val simhashB: Array[Long] = SimhashB.toArray

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  private def md5hex(s: String): String = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) & 0xf0) >> 4)
      out(2 * i + 1) = HexChars(d(i) & 0x0f)
      i += 1
    }
    new String(out)
  }

  /** hash64: first 15 hex chars of md5 as a 60-bit long (= PortableHash.hash64). */
  def hash64(s: String): Long = java.lang.Long.parseLong(md5hex(s).substring(0, 15), 16)

  /** hash31: hash64 mod (2^31-1) (= PortableHash.hash31). */
  def hash31(s: String): Long = hash64(s) % Mersenne31

  /** 32-bit simhash over whitespace tokens: bit_j set iff
    * sum over words of (((h*a_j+b_j) mod p) mod 2)*2-1 is positive.
    * Token split matches Spark `split(text, " ")` / DuckDB string_split. */
  def simhash32(text: String): Long = simhashN(text, 32)

  /** 60-bit simhash: the widest fingerprint whose banded arithmetic stays
    * sign-safe as a BIGINT in both engines (bit 63 would go negative in
    * signed 64-bit; DuckDB errors on overflow rather than wrapping). Used
    * with 4 LSH bands × 15 bits. */
  def simhash60(text: String): Long = simhashN(text, 60)

  private def simhashN(text: String, bits: Int): Long = {
    val words = text.split(" ", -1)
    val acc = new Array[Long](bits)
    var i = 0
    while (i < words.length) {
      val h = hash31(words(i))
      var j = 0
      while (j < bits) {
        acc(j) += ((h * simhashA(j) + simhashB(j)) % Mersenne31) % 2 * 2 - 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < bits) {
      if (acc(j) > 0) out += 1L << j
      j += 1
    }
    out
  }

  /** Distinct word-3-gram shingles (matches the HOF/DuckDB shingle defs:
    * windows starting at 1..max(len-2, 1), slice of up to 3 words). */
  def shingles3(text: String): Array[String] = {
    val words = text.split(" ", -1)
    val n = math.max(words.length - 2, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < n) {
      seen.add(words.slice(i, math.min(i + 3, words.length)).mkString(" "))
      i += 1
    }
    seen.toArray(new Array[String](seen.size))
  }

  /** Word bigrams, NON-distinct, in document order (matches the HOF/SQL
    * defs: windows starting at 1..max(len-1, 1), slice of up to 2 words —
    * a single-word doc yields that word). */
  def bigrams(text: String): Array[String] = {
    val words = text.split(" ", -1)
    val n = math.max(words.length - 1, 1)
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i + 1 < words.length) words(i) + " " + words(i + 1) else words(i)
      i += 1
    }
    out
  }

  /** hash64 of every word-n-gram window (windows start at 1..max(len-(n-1),
    * 1); the tail window of a short doc clamps — same window rule as
    * shingles3). `distinct` keeps first occurrences only. Compiled
    * replacement for `transform(sequence(...), i -> hash64(array_join(
    * slice(words, i, n))))`, whose interpreted lambda dominated the gram
    * pipelines the way the shingle HOF once dominated dedup. */
  def windowHashes(text: String, n: Int, distinct: Boolean): Array[Long] = {
    val words = text.split(" ", -1)
    val cnt = math.max(words.length - (n - 1), 1)
    val sb = new java.lang.StringBuilder
    def gram(start: Int): String = {
      sb.setLength(0)
      val end = math.min(start + n, words.length)
      var j = start
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      sb.toString
    }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i < cnt) { seen.add(hash64(gram(i))); i += 1 }
      val out = new Array[Long](seen.size)
      val it = seen.iterator
      var k = 0
      while (it.hasNext) { out(k) = it.next(); k += 1 }
      out
    } else {
      val out = new Array[Long](cnt)
      var i = 0
      while (i < cnt) { out(i) = hash64(gram(i)); i += 1 }
      out
    }
  }

  /** 31-bit hashes of the distinct shingles. */
  def shingleHashes(text: String): Array[Long] = shingles3(text).map(hash31)

  /** k minhash values over the shingle-hash set with the PortableHash
    * coefficient family. */
  def minhashes(text: String, k: Int): Array[Long] = {
    val hs = shingleHashes(text)
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = PortableHash.MinhashA(j); val b = PortableHash.MinhashB(j)
      var best = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (hs(i) * a + b) % Mersenne31
        if (v < best) best = v
        i += 1
      }
      out(j) = best
      j += 1
    }
    out
  }

  /** Hashed-feature linear-classifier raw score (= TextCatalog
    * .hashedClassifierRaw's arithmetic): mean over words of the bucket
    * weight, bucket = hash64(word) % buckets, weight = (hash64(salt ||
    * bucket) % 2001 − 1000) / 1000. Two md5 evaluations per word made the
    * interpreted aggregate the admission pipeline's second hot spot.
    * Precondition: `words` is non-empty (the column wrapper returns NULL
    * for null/empty input, matching the Catalyst expression this
    * replaced; calling this directly on an empty Seq would yield 0.0/0). */
  def classifierRaw(words: Seq[String], buckets: Int, salt: String): Double = {
    var sum = 0.0
    var i = 0
    val it = words.iterator
    while (it.hasNext) {
      val w = it.next()
      sum += (hash64(salt + (hash64(w) % buckets).toString) % 2001 - 1000) / 1000.0
      i += 1
    }
    sum / i
  }

  /** One content-defined chunk: 60-bit hash + length in chars. */
  case class Chunk(h: Long, l: Long)

  /** Content-defined chunking (= the expression form documented at
    * graft.catalog.DedupCatalog.cdcChunks, bit-identical): boundaries at
    * 1-based positions i ∈ [1, n−7] where hash64 of the 8-char window at
    * i has its low 6 bits zero; chunks span consecutive boundaries of
    * the list [1] ++ boundaries ++ [n+1] (a qualifying i=1 yields the
    * same leading zero-length chunk as the HOF form — replicated, not
    * cleaned up, so the oracle stays exact). One md5 per position made
    * the interpreted HOF the slowest map-side op in the catalog. */
  def cdcChunks(text: String): Array[Chunk] = {
    // index by CODE POINTS, not UTF-16 code units: Spark substr/length
    // and DuckDB substr/len both count code points, so a supplementary-
    // plane character (emoji) under String.substring indexing would
    // silently desync every boundary after it from the oracle
    val cps = text.codePoints().toArray
    val n = cps.length
    def sub(a: Int, b: Int): String = new String(cps, a, b - a)
    val bounds = scala.collection.mutable.ArrayBuffer[Int](1)
    var i = 1
    while (i <= n - 7) {
      if (hash64(sub(i - 1, i + 7)) % 64 == 0) bounds += i
      i += 1
    }
    bounds += n + 1
    val out = new Array[Chunk](bounds.length - 1)
    var k = 0
    while (k < out.length) {
      val a = bounds(k); val b = bounds(k + 1)
      out(k) = Chunk(hash64(sub(a - 1, b - 1)), (b - a).toLong)
      k += 1
    }
    out
  }

  /** Exact Jaccard of two distinct-element string sets (compiled HashSet
    * intersection — same value as size(array_intersect)/size(array_union)
    * on already-distinct arrays). */
  def jaccardStrings(a: Seq[String], b: Seq[String]): Double = {
    val sa = new java.util.HashSet[String](a.length * 2)
    a.foreach(sa.add)
    var isect = 0
    b.foreach(x => if (sa.contains(x)) isect += 1)
    isect.toDouble / (a.length + b.length - isect)
  }

  // ── Column wrappers ─────────────────────────────────────────────────────
  val simhash32Udf: Column => Column = { c => udf(simhash32 _).apply(c) }
  val simhash60Udf: Column => Column = { c => udf(simhash60 _).apply(c) }
  val jaccardStringsUdf: (Column, Column) => Column = { (a, b) =>
    udf(jaccardStrings _).apply(a, b)
  }
  val shingles3Udf: Column => Column = { c => udf(shingles3 _).apply(c) }
  val bigramsUdf: Column => Column = { c => udf(bigrams _).apply(c) }
  def windowHashesUdf(n: Int, distinct: Boolean): Column => Column = { c =>
    udf((t: String) => windowHashes(t, n, distinct)).apply(c)
  }
  val shingleHashesUdf: Column => Column = { c => udf(shingleHashes _).apply(c) }
  def classifierRawUdf(buckets: Int, salt: String): Column => Column = { c =>
    // null/empty guard at the wrapper (not in classifierRaw): the Catalyst
    // expression this UDF replaced returned NULL on empty word arrays,
    // where the raw loop would return NaN (0.0/0) and NPE on null
    udf((ws: Seq[String]) =>
      if (ws == null || ws.isEmpty) None
      else Some(classifierRaw(ws, buckets, salt))).apply(c)
  }
  val cdcChunksUdf: Column => Column = { c => udf(cdcChunks _).apply(c) }
  def minhashesUdf(k: Int): Column => Column = { c =>
    udf((t: String) => minhashes(t, k)).apply(c)
  }

  /** Banded Levenshtein over code points: exact distance when ≤ k, else
    * -1. Replaces the built-in `levenshtein(l, r, k)` in the hot path —
    * the built-in walks UTF8String.charAt, whose byte-offset scan is
    * O(position) per access, turning the DP effectively cubic (measured
    * 49 s for 32k pairs of ~300-char docs at sf0.1; this compiled band
    * runs the same pairs in well under a second). Code-point units match
    * DuckDB's `levenshtein`, so the oracle sees identical distances.
    * O(k·min(n,m)) time, two O(min(n,m)) rows of state. */
  def boundedLevenshtein(a: String, b: String, k: Int): Int = {
    if (k < 0) return -1
    var x = a.codePoints.toArray
    var y = b.codePoints.toArray
    if (x.length > y.length) { val t = x; x = y; y = t } // |x| ≤ |y|
    val n = x.length
    val m = y.length
    if (m - n > k) return -1
    val INF = Int.MaxValue >> 1
    val prev = new Array[Int](n + 1)
    val curr = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { prev(i) = if (i <= k) i else INF; i += 1 }
    var j = 1
    while (j <= m) {
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      curr(0) = if (j <= k) j else INF
      if (lo > 1) curr(lo - 1) = INF
      i = lo
      while (i <= hi) {
        val sub = prev(i - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1)
        val del = if (i - 1 >= lo - 1) curr(i - 1) + 1 else INF
        val ins = if (i <= j - 1 + k) prev(i) + 1 else INF
        curr(i) = math.min(sub, math.min(del, ins))
        i += 1
      }
      if (hi < n) curr(hi + 1) = INF
      System.arraycopy(curr, 0, prev, 0, n + 1)
      j += 1
    }
    if (prev(n) > k) -1 else prev(n)
  }

  /** Marked nondeterministic ON PURPOSE (the function is pure): it stops
    * the optimizer from (a) sinking the projection below a user
    * repartition — where it executes in the upstream's AQE-coalesced
    * single partition and serializes the whole DP — and (b) substituting
    * the alias into a pushed-down filter, which evaluates the DP twice
    * per row. Both were measured: 8.2 s vs 0.6 s for the same 32k pairs. */
  val boundedLevUdf: (Column, Column, Column) => Column = {
    // Null-safe like the builtin levenshtein(l, r, k): a null text yields
    // NULL instead of NPE-failing the task.
    val f = udf((a: String, b: String, k: Int) =>
        if (a == null || b == null) None
        else Some(boundedLevenshtein(a, b, k)))
      .asNondeterministic()
    (a, b, k) => f(a, b, k)
  }
}
