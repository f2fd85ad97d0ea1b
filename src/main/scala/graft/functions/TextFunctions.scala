package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives for the LLM-data-pipeline operators
  * (dedup, quality scoring, fingerprinting — the north-star extensions named
  * in BASELINE.json, absent from the reference's own surface).
  *
  * Everything here is built from `org.apache.spark.sql.functions` higher-order
  * functions, so the whole stack stays inside whole-stage codegen — no UDFs,
  * no serialization cliff, executor-parallel at any scale.
  */
object TextFunctions {

  /** Engine-portable half-up rounding — THE determinism rounding contract
    * shared by every oracle-checked operator: floor(x·10^d + 0.5)/10^d,
    * spelled identically in the DuckDB twins. (Spark's round() is
    * HALF_UP, DuckDB's HALF_EVEN — this formula sidesteps both.) Every
    * operator imports this one definition.
    */
  def sround(c: Column, digits: Int): Column = {
    val f = math.pow(10, digits)
    floor(c * lit(f) + lit(0.5)) / lit(f)
  }

  /** Order-independent double sum: collect, sort ascending, left-fold —
    * the bitwise-deterministic reduction every float aggregate that must
    * hash-match a DuckDB `list_aggregate(list_sort(list(x)), 'sum')`
    * twin uses (t8/t17/g1's trick). One association order, reproduced by
    * both engines at any partitioning. Every operator imports this one
    * definition, so the load-bearing spelling cannot drift.
    */
  def sortedFoldSum(c: Column): Column =
    aggregate(array_sort(collect_list(c)), lit(0.0), (acc, x) => acc + x)

  /** Whitespace tokens, empties dropped (split("a  b") yields ""s). */
  def tokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** Lowercased tokens — the canonical token stream for dedup/quality. */
  def lowerTokens(c: Column): Column = tokens(lower(c))

  /** BPE-ish subword proxy: each alphanumeric run is one token, each
    * non-alnum non-whitespace character (punct, symbol) is one token. A real
    * tokenizer is model-specific; this is the standard cheap estimator for
    * budget accounting — and deliberately lookaround-free so the same
    * semantics are expressible in RE2-based engines (the DuckDB oracle).
    */
  def approxBpeTokens(c: Column): Column =
    size(filter(split(c, "[^A-Za-z0-9]+"), t => t =!= lit(""))) +
      length(regexp_replace(c, "[A-Za-z0-9 \t\n\r\f]", ""))

  /** Whitespace-collapsed, trimmed, lowercased canonical form. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Character n-grams (sliding window, 1-based substr). Empty array when the
    * string is shorter than n — the unguarded sequence(1, len-n+1) would
    * produce a DESCENDING range and wrong grams.
    */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      transform(sequence(lit(1), length(c) - n + 1), i => c.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Word n-grams over a token array, space-joined. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Jaccard similarity of two (already distinct) string sets. Integer size
    * division → bitwise-identical doubles across engines.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) / size(array_union(a, b))

  // ------------------------------------------------------------- MinHash

  /** Fixed affine-permutation coefficients (seeded, stable across releases —
    * signatures are persisted artifacts and must never drift).
    */
  val (minhashPermA, minhashPermB): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42L)
    val a = Array.fill(64)(rnd.nextLong() | 1L) // odd multipliers
    val b = Array.fill(64)(rnd.nextLong())
    (a, b)
  }

  /** Portable permutation coefficients for the mod-(2^31-1) Carter-Wegman
    * family (MinHashBandKeysMod31): a ∈ [1, p-1], b ∈ [0, p-1]. Seeded and
    * stable — these constants are embedded verbatim in the DuckDB oracle
    * SQL, so the two sides must agree forever.
    */
  val (minhashPermA31, minhashPermB31): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(20240812L)
    val a = Array.fill(64)(1L + rnd.nextInt(2147483646)) // [1, p-1]
    val b = Array.fill(64)(rnd.nextInt(2147483647).toLong) // [0, p-1]
    (a, b)
  }

  /** 64-permutation MinHash signature over a string set: xxhash64 each
    * element once, then min over k affine rehashes (wraparound long
    * arithmetic — standard practice; only relative order per permutation
    * matters). Delegates to the custom MinHashSignature64 Catalyst
    * expression: the HOF formulations either re-evaluate the input per
    * permutation (CollapseProject inlining, no CSE inside HOFs) or allocate
    * a k-wide array per element (zip_with fold) — both measured 10-20x
    * slower at sf0.1.
    */
  def minhashSignature(set: Column, k: Int = 64): Column = {
    require(k <= 64, "only 64 permutation seeds are defined")
    graft.expressions.SetSketchExpressions.minhashSignature64(
      transform(set, s => xxhash64(s)), minhashPermA.take(k), minhashPermB.take(k))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash over a token array: per-bit signed counts of PORTABLE
    * md5-62 token hashes (bits 62-63 are always clear, so the fingerprint
    * is effectively 62-bit — DuckDB reproduces it with md5_number_lower),
    * bit set where the count is positive. Delegates to the SimHash64
    * Catalyst expression (primitive loop; the HOF fold allocates a 64-long
    * array per element). Pass a BOUND token column, not a token
    * expression — see the layering note in Dedup.
    */
  def simhash(toks: Column): Column =
    graft.expressions.SetSketchExpressions.simhash64(
      graft.expressions.PortableHashExpressions
        .md5HashArray62(toks, distinctSorted = false))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit chunk keys of a simhash — equal-chunk blocking finds all pairs
    * within Hamming distance 3 of each other (pigeonhole over 4 chunks).
    */
  def simhashChunks(sh: Column): Column =
    transform(sequence(lit(0), lit(3)), i =>
      struct(i.cast("int").as("chunk"),
        call_function("shiftright", sh, i * lit(16)).bitwiseAND(lit(0xFFFFL))
          .as("ckey")))
}
