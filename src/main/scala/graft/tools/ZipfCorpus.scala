package graft.tools

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.GraftSession

/** Deterministic Zipfian-vocabulary corpus generator — the realistic-regime
  * counterpart to the driver testdata's ~30-word synthetic vocabulary.
  *
  * Why it exists: every dedup blocking/pruning measurement in the repo
  * (d20's prefix-filter ratio, d19/d12's recall/precision, d2/d9's df
  * behavior) was certified on the driver corpus, whose tiny vocabulary is
  * the published algorithms' PATHOLOGICAL case — with ~30 words, every
  * trigram is frequent, dfs are huge, and prefix/banding pruning ratios
  * measure a worst case no natural corpus exhibits. Natural language is
  * Zipfian (Zipf 1949; the standard corpus model in the AllPairs and LSH
  * papers): rank-r word frequency ∝ 1/r over a 10⁴–10⁵-word vocabulary,
  * so most grams are RARE and blocking prunes hard. This generator
  * produces that regime, deterministically, so the dedup economics can be
  * re-measured where production would actually run (VERDICT r13 item 1).
  *
  * Construction — every row is a pure function of (seed, doc_id), so the
  * corpus is reproducible byte-for-byte at any parallelism and the DuckDB
  * oracle replays against the exact same parquet:
  *
  *  - vocabulary: `vocabSize` words; rank r spells as base-26 letters so
  *    frequent words are short, like real text. Draws follow Zipf s=1.0
  *    via inverse-CDF binary search over the cumulative weights.
  *  - base docs: 30–90 tokens, token stream from a SplittableRandom
  *    seeded by mix(seed, doc_id).
  *  - planted near-dups: `dupPermille`/1000 of docs (never the first 20)
  *    copy a uniformly chosen NON-dup victim's tokens and mutate each
  *    token with a per-doc rate drawn from {0, .02, .05, .10, .25, .40}
  *    — an exact-dup share plus a Jaccard spectrum that straddles the
  *    d-family's 0.2 threshold (word-trigram survival ≈ (1-p)³, so
  *    p=.25 lands just above the cut and p=.40 below it), which is what
  *    d13's threshold sweep needs to show a real operating curve.
  *
  * Output: `<dstDir>/documents.parquet` with the driver documents schema
  * (doc_id, text, lang, source, n_chars) so every d-family query and its
  * oracle run unchanged against the new corpus.
  *
  * Usage: runMain graft.tools.ZipfCorpus <dstDir> <nDocs>
  *          [dupPermille=150] [seed=42] [vocabSize=50000]
  */
object ZipfCorpus {

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** splitmix64 finalizer — the per-doc seed mixer. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Rank r (0-based, most frequent first) as base-26 letters — frequent
    * words short, all-lowercase ASCII (the d-family tokenizer's domain).
    */
  def word(r: Int): String = {
    var n = r
    val sb = new StringBuilder
    while ({ sb.append(('a' + n % 26).toChar); n = n / 26 - 1; n >= 0 }) ()
    sb.reverseInPlace().toString
  }

  /** Cumulative Zipf(s=1) weights over the vocabulary, for inverse-CDF
    * sampling. ~400 KB at 50k words — a bounded closure constant.
    */
  def zipfCum(vocabSize: Int): Array[Double] = {
    val cum = new Array[Double](vocabSize)
    var acc = 0.0
    var r = 0
    while (r < vocabSize) { acc += 1.0 / (r + 1); cum(r) = acc; r += 1 }
    cum
  }

  private def zipfDraw(cum: Array[Double],
      rng: java.util.SplittableRandom): Int = {
    val u = rng.nextDouble() * cum(cum.length - 1)
    val i = java.util.Arrays.binarySearch(cum, u)
    if (i >= 0) i else math.min(-i - 1, cum.length - 1)
  }

  /** Is doc_id a planted near-dup? Pure in (seed, id); ids < 20 never are,
    * so victim searches always terminate on a base doc.
    */
  def isDup(seed: Long, id: Long, dupPermille: Int): Boolean =
    id >= 20 && java.lang.Long.remainderUnsigned(
      mix(seed ^ 0x5D0BL ^ id), 1000L) < dupPermille

  private def baseTokens(seed: Long, id: Long,
      cum: Array[Double]): Array[Int] = {
    val rng = new java.util.SplittableRandom(mix(seed ^ id))
    Array.fill(30 + rng.nextInt(61))(zipfDraw(cum, rng))
  }

  /** Per-dup mutation rates: exact dups plus a Jaccard spectrum across
    * the 0.2 trigram threshold (see class doc).
    */
  private val MutRates = Array(0.0, 0.02, 0.05, 0.10, 0.25, 0.40)

  def tokens(seed: Long, id: Long, dupPermille: Int,
      cum: Array[Double]): Array[Int] =
    if (!isDup(seed, id, dupPermille)) baseTokens(seed, id, cum)
    else {
      val rng = new java.util.SplittableRandom(mix(seed ^ ~id))
      var victim = rng.nextLong(id)
      while (isDup(seed, victim, dupPermille)) victim = (victim + 1) % id
      val base = baseTokens(seed, victim, cum)
      val p = MutRates(rng.nextInt(MutRates.length))
      val out = base.map(t => if (rng.nextDouble() < p) zipfDraw(cum, rng) else t)
      // half the dups also shed a short suffix: offsets shift, which is
      // exactly the misalignment fixed-grain span dedup struggles with
      if (rng.nextBoolean()) out.take(out.length - rng.nextInt(out.length / 10 + 1))
      else out
    }

  def textOf(seed: Long, id: Long, dupPermille: Int,
      cum: Array[Double]): String =
    tokens(seed, id, dupPermille, cum).map(word).mkString(" ")

  private val Langs = Array("en", "en", "en", "en", "en", "en", "en",
    "de", "fr", "es")

  def docOf(seed: Long, id: Long, dupPermille: Int,
      cum: Array[Double]): Doc = {
    val text = textOf(seed, id, dupPermille, cum)
    val h = mix(seed ^ 0x7A96L ^ id)
    Doc(id, text,
      Langs(java.lang.Long.remainderUnsigned(h, Langs.length.toLong).toInt),
      "src" + java.lang.Long.remainderUnsigned(h >>> 32, 10L),
      text.length.toLong)
  }

  def main(args: Array[String]): Unit = {
    val dst = args(0)
    val nDocs = args(1).toLong
    val dupPermille = if (args.length > 2) args(2).toInt else 150
    val seed = if (args.length > 3) args(3).toLong else 42L
    val vocabSize = if (args.length > 4) args(4).toInt else 50000
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[${GraftSession.cores}]")
        .appName("graft-zipf-corpus")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val cum = zipfCum(vocabSize)
    spark.range(nDocs)
      .as[Long]
      .map(id => docOf(seed, id, dupPermille, cum))
      .write.mode(SaveMode.Overwrite).parquet(s"$dst/documents.parquet")
    val nd = (0L until nDocs).count(isDup(seed, _, dupPermille))
    println(s"""{"docs":$nDocs,"dups":$nd,"vocab":$vocabSize,"seed":$seed}""")
    spark.stop()
  }
}
