package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over `documents` — exact, blocked n-gram Jaccard,
  * MinHash+LSH, and SimHash. The testdata corpus contains planted
  * near-duplicates (max char-3gram Jaccard ≈ 0.98), so each operator has
  * real positives to find.
  *
  * Scale design: NOTHING here compares all pairs. Candidates come from
  * equality joins on derived keys (fingerprint, (source, length-bucket)
  * block, LSH band key, SimHash chunk), i.e. shuffle-partitioned joins that
  * scale linearly in candidates, not quadratically in corpus size — the only
  * viable shape at 100 TB. Verification (exact Jaccard) runs only on the
  * candidate pairs.
  */
object Dedup {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ------------------------------------------------------ d1_exact_dedup
  /** Exact dedup: group by canonical-text md5; keep the smallest doc_id.
    * One hash-agg shuffle on the fingerprint — the cheapest dedup there is.
    */
  val d1ExactDedup: Q = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")

  val d1ExactDedupSql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin

  // --------------------------------------------------- d2_ngram_jaccard
  /** n-gram Jaccard near-dup: candidates from d3's word-shingle MinHash
    * band join (content-based blocking); verify = EXACT char-3gram
    * Jaccard >= 0.5 on every candidate.
    *
    * Round 10: candidate generation moved off (source, length-bucket)
    * blocking. The sf10 ScaleUp probe (PLANS.md) measured that blocking
    * densifying ~quadratically when corpus growth doesn't widen the
    * length profile — the realistic 100 TB failure — while the band-key
    * volume on the same probe stayed LINEAR. It was also semantically
    * weak: in this corpus ~38% of ALL doc pairs clear char-3gram
    * jac >= 0.5 (same-language background trigram overlap), so
    * within-block verified output itself grew quadratically — an
    * over-merging dedup relation no production pipeline would ship. Band
    * candidates require WORD-shingle similarity first (near-zero between
    * unrelated docs), which keeps both the candidate set and the
    * verified output proportional to the true near-dup population; the
    * d12 harness measures band recall (1.0 at two SFs) to certify the
    * 32x2 shape for a corpus before rollout.
    */
  /** The verified near-dup pair set of d2 (no final sort) — shared by the
    * d2 query and the d5 cluster resolution.
    */
  def d2Pairs(s: SparkSession, d: String): DataFrame =
    ngramPairs(docs(s, d))

  /** d2's band-candidate + exact-verify pair generation over an arbitrary
    * documents frame (doc_id, text) — the corpus pipeline runs it on a
    * filtered survivor set.
    */
  def ngramPairs(docsDf: DataFrame): DataFrame = ngramPairs(docsDf, 0.5)

  /** As above with a configurable verify threshold — d13's sweep needs
    * the candidate pairs down to its lowest probed cut.
    *
    * Verify arithmetic: per-doc ONCE, distinct char-3grams → xxhash64 →
    * sorted long array; per-pair, a zero-allocation merge-walk intersect
    * (custom expression) + the inclusion-exclusion identity for |A∪B|.
    * Hash collisions altering a Jaccard need two colliding 3-grams in one
    * doc pair (~2^-64 each): negligible. Candidates use d3's fused 64-bit
    * band keys — the mix-collision residual (~(keys)²/2^64, see
    * MinHashBandKeysMod31) is accepted as for d3.
    *
    * Scale shape: the band self-join is key-equality on sparse band
    * buckets (never corpus²); the verify joins ship char-gram arrays to
    * CANDIDATE pairs only, so per-stage cost is linear in corpus +
    * near-dup volume. Join strategy is deliberately UNHINTED — the
    * optimizer + AQE pick broadcast below the threshold and a both-sides
    * shuffle past it (the only shape that survives 100 TB); TextDedupSpec
    * asserts both plans engage and agree.
    */
  def ngramPairs(docsDf: DataFrame, minJac: Double): DataFrame = {
    // Round 11, MEASURED AND REJECTED (candidate-count probe + sf10
    // DriftBench, PLANS.md round 11): a lossless gram-count-ratio
    // candidate cut (jac <= min/max for sets, so least(n_a,n_b) >=
    // minJac*greatest(n_a,n_b) never drops a verifying pair) was
    // prototyped with the count riding the band rows. It trims only ~10%
    // of candidates on this corpus (the verify here keeps 52% of
    // candidates at 0.5 — candidates are NOT the 15/16-waste regime;
    // that number is d12's word-truth operating point) while the extra distinct-gram counting pass, duplicated
    // across the band self-join subtrees, DOUBLED d13 at sf10 (17s ->
    // 36s) and cost d2 +38%. Revisit only for a corpus whose length
    // profile is wide enough that d12-style probing shows a >2x cut.
    val bands = minhashBands(shingleSets(docsDf))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyCharPairs(cand, docsDf, minJac)
  }

  /** d2's exact verify stage over an arbitrary candidate pair set: ship
    * each side's sorted char-3gram hash array to the CANDIDATE pairs
    * only, merge-walk intersect, keep Jaccard >= minJac. Shared by
    * ngramPairs and d16's asymmetric delta pairs.
    */
  private def verifyCharPairs(cand: DataFrame, docsDf: DataFrame,
      minJac: Double): DataFrame = {
    val g = docsDf.select(col("doc_id"),
      graft.expressions.SetSketchExpressions
        .hashedSortedCharNgrams(col("text"), 3).as("grams"))
      .withColumn("n_grams", size(col("grams")))
    val withSets = cand
      .join(g.select(col("doc_id").as("doc_a"), col("grams").as("grams_a"),
        col("n_grams").as("n_a")), "doc_a")
      .join(g.select(col("doc_id").as("doc_b"), col("grams").as("grams_b"),
        col("n_grams").as("n_b")), "doc_b")
    val inter = graft.expressions.SetSketchExpressions
      .sortedIntersectSize(col("grams_a"), col("grams_b"))
    withSets
      .withColumn("inter", inter)
      .withColumn("jac", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jac") >= minJac)
      .select(col("doc_a"), col("doc_b"), sround(col("jac"), 4).as("jaccard"))
  }

  val d2NgramJaccard: Q = (s, d) => d2Pairs(s, d).orderBy("doc_a", "doc_b")

  /** DuckDB CTE block shared by the d2-family oracles: d3's word-shingle
    * MinHash band-candidate generation over `rel` (needs doc_id, text),
    * spelled columnar (unnest once, 64 vectorized min aggregates) with
    * the band collision as raw (band, r0, r1) equality — the d3-oracle
    * spelling, same permutation constants. Emits CTEs `bsh`, `bmins`,
    * `bbands`, `bcand(doc_a, doc_b)`.
    */
  private[graft] def bandCandSql(rel: String): String = {
    val p = 2147483647L
    val minCols = (0 until 64).map { idx =>
      s"    min((${minhashPermA31(idx)} * h + ${minhashPermB31(idx)}) % $p) AS m$idx"
    }.mkString(",\n")
    val bandArms = (0 until 32).map { bnd =>
      s"  SELECT doc_id, $bnd AS band, m${2 * bnd} AS r0, m${2 * bnd + 1} AS r1 FROM bmins"
    }.mkString("\n  UNION ALL\n")
    s"""bsh AS MATERIALIZED (
       |  SELECT doc_id, list_transform(sh, h -> h & 2147483647) AS h31
       |  FROM (
       |    SELECT doc_id,
       |      list_distinct(list_transform(
       |        CASE WHEN len(t) >= 3
       |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |          ELSE CAST([] AS VARCHAR[]) END,
       |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))) AS sh
       |    FROM (SELECT doc_id,
       |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |          FROM $rel))),
       |bmins AS MATERIALIZED (
       |  SELECT doc_id,
       |$minCols
       |  FROM (SELECT doc_id, unnest(h31) AS h FROM bsh)
       |  GROUP BY doc_id),
       |bbands AS MATERIALIZED (
       |$bandArms),
       |bcand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bbands x JOIN bbands y
       |    ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1
       |   AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** DuckDB CTE block: exact char-3gram verify arithmetic over `bcand` —
    * per-doc distinct gram lists from `rel`, per-candidate intersection
    * via list_intersect (candidates are sparse, so the per-pair walk is
    * affordable at oracle scale). Emits `cg` and `cj(doc_a, doc_b,
    * inter, n_a, n_b)`.
    */
  private[graft] def charVerifySql(rel: String): String =
    s"""cg AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 1),
       |    i -> substring(text, CAST(i AS INTEGER), 3))) AS grams
       |  FROM $rel),
       |cj AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b, len(list_intersect(a.grams, b.grams)) AS inter,
       |    len(a.grams) AS n_a, len(b.grams) AS n_b
       |  FROM bcand c JOIN cg a ON a.doc_id = c.doc_a
       |    JOIN cg b ON b.doc_id = c.doc_b)""".stripMargin

  /** DuckDB twin of d2: band candidates + exact char-3gram verify. */
  val d2NgramJaccardSql: String =
    s"""WITH ${bandCandSql("documents")},
       |${charVerifySql("documents")}
       |SELECT doc_a, doc_b,
       |  floor(inter / CAST(n_a + n_b - inter AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |FROM cj
       |WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------- d3_minhash_lsh
  /** MinHash+LSH near-dup: word-3gram shingles → 64-perm MinHash signature →
    * 32 bands × 2 rows → candidates from band-key equality join → exact
    * Jaccard verify >= 0.2. The band join is the scale path: probability of
    * catching a pair rises steeply with similarity (s-curve), all-pairs work
    * never happens. Shingle hashes and the permutation family are fully
    * engine-portable (md5-62 lanes + mod-(2^31-1) Carter-Wegman — see
    * PortableHashExpressions), so the DuckDB oracle reproduces the exact
    * signatures and the driver hash-checks the output.
    */
  /** d3/d10 shared shingle build: doc_id → sorted distinct md5-62 word-
    * trigram hash lanes (+ set size). LAYERED projections: tokens bound
    * before n-gramming. Passing the token EXPRESSION into wordNgrams
    * would inline it into each of the 3 element_at calls inside the
    * lambda → ~264 tokenizations per doc (measured: 13s of the 25s
    * total). CollapseProject keeps multi-referenced non-cheap aliases in
    * their own layer.
    */
  private[graft] def shingleSets(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 3).as("ngrams"))
      .select(col("doc_id"), graft.expressions.PortableHashExpressions
        .md5HashArray62(col("ngrams"), distinctSorted = true).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** d3/d10 shared banding: fused signature+banding expression — one
    * evaluation per doc, no intermediate sig column for CollapseProject
    * to re-inline into 32 band lambdas (the unfused form re-evaluated the
    * MinHash per band — 20x). Band index is baked into the key, so a
    * single equality join on bkey generates candidates; empty docs
    * produce zero keys (no mega-bucket).
    */
  private def minhashBands(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      explode(graft.expressions.PortableHashExpressions.minhashBandKeysMod31(
        col("sh"), minhashPermA31, minhashPermB31, bands = 32, rows = 2)).as("bkey"))

  val d3MinhashLsh: Q = (s, d) => {
    val base = shingleSets(docs(s, d))
    val bands = minhashBands(base)
    // Round 11: candidates require >= 2 distinct band collisions. The
    // fused bkey bakes the band index in, so per (doc_a, doc_b) the
    // collision COUNT is the number of agreeing bands — the groupBy is
    // the same shuffle the old .distinct() already paid, the filter is
    // free. Measured on this corpus (PLANS.md round 11): every truth
    // pair (word-jac >= 0.2) collides in >= 2 bands at sf0.01/sf0.1/
    // sf1/sf10, so the OUTPUT is unchanged while the verify join
    // ships shingle arrays to 14-15x fewer candidates at sf0.1/sf1
    // (2.8x at sf10). The cut shifts the LSH s-curve right (a pair at
    // similarity s now needs 2 of 32 band hits, ~the 2-row -> 3-row
    // operating point near threshold); d12's band_recall2 column is the
    // per-corpus certification that the floor still holds — rerun it
    // before rolling the shape onto a new corpus.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("ncoll"))
      .filter(col("ncoll") >= 2)
      .select(col("doc_a"), col("doc_b"))
    val withSets = cand
      .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
    val interV = graft.expressions.SetSketchExpressions
      .sortedIntersectSize(col("sh_a"), col("sh_b"))
    withSets
      .withColumn("inter", interV)
      .withColumn("jac", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jac") >= 0.2)
      .select(col("doc_a"), col("doc_b"), sround(col("jac"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin of d3, generated with the SAME permutation constants: the
    * band collision condition is expressed as raw signature-row equality
    * per band (Spark packs the rows into one mixed 64-bit key — identical
    * semantics up to negligible mix collisions, which the exact-Jaccard
    * verification neutralizes). MATERIALIZED CTEs keep DuckDB from
    * re-running the md5 shingle build per band arm.
    */
  val d3MinhashLshSql: String = {
    val p = 2147483647L
    // Columnar spelling: unnest the shingle hashes ONCE and take the 64
    // permutation minima as plain vectorized aggregates — semantically
    // identical to list_min(list_transform(...)) per doc (same (a*h+b)%p
    // over the same multiset; docs with no shingles vanish from the
    // unnest exactly as their NULL list_min never equi-joins), but
    // orders of magnitude faster in DuckDB at large SFs, where the
    // interpreted per-list lambda walk dominated the oracle runtime.
    val minCols = (0 until 64).map { idx =>
      val a = minhashPermA31(idx)
      val b = minhashPermB31(idx)
      s"    min(($a * h + $b) % $p) AS m$idx"
    }.mkString(",\n")
    val bandArms = (0 until 32).map { bnd =>
      s"  SELECT doc_id, $bnd AS band, m${2 * bnd} AS r0, m${2 * bnd + 1} AS r1 FROM mins"
    }.mkString("\n  UNION ALL\n")
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, sh, list_transform(sh, h -> h & 2147483647) AS h31,
       |    len(sh) AS n_sh
       |  FROM (
       |    SELECT doc_id,
       |      list_sort(list_distinct(list_transform(
       |        CASE WHEN len(t) >= 3
       |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |          ELSE CAST([] AS VARCHAR[]) END,
       |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT)))) AS sh
       |    FROM (SELECT doc_id,
       |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |          FROM documents))),
       |mins AS MATERIALIZED (
       |  SELECT doc_id,
       |$minCols
       |  FROM (SELECT doc_id, unnest(h31) AS h FROM g)
       |  GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |$bandArms),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |j AS (
       |  SELECT c.doc_a, c.doc_b, len(list_intersect(a.sh, b.sh)) AS inter,
       |    a.n_sh AS n_a, b.n_sh AS n_b
       |  FROM cand c JOIN g a ON a.doc_id = c.doc_a JOIN g b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b,
       |  floor(inter / CAST(n_a + n_b - inter AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS jaccard
       |FROM j WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** EXACT Jaccard >= 0.2 pair set via the AllPairs prefix filter
    * (Bayardo, Ma & Srikant, WWW'07) — the bounded ground-truth
    * generator shared by the d12/d19 eval harnesses and the core of d20
    * itself. Candidates form only on each doc's rarest-first prefix
    * (|x| - ceil(0.2|x|) + 1 shingles ordered df ASC, h ASC), so the
    * frequent-gram df² blowup of a naive inverted-index truth join is
    * structurally excluded while the result is provably the COMPLETE
    * pair set — recall exactly 1 (TextDedupSpec proves pair-set equality
    * against the naive join). That makes the eval harnesses themselves
    * 100-TB-safe, not just the operators they certify. Input must be a
    * shingleSets frame, already materialized (it is re-scanned by the
    * prefix build and both verify sides). Returns
    * (doc_a, doc_b, inter, n_a, n_b) for every pair with word-trigram
    * Jaccard >= 0.2; ceil(0.2·n) is exact integer arithmetic
    * ((n + 4) DIV 5).
    */
  private[graft] def exactJaccardPairs02(base: DataFrame): DataFrame = {
    val inv = base.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("h"))
    val dfreq = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // rarest-first prefix per doc as a collect-sort-slice AGGREGATE (r18,
    // guide §2.5): the old row_number window shuffled the (doc, h, df)
    // stream by doc_id and then SORTED whole partitions by (doc_id, df,
    // h); the aggregate shuffles the same bytes on the same key but
    // sorts only each doc's OWN (df, h) list — state bounded by the
    // doc's shingle array (the bound `sh` itself already carries), no
    // partition-wide sort, no single-task risk on a skewed doc_id range.
    // array_sort on (df, h) structs = lexicographic = the window's
    // ORDER BY df, h; the slice keeps the same |x| - ceil(0.2|x|) + 1
    // prefix (size(sl) = n_sh — one row per distinct shingle).
    val prefix = inv.join(dfreq, "h")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("sl"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(sl, 1, size(sl) - (size(sl) + 4) DIV 5 + 1), " +
          "x -> x.h)")).as("h"))
      .materialize() // both sides of the candidate self-join — without
                     // the cut the scan+dfreq+agg chain runs twice
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("inter", graft.expressions.SetSketchExpressions
        .sortedIntersectSize(col("sh_a"), col("sh_b")).cast("long"))
      .where(col("inter") / (col("n_a") + col("n_b") - col("inter")) >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"))
  }

  // ------------------------------------------------------- d12_lsh_eval
  /** LSH index-quality evaluation — v11's "measure, don't guess" harness
    * for the dedup family: d3's band-collision candidate generation is
    * scored against EXACT ground truth (every pair with word-trigram
    * Jaccard >= 0.2). Since round 10 the SAME band machinery also feeds
    * d2/d5/d13's candidates, so this one number certifies the whole
    * family's recall floor for a corpus before rollout. Emits one summary
    * row scoring BOTH candidate operating points — >= 1 band collision
    * (the classic cut, d2/d5/d13's candidates) and >= 2 collisions (d3's
    * shipped cut since round 11): truth/candidate/verified pair counts,
    * band RECALL per cut (share of true near-dup pairs the bands
    * surfaced — missed pairs survive dedup as duplicates) and candidate
    * PRECISION per cut (share of surfaced candidates that verify — the
    * wasted exact-verify cost). This is the measurement that says whether
    * 32 bands x 2 rows — and the >= 2-collision tightening — fit the
    * corpus before committing the index shape.
    *
    * Scale shape: ground truth is [[exactJaccardPairs02]] — d20's
    * AllPairs prefix-filtered exact join, so even the harness's truth
    * side is bounded (candidates only on rarest-first prefixes; the
    * frequent-gram df² blowup of a naive inverted-index join is
    * structurally excluded) while staying provably COMPLETE (recall
    * exactly 1). Like v11's brute pass, an eval still inherently pays
    * for truth — production typically runs it on a sampled corpus
    * slice, but with the prefix-filtered generator even the full-corpus
    * run is shuffle-bounded, not df²-bounded.
    */
  val d12LshEval: Q = (s, d) => {
    val base = shingleSets(docs(s, d))
      .materialize() // feeds truth prefix build, band keys, AND sizes
    // truth and candidate sides are INDEPENDENT once `base` exists —
    // build them on two driver threads (guide §2.6) so the prefix-filter
    // checkpoint stages overlap the band-signature aggregation stages
    def truthSide(): DataFrame = exactJaccardPairs02(base)
      .select(col("doc_a"), col("doc_b"))
      .materialize() // referenced by the count AND both semi joins
    // Candidates via the EXACT (band, r0, r1) signature join — the
    // oracle's own columnar algorithm — not d3's fused 64-bit bkey:
    // d3 surfaces candidates only through a Jaccard verify that absorbs
    // the ~2^-64 key-mix collision risk, but d12 reports the raw
    // candidate COUNT, where a single mix collision would flip n_cand
    // against the oracle. Same two-agg shape, zero collision exposure.
    val p31 = 2147483647L
    val hs = base.select(col("doc_id"), explode(col("sh")).as("hr"))
      .select(col("doc_id"), col("hr").bitwiseAND(lit(p31)).as("h"))
    val minCols = (0 until 64).map(i =>
      min((lit(minhashPermA31(i)) * col("h") + lit(minhashPermB31(i))) % lit(p31))
        .as(s"m$i"))
    val mins = hs.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    val bandsDf = mins.select(col("doc_id"),
      explode(array((0 until 32).map(b =>
        struct(lit(b).as("band"), col(s"m${2 * b}").as("r0"),
          col(s"m${2 * b + 1}").as("r1"))): _*)).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.r0").as("r0"), col("bd.r1").as("r1"))
    // Per-pair band collision COUNTS (same shuffle as the old DISTINCT),
    // so ONE pass scores both operating points: >= 1 collision (the
    // classic 32x2 candidate set) and >= 2 collisions (d3's shipped cut
    // since round 11). recall2 < 1.0 on a corpus means the >= 2 cut is
    // unsafe THERE and d3 must be run with the classic candidates.
    val (truth, candC) = graft.Par.par2(
      truthSide(),
      bandsDf.as("x").join(bandsDf.as("y"),
          col("x.band") === col("y.band") && col("x.r0") === col("y.r0") &&
            col("x.r1") === col("y.r1") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("ncoll"))
        .materialize()) // feeds both operating points + both semis
    val cand2 = candC.filter(col("ncoll") >= 2).select("doc_a", "doc_b")
    val verified = truth.join(candC.select("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"), "left_semi")
    val verified2 = truth.join(cand2, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(candC.agg(count(lit(1)).as("n_cand"),
        count(when(col("ncoll") >= 2, 1)).as("n_cand2")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(verified2.agg(count(lit(1)).as("n_verified2")))
      .select(col("n_truth"), col("n_cand"), col("n_cand2"), col("n_verified"),
        col("n_verified2"),
        sround(col("n_verified") / col("n_truth").cast("double"), 4).as("band_recall"),
        sround(col("n_verified2") / col("n_truth").cast("double"), 4).as("band_recall2"),
        sround(col("n_verified") / col("n_cand").cast("double"), 4).as("cand_precision"),
        sround(col("n_verified2") / col("n_cand2").cast("double"), 4).as("cand_precision2"))
  }

  val d12LshEvalSql: String = {
    val p = 2147483647L
    val minCols = (0 until 64).map { idx =>
      val a = minhashPermA31(idx)
      val b = minhashPermB31(idx)
      s"    min(($a * h + $b) % $p) AS m$idx"
    }.mkString(",\n")
    val bandArms = (0 until 32).map { bnd =>
      s"  SELECT doc_id, $bnd AS band, m${2 * bnd} AS r0, m${2 * bnd + 1} AS r1 FROM mins"
    }.mkString("\n  UNION ALL\n")
    s"""WITH g AS MATERIALIZED (
       |  SELECT doc_id, sh, list_transform(sh, h -> h & 2147483647) AS h31,
       |    len(sh) AS n_sh
       |  FROM (
       |    SELECT doc_id,
       |      list_sort(list_distinct(list_transform(
       |        CASE WHEN len(t) >= 3
       |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |          ELSE CAST([] AS VARCHAR[]) END,
       |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT)))) AS sh
       |    FROM (SELECT doc_id,
       |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |          FROM documents))),
       |inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM g),
       |tp AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM inv x JOIN inv y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b
       |  FROM tp JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b
       |  WHERE inter / CAST(ga.n_sh + gb.n_sh - inter AS DOUBLE) >= 0.2),
       |mins AS MATERIALIZED (
       |  SELECT doc_id,
       |$minCols
       |  FROM (SELECT doc_id, unnest(h31) AS h FROM g)
       |  GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |$bandArms),
       |cand AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS ncoll
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT t.doc_a, t.doc_b FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)),
       |ver2 AS (
       |  SELECT t.doc_a, t.doc_b FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |                  AND c.ncoll >= 2))
       |SELECT CAST(nt AS BIGINT) AS n_truth, CAST(nc AS BIGINT) AS n_cand,
       |  CAST(nc2 AS BIGINT) AS n_cand2,
       |  CAST(nv AS BIGINT) AS n_verified, CAST(nv2 AS BIGINT) AS n_verified2,
       |  floor(nv / CAST(nt AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS band_recall,
       |  floor(nv2 / CAST(nt AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS band_recall2,
       |  floor(nv / CAST(nc AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS cand_precision,
       |  floor(nv2 / CAST(nc2 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS cand_precision2
       |FROM (SELECT (SELECT count(*) FROM truth) AS nt,
       |             (SELECT count(*) FROM cand) AS nc,
       |             (SELECT count(*) FROM cand WHERE ncoll >= 2) AS nc2,
       |             (SELECT count(*) FROM ver) AS nv,
       |             (SELECT count(*) FROM ver2) AS nv2)""".stripMargin
  }

  // ----------------------------------------------------- d19_oph_minhash
  /** One-Permutation Hashing MinHash (Li, Owen & Zhang 2012) with
    * rotation densification (Shrivastava & Li, ICML 2014) — the sketch
    * that makes MinHash affordable at corpus scale. Classic d3 evaluates
    * 64 permutations per shingle (64 × corpus hash work, THE dominant
    * dedup cost at 100 TB); OPH hashes each shingle ONCE (the already-
    * hashed shingle set IS the permutation), splits the hash space into
    * 64 bins (h mod 64), takes the min per bin, and densifies empty bins
    * by borrowing from the nearest non-empty bin to the right
    * (cyclically), offset by distance × a constant so borrowed slots
    * only collide when the borrow pattern matches. Downstream is
    * unchanged: 32 bands × 2 rows over the 64 slots, candidates from
    * band-key equality.
    *
    * Shape: this is d12's evaluation harness pointed at the OPH sketch —
    * one row of (truth, candidates, recall, precision) at both the ≥1-
    * and ≥2-collision operating points, so a deployment can certify the
    * 64×-cheaper sketch against the exact word-shingle truth on ITS
    * corpus before switching d3's signature kernel over. Everything is
    * bin-keyed aggs and key-equality joins (densification joins each
    * doc's EMPTY bins to its non-empty minima — ≤64×64 rows per doc,
    * in practice a handful since real docs fill most bins); nothing
    * is all-pairs.
    */
  val d19OphMinhash: Q = (s, d) => {
    val base = shingleSets(docs(s, d))
      .materialize() // feeds truth prefix build AND the OPH slots
    // Ground truth via exactJaccardPairs02 (d20's prefix-filtered exact
    // join): identical pair set to a naive inverted-index truth join —
    // recall exactly 1 — but bounded (no frequent-gram df² candidate
    // blowup), so the HARNESS is as 100-TB-safe as the sketch it scores.
    // truth and OPH candidate sides are independent once `base` exists —
    // two driver threads (guide §2.6) overlap their checkpoint stages
    val (truth, candC) = graft.Par.par2(
      exactJaccardPairs02(base)
        .select(col("doc_a"), col("doc_b"))
        .materialize(), // referenced by the count AND both semi joins
      {
        val bandsDf = ophBands(base).materialize()
        bandsDf.as("x").join(bandsDf.as("y"),
            col("x.band") === col("y.band") && col("x.r0") === col("y.r0") &&
              col("x.r1") === col("y.r1") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("ncoll"))
          .materialize() // feeds both operating points + both semis
      })
    val cand2 = candC.filter(col("ncoll") >= 2).select("doc_a", "doc_b")
    val verified = truth.join(candC.select("doc_a", "doc_b"),
      Seq("doc_a", "doc_b"), "left_semi")
    val verified2 = truth.join(cand2, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(candC.agg(count(lit(1)).as("n_cand"),
        count(when(col("ncoll") >= 2, 1)).as("n_cand2")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .crossJoin(verified2.agg(count(lit(1)).as("n_verified2")))
      .select(col("n_truth"), col("n_cand"), col("n_cand2"), col("n_verified"),
        col("n_verified2"),
        sround(col("n_verified") / col("n_truth").cast("double"), 4)
          .as("oph_recall"),
        sround(col("n_verified2") / col("n_truth").cast("double"), 4)
          .as("oph_recall2"),
        sround(col("n_verified") / col("n_cand").cast("double"), 4)
          .as("oph_precision"),
        sround(col("n_verified2") / col("n_cand2").cast("double"), 4)
          .as("oph_precision2"))
  }

  private[graft] val OphBins = 64
  /** Borrow-distance offset (a 32-bit odd constant): densified slots
    * carry v + dist*C so two docs' borrowed slots only collide when both
    * the source minimum AND the borrow distance agree — without it, any
    * two docs sharing one non-empty bin would collide on every empty
    * band (Shrivastava & Li's fake-collision fix).
    */
  private[graft] val OphC = 2654435761L

  /** The densified 64-slot OPH signature as ONE array column per doc:
    * (doc_id, arr) where arr(i) is bin i's minimum, or the cyclically-
    * right borrow v + dist·C for empty bins. Single doc-keyed aggregate
    * (64 conditional-min states) + pure array expressions — r17
    * optimization, guide §2.4: the former grid/anti-join/densify-join/
    * min_by chain was 4 exchanges + 1 checkpoint computing the same 64
    * values per doc; the borrow scan here is ≤ 63 array probes per empty
    * bin, all inside one whole-stage-codegen projection, and the shape
    * holds at any scale because the agg state is 64 longs per doc.
    * Docs with no shingles emit no row.
    */
  private def ophSlotArray(base: DataFrame): DataFrame = {
    val inv = base.select(col("doc_id"), explode(col("sh")).as("h"))
    val minCols = (0 until OphBins).map(i =>
      min(when(pmod(col("h"), lit(OphBins.toLong)) === i, col("h"))).as(s"m$i"))
    val raw = inv.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until OphBins).map(i => col(s"m$i")): _*).as("raw"))
    // borrow for an empty bin i: smallest dist j >= 1 whose bin (i+j) mod 64
    // is filled, offset by j*C — the aggregate fold keeps the FIRST non-null
    // candidate (null + j*C stays null, coalesce keeps earlier finds)
    def at(k: Column) = element_at(col("raw"), pmod(k, lit(OphBins)) + 1)
    raw.select(col("doc_id"),
      transform(sequence(lit(0), lit(OphBins - 1)), i =>
        coalesce(at(i),
          aggregate(sequence(lit(1), lit(OphBins - 1)),
            lit(null).cast("long"),
            (acc, j) => coalesce(acc, at(i + j) + j.cast("long") * lit(OphC)))))
        .as("arr"))
  }

  /** The densified 64-slot OPH signature, one row per (doc, slot):
    * filled slots are per-bin minima of the hashed shingle set; empty
    * slots borrow cyclically-right. Docs with no shingles emit no rows.
    */
  private[graft] def ophSlots(docsDf: DataFrame): DataFrame = {
    val base = docsDf.columns.toSeq match {
      case cols if cols.contains("sh") => docsDf
      case _ => shingleSets(docsDf)
    }
    ophSlotArray(base)
      .select(col("doc_id"), posexplode(col("arr")).as(Seq("i", "v")))
      .select(col("doc_id"), col("i").cast("long").as("idx"), col("v"))
  }

  /** OPH slots folded 32×2: (doc_id, band, r0, r1) — read straight off
    * the slot array (band b = slots 2b, 2b+1), no per-(doc, band) shuffle.
    */
  private def ophBands(base: DataFrame): DataFrame =
    ophSlotArray(base)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(OphBins / 2 - 1)), b =>
          struct(element_at(col("arr"), b * 2 + 1).as("r0"),
            element_at(col("arr"), b * 2 + 2).as("r1")))).as(Seq("band", "bd")))
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("bd.r0").as("r0"), col("bd.r1").as("r1"))

  /** The d-family shingle build (sorted distinct md5-62 word-3gram sets)
    * as the oracle's `g`+`inv` CTE pair — ONE spelling shared by the
    * d19/d20 twins so the set definition can never drift between them.
    */
  private[graft] val shingleSetsCtes: String =
    s"""g AS MATERIALIZED (
       |  SELECT doc_id, sh, len(sh) AS n_sh
       |  FROM (
       |    SELECT doc_id,
       |      list_sort(list_distinct(list_transform(
       |        CASE WHEN len(t) >= 3
       |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |          ELSE CAST([] AS VARCHAR[]) END,
       |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT)))) AS sh
       |    FROM (SELECT doc_id,
       |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |          FROM documents))),
       |inv AS MATERIALIZED (SELECT doc_id, unnest(sh) AS h FROM g)""".stripMargin

  val d19OphMinhashSql: String =
    s"""WITH $shingleSetsCtes,
       |tp AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
       |  FROM inv x JOIN inv y ON x.h = y.h AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |truth AS MATERIALIZED (
       |  SELECT doc_a, doc_b
       |  FROM tp JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b
       |  WHERE inter / CAST(ga.n_sh + gb.n_sh - inter AS DOUBLE) >= 0.2),
       |slots AS MATERIALIZED (
       |  SELECT doc_id, h % $OphBins AS idx, min(h) AS v
       |  FROM inv GROUP BY 1, 2),
       |grid AS (
       |  SELECT doc_id, unnest(range(0, $OphBins)) AS idx
       |  FROM g WHERE n_sh > 0),
       |empt AS (
       |  SELECT gr.doc_id, gr.idx FROM grid gr
       |  LEFT JOIN slots s ON s.doc_id = gr.doc_id AND s.idx = gr.idx
       |  WHERE s.v IS NULL),
       |dens AS (
       |  SELECT e.doc_id, e.idx,
       |    min_by(f.v + (((f.idx - e.idx) % $OphBins + $OphBins) % $OphBins) * $OphC,
       |           ((f.idx - e.idx) % $OphBins + $OphBins) % $OphBins) AS v
       |  FROM empt e JOIN slots f ON f.doc_id = e.doc_id
       |  GROUP BY 1, 2),
       |filled AS (SELECT * FROM slots UNION ALL SELECT * FROM dens),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, idx // 2 AS band,
       |    min(CASE WHEN idx % 2 = 0 THEN v END) AS r0,
       |    min(CASE WHEN idx % 2 = 1 THEN v END) AS r1
       |  FROM filled GROUP BY 1, 2),
       |cand AS MATERIALIZED (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS ncoll
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT t.doc_a, t.doc_b FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b)),
       |ver2 AS (
       |  SELECT t.doc_a, t.doc_b FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM cand c
       |                WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |                  AND c.ncoll >= 2))
       |SELECT CAST(nt AS BIGINT) AS n_truth, CAST(nc AS BIGINT) AS n_cand,
       |  CAST(nc2 AS BIGINT) AS n_cand2,
       |  CAST(nv AS BIGINT) AS n_verified, CAST(nv2 AS BIGINT) AS n_verified2,
       |  floor(nv / CAST(nt AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS oph_recall,
       |  floor(nv2 / CAST(nt AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS oph_recall2,
       |  floor(nv / CAST(nc AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS oph_precision,
       |  floor(nv2 / CAST(nc2 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS oph_precision2
       |FROM (SELECT (SELECT count(*) FROM truth) AS nt,
       |             (SELECT count(*) FROM cand) AS nc,
       |             (SELECT count(*) FROM cand WHERE ncoll >= 2) AS nc2,
       |             (SELECT count(*) FROM ver) AS nv,
       |             (SELECT count(*) FROM ver2) AS nv2)""".stripMargin

  // ----------------------------------------------------- d20_allpairs
  /** EXACT threshold similarity join via prefix filtering — AllPairs
    * (Bayardo, Ma & Srikant, WWW'07; the PPJoin family): every pair with
    * word-shingle Jaccard ≥ 0.2, exactly — no sketch, no recall loss —
    * without ever joining the full inverted index. The pruning law:
    * J(x,y) ≥ t ⟹ |x∩y| ≥ t·|x∪y| ≥ t·|x|, so if the first
    * |x| − ceil(t·|x|) + 1 shingles of x in a canonical RAREST-FIRST
    * global order (df ASC, hash ASC) share nothing with y, x's remaining
    * suffix (ceil(t·|x|) − 1 shingles) is too short to reach the required
    * overlap — the pair cannot qualify. Candidates therefore come from
    * joining only the PREFIXES, which by construction hold each doc's
    * rarest shingles: the frequent-gram df² blowup the naive inverted
    * index pays (the reason d2/d9 must cap df) is structurally excluded
    * while recall stays exactly 1. Each candidate is verified with the
    * zero-allocation merge-walk intersect on the full sorted sets.
    *
    * This is the join production runs when the dedup decision must be
    * COMPLETE (legal/contamination-grade) — d3/d19 are its cheaper
    * sketched approximations, and d12/d13 measure what they give up.
    * Scale shape: df is one gram-keyed agg; prefix selection is one
    * per-doc window over (df, h); verification ships sorted arrays to
    * candidate pairs only. ceil(0.2·n) is exact integer arithmetic:
    * (n + 4) DIV 5.
    */
  val d20Allpairs: Q = (s, d) => {
    val base = shingleSets(docs(s, d))
      .materialize() // feeds the prefix build AND both verify sides
    exactJaccardPairs02(base)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("n_a"), col("n_b"),
        sround(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4)
          .as("jacc"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin: the shared shingle CTEs, the same rarest-first prefix
    * window and integer prefix length, candidate intersect via the
    * inverted index restricted to candidate pairs (mm11's idiom).
    */
  val d20AllpairsSql: String =
    s"""WITH $shingleSetsCtes,
       |dfreq AS (SELECT h, count(*) AS df FROM inv GROUP BY h),
       |prefix AS MATERIALIZED (
       |  SELECT doc_id, h FROM (
       |    SELECT i.doc_id, i.h, g.n_sh,
       |      row_number() OVER (PARTITION BY i.doc_id ORDER BY d.df, i.h) AS pos
       |    FROM inv i JOIN dfreq d USING (h) JOIN g USING (doc_id))
       |  WHERE pos <= n_sh - ((n_sh + 4) // 5) + 1),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM prefix x JOIN prefix y ON x.h = y.h AND x.doc_id < y.doc_id),
       |ints AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM cand c
       |  JOIN inv x ON x.doc_id = c.doc_a
       |  JOIN inv y ON y.doc_id = c.doc_b AND y.h = x.h
       |  GROUP BY 1, 2)
       |SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       |  CAST(ga.n_sh AS BIGINT) AS n_a, CAST(gb.n_sh AS BIGINT) AS n_b,
       |  floor(i.inter / CAST(ga.n_sh + gb.n_sh - i.inter AS DOUBLE)
       |    * 10000.0 + 0.5) / 10000.0 AS jacc
       |FROM ints i
       |JOIN g ga ON ga.doc_id = i.doc_a
       |JOIN g gb ON gb.doc_id = i.doc_b
       |WHERE i.inter / CAST(ga.n_sh + gb.n_sh - i.inter AS DOUBLE) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------------------- d4_simhash
  /** SimHash fingerprint per doc + near-dup pairs via 16-bit chunk blocking
    * (pigeonhole: Hamming<=3 pairs must share a chunk) verified at
    * Hamming <= 3. Token hashes are portable md5-62 (simhash() in
    * TextFunctions), so the DuckDB oracle rebuilds the identical
    * fingerprints bit for bit and the driver hash-checks the pairs.
    */
  val d4Simhash: Q = (s, d) => {
    val sh = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), simhash(col("toks")).as("simhash"))
    val chunks = sh.select(col("doc_id"), col("simhash"),
      explode(simhashChunks(col("simhash"))).as("c"))
      .select(col("doc_id"), col("simhash"),
        col("c.chunk").as("chunk"), col("c.ckey").as("ckey"))
    val pairs = chunks.as("x").join(chunks.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("sh_a"), col("y.simhash").as("sh_b"))
      .distinct()
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")).cast("int"))
      .filter(col("hamming") <= 3)
    pairs.select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin of d4: identical md5-62 token hashes, the 62 bit-majority
    * votes unrolled via a range(62) lateral (bits 62-63 of the masked hash
    * are always 0, so the count there is -n_tokens — never set), identical
    * 16-bit chunk blocking and bit_count(xor) verification.
    */
  val d4SimhashSql: String =
    """WITH t AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != ''),
      |      tk -> CAST(md5_number_lower(tk) & 4611686018427387903 AS BIGINT)) AS hs
      |  FROM documents),
      |sh AS MATERIALIZED (
      |  SELECT doc_id,
      |    CAST(coalesce(sum(CASE WHEN bitcnt > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END), 0) AS BIGINT) AS simhash
      |  FROM (
      |    SELECT doc_id, b,
      |      list_sum(list_transform(hs, h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) AS bitcnt
      |    FROM t, (SELECT unnest(range(62)) AS b))
      |  GROUP BY doc_id),
      |chunks AS (
      |  SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS ckey
      |  FROM sh, (SELECT unnest(range(4)) AS c)),
      |pairs AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    x.simhash AS sh_a, y.simhash AS sh_b
      |  FROM chunks x JOIN chunks y
      |    ON x.c = y.c AND x.ckey = y.ckey AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
      |FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // -------------------------------------------------- d5_dedup_clusters
  /** Alternating LARGE-STAR/SMALL-STAR connected components (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond") — the
    * above-gate branch of [[connectedComponents]]. Contract: (doc_id,
    * cluster_id = min reachable doc_id) over `nodes` and undirected
    * `pairs`.
    *
    * LS/SS rewrites the EDGE SET itself toward min-rooted stars:
    *   large-star: every neighbor of u LARGER than u re-attaches to
    *     m = min(Γ(u) ∪ {u});
    *   small-star: every smaller neighbor (and u) re-attaches to the
    *     minimum of the smaller neighborhood.
    * Each operation is one hash-agg (per-center min) + one equi-join —
    * no label frontier, and a high-degree hub's whole neighborhood
    * collapses onto its minimum in ONE round instead of dragging a
    * frontier across it, which is what survives adversarial skew at
    * corpus scale (PLANS.md round 15: at sf10 a min-label + pointer-
    * jumping loop ground >55 min on the d2 graph this finishes in
    * minutes). Converges in O(log² n) rounds (far fewer in practice);
    * per-round materialize cuts lineage like every iterative operator
    * here.
    */
  def starComponents(nodes: DataFrame, pairsIn: DataFrame): DataFrame = {
    // Iteration partitioning is AQE-SCALED (r18; VERDICT r17 flagged the
    // pinned max(8, cores/4)): a keyed repartition WITHOUT an explicit
    // count seeds from the session's data-derived shuffle partitions and
    // lets AQE coalesce each round's exchanges to the ACTUAL edge-set
    // bytes — tiny residual graphs stop paying dozens of empty task
    // launches per round, corpus-scale graphs get real parallelism, and
    // no constant is tuned to either.
    val byU: DataFrame => DataFrame = _.repartition(col("u"))
    // canonical directed form: u > v (edges always point big -> small).
    // Dedup ORDER (r17 optimization, guide §2.4): repartition by u FIRST,
    // then aggregate-distinct on (u, v) — HashPartitioning(u) satisfies
    // ClusteredDistribution(u, v), so the distinct plans WITHOUT its own
    // (u, v) exchange: one shuffle per pass instead of two, here and per
    // round below.
    // withCount (r18, guide §5): the fixpoint count rides the same RDD
    // job that writes the checkpoint — zero dedicated count actions, here
    // and per round below (the r17 shape paid an eager-checkpoint job
    // PLUS a two-stage Dataset.count per round; VERDICT r17 flagged the
    // per-round synchronous action as the loop's stall exposure).
    var (edges, prevCount) = withCount(pairsIn
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .transform(byU).dropDuplicates(Seq("u", "v")))
    var converged = prevCount == 0
    var rounds = 0
    while (!converged && rounds < 30) {
      // LARGE-STAR on the symmetric view: per center, neighbors larger
      // than the center re-attach to min(neighborhood ∪ center).
      // Duplicate emissions are tolerated here (min-aggs and the final
      // distinct absorb them) — deduping mid-round would cost an extra
      // shuffle per round for nothing.
      // Round shape (r18, guide §2.4/§3.1): each star phase runs off ONE
      // explicit repartition-by-center exchange that BOTH its aggregate
      // and its join consume (ReusedExchange — one shuffle write, two
      // reads), and the min-frame joins are pinned to co-partitioned
      // sort-merge (`hint("merge")`, zero exchanges of their own). The
      // pin is the 100-TB-correct strategy, not a local tweak: lsm/ssm
      // are O(nodes) frames, and AQE's local election was a per-round
      // BROADCAST of them — an executor-memory cliff at corpus scale,
      // plus two broadcast-build jobs per round of pure overhead.
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
        .transform(byU)
      val lsm = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // MATERIALIZED deliberately (re-confirmed r17 from the physical
      // plan, OPTIMIZATION_r17.md §2): ls has three consumers in next's
      // plan (the ssm aggregate, the re-attach probe side, and ssm's
      // second appearance under the union) — one eager cut per star
      // phase stays the floor.
      // Repartitioned by its NEW center before the cut, so the
      // small-star aggregate and join plan with no exchange of their own
      // off the checkpoint-preserved partitioning.
      val ls = sym.hint("merge").join(lsm, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")) // v > u >= m: canonical
        .transform(byU)
        .materialize()
      // SMALL-STAR on the canonical (big -> small) edges: the center and
      // its smaller neighbors all re-attach to the minimum neighbor
      val ssm = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      // EXACT fixpoint test with ZERO extra actions (r18, guide §5):
      // an `in_prev` marker (left join against the previous round's
      // checkpointed edges, both sides u-clustered) rides next's OWN
      // checkpoint-writing job, and one marker-aware RDD count returns
      // (|next|, |next \ edges|) together. Both frames are DISTINCT sets
      // by construction, so |next| == |edges| ∧ next ⊆ edges ⟺ next ==
      // edges — exact, every round, at the earliest possible round. The
      // r17 shape count-gated a separate full-outer probe; measured at
      // sf0.1 the count PLATEAUS two rounds before the set fixes, so the
      // probe ran (and paid its join jobs) on 3 of 5 rounds.
      // the previous round's edges ride the SAME byU exchange as the new
      // candidate stream, tagged — the dedup then doubles as the set
      // comparator (groupBy(u,v) + max(tag) == dropDuplicates on the
      // candidate side, plus an in_prev marker), so NO join and NO extra
      // exchange carries the fixpoint signal
      val marked = graft.Materialize(
        ls.hint("merge").join(ssm, "u").filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(ssm.select(col("u"), col("m").as("v")))
          .filter(col("u") =!= col("v"))
          .select(col("u"), col("v"), lit(1).as("nw"), lit(0).as("pv"))
          .union(edges.select(col("u"), col("v"),
            lit(0).as("nw"), lit(1).as("pv")))
          .transform(byU)
          .groupBy(col("u"), col("v"))
          .agg(max(col("nw")).as("nw"), max(col("pv")).as("pv"))
          .where(col("nw") === 1)
          .select(col("u"), col("v"),
            when(col("pv") === 1, lit(true)).as("in_prev")))
      val (nextCount, nNew) = graft.Materialize.countWithNullFlag(marked, 2)
      val next = marked.select(col("u"), col("v"))
      rounds += 1
      converged = nNew == 0L && nextCount == prevCount
      prevCount = nextCount
      edges = next
    }
    // a non-converged exit would read a non-star edge set as a (wrong)
    // component mapping — fail loudly instead (30 alternations cover
    // graphs far past any realistic pair-graph diameter: O(log² n))
    require(converged || rounds == 0,
      s"starComponents did not converge in $rounds rounds")
    // converged: every edge is (member -> component minimum)
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** Driver-side union-find over a collected edge list (min id becomes the
    * root, path-compressed), broadcast-joined back onto the node set.
    * Only nodes that occur in an edge are in the mapping — isolated docs
    * coalesce to themselves, so the output matches [[starComponents]]
    * exactly.
    */
  private def driverUnionFind(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // driver-bound(threshold-gated): callers route here only when the edge count is <= driverFinishEdges (connectedComponents gate); larger graphs take the star-contraction path
    pairs.collect().foreach { row =>
      val (a, b) = (row.getLong(0), row.getLong(1))
      val (ra, rb) = (find(a), find(b))
      // min id wins the root — preserves the min-reachable cluster_id contract
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val mapping = parent.keys.toArray.map(id => (id, find(id))).toSeq
    import spark.implicits._
    val mapDf = mapping.toDF("doc_id", "uf_cluster")
    nodes.join(broadcast(mapDf), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("uf_cluster"), col("doc_id")).as("cluster_id"))
  }

  /** Connected components: (doc_id, cluster_id = min reachable doc_id)
    * over `nodes` and undirected `pairs` (doc_a, doc_b). Driver
    * union-find while the pair graph fits (≤ `driverFinishEdges` — the
    * shallow, small residual graphs near-dup pipelines produce; 2M edges
    * ≈ 32 MB on the driver, one collect instead of a job per round),
    * [[starComponents]] above the gate (sf10's d2 graph; zero driver
    * state, hub-collapsing). One oracle certifies both branches: d5 and
    * g15 hash-match the same recursive-closure SQL, and specs drive the
    * star branch through the gate with `driverFinishEdges = -1`.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      driverFinishEdges: Long = 2000000L): DataFrame = {
    // materialize: the pair plan (a band join + verify, typically) feeds
    // the gate count AND the chosen algorithm — compute once. Project to
    // the edge columns BY NAME first: driverUnionFind reads
    // positionally, and the gate's collect must not haul any extra
    // caller columns (e.g. a jaccard score) to the driver
    val (p, nP) = withCount(pairs.select(col("doc_a"), col("doc_b")))
    if (nP <= driverFinishEdges) driverUnionFind(nodes, p)
    else starComponents(nodes, p)
  }

  /** Annotate a components frame (doc_id, cluster_id) with per-cluster
    * size + canonical flag. Sizes come from a map-side-combinable
    * `groupBy(cluster_id).count` joined back, NOT `count.over(Window
    * .partitionBy(cluster_id))`: a giant boilerplate near-dup cluster at
    * web scale would funnel all its members through one WindowExec task,
    * while the agg collapses hot clusters to one row per mapper and the
    * join-back (1 build row per cluster) is AQE-skew-splittable.
    */
  def withClusterStats(comps0: DataFrame): DataFrame = {
    // the frame feeds BOTH the size agg and the join probe — materialize
    // so the (iterative, expensive) component computation runs once
    val comps = comps0.materialize()
    val sizes = comps.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, "cluster_id")
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("is_canonical"))
  }

  /** Cluster resolution: connected components over the d2 near-dup pair
    * graph — the step every real dedup pipeline needs after pair
    * generation (pairs (a,b),(b,c) must collapse to ONE kept doc, not
    * two independent drops). Output: every document with its cluster id
    * (min doc_id reachable), cluster size, and the canonical-keeper flag.
    *
    * Algorithm: [[connectedComponents]] — driver union-find while the
    * pair graph fits under the edge gate (every sf up to 1: near-dup
    * pairs are a tiny residue of the corpus), [[starComponents]] above
    * it (sf10's d2 graph crosses the gate). Sizes come from
    * [[withClusterStats]]'s skew-safe agg + join-back.
    */
  val d5DedupClusters: Q = (s, d) => {
    val comps = connectedComponents(
      docs(s, d).select(col("doc_id")), d2Pairs(s, d))
    withClusterStats(comps).orderBy("doc_id")
  }

  /** Same components via DuckDB's recursive CTE (transitive closure is
    * affordable at oracle scale; the Spark path never materializes it).
    */
  val d5DedupClustersSql: String =
    s"""WITH RECURSIVE ${bandCandSql("documents")},
      |${charVerifySql("documents")},
      |pairs AS (
      |  SELECT doc_a, doc_b FROM cj
      |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
      |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      |  GROUP BY d.doc_id)
      |SELECT doc_id, cluster_id,
      |  CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
      |  doc_id = cluster_id AS is_canonical
      |FROM comp ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ d6_keep_best
  /** Quality-aware dedup: within each exact-duplicate group (d1's
    * canonical-text fingerprint), keep the HIGHEST-QUALITY copy (t2's
    * quality score; doc_id-asc tie-break) instead of d1's min-id rule —
    * what a real curation pipeline does when duplicates differ in
    * trailing boilerplate.
    *
    * Distributed shape: argmax packed into ONE 64-bit key —
    * (quality·10⁴ + 1) << 41 | (2⁴¹-1 − doc_id) — so the whole argmax is
    * a primitive `max(long)` inside a HashAggregate with map-side
    * partial aggregation (a struct-valued max would fall back to
    * SortAggregate and sort every partition by fingerprint). The
    * quality factor is the EXACT integer floor(blend·10⁴+0.5) — packing
    * the already-divided double would re-round and drift off the
    * oracle. The window-rank formulation stays in the oracle, which
    * doesn't need to scale.
    */
  val d6KeepBest: Q = (s, d) => {
    val MaxId = (1L << 41) - 1 // doc ids fit 41 bits; quality fits 22
    val scored = TextAnalysis.qualityCounts(s, d).select(col("doc_id"),
      // -1 (null blend, zero-token doc) packs below every real score
      coalesce(floor(TextAnalysis.qualityBlend * lit(10000.0) + lit(0.5))
        .cast("long"), lit(-1L)).as("q4"))
    docs(s, d)
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .join(scored, "doc_id")
      .groupBy(col("fp"))
      .agg(
        max(shiftleft(col("q4") + 1, 41) + (lit(MaxId) - col("doc_id")))
          .as("key"),
        count(lit(1)).as("n_copies"))
      .select(col("fp"),
        (lit(MaxId) - col("key").bitwiseAND(lit(MaxId))).as("keep_id"),
        when(shiftright(col("key"), 41) - 1 >= 0,
          (shiftright(col("key"), 41) - 1) / lit(10000.0))
          .as("best_quality"),
        col("n_copies"))
      .orderBy("fp")
  }

  val d6KeepBestSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    floor((least(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |        t -> t != '')) AS BIGINT) / 100.0, 1.0) * 0.5
      |      + (CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |          t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT)
      |         / nullif(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |             t -> t != '')) AS BIGINT), 0)) * 0.3
      |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      |         / nullif(CAST(length(text) AS BIGINT), 0)) * 0.2) * 10000.0 + 0.5)
      |      / 10000.0 AS quality_score,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      |  FROM documents),
      |ranked AS (
      |  SELECT fp, doc_id, quality_score,
      |    row_number() OVER (PARTITION BY fp
      |      ORDER BY quality_score DESC, doc_id ASC) AS rk,
      |    count(*) OVER (PARTITION BY fp) AS n_copies
      |  FROM q)
      |SELECT fp, doc_id AS keep_id, quality_score AS best_quality, n_copies
      |FROM ranked WHERE rk = 1 ORDER BY fp""".stripMargin

  // ------------------------------------------------- d7_semantic_dedup
  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023): documents
    * whose EMBEDDINGS are near-identical are duplicates even when their
    * text n-grams differ — the complement of d2/d3's lexical matching.
    * Pipeline: cell-blocked cosine pairs (the IVF coarse-cell trick, via
    * the embedding table's label cells — same blocking v3 uses) →
    * connected components over the pair graph (d5's machinery on a new
    * edge set) → keep the highest-QUALITY member per cluster (d6's
    * packed-argmax, t2's quality blend), not the min id — SemDeDup's
    * point is that you choose which near-duplicate survives.
    *
    * Scale shape: pairs are equality-joined within cells (never
    * all-pairs), components iterate on the tiny pair graph, and the
    * keep-best argmax is ONE primitive max(long) hash-agg; the final
    * per-doc join is cluster-keyed. Every stage is the already-audited
    * d5/d6 shape.
    */
  val d7SemanticDedup: Q = (s, d) => {
    import graft.functions.VectorFunctions.{cosineWithNorms, dot, normSq}
    val MaxId = (1L << 41) - 1
    val e = Tables.load(s, d, "embeddings")
    val a = e.select(col("vec_id").as("doc_a"), col("label"),
      col("embedding").as("emb_a"), normSq(col("embedding")).as("nsq_a"))
    val b = e.select(col("vec_id").as("doc_b"), col("label"),
      col("embedding").as("emb_b"), normSq(col("embedding")).as("nsq_b"))
    val pairs = a.join(b, Seq("label"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(cosineWithNorms(dot(col("emb_a"), col("emb_b")),
        col("nsq_a"), col("nsq_b")) >= 0.35)
      .select(col("doc_a"), col("doc_b"))
    val comps = connectedComponents(e.select(col("vec_id").as("doc_id")), pairs)
    val scored = TextAnalysis.qualityCounts(s, d).select(col("doc_id"),
      coalesce(floor(TextAnalysis.qualityBlend * lit(10000.0) + lit(0.5))
        .cast("long"), lit(-1L)).as("q4"))
    val best = comps.join(scored, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max(shiftleft(col("q4") + 1, 41) + (lit(MaxId) - col("doc_id"))).as("key"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"),
        (lit(MaxId) - col("key").bitwiseAND(lit(MaxId))).as("keep_id"),
        col("cluster_size"))
    // Semi-join back through `scored` so embedding ids with no documents
    // row drop here exactly like the oracle's `comp JOIN q USING (doc_id)`
    // does — parity must not hinge on the vec_id ⊆ doc_id testdata invariant.
    comps.join(scored.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("keep_id")).as("is_kept"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of d7: v3's cell-blocked cosine pairs feed d5's
    * recursive-CTE reachability, and the keep-best argmax is replayed as
    * a (q4 DESC, doc_id ASC) window rank over d6's quality integer.
    */
  val d7SemanticDedupSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
      |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |         i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1),
      |         i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
      |    >= 0.35),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT em.vec_id AS doc_id,
      |    least(em.vec_id, coalesce(min(r.v), em.vec_id)) AS cluster_id
      |  FROM embeddings em LEFT JOIN reach r ON r.u = em.vec_id
      |  GROUP BY em.vec_id),
      |q AS (
      |  SELECT doc_id,
      |    coalesce(floor((least(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |        t -> t != '')) AS BIGINT) / 100.0, 1.0) * 0.5
      |      + (CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |          t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT)
      |         / nullif(CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |             t -> t != '')) AS BIGINT), 0)) * 0.3
      |      + (1.0 - CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
      |         / nullif(CAST(length(text) AS BIGINT), 0)) * 0.2) * 10000.0 + 0.5), -1)
      |      AS q4
      |  FROM documents),
      |ranked AS (
      |  SELECT c.doc_id, c.cluster_id, q.q4,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |      ORDER BY q.q4 DESC, c.doc_id ASC) AS rk,
      |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      |  FROM comp c JOIN q USING (doc_id))
      |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
      |  rk = 1 AS is_kept
      |FROM ranked ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- d8_span_dedup
  /** SPAN-level exact dedup (the chunk-granularity approximation of Lee et
    * al. 2022 "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 §4.1 ExactSubstr): documents are cut into
    * non-overlapping 3-token spans and every span that already occurred
    * earlier in the corpus — first occurrence = smallest (doc_id, idx) —
    * is dropped from later documents. Unlike d1–d7 (which keep or drop
    * WHOLE documents), this rewrites document CONTENT, the shape used to
    * strip boilerplate that repeats across millions of pages.
    *
    * Spans come from the custom [[graft.expressions.SpanChunks]] GENERATOR,
    * which streams one span at a time through GenerateExec instead of
    * materializing the per-doc chunk array (t7's HOF shape) — constant
    * per-row memory on arbitrarily long documents.
    *
    * Scale shape: one generate (narrow) → ONE map-side-combinable hash
    * aggregate per span key — min(struct(doc_id, idx)) — whose winner
    * row IS the global first occurrence (struct min is lexicographic,
    * exactly the (doc_id, idx) order), exact for documents of any
    * length and ids of any magnitude (no packed-long bound). Because
    * the argmin partially aggregates map-side, a hot boilerplate span —
    * span frequency in natural text is Zipf-distributed — collapses to
    * one candidate row per mapper BEFORE the shuffle; the former
    * row_number-over-span-window spelling (no partial aggregation —
    * every occurrence of a hot key sorts in one task) is kept as
    * [[spanDedupKeptRankWindow]], the differential witness
    * TextDedupSpec replays on a hot-key fixture.
    * Reconstruction is a per-doc sort of ≤ len/3 kept spans.
    */
  /** d8's body at span length `n` — the match grain is the ONLY knob
    * between the didactic 3-token form and Lee et al.'s production
    * ~50-token ExactSubstr grain, and the plan is identical at any n:
    * one streamed generate, one span-keyed argmin aggregate. Cost FALLS
    * as n grows (spans per doc ~ len/n, and longer spans collide less)
    * — see the recorded sf1 cost curve in PLANS.md. First occurrence =
    * min(struct(doc_id, idx)) per span — the winner struct carries the
    * keeping doc and offset, so no join back is needed, and unlike the
    * round-13 packed doc_id·2^20+idx argmin it is exact past 2^20
    * CHUNKS (~3M tokens at n=3), a bound a 100-TB book corpus can
    * exceed.
    */
  private[graft] def spanDedupAt(s: SparkSession, d: String, n: Int): DataFrame = {
    import graft.expressions.SpanChunks.spanChunks
    val spans = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .select(col("doc_id"), spanChunks(col("t"), n).as(Seq("idx", "span")))
      // feeds the kept argmin AND the per-doc totals
      .materialize()
    val kept = spanDedupKept(spans)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("idx"), col("span")))),
            x => x.getField("span")))).as("kept_md5"))
    val totals = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    docs(s, d).select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("n_spans"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
          .as("n_dropped"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** First occurrence per span — PRODUCTION shape: min(struct(doc_id,
    * idx)) hash aggregate. Struct min compares fields lexicographically
    * (doc_id, then idx) — the exact (doc_id, idx) total order — and the
    * winner struct carries both coordinates, so selecting it back out
    * yields the kept (doc_id, idx, span) rows with NO join. Crucially
    * the aggregate partially combines map-side: a span occurring in 1%
    * of a 100-TB corpus contributes ONE candidate row per mapper to the
    * shuffle, not billions of rows to a single reducer.
    */
  private[graft] def spanDedupKept(spans: DataFrame): DataFrame =
    spans
      .groupBy(col("span"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"),
        col("span"))

  /** DIFFERENTIAL WITNESS (round-14 shape, superseded): first occurrence
    * via row_number over Window.partitionBy(span). Window functions have
    * no map-side partial aggregation, so every occurrence of a hot span
    * key sorts in ONE task — straggler/OOM at web scale. Kept only so
    * TextDedupSpec can assert the argmin rewrite is row-identical,
    * including on a planted hot-key corpus.
    */
  private[graft] def spanDedupKeptRankWindow(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    spans
      .withColumn("rn", row_number().over(Window.partitionBy(col("span"))
        .orderBy(col("doc_id"), col("idx"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("idx"), col("span"))
  }

  val d8SpanDedup: Q = (s, d) => spanDedupAt(s, d, 3)

  /** DuckDB twin of d8 at span length `n`: list slices replay the
    * generator's spans byte-for-byte; string_agg(... ORDER BY idx)
    * replays the ordered reconstruction (idx is unique per doc, so the
    * order is total).
    */
  private def spanDedupSqlAt(n: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
      |  FROM documents),
      |chunks AS MATERIALIZED (
      |  SELECT doc_id, CAST(i AS INT) AS idx,
      |    array_to_string(t[(i*$n)+1:(i*$n)+$n], ' ') AS span
      |  FROM toks, unnest(range(CAST(ceil(len(t) / $n.0) AS BIGINT))) AS u(i)),
      |kept AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |    md5(string_agg(span, ' ' ORDER BY idx)) AS kept_md5
      |  FROM (SELECT doc_id, idx, span,
      |          row_number() OVER (PARTITION BY span
      |            ORDER BY doc_id, idx) AS rn
      |        FROM chunks)
      |  WHERE rn = 1 GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS n_spans FROM chunks GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(tot.n_spans, 0) AS n_spans,
      |  coalesce(kept.n_kept, 0) AS n_kept,
      |  coalesce(tot.n_spans, 0) - coalesce(kept.n_kept, 0) AS n_dropped,
      |  coalesce(kept.kept_md5, md5('')) AS kept_md5
      |FROM documents d
      |LEFT JOIN tot USING (doc_id) LEFT JOIN kept USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val d8SpanDedupSql: String = spanDedupSqlAt(3)

  // --------------------------------------------- d18_span_dedup32
  /** ExactSubstr at production grain: d8's exact span dedup with
    * 32-token spans — the order of magnitude Lee et al. 2022 actually
    * deduplicate at (§4.1 uses 50-token matches; 3-token spans are the
    * didactic grain that maximizes collisions for testing). Same
    * streamed generator, same argmin-join plan; at 32 tokens a span
    * collision means a genuinely copied passage, not a common phrase,
    * so n_dropped is the corpus's real boilerplate mass.
    */
  val d18SpanDedup32: Q = (s, d) => spanDedupAt(s, d, 32)

  val d18SpanDedup32Sql: String = spanDedupSqlAt(32)

  // ----------------------------------------------- d21_exactsubstr
  /** ANY-length ExactSubstr dedup — Lee et al. 2022 (arXiv:2107.06499
    * §4.1)'s actual contract, which d8/d18's fixed grains only
    * approximate: every substring of >= L tokens that occurs more than
    * once in the corpus is removed from every occurrence EXCEPT the
    * earliest (smallest (doc_id, pos)), at ANY offset. The reference
    * recipe builds a suffix array over the concatenated corpus; the
    * equivalent distributed shape is sliding-window fingerprinting — a
    * repeat of length m >= L occupies exactly its m - L + 1 stride-1
    * L-token windows, each of which repeats, and their merged span is
    * the full m tokens; anything shorter than L has no full window and
    * is never touched. So: (1) stream every full L-token window per doc
    * ((pos, md5(window)) via the SpanChunks generator in sliding mode —
    * constant memory per row, and the 32-hex md5 projects the window
    * text away before any shuffle), (2) one map-side-combinable
    * min(struct(doc_id, pos)) + count aggregate per window key finds
    * each repeated key's earliest occurrence; joining the repeated-key
    * winners back to the occurrence stream and dropping the winner row
    * yields exactly the "non-earliest occurrence of a repeated key"
    * set, (3) covered windows merge into maximal spans with one per-doc
    * running-max window, and kept text is the uncovered tokens in
    * order. Positions are exact, so repeats straddling any grain
    * boundary — the class d18 provably misses (TextDedupSpec plants
    * one) — are caught at their true extent.
    *
    * Scale shape: windows are n_tokens rows (not n_tokens × L), one
    * key-agg + one key-join (the d1 exact pattern at window grain),
    * then per-doc windows over COVERED rows only — on a deduplicated
    * corpus a small fraction of the token stream. Nothing is all-pairs.
    * The argmin partially aggregates map-side, so a hot boilerplate
    * window key never funnels its full occurrence list into one task;
    * the join back is a per-row equi-join AQE can skew-split (unlike a
    * WindowExec partition, which cannot). The round-14
    * rank-window spelling survives as [[exactSubstrCoveredRankWindow]],
    * the differential witness TextDedupSpec replays on a hot-key
    * fixture.
    */
  private[graft] def exactSubstrAt(s: SparkSession, d: String,
      n: Int): DataFrame = {
    import graft.expressions.SpanChunks.slidingChunks
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .materialize() // window stream, totals, AND the kept-text rebuild
    // wkey is INTERNAL (grouping + join only, never output): the 62-bit
    // portable hash replaces the 32-char md5 hex string (r18, guide
    // §2.3 narrower types) — the window stream is this operator's one
    // corpus-sized shuffle, and the key is most of its bytes. Same
    // equivalence classes modulo a 2^-62 collision, the exact exposure
    // d2/d9/d20's shingle keys already accept by design.
    val wins = toks
      .select(col("doc_id"), slidingChunks(col("t"), n).as(Seq("pos", "span")))
      .select(col("doc_id"), col("pos"),
        graft.expressions.PortableHashExpressions.md5Hash62(col("span"))
          .as("wkey"))
      .materialize() // feeds the per-key argmin AND the join back
    // every non-earliest occurrence of each window key: the repeated
    // keys' earliest occurrences come from one map-side-combinable
    // min(struct(doc_id, pos)) aggregate (struct min on the raw pair —
    // not a packed long — is exact for documents of ANY length and ids
    // of any magnitude), then a join back drops the winner row. cnt > 1
    // keeps the join's build side to repeated keys only.
    val covered = exactSubstrCovered(wins)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = covered
      .withColumn("prev_e", max(col("pos") + lit(n - 1))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("st", when(col("prev_e").isNull ||
        col("pos") > col("prev_e") + 1, 1L).otherwise(0L))
      .withColumn("isl", sum(col("st")).over(w))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1)).as("e"))
      .materialize() // span rollup AND the covered-position explode
    val spanAgg = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("n_removed"))
    val covpos = islands.select(col("doc_id"),
      explode(sequence(col("s"), col("e"))).as("pos"))
    val keptT = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "tok")))
      .join(covpos, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("kept_md5"))
    docs(s, d).select(col("doc_id"))
      .join(toks.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens")), Seq("doc_id"), "left")
      .join(spanAgg, Seq("doc_id"), "left")
      .join(keptT, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Covered positions — PRODUCTION shape: min(struct(doc_id, pos)) +
    * count per window key (map-side combinable — hot keys collapse to
    * one candidate per mapper), winners filtered to repeated keys
    * (cnt > 1), joined back to the occurrence stream, winner row
    * dropped. The equi-join routes each occurrence row independently,
    * so AQE's skew-join split applies where a single-task WindowExec
    * partition could not.
    */
  private[graft] def exactSubstrCovered(wins: DataFrame): DataFrame = {
    val firsts = wins
      .groupBy(col("wkey"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"),
        count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("wkey"), col("w"))
    wins.join(firsts, Seq("wkey"))
      .where(struct(col("doc_id"), col("pos")) =!= col("w"))
      .select(col("doc_id"), col("pos"))
  }

  /** DIFFERENTIAL WITNESS (round-14 shape, superseded): covered = rank
    * > 1 under a per-wkey row_number window. Single task per key, no
    * partial aggregation — kept only so TextDedupSpec can assert the
    * argmin+join rewrite is row-identical on a planted hot-key corpus.
    */
  private[graft] def exactSubstrCoveredRankWindow(wins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wins
      .withColumn("rn", row_number().over(Window.partitionBy(col("wkey"))
        .orderBy(col("doc_id"), col("pos"))))
      .where(col("rn") > 1)
      .select(col("doc_id"), col("pos"))
  }

  /** Driver grain 8: the corpus's docs run 30–90 tokens, so 8 is the
    * proportional analog of Lee et al.'s 50-token grain on web pages —
    * long enough that a match is a copied run, short enough that planted
    * near-dups actually contain one.
    */
  val d21ExactSubstr: Q = (s, d) => exactSubstrAt(s, d, 8)

  /** DuckDB twin at grain `n`: identical sliding windows via range +
    * list slice, the same md5 window keys, per-key occurrence-rank window, running-max
    * island merge, and anti-join kept-text rebuild.
    */
  private[graft] def exactSubstrSqlAt(n: Int): String =
    s"""WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id, CAST(i AS INT) AS pos,
      |    md5(array_to_string(t[i+1:i+$n], ' ')) AS wkey
      |  FROM toks, unnest(range(CAST(greatest(len(t) - $n + 1, 0) AS BIGINT))) AS u(i)),
      |cov AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos,
      |      row_number() OVER (PARTITION BY wkey
      |        ORDER BY doc_id, pos) AS rn
      |    FROM wins)
      |  WHERE rn > 1),
      |isl AS (
      |  SELECT doc_id, pos,
      |    sum(CASE WHEN prev_e IS NULL OR pos > prev_e + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      |  FROM (SELECT doc_id, pos,
      |          max(pos + $n - 1) OVER (PARTITION BY doc_id ORDER BY pos
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_e
      |        FROM cov)),
      |islands AS MATERIALIZED (
      |  SELECT doc_id, min(pos) AS s, max(pos) + $n - 1 AS e
      |  FROM isl GROUP BY doc_id, isl),
      |spanagg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS n_removed
      |  FROM islands GROUP BY doc_id),
      |covpos AS (SELECT doc_id, CAST(p AS INT) AS pos
      |           FROM islands, unnest(range(s, e + 1)) AS v(p)),
      |toksx AS (SELECT doc_id, CAST(i AS INT) AS pos,
      |            t[CAST(i + 1 AS INT)] AS tok
      |          FROM toks, unnest(range(CAST(len(t) AS BIGINT))) AS u(i)),
      |keptt AS (
      |  SELECT k.doc_id, md5(string_agg(k.tok, ' ' ORDER BY k.pos)) AS kept_md5
      |  FROM toksx k ANTI JOIN covpos c
      |    ON k.doc_id = c.doc_id AND k.pos = c.pos
      |  GROUP BY k.doc_id),
      |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
      |SELECT d.doc_id,
      |  coalesce(tot.n_tokens, 0) AS n_tokens,
      |  coalesce(sa.n_spans, 0) AS n_spans,
      |  coalesce(sa.n_removed, 0) AS n_removed,
      |  coalesce(keptt.kept_md5, md5('')) AS kept_md5
      |FROM documents d
      |LEFT JOIN tot USING (doc_id) LEFT JOIN spanagg sa USING (doc_id)
      |LEFT JOIN keptt USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val d21ExactSubstrSql: String = exactSubstrSqlAt(8)

  // ---------------------------------------------------- d9_containment
  /** Containment dedup (subset-duplicate detection): pairs where one
    * doc's shingle set is ≥90% contained in the smaller side — the
    * low-Jaccard partial-copy case Jaccard-keyed LSH (d3) structurally
    * misses (a 10:1 length ratio caps Jaccard at ~0.1 however perfect
    * the containment). Candidates come from RARE-SHINGLE BLOCKING, the
    * inverted-index shape: only grams with document frequency in
    * [2, 20] generate pairs — df-1 grams pair nothing, high-df grams
    * would be the mega-bucket, and the cap bounds per-gram fanout at
    * C(20,2), so candidate volume is Σ C(df,2) over rare grams, never
    * all-pairs. Exact verification runs the codegen'd merge-walk
    * intersect (d2's kernel) on the full sorted gram arrays.
    */
  val d9Containment: Q = (s, d) => {
    val base = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 3).as("ngrams"))
      .select(col("doc_id"), graft.expressions.PortableHashExpressions
        .md5HashArray62(col("ngrams"), distinctSorted = true).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .materialize() // consumed by the gram explode + 2 verify sides
    val grams = base.select(col("doc_id"), explode(col("sh")).as("g"))
    // ONE pass over the gram stream (r18, guide §2.3/§2.4): the shared
    // rareKeyPairs reshape — per gram, count(*) plus the bounded
    // MinKValues list at k = cap+1 = 21 replace the two-pass df-agg +
    // semi-join + self-join (the gram stream shuffled TWICE) with a
    // single gram-keyed shuffle; a doc's shingles are distinct, so each
    // doc contributes one slot and an in-cap gram holds its COMPLETE
    // sorted member list. Factored into JoinOps.rareKeyPairs (also
    // mm11/mm12's index shape) — pair set row-identical to the old
    // x.doc_id < y.doc_id self-join.
    val cand = JoinOps.rareKeyPairs(grams, col("g"), col("doc_id"),
      dfMin = 2, dfMax = 20, outA = "doc_a", outB = "doc_b")
    val inter = graft.expressions.SetSketchExpressions
      .sortedIntersectSize(col("sh_a"), col("sh_b"))
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "doc_b")
      .withColumn("containment", inter / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        sround(col("containment"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** DuckDB twin: identical shingle build (d3's), df-banded inverted
    * index, exact list_intersect verification.
    */
  val d9ContainmentSql: String =
    """WITH g AS MATERIALIZED (
      |  SELECT doc_id, sh, len(sh) AS n_sh
      |  FROM (
      |    SELECT doc_id,
      |      list_sort(list_distinct(list_transform(
      |        CASE WHEN len(t) >= 3
      |          THEN list_transform(range(1, len(t) - 1),
      |            i -> array_to_string(t[i:i+2], ' '))
      |          ELSE CAST([] AS VARCHAR[]) END,
      |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903
      |          AS BIGINT)))) AS sh
      |    FROM (SELECT doc_id,
      |            list_filter(regexp_split_to_array(lower(text), '\s+'),
      |              x -> x != '') AS t
      |          FROM documents))),
      |gr AS MATERIALIZED (SELECT doc_id, unnest(sh) AS gm FROM g),
      |rare AS (SELECT gm FROM gr GROUP BY gm
      |  HAVING count(*) BETWEEN 2 AND 20),
      |bl AS (SELECT doc_id, gm FROM gr
      |  WHERE gm IN (SELECT gm FROM rare)),
      |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM bl x JOIN bl y ON x.gm = y.gm AND x.doc_id < y.doc_id),
      |j AS (
      |  SELECT c.doc_a, c.doc_b, len(list_intersect(a.sh, b.sh)) AS inter,
      |    a.n_sh AS n_a, b.n_sh AS n_b
      |  FROM cand c JOIN g a ON a.doc_id = c.doc_a
      |    JOIN g b ON b.doc_id = c.doc_b)
      |SELECT doc_a, doc_b, CAST(n_a AS INTEGER) AS n_a,
      |  CAST(n_b AS INTEGER) AS n_b,
      |  floor(inter / CAST(least(n_a, n_b) AS DOUBLE) * 10000.0 + 0.5)
      |    / 10000.0 AS containment
      |FROM j WHERE inter / CAST(least(n_a, n_b) AS DOUBLE) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ registry
  // ---------------------------------------------- d10_incremental_dedup
  /** Incremental snapshot dedup — the production "dedupe the NEW crawl
    * against the EXISTING corpus" pass (here: sources src10+ are the
    * incoming snapshot, src0-src9 the standing corpus). Every incoming
    * doc gets a verdict:
    *   exact — its d1 canonical fingerprint already exists in the corpus;
    *   near  — a d3 MinHash band collision with a corpus doc verifies at
    *           Jaccard ≥ 0.2;
    *   new   — neither.
    * plus the smallest matching corpus doc_id as provenance. The point of
    * the operator is ASYMMETRY: band keys join incoming × existing only —
    * never incoming × incoming — so daily cost scales with the DELTA
    * against the corpus index (at scale the existing side's fingerprints
    * and band keys are a standing table updated per batch, not recomputed;
    * both sides' builds here stand in for reading that index). Per-doc
    * match state is min(long) — no set accumulation anywhere.
    */
  val d10IncrementalDedup: Q = (s, d) =>
    incrementalDedup(docs(s, d)
      .withColumn("incoming", expr("CAST(substring(source, 4) AS INT) >= 10")))

  /** d10 over an arbitrary documents frame carrying a boolean `incoming`
    * split column — the spec plants cross-split exact duplicates (absent
    * from the synthetic corpus) to exercise the exact-verdict branch.
    */
  def incrementalDedup(all: DataFrame): DataFrame = {
    // reuse a caller-provided fp column (NearDupStream computes it for
    // its within-batch collapse) instead of hashing every doc twice
    val fp =
      if (all.columns.contains("fp"))
        all.select(col("doc_id"), col("incoming"), col("fp"))
      else all.select(col("doc_id"), col("incoming"),
        md5(normText(col("text"))).as("fp"))
    val inc = fp.where(col("incoming"))
    val exi = fp.where(!col("incoming"))
    val exact = inc.join(exi.select(col("fp"), col("doc_id").as("eid")), "fp")
      .groupBy(col("doc_id")).agg(min(col("eid")).as("exact_match"))
    val flags = all.select(col("doc_id"), col("incoming"))
    val base = shingleSets(all).join(flags, "doc_id")
      .materialize() // feeds both band sides AND the verify join
    val cand = minhashBands(base.where(col("incoming"))).as("x")
      .join(minhashBands(base.where(!col("incoming"))).as("y"),
        col("x.bkey") === col("y.bkey"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("eid"))
      .distinct()
    val near = cand
      .join(base.select(col("doc_id"), col("sh").as("sh_a"),
        col("n_sh").as("n_a")), "doc_id")
      .join(base.select(col("doc_id").as("eid"), col("sh").as("sh_b"),
        col("n_sh").as("n_b")), "eid")
      .withColumn("inter", graft.expressions.SetSketchExpressions
        .sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jac", col("inter") / (col("n_a") + col("n_b") - col("inter")))
      .filter(col("jac") >= 0.2)
      .groupBy(col("doc_id")).agg(min(col("eid")).as("near_match"))
    inc.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, lit("exact"))
          .when(col("near_match").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("match_id"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: d1's fingerprint + d3's replayed signatures, with the
    * band join restricted to incoming × existing and the same
    * exact-over-near verdict precedence.
    */
  val d10IncrementalDedupSql: String = {
    val p = 2147483647L
    // same columnar min-aggregate spelling as d3 (see comment there)
    val minCols = (0 until 64).map { idx =>
      val a = minhashPermA31(idx)
      val b = minhashPermB31(idx)
      s"    min(($a * h + $b) % $p) AS m$idx"
    }.mkString(",\n")
    val bandArms = (0 until 32).map { bnd =>
      s"  SELECT doc_id, $bnd AS band, m${2 * bnd} AS r0, m${2 * bnd + 1} AS r1 FROM mins"
    }.mkString("\n  UNION ALL\n")
    s"""WITH d0 AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(substring(source, 4) AS INTEGER) >= 10 AS incoming,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
       |  FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, sh, list_transform(sh, h -> h & 2147483647) AS h31,
       |    len(sh) AS n_sh
       |  FROM (
       |    SELECT doc_id,
       |      list_sort(list_distinct(list_transform(
       |        CASE WHEN len(t) >= 3
       |          THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |          ELSE CAST([] AS VARCHAR[]) END,
       |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT)))) AS sh
       |    FROM (SELECT doc_id,
       |            list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |          FROM documents))),
       |mins AS MATERIALIZED (
       |  SELECT doc_id,
       |$minCols
       |  FROM (SELECT doc_id, unnest(h31) AS h FROM g)
       |  GROUP BY doc_id),
       |bands AS MATERIALIZED (
       |$bandArms),
       |exact AS (
       |  SELECT i.doc_id, min(e.doc_id) AS exact_match
       |  FROM d0 i JOIN d0 e ON i.fp = e.fp
       |  WHERE i.incoming AND NOT e.incoming
       |  GROUP BY i.doc_id),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS eid
       |  FROM bands x
       |  JOIN bands y ON x.band = y.band AND x.r0 = y.r0 AND x.r1 = y.r1
       |  JOIN d0 fx ON fx.doc_id = x.doc_id
       |  JOIN d0 fy ON fy.doc_id = y.doc_id
       |  WHERE fx.incoming AND NOT fy.incoming),
       |near AS (
       |  SELECT doc_id, min(eid) AS near_match FROM (
       |    SELECT c.doc_id, c.eid, len(list_intersect(a.sh, b.sh)) AS inter,
       |      a.n_sh AS n_a, b.n_sh AS n_b
       |    FROM cand c JOIN g a ON a.doc_id = c.doc_id
       |    JOIN g b ON b.doc_id = c.eid)
       |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.2
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN exact_match IS NOT NULL THEN 'exact'
       |       WHEN near_match IS NOT NULL THEN 'near'
       |       ELSE 'new' END AS verdict,
       |  coalesce(exact_match, near_match) AS match_id
       |FROM d0 d LEFT JOIN exact USING (doc_id) LEFT JOIN near USING (doc_id)
       |WHERE d.incoming ORDER BY d.doc_id""".stripMargin
  }

  // ---------------------------------------------- d13_threshold_sweep
  /** Dedup-threshold tuning curve — the question every near-dup rollout
    * asks BEFORE picking a cut: "how much would each Jaccard threshold
    * remove?" For each threshold 0.3..0.9, the number of qualifying
    * pairs, the number of documents touched by any qualifying pair, and
    * the mean Jaccard of the survivors — enough to see the knee of the
    * curve and cost a d2/d5 run at each setting. The policy being tuned
    * is d2's own verify cut GIVEN d2's band-candidate generation, so the
    * sweep reuses the audited pair machinery verbatim with the verify
    * floor dropped to the lowest probed threshold.
    *
    * Scale shape: the expensive part is the pair generation the engine
    * already bounds (sparse band-bucket joins, never corpus²); the sweep itself
    * is a constant fan-out-7 explode on the PAIR set (pairs << corpus at
    * any sane floor) and two 7-group aggs. Float discipline: Jaccards
    * collapse to sround-4 integer units, so per-threshold sums are
    * order-free longs and threshold comparison is integer-exact (no
    * boundary ulp games).
    */
  private val SweepT4: Seq[Int] = (3 to 9).map(_ * 1000)

  val d13ThresholdSweep: Q = (s, d) => {
    val pairs = ngramPairs(docs(s, d), minJac = 0.3)
      .select(col("doc_a"), col("doc_b"),
        floor(col("jaccard") * 10000.0 + lit(0.5)).cast("long").as("j4"))
      .materialize() // feeds the pair agg AND the doc agg
    val pairsT = pairs
      .withColumn("t4", explode(array(SweepT4.map(lit): _*)))
      .filter(col("j4") >= col("t4"))
      .materialize()
    val pairStats = pairsT.groupBy(col("t4"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sj4"))
    val docStats = pairsT
      .select(col("t4"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy(col("t4")).agg(countDistinct(col("doc")).as("n_docs"))
    import s.implicits._
    SweepT4.toDF("t4")
      .join(pairStats, Seq("t4"), "left")
      .join(docStats, Seq("t4"), "left")
      .select((col("t4") / 10000.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        (floor(col("sj4") / (lit(10000.0) * col("n_pairs")) * 10000.0
          + lit(0.5)) / 10000.0).as("mean_jaccard"))
      .orderBy("threshold")
  }

  /** Oracle: d2's band-candidate pair replay with the 0.3 floor + the
    * same integer-unit sweep.
    */
  val d13ThresholdSweepSql: String =
    s"""WITH ${bandCandSql("documents")},
      |${charVerifySql("documents")},
      |pairs AS MATERIALIZED (
      |  SELECT doc_a, doc_b,
      |    CAST(floor(inter / CAST(n_a + n_b - inter AS DOUBLE) * 10000.0 + 0.5)
      |      AS BIGINT) AS j4
      |  FROM cj
      |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.3),
      |th AS (SELECT unnest([3000, 4000, 5000, 6000, 7000, 8000, 9000]) AS t4),
      |pt AS MATERIALIZED (
      |  SELECT t4, doc_a, doc_b, j4 FROM pairs JOIN th ON j4 >= t4),
      |ps AS (SELECT t4, count(*) AS n_pairs, CAST(sum(j4) AS BIGINT) AS sj4
      |       FROM pt GROUP BY t4),
      |ds AS (SELECT t4, count(DISTINCT doc) AS n_docs FROM (
      |         SELECT t4, doc_a AS doc FROM pt
      |         UNION ALL SELECT t4, doc_b FROM pt) GROUP BY t4)
      |SELECT th.t4 / 10000.0 AS threshold,
      |  CAST(coalesce(ps.n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(coalesce(ds.n_docs, 0) AS BIGINT) AS n_docs,
      |  floor(ps.sj4 / (10000.0 * ps.n_pairs) * 10000.0 + 0.5) / 10000.0
      |    AS mean_jaccard
      |FROM th LEFT JOIN ps USING (t4) LEFT JOIN ds USING (t4)
      |ORDER BY threshold""".stripMargin

  // ------------------------------------------- d15_boilerplate_lines
  /** CCNet-style boilerplate detection by per-source DOCUMENT FREQUENCY
    * (Wenzek et al. 2020, arXiv:1911.00359 §3.1 — their first
    * preprocessing step): content repeated across many documents of the
    * SAME source (nav menus, cookie banners, footers) is boilerplate,
    * not signal, and should not count toward a doc's training tokens.
    * CCNet hashes paragraphs; this corpus has no repeated full
    * sentences (verified at every SF), so the unit here is d8's
    * non-overlapping 3-token span — the granularity at which the corpus
    * genuinely repeats. A span is boilerplate in a source when it
    * occurs in >= [[BoilerMinDocs]] documents AND more than 1% of the
    * source's documents. Per doc: span/boilerplate counts, total vs
    * CLEAN token counts (what the doc contributes to training after the
    * strip), and the boilerplate ratio — CCNet's page-quality signal.
    *
    * Where d8 drops spans by GLOBAL first-occurrence (every later copy
    * goes), d15 classifies by per-source frequency THRESHOLD (all copies
    * of a chrome span go, including the first; rare cross-doc spans
    * stay) — the two shapes real pipelines run together.
    *
    * Scale shape: one generate (narrow) → distinct on (source, span,
    * doc) → doc-frequency agg on (source, span) — sparse keys, never
    * corpus² — → hash join back on (source, span) (AQE broadcasts the
    * flagged side when small) → doc-keyed rollup. The 1% threshold is an
    * integer cross-multiply (100*df > src_docs), engine-exact at any
    * scale.
    */
  val BoilerMinDocs = 2L
  val d15BoilerplateLines: Q = (s, d) => {
    import graft.expressions.SpanChunks.spanChunks
    val spans = docs(s, d)
      .select(col("doc_id"), col("source"), lowerTokens(col("text")).as("t"))
      .select(col("doc_id"), col("source"),
        spanChunks(col("t"), 3).as(Seq("idx", "span")))
      .select(col("doc_id"), col("source"), col("span"),
        size(split(col("span"), " ")).cast("long").as("n_tok"))
      .materialize() // feeds the doc-freq agg AND the per-doc rollup
    val srcDocs = docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("src_docs"))
    val flagged = spans.select(col("source"), col("span"), col("doc_id"))
      .distinct()
      .groupBy(col("source"), col("span")).agg(count(lit(1)).as("df"))
      .join(srcDocs, "source")
      .select(col("source"), col("span"),
        (col("df") >= BoilerMinDocs &&
          col("df") * 100 > col("src_docs")).as("boiler"))
    val perDoc = spans.join(flagged, Seq("source", "span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(!col("boiler"), col("n_tok")).otherwise(0L))
          .as("n_tokens_clean"))
    docs(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_tokens_clean"), lit(0L)).as("n_tokens_clean"),
        coalesce(
          sround(col("n_boiler") / col("n_spans").cast("double"), 4),
          lit(0.0)).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of d15: d8's span spelling + source, the same
    * distinct→doc-frequency→integer-threshold chain.
    */
  val d15BoilerplateLinesSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
      |  FROM documents),
      |li AS MATERIALIZED (
      |  SELECT doc_id, source, span,
      |    CAST(len(string_split(span, ' ')) AS BIGINT) AS n_tok
      |  FROM (
      |    SELECT doc_id, source, array_to_string(t[(i*3)+1:(i*3)+3], ' ') AS span
      |    FROM toks, unnest(range(CAST(ceil(len(t) / 3.0) AS BIGINT))) AS u(i))),
      |sd AS (SELECT source, count(*) AS src_docs FROM documents GROUP BY source),
      |df AS (
      |  SELECT source, span, count(*) AS df
      |  FROM (SELECT DISTINCT source, span, doc_id FROM li)
      |  GROUP BY source, span),
      |fl AS (
      |  SELECT df.source, df.span,
      |    (df.df >= ${BoilerMinDocs} AND df.df * 100 > sd.src_docs) AS boiler
      |  FROM df JOIN sd USING (source)),
      |pd AS (
      |  SELECT li.doc_id, count(*) AS n_spans,
      |    CAST(sum(CASE WHEN fl.boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
      |    CAST(sum(li.n_tok) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN NOT fl.boiler THEN li.n_tok ELSE 0 END) AS BIGINT)
      |      AS n_tokens_clean
      |  FROM li JOIN fl ON li.source = fl.source AND li.span = fl.span
      |  GROUP BY li.doc_id)
      |SELECT d.doc_id,
      |  coalesce(pd.n_spans, 0) AS n_spans,
      |  coalesce(pd.n_boiler, 0) AS n_boiler,
      |  coalesce(pd.n_tokens, 0) AS n_tokens,
      |  coalesce(pd.n_tokens_clean, 0) AS n_tokens_clean,
      |  coalesce(floor(pd.n_boiler / CAST(pd.n_spans AS DOUBLE) * 10000.0 + 0.5)
      |    / 10000.0, 0.0) AS boiler_ratio
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- d16_incremental_components
  /** Incremental connected components — the daily update of d5's near-dup
    * clusters when a new crawl lands (d10's split: sources src10+ are the
    * incoming snapshot, src0-9 the standing corpus). Recomputing CC over
    * the full corpus is the textbook 100 TB mistake: the component table
    * changes only where delta edges touch it. The incremental discipline:
    *
    *   1. standing labels = components (min doc_id) over EXISTING docs (the
    *      build here stands in for the persisted label table a
    *      production run reads, exactly as d10's corpus index does);
    *   2. delta pairs = d2-verified pairs touching >= 1 incoming doc,
    *      from an ASYMMETRIC band join (incoming bands x all bands —
    *      existing x existing never enumerates);
    *   3. CONTRACT: delta endpoints map through standing labels, so
    *      standing components become super-nodes;
    *   4. CC on the contracted graph (standing labels + incoming ids —
    *      the affected neighborhood, not the corpus);
    *   5. EXPAND: every doc inherits its contracted node's final label.
    *
    * The min-label convention makes the algebra exact: a merged
    * component's label = min over (old labels ∪ incoming ids), and each
    * old label is already its component's min — so incremental == full
    * recompute, which is PRECISELY what the oracle (full-graph recursive
    * closure) asserts. `merged` flags nodes whose label moved — the
    * audit of what the delta actually changed (including the bridge
    * case: one incoming doc fusing two standing clusters).
    */
  val d16IncrementalComponents: Q = (s, d) =>
    incrementalComponents(docs(s, d)
      .withColumn("incoming", expr("CAST(substring(source, 4) AS INT) >= 10")))

  /** d16 over an arbitrary documents frame carrying a boolean `incoming`
    * column — the spec plants a bridge doc that merges two standing
    * clusters, the case a naive per-delta-edge patch misses.
    */
  def incrementalComponents(all: DataFrame): DataFrame = {
    val flags = all.select(col("doc_id"), col("incoming")).materialize()
    val exi = all.where(!col("incoming"))
    // standing-label CC (existing docs) and the delta band index (all
    // docs) are independent until the contraction join — two driver
    // threads (guide §2.6) overlap the CC's gate/union-find jobs with
    // the band index's checkpoint stages
    val (standing, bands) = graft.Par.par2(
      connectedComponents(
          exi.select(col("doc_id")),
          ngramPairs(exi.select(col("doc_id"), col("text"))))
        .withColumnRenamed("cluster_id", "old_label")
        .materialize(), // feeds the contraction AND the expansion
      // asymmetric candidates: one probe per direction so the existing
      // side never self-joins; doc_a < doc_b keeps the pair set directed
      minhashBands(shingleSets(
          all.select(col("doc_id"), col("text"))))
        .join(flags, "doc_id").materialize())
    val incB = bands.where(col("incoming"))
    val cand = incB.as("x").join(bands.as("y"),
        col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .union(bands.where(!col("incoming")).as("x").join(incB.as("y"),
          col("x.bkey") === col("y.bkey") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b")))
      .distinct()
    val deltaPairs = verifyCharPairs(cand, all, 0.5)
    val mapped = deltaPairs
      .join(standing.select(col("doc_id").as("doc_a"),
        col("old_label").as("la")), Seq("doc_a"), "left")
      .join(standing.select(col("doc_id").as("doc_b"),
        col("old_label").as("lb")), Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("ca"),
        coalesce(col("lb"), col("doc_b")).as("cb"))
      .where(col("ca") =!= col("cb"))
      .select(least(col("ca"), col("cb")).as("doc_a"),
        greatest(col("ca"), col("cb")).as("doc_b"))
      .distinct()
    val cnodes = standing.select(col("old_label").as("doc_id")).distinct()
      .union(flags.where(col("incoming")).select(col("doc_id")))
    val cc = connectedComponents(cnodes, mapped)
      .withColumnRenamed("cluster_id", "final_label")
    flags
      .join(standing.select(col("doc_id"), col("old_label")), Seq("doc_id"), "left")
      .withColumn("node", coalesce(col("old_label"), col("doc_id")))
      .join(cc.select(col("doc_id").as("node"), col("final_label")),
        Seq("node"), "left")
      .select(col("doc_id"), col("incoming"),
        coalesce(col("final_label"), col("node")).as("cluster_id"),
        (coalesce(col("final_label"), col("node")) =!= col("node")).as("merged"))
      .orderBy("doc_id")
  }

  /** Oracle = FULL recompute: d5's recursive closure over the complete
    * verified pair set gives final labels, the existing-only subgraph's
    * closure gives old labels, and `merged` is their disagreement —
    * hash-equality proves the contract/expand path exact.
    */
  val d16IncrementalComponentsSql: String =
    s"""WITH RECURSIVE ${bandCandSql("documents")},
      |${charVerifySql("documents")},
      |flags AS (
      |  SELECT doc_id,
      |    CAST(substring(source, 4) AS INTEGER) >= 10 AS incoming
      |  FROM documents),
      |vp AS (SELECT doc_a, doc_b FROM cj
      |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM vp
      |  UNION SELECT doc_b AS u, doc_a AS v FROM vp),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT d.doc_id,
      |    least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
      |  FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
      |  GROUP BY d.doc_id),
      |eedges AS (
      |  SELECT e.u, e.v FROM edges e
      |  JOIN flags a ON a.doc_id = e.u JOIN flags b ON b.doc_id = e.v
      |  WHERE NOT a.incoming AND NOT b.incoming),
      |ereach AS (
      |  SELECT u, v FROM eedges
      |  UNION SELECT r.u, e.v FROM ereach r JOIN eedges e ON r.v = e.u),
      |ecomp AS (
      |  SELECT f.doc_id,
      |    least(f.doc_id, coalesce(min(r.v), f.doc_id)) AS old_label
      |  FROM flags f LEFT JOIN ereach r ON r.u = f.doc_id
      |  WHERE NOT f.incoming GROUP BY f.doc_id)
      |SELECT f.doc_id, f.incoming, c.cluster_id,
      |  c.cluster_id != coalesce(e.old_label, f.doc_id) AS merged
      |FROM flags f JOIN comp c USING (doc_id) LEFT JOIN ecomp e USING (doc_id)
      |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------- d17_source_overlap
  /** Cross-source n-gram overlap audit — which sources duplicate each
    * other: for every source pair sharing at least one distinct
    * word-8gram (t9's gram unit), the shared-gram count plus Jaccard
    * and containment (shared / smaller side). This is the
    * mixture-design sign-off BEFORE cross-source dedup: a pair with
    * high containment means the smaller source is mostly a re-crawl of
    * the same material — double-weighted in any mixture that treats
    * them as independent — and tells the pipeline which source pairs
    * are worth a scoped d2/d3 pass.
    *
    * Distributed shape: one corpus scan to the distinct (source, gram)
    * frame (the per-doc distinct happens inside the fused md5-62
    * expression; the cross-doc distinct is one gram-keyed agg), then
    * g6's capped-self-join discipline: the self-join fans out C(k,2)
    * per gram where k = sources containing the gram — bounded by the
    * SOURCE REGISTRY size (dozens-to-thousands), never corpus size,
    * and the output is at most |sources|² rows. Per-source totals
    * reuse the same materialized frame. Zero-overlap pairs are absent
    * by construction (inner join), keeping the output sparse.
    */
  val d17SourceOverlap: Q = (s, d) => {
    val sg = docs(s, d)
      .select(col("source"), lowerTokens(col("text")).as("toks"))
      .select(col("source"), explode(graft.expressions.PortableHashExpressions
        .md5HashArray62(wordNgrams(col("toks"), 8), distinctSorted = true)).as("g"))
      .distinct()
      .materialize() // feeds per-source totals AND both self-join sides
    val tot = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sg.as("a").join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(tot.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(tot.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("common"),
        sround(col("common") / (col("n_a") + col("n_b") - col("common")).cast("double"), 6)
          .as("jaccard"),
        sround(col("common") / least(col("n_a"), col("n_b")).cast("double"), 6)
          .as("containment"))
      .orderBy("src_a", "src_b")
  }

  /** DuckDB twin: identical 8-gram md5-62 lanes, distinct (source, gram),
    * ordered self-join, identical ratio spellings.
    */
  val d17SourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT source,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |sg AS MATERIALIZED (
      |  SELECT DISTINCT source, g FROM (
      |    SELECT source,
      |      unnest(list_distinct(list_transform(
      |        list_transform(range(1, len(t) - 6),
      |          i -> array_to_string(t[i:i+7], ' ')),
      |        gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |        AS g
      |    FROM toks WHERE len(t) >= 8)),
      |tot AS (SELECT source, count(*) AS n FROM sg GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS common
      |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, ta.n AS n_a, tb.n AS n_b, common,
      |  floor(common / CAST(ta.n + tb.n - common AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS jaccard,
      |  floor(common / CAST(least(ta.n, tb.n) AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS containment
      |FROM pairs JOIN tot ta ON ta.source = src_a JOIN tot tb ON tb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "d17_source_overlap" -> d17SourceOverlap,
    "d16_incremental_components" -> d16IncrementalComponents,
    "d15_boilerplate_lines" -> d15BoilerplateLines,
    "d1_exact_dedup" -> d1ExactDedup,
    "d2_ngram_jaccard" -> d2NgramJaccard,
    "d3_minhash_lsh" -> d3MinhashLsh,
    "d4_simhash" -> d4Simhash,
    "d5_dedup_clusters" -> d5DedupClusters,
    "d6_keep_best" -> d6KeepBest,
    "d7_semantic_dedup" -> d7SemanticDedup,
    "d8_span_dedup" -> d8SpanDedup,
    "d18_span_dedup32" -> d18SpanDedup32,
    "d21_exactsubstr" -> d21ExactSubstr,
    "d9_containment" -> d9Containment,
    "d10_incremental_dedup" -> d10IncrementalDedup,
    "d12_lsh_eval" -> d12LshEval,
    "d13_threshold_sweep" -> d13ThresholdSweep,
    "d19_oph_minhash" -> d19OphMinhash,
    "d20_allpairs" -> d20Allpairs)

  val oracles: Map[String, String] = Map(
    "d17_source_overlap" -> d17SourceOverlapSql,
    "d16_incremental_components" -> d16IncrementalComponentsSql,
    "d15_boilerplate_lines" -> d15BoilerplateLinesSql,
    "d1_exact_dedup" -> d1ExactDedupSql,
    "d2_ngram_jaccard" -> d2NgramJaccardSql,
    "d3_minhash_lsh" -> d3MinhashLshSql,
    "d4_simhash" -> d4SimhashSql,
    "d5_dedup_clusters" -> d5DedupClustersSql,
    "d6_keep_best" -> d6KeepBestSql,
    "d7_semantic_dedup" -> d7SemanticDedupSql,
    "d8_span_dedup" -> d8SpanDedupSql,
    "d18_span_dedup32" -> d18SpanDedup32Sql,
    "d21_exactsubstr" -> d21ExactSubstrSql,
    "d9_containment" -> d9ContainmentSql,
    "d10_incremental_dedup" -> d10IncrementalDedupSql,
    "d12_lsh_eval" -> d12LshEvalSql,
    "d13_threshold_sweep" -> d13ThresholdSweepSql,
    "d19_oph_minhash" -> d19OphMinhashSql,
    "d20_allpairs" -> d20AllpairsSql)
}
