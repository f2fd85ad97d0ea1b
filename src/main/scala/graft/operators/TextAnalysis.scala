package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.Query.Plan
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (language ID, quality scoring, token accounting, document
  * fingerprinting) layered on top of the reference's relational engine.
  *
  * All per-document metrics are narrow (no shuffle): at 100 TB these scale
  * embarrassingly with input splits; the only wide stages are the final
  * deterministic ORDER BYs, which exist purely for oracle comparison and
  * would be dropped in production writes.
  *
  * Numeric discipline: every ratio is a division of exact integers, so the
  * doubles are bitwise-identical to the DuckDB oracle's (see
  * TextFunctions.sround).
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  // ------------------------------------------------------- t1_text_stats
  /** Token counting: chars, UTF-8 bytes, whitespace tokens, distinct tokens,
    * approx BPE-ish subword count (regex-boundary proxy).
    */
  val t1TextStats: Plan = (s, d) =>
    docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      octet_length(col("text")).cast("long").as("len_bytes"),
      graft.expressions.SetSketchExpressions
        .tokenStats(col("text"), Nil).as("ts"))
      .select(
        col("doc_id"), col("len_chars"), col("len_bytes"),
        col("ts.n_tokens").as("n_tokens"),
        col("ts.n_distinct_lower").as("n_distinct_tokens"),
        col("ts.n_bpe_ish").as("n_bpe_ish"))
      .orderBy("doc_id")

  val t1TextStatsSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS len_chars,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS len_bytes,
      |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), t -> t != '')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != ''))) AS BIGINT) AS n_distinct_tokens,
      |  CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), t -> t != ''))
      |    + length(regexp_replace(text, '[A-Za-z0-9 \t\n\r\f]', '', 'g')) AS BIGINT) AS n_bpe_ish
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- t2_quality
  /** Quality scoring from length/punctuation/digit/stopword signals — the
    * standard cheap pre-filter for LLM training corpora. All counts are
    * exact ints; the score is a fixed linear blend.
    */
  private val enStop =
    Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "for")

  /** The engine's canonical English stopword list (t2 + the corpus
    * pipeline share it — the quality scores must agree).
    */
  val stopWords: Seq[String] = enStop

  /** t2's per-doc signal counts (doc_id, len_c, n_tok, stop, punct,
    * digit) — one fused text pass, shared by t2 and d6's keep-best.
    */
  def qualityCounts(s: SparkSession, d: String): DataFrame = {
    val counts = docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_c"),
      graft.expressions.SetSketchExpressions
        .tokenStats(col("text"), enStop).as("ts"),
      length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long").as("punct"),
      length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("digit"))
      .select(col("doc_id"), col("len_c"),
        col("ts.n_tokens").as("n_tok"), col("ts.n_stop").as("stop"),
        col("punct"), col("digit"))
    counts
  }

  /** The raw t2 quality blend over a qualityCounts frame. */
  def qualityBlend: Column =
    least(col("n_tok") / lit(100.0), lit(1.0)) * lit(0.5) +
      (col("stop") / nullif(col("n_tok"), lit(0L))) * lit(0.3) +
      (lit(1.0) - col("digit") / nullif(col("len_c"), lit(0L))) * lit(0.2)

  val t2Quality: Plan = (s, d) =>
    // Two layers: the expensive text passes (fused TokenStats, regex
    // strips) are each evaluated ONCE in the qualityCounts projection; the
    // ratio layer only references bound integer columns (writing ratios
    // inline would re-run the pipelines per reference — no CSE for HOFs).
    qualityCounts(s, d).select(
      col("doc_id"),
      col("n_tok").as("n_tokens"),
      sround(col("punct") / nullif(col("len_c"), lit(0L)), 4).as("punct_ratio"),
      sround(col("digit") / nullif(col("len_c"), lit(0L)), 4).as("digit_ratio"),
      sround(col("stop") / nullif(col("n_tok"), lit(0L)), 4).as("stopword_ratio"),
      sround(qualityBlend, 4).as("quality_score"))
      .orderBy("doc_id")

  val t2QualitySql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS BIGINT) AS punct,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents)
      |SELECT doc_id, n_tok AS n_tokens,
      |  floor((punct / nullif(len_c, 0)) * 10000.0 + 0.5) / 10000.0 AS punct_ratio,
      |  floor((digit / nullif(len_c, 0)) * 10000.0 + 0.5) / 10000.0 AS digit_ratio,
      |  floor((stop / nullif(n_tok, 0)) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
      |  floor((least(n_tok / 100.0, 1.0) * 0.5 + (stop / nullif(n_tok, 0)) * 0.3
      |         + (1.0 - digit / nullif(len_c, 0)) * 0.2) * 10000.0 + 0.5) / 10000.0 AS quality_score
      |FROM f ORDER BY doc_id""".stripMargin

  // --------------------------------------------------------- t3_lang_id
  /** Language ID via stopword-hit argmax — the classic n-gram-free heuristic
    * baseline. Fixed precedence (en>de>fr>es>zh) breaks score ties
    * deterministically. The synthetic corpus is English-ish word salad, so
    * predictions skew 'en'; the operator (not the corpus) is what's under
    * test, and the labeled `lang` column rides along for accuracy eval.
    */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Fused stopword-count kernel (LangScores) over an arbitrary text
    * expression — the HOF form re-tokenized the document once per
    * language (5 interpreted filters). Shared by t3 and t24.
    */
  private def langScoresCol(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.LangScores(
        org.apache.spark.sql.graft.ColumnBridge.expression(c),
        langMarkers.map(_._2.toArray).toArray))

  /** First-max-wins language pick over a LangScores array — the same
    * tie order as the oracle's CASE chain.
    */
  private def predExprFrom(sc: Column): Column = {
    val scores = langMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(sc, i + 1)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit(null).cast("string")) {
      case (elseExpr, (lang, score)) => when(score === best, lang).otherwise(elseExpr)
    }
  }

  val t3LangId: Plan = (s, d) => {
    val base = docs(s, d)
      .select(col("doc_id"), col("lang"), langScoresCol(col("text")).as("sc"))
    val predExpr = predExprFrom(col("sc"))
    base.select(
      col("doc_id"), col("lang"),
      predExpr.as("pred_lang"),
      (predExpr === col("lang")).as("is_match"))
      .orderBy("doc_id")
  }

  private def langScoreSqlFor(texpr: String): String =
    langMarkers.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(",")
      s"CAST(len(list_filter(regexp_split_to_array(lower($texpr), '\\s+'), t -> t IN ($list))) AS BIGINT) AS c_$lang"
    }.mkString(",\n    ")

  private val langScoreSql: String = langScoreSqlFor("text")

  val t3LangIdSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |    $langScoreSql
       |  FROM documents),
       |p AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN c_en = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'en'
       |         WHEN c_de = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'de'
       |         WHEN c_fr = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'fr'
       |         WHEN c_es = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'es'
       |         ELSE 'zh' END AS pred_lang
       |  FROM f)
       |SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match
       |FROM p ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ t4_fingerprint
  /** Document fingerprinting: md5 of the whitespace-canonical form (exact-dup
    * key) plus a 64-char-prefix fingerprint (cheap clustering key). The
    * xxhash64/winnowing variants live in Dedup (engine-specific hashes, no
    * portable oracle).
    */
  val t4Fingerprint: Plan = (s, d) => {
    // Layered: norm (regex+trim+lower) is referenced three times below —
    // inline it and the projection evaluates the regex 3x per row (no CSE
    // across a multi-referenced non-cheap alias in one projection).
    docs(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(
        col("doc_id"),
        md5(col("norm")).as("fp"),
        md5(substring(col("norm"), 1, 64)).as("fp_prefix"),
        length(col("norm")).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  val t4FingerprintSql: String =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  md5(substring(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 64)) AS fp_prefix,
      |  CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS norm_len
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ t5_vocab
  /** Corpus vocabulary stats: explode tokens → grouped counts → top 100.
    * The explode→agg shape is the canonical distributed word count; at
    * 100 TB the map-side partial agg absorbs the token skew before the
    * shuffle, and the top-k is TakeOrderedAndProject.
    */
  val t5Vocab: Plan = (s, d) =>
    docs(s, d)
      .select(explode(lowerTokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(100)

  val t5VocabSql: String =
    """SELECT token, count(*) AS cnt FROM (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> x != '')) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin

  // -------------------------------------------------------- t6_winnowing
  /** Winnowing fingerprints (the MOSS scheme): char-5gram rolling hashes →
    * per-window (w=8) minimum → distinct selected hashes per doc. Guarantees
    * any match of length >= w+4 shares a fingerprint — the standard
    * plagiarism/near-dup index. Gram hashes are portable md5-62, so the
    * DuckDB oracle below reproduces the selected fingerprints exactly.
    * Implemented as ONE fused Catalyst expression: the HOF formulation
    * captured the computed normalized-string in the n-gram lambda, and
    * interpreted HOF eval recomputes captured expressions per element
    * (regex x grams x windows — minutes per 500 docs).
    */
  val t6Winnowing: Plan = (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        explode(graft.expressions.SetSketchExpressions
          .winnowFingerprints(normText(col("text")), 5, 8)).as("fingerprint"))
      .orderBy("doc_id", "fingerprint")

  /** DuckDB twin of t6: same normalization, md5-62 gram hashes, window
    * minima via inclusive list slices (slices truncate at the end exactly
    * like the kernel's min(j + w, m) bound), distinct per doc.
    */
  val t6WinnowingSql: String =
    """WITH n AS MATERIALIZED (
      |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
      |  FROM documents),
      |h AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_transform(range(1, length(s) - 3),
      |      i -> CAST(md5_number_lower(substring(s, CAST(i AS INTEGER), 5))
      |             & 4611686018427387903 AS BIGINT)) AS hs
      |  FROM n WHERE length(s) >= 5),
      |w AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(hs) - 7, 1) + 1),
      |      j -> list_min(hs[j:j+7]))) AS fps
      |  FROM h)
      |SELECT doc_id, unnest(fps) AS fingerprint
      |FROM w ORDER BY doc_id, fingerprint""".stripMargin

  // -------------------------------------------------------- t7_chunking
  /** Sliding-window document chunking (window 160 chars, stride 120 → 40
    * overlap; sized so the corpus median of ~300 chars yields 2-3
    * overlapping chunks per doc) — the standard context-window prep for embedding / training
    * pipelines. One generate-and-explode per document, no shuffle until
    * the final oracle sort; chunk content is verified via md5 so the
    * output stays narrow. Chunk starts are 1-based; a document shorter
    * than one window yields exactly one chunk.
    */
  val t7Chunking: Plan = (s, d) => {
    val win = 160
    val stride = 120
    docs(s, d)
      .select(col("doc_id"),
        explode(sequence(lit(1),
          greatest(length(col("text")) - win + 1, lit(1)), lit(stride)))
          .as("start"),
        col("text"))
      .select(col("doc_id"), col("start"),
        length(col("text").substr(col("start"), lit(win))).cast("long")
          .as("chunk_len"),
        md5(col("text").substr(col("start"), lit(win))).as("chunk_md5"))
      .orderBy("doc_id", "start")
  }

  val t7ChunkingSql: String =
    """SELECT doc_id, CAST(start AS INTEGER) AS start,
      |  CAST(length(substring(text, CAST(start AS INTEGER), 160)) AS BIGINT) AS chunk_len,
      |  md5(substring(text, CAST(start AS INTEGER), 160)) AS chunk_md5
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(1, greatest(length(text) - 159, 1), 120)) AS start
      |      FROM documents)
      |ORDER BY doc_id, start""".stripMargin

  // ---------------------------------------------------- t8_char_entropy
  /** Character-level Shannon entropy per document — the classic cheap
    * perplexity proxy for corpus quality filtering (gibberish and
    * boilerplate sit at the distribution tails). Distributed shape:
    * explode to (doc, char), two hash aggregations, no per-doc state.
    *
    * Float discipline: the per-char terms are summed via a SORTED fold on
    * both engines (array_sort + aggregate here, list_sort +
    * list_aggregate in DuckDB) — double addition is order-dependent and
    * each engine's group aggregation order differs; pinning the
    * association order makes the doubles bit-identical before rounding.
    */
  val t8CharEntropy: Plan = (s, d) => {
    val freq = docs(s, d)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val tot = freq.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n"))
    freq.join(tot, "doc_id")
      .select(col("doc_id"),
        (-(col("cnt") / col("n")) * log2(col("cnt") / col("n"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(aggregate(array_sort(collect_list(col("term"))),
        lit(0.0), (acc, x) => acc + x).as("h"))
      .select(col("doc_id"), sround(col("h"), 4).as("entropy"))
      .orderBy("doc_id")
  }

  val t8CharEntropySql: String =
    """WITH chars AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, length(text) + 1),
      |      i -> substring(text, CAST(i AS INTEGER), 1))) AS ch
      |  FROM documents),
      |freq AS (
      |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS cnt
      |  FROM chars GROUP BY 1, 2),
      |tot AS (SELECT doc_id, sum(cnt) AS n FROM freq GROUP BY 1),
      |terms AS (
      |  SELECT f.doc_id, -(f.cnt / t.n) * log2(f.cnt / t.n) AS term
      |  FROM freq f JOIN tot t ON f.doc_id = t.doc_id)
      |SELECT doc_id,
      |  floor(list_aggregate(list_sort(list(term)), 'sum') * 10000.0 + 0.5)
      |    / 10000.0 AS entropy
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- t9_contamination
  /** Train/test contamination check — the benchmark-leakage audit every
    * LLM data pipeline runs before training: for each held-out "test"
    * document (deterministic split: doc_id % 20 == 0), what fraction of
    * its distinct word-8grams also occurs anywhere in the "train" side?
    *
    * Distributed shape: the code derives both branches from one
    * distinct-(gram, doc) frame, and Catalyst pushes the split predicate
    * below the aggregates — the executed plan scans the TEST split
    * (doc_id % 20 = 0) and the TRAIN split (the complement) as two
    * disjoint pushed-filter scans, so every document is tokenized and
    * exploded exactly once corpus-wide (CurationSpec asserts the
    * disjoint pushdown). Train membership is a gram-keyed LEFT join
    * against the distinct train-gram set. Every aggregation and the
    * hash join carry O(1) state per key — the round-3 formulation
    * collected the per-gram test-doc SET into one aggregation buffer,
    * which a boilerplate gram occurring in millions of test docs turns
    * into a single giant non-spillable array (verdict finding #2). A
    * bloom-filter pre-pass substitutes when approximate membership is
    * acceptable.
    */
  val t9Contamination: Plan = (s, d) => {
    // md5-62 LONG lanes via the fused array expression (t23/d3's kernel):
    // the per-doc distinct happens inside the expression — no cross-row
    // distinct() shuffle — and the gram exchange carries longs, not
    // 32-char hex strings.
    val gd = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 8).as("ngrams"))
      .select(col("doc_id"),
        explode(graft.expressions.PortableHashExpressions
          .md5HashArray62(col("ngrams"), distinctSorted = true)).as("g"))
    val test = gd.filter(col("doc_id") % 20 === 0)
    val trainGrams = gd.filter(col("doc_id") % 20 =!= 0)
      .select(col("g")).distinct()
    test
      .join(trainGrams.withColumn("in_train", lit(1)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(col("in_train")).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        sround(col("n_contaminated") / col("n_grams"), 4).as("contamination"))
      .orderBy("doc_id")
  }

  val t9ContaminationSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 6),
      |        i -> array_to_string(t[i:i+7], ' ')),
      |      gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |      AS g
      |  FROM toks WHERE len(t) >= 8),
      |test AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 = 0),
      |train AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 != 0),
      |hits AS (
      |  SELECT doc_id, count(*) AS n_contaminated
      |  FROM test WHERE g IN (SELECT g FROM train) GROUP BY doc_id)
      |SELECT t.doc_id, count(*) AS n_grams,
      |  coalesce(any_value(h.n_contaminated), 0) AS n_contaminated,
      |  floor(coalesce(any_value(h.n_contaminated), 0) / count(*) * 10000.0 + 0.5)
      |    / 10000.0 AS contamination
      |FROM test t LEFT JOIN hits h ON t.doc_id = h.doc_id
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin

  // ------------------------------------- t14_bloom_contamination
  /** Approximate contamination pre-pass — t9's exact audit behind a
    * PORTABLE Bloom filter (graft.expressions.BloomSketch): the distinct
    * train grams build one 2^22-bit filter (constant 512 KiB state,
    * OR-merged partials), the filter broadcasts, and every test gram is
    * k=4 bit reads instead of a join. No false negatives, so
    * flagged_rate >= t9's exact contamination per doc (asserted in
    * CurationSpec); the tiny false-positive tail is the price of
    * replacing the gram-keyed shuffle with a broadcast probe — at 100 TB
    * this pass prunes the exact join's input to the flagged docs.
    * Hash lanes and probe positions are plain md5-62 integer arithmetic,
    * so the oracle below replays membership — collisions included — as a
    * position-set semi-join and the driver hash-checks even this
    * approximate operator.
    */
  val t14BloomContamination: Plan = (s, d) => {
    // the fused md5-62 array kernel (t9/t23's rework): per-doc distinct
    // inside the expression, long lanes — no string gram rows anywhere
    val grams = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 8).as("ngrams"))
      .select(col("doc_id"),
        explode(graft.expressions.PortableHashExpressions
          .md5HashArray62(col("ngrams"), distinctSorted = true)).as("h"))
    // the build side needs NO distinct and therefore NO shuffle: bloom
    // inserts are idempotent, so each partition folds its gram stream
    // into a 512 KiB partial map-side and only the partials merge — the
    // train side of the audit costs one narrow pass at any scale
    val bloom = grams.filter(col("doc_id") % 20 =!= 0)
      .agg(graft.expressions.BloomSketch.bloomBuild(col("h")).as("bloom"))
    grams.filter(col("doc_id") % 20 === 0) // already per-doc distinct
      .crossJoin(broadcast(bloom)) // one 512 KiB row to every executor
      .select(col("doc_id"),
        graft.expressions.BloomSketch.bloomHit(col("bloom"), col("h")).as("hit"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("hit").cast("long")).as("n_flagged"))
      .select(col("doc_id"), col("n_grams"), col("n_flagged"),
        sround(col("n_flagged") / col("n_grams"), 4).as("flagged_rate"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of t14: the filter's probe positions are re-derived per
    * gram ((h1 + i*h2) mod m over range(4)) and "bit is set" becomes
    * "position occurs in the train side's position set" — bitwise the
    * same predicate the BloomHit expression evaluates, false positives
    * and all.
    */
  val t14BloomContaminationSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT doc_id,
      |    CAST(md5_number_lower(g) & 4611686018427387903 AS BIGINT) AS h
      |  FROM (SELECT doc_id,
      |          unnest(list_transform(range(1, len(t) - 6),
      |            i -> array_to_string(t[i:i+7], ' '))) AS g
      |        FROM toks WHERE len(t) >= 8)),
      |train_pos AS MATERIALIZED (
      |  SELECT DISTINCT ((h & 2147483647) + i.i * ((h >> 31) | 1)) % 4194304 AS pos
      |  FROM (SELECT DISTINCT h FROM grams WHERE doc_id % 20 != 0),
      |       (SELECT unnest(range(4)) AS i) i),
      |tp AS (
      |  SELECT doc_id, h,
      |    ((h & 2147483647) + i.i * ((h >> 31) | 1)) % 4194304 AS pos
      |  FROM (SELECT doc_id, h FROM grams WHERE doc_id % 20 = 0),
      |       (SELECT unnest(range(4)) AS i) i),
      |flags AS (
      |  SELECT doc_id, h,
      |    CASE WHEN sum(CASE WHEN pos IN (SELECT pos FROM train_pos)
      |                       THEN 1 ELSE 0 END) = 4
      |         THEN 1 ELSE 0 END AS hit
      |  FROM tp GROUP BY doc_id, h)
      |SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_flagged,
      |  floor(sum(hit) / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |    AS flagged_rate
      |FROM flags GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- t10_tfidf
  /** TF-IDF-style salient terms per source: tf = term occurrences within
    * the source, df = number of distinct documents containing the term,
    * score = tf * (N_docs / df) — a rational idf (exact integer division
    * → bit-identical doubles across engines; log-based idf would hang
    * determinism on libm). Top 10 per source, score-desc term-asc.
    *
    * Distributed shape: one explode → two hash aggs (term×source tf,
    * term df) → broadcast the tiny df side back → per-source top-k
    * window. At 100 TB df is itself a large agg: both aggs shuffle on
    * the term, so they share a partitioning; the window shuffles on
    * source only after the heavy reduction.
    */
  val t10Tfidf: Plan = (s, d) => {
    val toks = docs(s, d)
      .select(col("doc_id"), col("source"),
        explode(lowerTokens(col("text"))).as("term"))
    val nDocs = docs(s, d).count()
    val tf = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // top-10 terms per source through the two-phase keyedTopK: the
    // per-source score frame is vocabulary-sized (corpus-scale at 100 TB),
    // exactly what a per-source rank window would sort in one task
    val scored = tf.join(df, "term")
      .withColumn("score", col("tf") * (lit(nDocs.toDouble) / col("df")))
    graft.operators.KeyedRank.keyedTopK(scored, Seq("source"),
        Seq(col("score").desc, col("term").asc), k = 10, rankCol = "rk")
      .select(col("source"), col("rk"), col("term"), col("tf"), col("df"),
        sround(col("score"), 4).as("score"))
      .orderBy("source", "rk")
  }

  val t10TfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.source, tf.term, tf.tf, df.df,
      |    tf.tf * (n.n_docs / df.df) AS score,
      |    CAST(row_number() OVER (PARTITION BY tf.source
      |      ORDER BY tf.tf * (n.n_docs / df.df) DESC, tf.term ASC) AS INTEGER) AS rk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT source, rk, term, tf, df,
      |  floor(score * 10000.0 + 0.5) / 10000.0 AS score
      |FROM scored WHERE rk <= 10 ORDER BY source, rk""".stripMargin

  // ----------------------------------------------------- t11_packing
  /** Greedy sequence packing — the context-window budgeting step of LLM
    * training prep: documents stream in doc_id order within each source,
    * and each doc lands in pack floor(exclusive_running_tokens / budget)
    * (concat-and-split packing, budget 256 tokens). Output is per-pack
    * accounting: docs, token fill, fill ratio.
    *
    * Distributed shape: token counts are narrow per-doc work; the running
    * sum is a window partitioned by source (packing is inherently
    * sequential PER STREAM — at 100 TB the stream key is (source, shard)
    * so every partition packs independently; the q36 sweep shows the
    * offset-merge pattern if strict cross-shard continuity is required).
    */
  val t11Packing: Plan = (s, d) => {
    val budget = 256L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        size(lowerTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tok")).over(w), lit(0L)) / lit(budget))
          .cast("long"))
      .groupBy(col("source"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        sround(sum(col("n_tok")) / lit(budget.toDouble), 4).as("fill_ratio"))
      .orderBy("source", "pack_id")
  }

  val t11PackingSql: String =
    """WITH counted AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
      |      AS BIGINT) AS pack_id
      |  FROM counted)
      |SELECT source, pack_id, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  floor(sum(n_tok) / 256.0 * 10000.0 + 0.5) / 10000.0 AS fill_ratio
      |FROM packed GROUP BY source, pack_id ORDER BY source, pack_id""".stripMargin

  // --------------------------------------------- t15_global_packing
  /** STRICT-order global sequence packing — t11's packing with the
    * cross-shard continuity t11's scaladoc only described: ONE global
    * doc_id-ordered stream, pack_id = floor(exclusive_running_tokens /
    * budget) across the whole corpus, so every pack boundary is exactly
    * where a single sequential packer would put it.
    *
    * The global running sum is the q36 two-phase distributed prefix sum:
    * the id range is cut into equal-width shards, each shard running-sums
    * in a parallel window, and the per-shard token totals (one long each)
    * are exclusive-prefix-summed on the driver and broadcast back as
    * offsets — NO single-partition WindowExec at any scale (the naive
    * global `Window.orderBy` formulation funnels 100 TB through one
    * task). CurationSpec asserts equality with the naive form.
    */
  /** Per-DOCUMENT pack assignment (doc_id, n_tok, pack_id) via the
    * two-phase distributed prefix sum — t15's core, also what the
    * training-set exporter writes (each doc must know its pack).
    */
  def globalPackingDocs(countedIn: DataFrame, budget: Long): DataFrame = {
    val s = countedIn.sparkSession
    val counted = countedIn
      .materialize() // read twice: shard totals + the ranked pass
    val row = counted.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (row.isNullAt(0)) { // empty corpus → empty assignment
      return counted.select(col("doc_id"), lit(0L).as("n_tok"),
        lit(0L).as("pack_id")).limit(0)
    }
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    val nShards = math.max(1, s.sparkContext.defaultParallelism)
    val width = math.max(1L, (hi - lo) / nShards + 1L)
    val sharded = counted
      .withColumn("shard", ((col("doc_id") - lit(lo)) / lit(width)).cast("int"))
    val offsets: Map[Int, Long] = {
      val totals = sharded.groupBy(col("shard"))
        .agg(sum(col("n_tok")).as("tot"))
        // driver-bound(stat-frame): one total per shard (<= parallelism rows)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val ids = totals.keys.toSeq.sorted
      ids.zip(ids.scanLeft(0L)((acc, id) => acc + totals(id)).init).toMap
    }
    val offsetCol = coalesce(
      element_at(
        map(offsets.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(lit(k), lit(v)) }: _*),
        col("shard")),
      lit(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sharded
      .withColumn("pack_id",
        floor((coalesce(sum(col("n_tok")).over(w), lit(0L)) + offsetCol)
          / lit(budget)).cast("long"))
      .select(col("doc_id"), col("n_tok"), col("pack_id"))
  }

  /** Per-pack accounting over the assignment — t15's driver-facing shape. */
  def globalPacking(countedIn: DataFrame, budget: Long): DataFrame =
    globalPackingDocs(countedIn, budget)
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"),
        sround(sum(col("n_tok")) / lit(budget.toDouble), 4).as("fill_ratio"))
      .orderBy("pack_id")

  val t15GlobalPacking: Plan = (s, d) =>
    globalPacking(
      docs(s, d).select(col("doc_id"),
        size(lowerTokens(col("text"))).cast("long").as("n_tok")),
      budget = 256L)

  /** Oracle: the same packing as ONE global window — affordable at oracle
    * scale, which is exactly why the Spark side must not use it.
    */
  val t15GlobalPackingSql: String =
    """WITH counted AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |packed AS (
      |  SELECT doc_id, n_tok,
      |    CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256)
      |      AS BIGINT) AS pack_id
      |  FROM counted)
      |SELECT pack_id, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
      |  floor(sum(n_tok) / 256.0 * 10000.0 + 0.5) / 10000.0 AS fill_ratio
      |FROM packed GROUP BY pack_id ORDER BY pack_id""".stripMargin

  // ----------------------------------------------- t16_corpus_mix
  /** Deterministic corpus MIXING — the data-mixture step of LLM training
    * prep: each source gets a target sampling fraction (here a
    * deterministic rule standing in for the usual hand-tuned weights
    * table: source index mod 3 → 0.2 / 0.5 / 0.8), and the operator takes
    * EXACTLY ceil(frac x n_source) docs per source, selected by
    * md5-of-id order — the q29 hash-order sampler generalized to
    * per-stratum fractions. Hash-order selection makes the mixture (a)
    * reproducible across engines/runs, (b) uniform within each source,
    * and (c) exact-size — rand() sampling gives none of these. Output is
    * the mixture report: per-source doc counts, target fraction, and the
    * realized share of the mixed corpus.
    *
    * Scale shape: one shuffle on the source key for the rank; the final
    * share divides by a 1-row broadcast total (no global window).
    */
  val t16CorpusMix: Plan = (s, d) => {
    // unparseable source suffixes take the DEFAULT fraction instead of a
    // NULL that would silently drop the whole source from the mixture
    // (the oracle mirrors with TRY_CAST + coalesce)
    val frac = coalesce(
      lit(0.2) + lit(0.3) *
        (expr("CAST(substring(source, 4) AS INT)") % 3).cast("double"),
      lit(0.2))
    // per-source hash-ordered rank via the skew-safe keyedRank (sampled
    // range sharding — source cardinality is driver-bounded, a source's
    // DOC count is not: a naive per-source window would sort a whole
    // crawl's slice in one task), and the per-source totals via a
    // map-side-combinable agg broadcast back instead of a count window
    val base = docs(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("h", md5(col("doc_id").cast("string")))
    val counts = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val sampled = graft.operators.KeyedRank
      .keyedRank(base, "source", "h", "doc_id", "rn", descending = false)
      .join(broadcast(counts), "source")
      .withColumn("frac", frac)
      .filter(col("rn") <= ceil(col("n_docs") * col("frac")))
    val perSource = sampled.groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_sampled"),
        first(col("frac")).as("target_frac"))
    val total = perSource.agg(sum(col("n_sampled")).as("total_sampled"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("target_frac"),
        sround(col("n_sampled") / col("total_sampled"), 6).as("actual_share"))
      .orderBy("source")
  }

  val t16CorpusMixSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    coalesce(0.2 + 0.3 * CAST(TRY_CAST(substring(source, 4) AS INTEGER) % 3 AS DOUBLE), 0.2) AS frac,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn,
      |    count(*) OVER (PARTITION BY source) AS n_docs
      |  FROM documents),
      |sampled AS (SELECT * FROM ranked WHERE rn <= ceil(n_docs * frac)),
      |per_source AS (
      |  SELECT source, CAST(any_value(n_docs) AS BIGINT) AS n_docs,
      |    count(*) AS n_sampled, any_value(frac) AS target_frac
      |  FROM sampled GROUP BY source),
      |total AS (SELECT CAST(sum(n_sampled) AS BIGINT) AS total_sampled FROM per_source)
      |SELECT source, n_docs, n_sampled, target_frac,
      |  floor(n_sampled / CAST(total_sampled AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
      |    AS actual_share
      |FROM per_source CROSS JOIN total
      |ORDER BY source""".stripMargin

  // ------------------------------------------------- t17_lm_score
  /** Statistical LM quality scoring — the CCNet/KenLM-style perplexity
    * filter: a bigram model with add-one smoothing is estimated from the
    * corpus ITSELF (self-perplexity), and each document is scored by the
    * average -log2 p(w_i | w_{i-1}) of its bigram occurrences. Gibberish
    * and atypical text score high, templated boilerplate scores low —
    * the standard third axis after t2's shape heuristics and t8's
    * character entropy.
    *
    * Distributed shape: model estimation is two hash aggs (bigram and
    * context counts) + a 1-row vocabulary count; scoring joins each
    * bigram occurrence to the model on the bigram key — every stage is
    * gram-partitioned, nothing is collected. Float discipline: the
    * per-bigram -log2 terms are exact-integer-ratio logs, summed per doc
    * via the SORTED fold (t8's trick) so the doubles match the oracle
    * bit for bit.
    */
  /** t17's core as a reusable frame: per-doc (doc_id, n_bigrams, h) where
    * `h` is the SORTED-fold sum of the bigram -log2 terms (bitwise-stable
    * doubles). `toks` must carry (doc_id, t) and be CHEAP TO RE-READ
    * (already materialized) — it feeds bigrams, contexts, and the
    * vocab count. Shared by t17 and t27.
    */
  private def lmDocScores(toks: DataFrame): DataFrame = {
    val big = toks
      .select(col("doc_id"), posexplode(col("t")).as(Seq("i", "w1")),
        col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("doc_id"), col("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))
      // the widest frame in the query feeds THREE consumers (bigram
      // counts, context counts, the scoring join) — materialize once
      .materialize()
    val bc = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val ctx = big.groupBy(col("w1")).agg(count(lit(1)).as("cc"))
    val vocab = toks.select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    big
      .join(bc, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log2((col("c") + 1) / (col("cc") + col("v")).cast("double"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(col("term"))),
          lit(0.0), (acc, x) => acc + x).as("h"))
  }

  val t17LmScore: Plan = (s, d) =>
    lmDocScores(
      docs(s, d).select(col("doc_id"), lowerTokens(col("text")).as("t"))
        .materialize())
      .select(col("doc_id"), col("n_bigrams"),
        sround(col("h") / col("n_bigrams"), 4).as("avg_neg_log2p"))
      .orderBy("doc_id")

  val t17LmScoreSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
      |        WHERE len(t) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
      |ctx AS (SELECT w1, count(*) AS cc FROM big GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(t) AS w FROM toks)),
      |terms AS (
      |  SELECT b.doc_id,
      |    -log2((bc.c + 1) / CAST(ctx.cc + v.v AS DOUBLE)) AS term
      |  FROM big b JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  floor(list_aggregate(list_sort(list(term)), 'sum') / count(*)
      |    * 10000.0 + 0.5) / 10000.0 AS avg_neg_log2p
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- t27_ccnet_buckets
  /** CCNet-style perplexity bucketing — the canonical pretraining-corpus
    * partition: per language, split the corpus into `head` (lowest
    * perplexity third — keep), `middle` (keep/weight down), `tail`
    * (highest third — usually drop), and report per-(lang, bucket) doc /
    * token volumes and score ranges. Composes t17's self-trained bigram
    * LM verbatim.
    *
    * Distributed shape — the part that matters at 100 TB: the bucket
    * boundary is NOT a corpus-sized global sort. t17's scores are
    * sround-4 DISCRETE, so the corpus collapses to a per-(lang, score4)
    * DISTRIBUTION table with one hash agg (the only new corpus-wide
    * shuffle), and the tercile cut runs on that small table (≤ langs x
    * distinct-scores rows — thousands, regardless of corpus size) with a
    * lang-partitioned cumulative window. Assignment is at the SCORE
    * level — a score lands wholly in one bucket, ties never straddle a
    * boundary — which is exactly CCNet's published shape (fixed ppl
    * cutoffs, not exact thirds) and makes the operator deterministic
    * under any partitioning. Docs with <2 tokens have no bigram score
    * and are excluded, matching t17's domain.
    */
  /** Per-doc CCNet bucket assignment — t27's score-level tercile cut
    * joined back to the doc grain: (doc_id, lang, n_tok, score4,
    * bucket). Shared by t27's aggregated report and p10's curriculum
    * order (one cut spelling, the v14 discipline). The join-back is
    * keyed on (lang, score4) — a broadcast-sized table at any corpus
    * size, so the doc grain costs one narrow join, not a second
    * corpus-wide sort.
    */
  def ccnetDocBuckets(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), lowerTokens(col("text")).as("t"))
      .materialize() // feeds the LM pipeline AND the meta join
    val scored = lmDocScores(toks.select(col("doc_id"), col("t")))
      .select(col("doc_id"),
        floor(col("h") / col("n_bigrams") * 10000.0 + lit(0.5))
          .cast("long").as("score4"))
    val meta = toks.select(col("doc_id"), col("lang"),
      size(col("t")).cast("long").as("n_tok"))
    val dist = scored.join(meta, Seq("doc_id"))
      .groupBy(col("lang"), col("score4"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("score4"))
    val marked = dist
      .withColumn("cum", coalesce(
        sum(col("c")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_lang", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
    val cut1 = floor((col("n_lang") + lit(2)) / lit(3.0)).cast("long")
    val cut2 = floor((lit(2) * col("n_lang") + lit(2)) / lit(3.0)).cast("long")
    val scoreBuckets = marked
      .withColumn("bucket",
        when(col("cum") < cut1, "head")
          .when(col("cum") < cut2, "middle")
          .otherwise("tail"))
      .select(col("lang"), col("score4"), col("bucket"))
    scored.join(meta, Seq("doc_id"))
      .join(scoreBuckets, Seq("lang", "score4"))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("score4"),
        col("bucket"))
  }

  val t27CcnetBuckets: Plan = (s, d) =>
    ccnetDocBuckets(s, d)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("score4")).as("min4"), max(col("score4")).as("max4"),
        sum(col("score4")).as("x4"))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_tokens"),
        (col("min4") / 10000.0).as("min_score"),
        (col("max4") / 10000.0).as("max_score"),
        (floor(col("x4") / (lit(10000.0) * col("n_docs")) * 10000.0
          + lit(0.5)) / 10000.0).as("mean_score"))
      .orderBy("lang", "bucket")

  /** Oracle: t17's CTEs + the identical score-level tercile cut — the
    * chain up to `bucketed` (lang, bucket, score4, c, tok) is shared
    * with p10's curriculum oracle.
    */
  private[graft] val ccnetCtes: String =
    """toks AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
      |        WHERE len(t) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
      |ctx AS (SELECT w1, count(*) AS cc FROM big GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(t) AS w FROM toks)),
      |terms AS (
      |  SELECT b.doc_id,
      |    -log2((bc.c + 1) / CAST(ctx.cc + v.v AS DOUBLE)) AS term
      |  FROM big b JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
      |scored AS (
      |  SELECT doc_id,
      |    CAST(floor(list_aggregate(list_sort(list(term)), 'sum') / count(*)
      |      * 10000.0 + 0.5) AS BIGINT) AS score4
      |  FROM terms GROUP BY doc_id),
      |meta AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok FROM toks),
      |dist AS (
      |  SELECT lang, score4, count(*) AS c, CAST(sum(n_tok) AS BIGINT) AS tok
      |  FROM scored JOIN meta USING (doc_id) GROUP BY 1, 2),
      |marked AS (
      |  SELECT lang, score4, c, tok,
      |    coalesce(sum(c) OVER (PARTITION BY lang ORDER BY score4
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
      |    sum(c) OVER (PARTITION BY lang) AS n_lang
      |  FROM dist),
      |bucketed AS (
      |  SELECT lang,
      |    CASE WHEN cum < CAST(floor((n_lang + 2) / 3.0) AS BIGINT) THEN 'head'
      |         WHEN cum < CAST(floor((2 * n_lang + 2) / 3.0) AS BIGINT) THEN 'middle'
      |         ELSE 'tail' END AS bucket,
      |    score4, c, tok
      |  FROM marked)""".stripMargin

  val t27CcnetBucketsSql: String =
    s"""WITH $ccnetCtes
      |SELECT lang, bucket, CAST(sum(c) AS BIGINT) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS n_tokens,
      |  min(score4) / 10000.0 AS min_score,
      |  max(score4) / 10000.0 AS max_score,
      |  floor(CAST(sum(score4 * c) AS DOUBLE) / (10000.0 * sum(c)) * 10000.0 + 0.5)
      |    / 10000.0 AS mean_score
      |FROM bucketed GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  // ------------------------------------------------------- t12_redact
  /** PII scrubbing — the redaction pass every published training corpus
    * runs: emails and phone-shaped numbers replaced with typed sentinels,
    * with per-doc match accounting. Patterns are RE2-safe (no
    * lookaround) so the oracle's regex engine agrees; the redacted text
    * rides as an md5 so the output stays narrow. Purely narrow per-doc
    * work — scales with input splits, no shuffle.
    */
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phoneRe = "\\d{3}[-. ]\\d{3}[-. ]\\d{4}"

  val t12Redact: Plan = (s, d) =>
    docs(s, d).select(
      col("doc_id"),
      regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(phoneRe)).cast("long").as("n_phones"),
      md5(regexp_replace(
        regexp_replace(col("text"), emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>")).as("redacted_md5"))
      .orderBy("doc_id")

  val t12RedactSql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '\d{3}[-. ]\d{3}[-. ]\d{4}')) AS BIGINT) AS n_phones,
      |  md5(regexp_replace(
      |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '\d{3}[-. ]\d{3}[-. ]\d{4}', '<PHONE>', 'g')) AS redacted_md5
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- t13_repetition
  /** Repetition filter (the Gopher/MassiveText quality rule): the share
    * of all word-bigrams taken by the single most frequent bigram —
    * boilerplate and templated spam spike it. Distributed shape: explode
    * bigrams → one hash agg (doc, gram) → one hash agg (doc) computing
    * max and total together; exact integer division for oracle parity.
    * Docs with fewer than two tokens have no bigrams and drop out.
    */
  val t13Repetition: Plan = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(wordNgrams(col("toks"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"), max(col("cnt")).as("max_rep"))
      .select(col("doc_id"), col("n_bigrams"), col("max_rep"),
        sround(col("max_rep") / col("n_bigrams"), 4).as("top_bigram_share"))
      .orderBy("doc_id")

  val t13RepetitionSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> array_to_string(t[i:i+1], ' '))) AS g
      |  FROM toks WHERE len(t) >= 2),
      |counts AS (SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY 1, 2)
      |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |  CAST(max(cnt) AS BIGINT) AS max_rep,
      |  floor(max(cnt) / CAST(sum(cnt) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |    AS top_bigram_share
      |FROM counts GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- t18_heavy_hitters
  /** Heavy hitters via a PORTABLE Count-Min sketch
    * (graft.expressions.CmsSketch) — the frequency counterpart of t14's
    * Bloom membership pass: the whole token stream folds into one
    * 4x8192 counter matrix (256 KiB, elementwise-ADD-merged partials, so
    * the shuffle ships one matrix per partition, not tokens), then the
    * distinct candidate tokens probe it with d=4 long reads each. The
    * output compares each top token's CMS estimate against its exact
    * count, so the one-sided error (estimate >= exact, collisions only
    * over-count) is visible in the result and hash-checked by the
    * oracle, which rebuilds the identical matrix with a GROUP BY
    * (depth, position) over the same md5-62 lanes.
    *
    * At 100 TB the exact branch here is itself a full word count; the
    * sketch's value is that the BUILD is shuffle-free (map-side fold +
    * tiny merge) — the exact count exists in this query only to exhibit
    * the error bound. A production pass would probe candidates from a
    * sample or a prior round instead.
    */
  val t18HeavyHitters: Plan = (s, d) => {
    import graft.expressions.CmsSketch
    // toks feeds BOTH the sketch build and the exact groupBy; checkpoint so
    // the explode+md5 tokenization pass — the dominant scan — runs once.
    val toks = docs(s, d)
      .select(explode(lowerTokens(col("text"))).as("token"))
      .select(col("token"),
        graft.expressions.PortableHashExpressions.md5Hash62(col("token")).as("h"))
      .materialize()
    val cms = toks.agg(CmsSketch.cmsBuild(col("h")).as("cms"))
    toks.groupBy(col("token"), col("h")).agg(count(lit(1)).as("exact_cnt"))
      .crossJoin(broadcast(cms)) // one 256 KiB row to every executor
      .select(col("token"), col("exact_cnt"),
        CmsSketch.cmsEstimate(col("cms"), col("h")).as("est_cnt"))
      .withColumn("overcount", col("est_cnt") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token").asc)
      .limit(20)
  }

  /** DuckDB twin of t18: the counter matrix is rebuilt relationally —
    * every token occurrence contributes one count at each of its d
    * Kirsch-Mitzenmacher positions, GROUP BY (depth, pos) IS the sketch —
    * and each candidate's estimate is the min of its d cells. Bitwise the
    * arithmetic CmsSketch.update/estimate performs, collisions included.
    */
  val t18HeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |    x -> x != '')) AS token
      |  FROM documents),
      |h AS MATERIALIZED (
      |  SELECT token,
      |    CAST(md5_number_lower(token) & 4611686018427387903 AS BIGINT) AS h
      |  FROM toks),
      |cms AS MATERIALIZED (
      |  SELECT i.i AS i, ((h & 2147483647) + i.i * ((h >> 31) | 1)) % 8192 AS pos,
      |    count(*) AS c
      |  FROM h, (SELECT unnest(range(4)) AS i) i
      |  GROUP BY 1, 2),
      |cand AS (SELECT token, h, count(*) AS exact_cnt FROM h GROUP BY 1, 2),
      |probe AS (
      |  SELECT cand.token, cand.exact_cnt, i.i AS i,
      |    ((cand.h & 2147483647) + i.i * ((cand.h >> 31) | 1)) % 8192 AS pos
      |  FROM cand, (SELECT unnest(range(4)) AS i) i)
      |SELECT p.token, p.exact_cnt, min(c.c) AS est_cnt,
      |  min(c.c) - p.exact_cnt AS overcount
      |FROM probe p JOIN cms c ON c.i = p.i AND c.pos = p.pos
      |GROUP BY p.token, p.exact_cnt
      |ORDER BY p.exact_cnt DESC, p.token ASC LIMIT 20""".stripMargin

  // --------------------------------------------- t20_quality_classifier
  /** Linear quality-classifier scoring — the fastText-style model-based
    * filter (Joulin et al. 2016 arXiv:1607.01759; the CCNet/GPT-3 data
    * pipelines run exactly this shape): each document's hashed
    * bag-of-words features are dotted with a FROZEN weight vector and the
    * mean activation is the keep/drop logit. Here the frozen weights are
    * derived arithmetically from the feature id (Knuth multiplicative
    * hash into [-0.5, 0.5)) so both engines materialize the identical
    * model without shipping an artifact; a production run would
    * `broadcast` the trained weights table instead — same plan shape,
    * the weight lookup is a map-side join either way.
    *
    * Float discipline: every weight is a dyadic rational k/2^20 with
    * |sum| < 2^10, so ANY summation order is exact in IEEE doubles — the
    * per-doc sum needs no sorted fold (unlike t8/t17's logs) and the
    * plan keeps the plain partial-agg sum. Scale shape: narrow
    * explode → one doc-keyed hash agg; nothing wide.
    */
  val t20QualityClassifier: Plan = (s, d) =>
    docs(s, d)
      .select(col("doc_id"), explode(lowerTokens(col("text"))).as("token"))
      .select(col("doc_id"),
        (graft.expressions.PortableHashExpressions.md5Hash62(col("token"))
          % lit(262144L)).as("fid"))
      .select(col("doc_id"),
        (((col("fid") * lit(2654435761L)) % lit(1048576L)) / lit(1048576.0)
          - lit(0.5)).as("wt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("wt")).as("act"))
      .select(col("doc_id"), col("n_tokens"),
        sround(col("act") / col("n_tokens"), 6).as("logit"),
        (col("act") > 0.0).as("keep"))
      .orderBy("doc_id")

  val t20QualityClassifierSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS token
      |  FROM documents),
      |w AS (
      |  SELECT doc_id,
      |    (((CAST(md5_number_lower(token) & 4611686018427387903 AS BIGINT)
      |        % 262144) * 2654435761) % 1048576) / 1048576.0 - 0.5 AS wt
      |  FROM toks)
      |SELECT doc_id, count(*) AS n_tokens,
      |  floor((sum(wt) / count(*)) * 1000000.0 + 0.5) / 1000000.0 AS logit,
      |  sum(wt) > 0.0 AS keep
      |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------- t19_dsir_importance
  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): documents are
    * scored by the log-likelihood ratio of a TARGET distribution vs the
    * RAW corpus distribution under bag-of-hashed-bigram unigram models —
    * the standard cheap way to steer a 100 TB crawl toward a target
    * domain without training a classifier. Here the target is the
    * labeled-'en' slice and features are word bigrams hashed into 4096
    * buckets (md5-62 mod, portable).
    *
    * Distributed shape: ONE pass builds both models (a single
    * bucket-keyed agg computing raw and target counts together) plus a
    * 1-row total; scoring joins each bigram occurrence to the 4096-row
    * model — which AQE broadcasts — so nothing wide depends on corpus
    * size. Float discipline: each term is a difference of logs of
    * exact-integer ratios; per-doc summation uses the sorted fold (t8's
    * trick) so the doubles match the oracle bit for bit.
    */
  val t19DsirImportance: Plan = (s, d) => {
    val B = 4096
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), lowerTokens(col("text")).as("t"))
    val big = toks
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"), posexplode(col("t")).as(Seq("i", "w1")),
        col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("doc_id"), col("lang"),
        (graft.expressions.PortableHashExpressions.md5Hash62(
          concat_ws(" ", col("w1"), element_at(col("t"), col("i") + 2))) % B).as("b"))
      // feeds the model agg, the totals agg, and the scoring join
      .materialize()
    val isTgt = when(col("lang") === "en", 1L).otherwise(0L)
    val model = big.groupBy(col("b"))
      .agg(count(lit(1)).as("rc"), sum(isTgt).as("tc"))
    val tots = big.agg(count(lit(1)).as("rtot"), sum(isTgt).as("ttot"))
    big
      .join(model, Seq("b"))
      .crossJoin(broadcast(tots))
      .select(col("doc_id"),
        (log2((col("tc") + 1) / (col("ttot") + lit(B)).cast("double")) -
          log2((col("rc") + 1) / (col("rtot") + lit(B)).cast("double"))).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        aggregate(array_sort(collect_list(col("term"))),
          lit(0.0), (acc, x) => acc + x).as("lr"))
      .select(col("doc_id"), col("n_feats"), sround(col("lr"), 4).as("dsir_logratio"))
      .orderBy("doc_id")
  }

  val t19DsirImportanceSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |    CAST(md5_number_lower(t[i] || ' ' || t[i + 1])
      |      & 4611686018427387903 AS BIGINT) % 4096 AS b
      |  FROM (SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i FROM toks
      |        WHERE len(t) >= 2)),
      |model AS (SELECT b, count(*) AS rc,
      |            sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
      |          FROM big GROUP BY 1),
      |tots AS (SELECT count(*) AS rtot,
      |           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ttot
      |         FROM big),
      |terms AS (
      |  SELECT big.doc_id,
      |    log2((m.tc + 1) / CAST(t.ttot + 4096 AS DOUBLE))
      |      - log2((m.rc + 1) / CAST(t.rtot + 4096 AS DOUBLE)) AS term
      |  FROM big JOIN model m USING (b) CROSS JOIN tots t)
      |SELECT doc_id, count(*) AS n_feats,
      |  floor(list_aggregate(list_sort(list(term)), 'sum') * 10000.0 + 0.5)
      |    / 10000.0 AS dsir_logratio
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- t21_bpe_merges
  /** BPE merge LEARNING (the training half of a byte-pair tokenizer; t1
    * counts tokens with the BPE-ish regex, this derives the merge table):
    * 5 unrolled rounds of {count adjacent symbol pairs weighted by word
    * frequency → take the most frequent pair (ties break lexicographic)
    * → apply the merge}.
    *
    * The scale trick is that everything after the first aggregation runs
    * on the WORD-FREQUENCY table, not the corpus: one corpus scan builds
    * (word, freq) — vocab-sized, ~10k rows at any corpus size — and each
    * round is {explode pairs → hash agg → 1-row top pair broadcast →
    * columnar replace}, materialized so the loop's plan stays flat.
    * This mirrors how production BPE trainers work (merge on the vocab
    * multiset, never re-scan the corpus).
    *
    * Words carry their symbols space-separated with sentinel padding
    * (" h e l l o "), a merge replaces " a b " with " ab " left-to-right
    * non-overlapping — Spark's replace() and DuckDB's replace() share
    * that scan rule, so the learned merges (and every intermediate
    * frequency) hash-match the oracle's 5 unrolled CTE rounds.
    */
  val t21BpeMerges: Plan = (s, d) => {
    val words0 = docs(s, d)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2 && length(col("w")) <= 12)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 "))
        .as("syms"), col("freq"))
      .materialize() // corpus scanned ONCE; rounds run on vocab
    // r17 optimization (guide §5): each round's winner is a limit(1)
    // frame — collect it and chain the merges as LITERAL replace
    // expressions over the one checkpointed vocab frame, instead of a
    // per-round broadcast-join apply fenced by a per-round checkpoint.
    // Round r re-runs r-1 literal replaces inside one codegen projection
    // (narrow string work on the vocab multiset) — strictly cheaper than
    // writing + reading the vocab frame every round, at any scale. The
    // learned table is identical: same counts, same (-pf, a, b) argmax,
    // same sentinel-padded leftmost-non-overlapping replace.
    var merges = List.empty[(Int, String, String, String, Long)]
    for (r <- 1 to 5) {
      // a/b/m are learned lowercase-letter runs — safe as SQL literals;
      // same sentinel-padded literal replace chain as t25's encoder
      val symsExpr = merges.foldLeft("syms") { case (e, (_, a, b, m, _)) =>
        s"replace($e, ' $a $b ', ' $m ')"
      }
      val words = words0.select(expr(symsExpr).as("syms"), col("freq"))
      val top = words
        .where(expr("size(split(trim(syms), ' ')) >= 2"))
        .select(explode(expr(
          "transform(sequence(0, size(split(trim(syms), ' ')) - 2), " +
            "i -> struct(split(trim(syms), ' ')[i] AS a, " +
            "split(trim(syms), ' ')[i + 1] AS b))")).as("p"), col("freq"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("a"), col("b"))
        .limit(1)
        // driver-bound(k-bounded): limit(1) — the round's single argmax row
        .collect().head
      merges = merges :+ ((r, top.getString(0), top.getString(1),
        top.getString(0) + top.getString(1), top.getLong(2)))
    }
    import s.implicits._
    merges.toDF("rank", "a", "b", "merged", "pf").orderBy(col("rank"))
  }

  /** The t21 trainer as a CTE prefix (words0 → … → m5), shared by the
    * t21 oracle and the t25 encoder oracle.
    */
  private val bpeTrainerCtes: String = {
    def round(prev: String, r: Int): String =
      s"""p$r AS (
         |  SELECT l[i + 1] AS a, l[i + 2] AS b,
         |    CAST(sum(freq) AS BIGINT) AS pf FROM (
         |    SELECT string_split(trim(syms), ' ') AS l, freq,
         |      unnest(range(len(string_split(trim(syms), ' ')) - 1)) AS i
         |    FROM $prev WHERE len(string_split(trim(syms), ' ')) >= 2)
         |  GROUP BY 1, 2),
         |m$r AS (SELECT $r AS rank, a, b, a || b AS merged, pf
         |  FROM p$r ORDER BY pf DESC, a, b LIMIT 1)""".stripMargin
    def apply(prev: String, r: Int): String =
      s"""words$r AS (
         |  SELECT replace(syms, ' ' || a || ' ' || b || ' ',
         |    ' ' || merged || ' ') AS syms, freq
         |  FROM $prev, m$r)""".stripMargin
    s"""words0 AS (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms, freq
       |  FROM (
       |    SELECT w, count(*) AS freq FROM (
       |      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |      FROM documents)
       |    WHERE length(w) >= 2 AND length(w) <= 12 GROUP BY w)),
       |${round("words0", 1)},
       |${apply("words0", 1)},
       |${round("words1", 2)},
       |${apply("words1", 2)},
       |${round("words2", 3)},
       |${apply("words2", 3)},
       |${round("words3", 4)},
       |${apply("words3", 4)},
       |${round("words4", 5)}""".stripMargin
  }

  val t21BpeMergesSql: String =
    s"""WITH $bpeTrainerCtes
       |SELECT rank, a, b, merged, pf FROM (
       |  SELECT * FROM m1 UNION ALL SELECT * FROM m2
       |  UNION ALL SELECT * FROM m3 UNION ALL SELECT * FROM m4
       |  UNION ALL SELECT * FROM m5)
       |ORDER BY rank""".stripMargin

  // --------------------------------------------------- t25_bpe_encode
  /** BPE ENCODING (the serving half t21 trains for): apply the learned
    * merge table, in rank order, to every word of every document, and
    * report the per-document tokenization account — word count, base
    * symbol count (characters), and post-merge BPE token count. The
    * integer triple is what a token-budgeting pipeline (packing, cost
    * estimation, context-window accounting) consumes, and integer-only
    * output makes the whole encode hash-checkable.
    *
    * Scale shape: the trainer runs on the vocab multiset (t21's
    * argument); the ENCODE is embarrassingly parallel — the 5 learned
    * merges are collected driver-side (5 rows, bounded by construction)
    * and inlined as literal `replace` chains in the projection, so the
    * corpus pass is narrow string work inside whole-stage codegen with
    * ONE doc_id-keyed aggregation behind it. No join against the merge
    * table ever touches the corpus.
    *
    * Merge application is sentinel-padded leftmost-non-overlapping
    * `replace` (" a b " → " ab "), the same scan rule in Spark and
    * DuckDB that makes t21's rounds hash-match; out-of-vocab words
    * (length 1 or > 12 — never seen by the trainer) still pass through
    * the encoder, picking up any merge whose pair happens to occur.
    */
  val t25BpeEncode: Plan = (s, d) => {
    // driver-bound(k-bounded): the learned merge table, rank order — 5 rows by construction
    val merges = t21BpeMerges(s, d).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val base = docs(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(col("w") =!= "")
      .select(col("doc_id"), length(col("w")).cast("long").as("n_base"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("syms"))
    val encoded = merges.foldLeft(base) { case (df, (a, b, m)) =>
      // a/b/m are learned lowercase-letter runs — safe as SQL literals
      df.withColumn("syms", expr(s"replace(syms, ' $a $b ', ' $m ')"))
    }
    val perDoc = encoded
      .select(col("doc_id"), col("n_base"),
        size(split(trim(col("syms")), " ")).cast("long").as("n_bpe"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_base")).as("n_base"),
        sum(col("n_bpe")).as("n_bpe"))
    docs(s, d).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of t25: the shared trainer CTEs learn m1..m5, then the
    * encode chain applies them in rank order with the identical
    * sentinel-padded replace, and the per-doc account left-joins back to
    * documents so wordless docs keep zero rows.
    */
  val t25BpeEncodeSql: String = {
    val encChain = (1 to 5).map { r =>
      s"""enc$r AS (
         |  SELECT doc_id, n_base,
         |    replace(syms, ' ' || a || ' ' || b || ' ', ' ' || merged || ' ') AS syms
         |  FROM enc${r - 1}, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainerCtes,
       |enc0 AS (
       |  SELECT doc_id, CAST(length(w) AS BIGINT) AS n_base,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms
       |  FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |    FROM documents)
       |  WHERE w != ''),
       |$encChain,
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_base) AS BIGINT) AS n_base,
       |    CAST(sum(len(string_split(trim(syms), ' '))) AS BIGINT) AS n_bpe
       |  FROM enc5 GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(p.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  coalesce(p.n_base, CAST(0 AS BIGINT)) AS n_base,
       |  coalesce(p.n_bpe, CAST(0 AS BIGINT)) AS n_bpe
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ t28_fertility
  /** Tokenizer FERTILITY audit — the multilingual-equity metric every
    * shared-tokenizer deployment reports: with ONE merge table trained
    * on the mixed corpus (t21), how many BPE tokens does each language
    * pay per word? A language the tokenizer under-serves shows fertility
    * near its character count (merges never fire), which silently
    * inflates its context-window and training cost; this op turns that
    * disparity into a per-language number next to the compression ratio.
    *
    * Scale shape: strictly cheaper than t25 — the same inlined-literal
    * merge chain (5 collected rows, no corpus-side join) but aggregated
    * straight to the LANG grain (one hash agg, ≤ langs rows out), never
    * materializing the per-doc account; n_docs is a second tiny agg on
    * the docs table. Integer counts throughout; the two ratios are
    * identically-spelled divisions.
    */
  val t28Fertility: Plan = (s, d) => {
    // driver-bound(k-bounded): the learned merge table, rank order — 5 rows by construction
    val merges = t21BpeMerges(s, d).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2), r.getString(3)))
    val base = docs(s, d)
      .select(col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(col("w") =!= "")
      .select(col("lang"), length(col("w")).cast("long").as("n_base"),
        concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")).as("syms"))
    val encoded = merges.foldLeft(base) { case (df, (a, b, m)) =>
      df.withColumn("syms", expr(s"replace(syms, ' $a $b ', ' $m ')"))
    }
    val perLang = encoded
      .select(col("lang"), col("n_base"),
        size(split(trim(col("syms")), " ")).cast("long").as("n_bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_base")).as("n_base"),
        sum(col("n_bpe")).as("n_bpe"))
    val nd = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    nd.join(perLang, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe"),
        sround(col("n_bpe") / col("n_words").cast("double"), 4)
          .as("fertility"),
        sround(col("n_base") / col("n_bpe").cast("double"), 4)
          .as("compression"))
      .orderBy("lang")
  }

  /** Oracle: the shared trainer CTEs + the lang-grain encode account. */
  val t28FertilitySql: String = {
    val encChain = (1 to 5).map { r =>
      s"""enc$r AS (
         |  SELECT lang, n_base,
         |    replace(syms, ' ' || a || ' ' || b || ' ', ' ' || merged || ' ') AS syms
         |  FROM enc${r - 1}, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainerCtes,
       |enc0 AS (
       |  SELECT lang, CAST(length(w) AS BIGINT) AS n_base,
       |    ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms
       |  FROM (
       |    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |    FROM documents)
       |  WHERE w != ''),
       |$encChain,
       |perlang AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_base) AS BIGINT) AS n_base,
       |    CAST(sum(len(string_split(trim(syms), ' '))) AS BIGINT) AS n_bpe
       |  FROM enc5 GROUP BY lang),
       |nd AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
       |SELECT nd.lang, CAST(nd.n_docs AS BIGINT) AS n_docs,
       |  coalesce(p.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  coalesce(p.n_bpe, CAST(0 AS BIGINT)) AS n_bpe,
       |  floor(p.n_bpe / CAST(p.n_words AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |    AS fertility,
       |  floor(p.n_base / CAST(p.n_bpe AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |    AS compression
       |FROM nd LEFT JOIN perlang p USING (lang)
       |ORDER BY nd.lang""".stripMargin
  }

  // ------------------------------------------------ t29_code_detect
  /** Code-vs-prose routing — the curation signal that decides which
    * pipeline a document enters (code corpora get different dedup,
    * quality, and tokenization treatment than prose; misrouted code
    * poisons prose quality stats and vice versa). Heuristic signals per
    * doc: code-symbol density ({}();=<>[]), indented-line share, and
    * code-keyword hits per line, blended into a fixed linear score with
    * a routing flag at 0.08 — the t2/t3 discipline applied to the
    * code/prose axis.
    *
    * All signals are regex COUNTS (portable across Java regex and RE2 —
    * no multiline flags, no lookaround; indentation is spelled as a
    * literal newline-then-whitespace match), so the whole operator is
    * one narrow codegen projection: at 100 TB it scales with input
    * splits, zero shuffles beyond the oracle ORDER BY.
    */
  private val codeSymRe = "[{}()\\[\\];=<>]"
  private val codeIndentRe = "\\n[ \\t]{2}"
  private val codeKwRe =
    "\\b(def|return|import|class|for|while|function|val|var)\\b"

  val t29CodeDetect: Plan = (s, d) =>
    docs(s, d).select(
      col("doc_id"),
      (regexp_count(col("text"), lit("\\n")) + 1).cast("long").as("n_lines"),
      regexp_count(col("text"), lit(codeSymRe)).cast("long").as("n_sym"),
      regexp_count(col("text"), lit(codeIndentRe)).cast("long").as("n_indent"),
      regexp_count(col("text"), lit(codeKwRe)).cast("long").as("n_kw"),
      length(col("text")).cast("long").as("len_c"))
      .select(
        col("doc_id"), col("n_lines"), col("n_sym"), col("n_kw"),
        sround((col("n_sym") / nullif(col("len_c"), lit(0L))) * 0.5
          + (col("n_indent") / col("n_lines")) * 0.3
          + least(col("n_kw") / col("n_lines"), lit(1.0)) * 0.2, 4)
          .as("code_score"))
      .withColumn("is_code", col("code_score") >= 0.08)
      .orderBy("doc_id")

  val t29CodeDetectSql: String =
    """SELECT doc_id, n_lines, n_sym, n_kw,
      |  floor(((n_sym / nullif(len_c, 0)) * 0.5
      |    + (n_indent / n_lines) * 0.3
      |    + least(n_kw / n_lines, 1.0) * 0.2) * 10000.0 + 0.5) / 10000.0
      |    AS code_score,
      |  floor(((n_sym / nullif(len_c, 0)) * 0.5
      |    + (n_indent / n_lines) * 0.3
      |    + least(n_kw / n_lines, 1.0) * 0.2) * 10000.0 + 0.5) / 10000.0
      |    >= 0.08 AS is_code
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\n')) + 1 AS BIGINT) AS n_lines,
      |    CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT) AS n_sym,
      |    CAST(len(regexp_extract_all(text, '\n[ \t]{2}')) AS BIGINT) AS n_indent,
      |    CAST(len(regexp_extract_all(text, '\b(def|return|import|class|for|while|function|val|var)\b')) AS BIGINT) AS n_kw,
      |    CAST(length(text) AS BIGINT) AS len_c
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ t30_corpus_drift
  /** Corpus DRIFT monitor — the between-crawls check a continuously-fed
    * training pipeline runs before mixing a new snapshot in: compare the
    * unigram distributions of two corpus slices (here the deterministic
    * doc_id-parity split standing in for old/new crawls), report the
    * top-20 most-drifted grams by absolute probability difference with
    * their per-gram Jensen-Shannon contribution. A drifted crawl shows
    * its new boilerplate/topic shift at the top of this table before it
    * skews t5 vocab or t17 perplexity baselines.
    *
    * Scale shape: ONE gram-keyed shuffle serves BOTH slices (side is a
    * CASE inside the same agg — never two corpus passes), totals and
    * vocab are a 1-row broadcast, scoring is a narrow projection, and
    * the output is TakeOrdered(20). Float discipline: probabilities are
    * add-one-smoothed exact rationals; log2-of-ratio is the t17-proven
    * libm path; ordering is on the raw double diff with the gram
    * tie-break.
    */
  /** t30's scoring half over an arbitrary (w, ca, cb) count frame —
    * shared with the streaming drift monitor, whose counts accumulate
    * on arrival instead of in one batch pass.
    */
  def driftTable(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"),
      count(lit(1)).as("v"))
    val p = (col("ca") + 1) / (col("ta") + col("v")).cast("double")
    val q = (col("cb") + 1) / (col("tb") + col("v")).cast("double")
    val m = (col("p") + col("q")) / 2.0
    counts.crossJoin(broadcast(tot))
      .withColumn("p", p).withColumn("q", q)
      .withColumn("js_raw",
        lit(0.5) * col("p") * log2(col("p") / m)
          + lit(0.5) * col("q") * log2(col("q") / m))
      .orderBy(abs(col("p") - col("q")).desc, col("w"))
      .limit(20)
      .select(col("w").as("gram"), col("ca").as("cnt_a"),
        col("cb").as("cnt_b"),
        sround(abs(col("p") - col("q")), 9).as("abs_diff"),
        sround(col("js_raw"), 9).as("js_term"))
  }

  val t30CorpusDrift: Plan = (s, d) => {
    val toks = docs(s, d)
      .select((col("doc_id") % 2).as("side"),
        explode(lowerTokens(col("text"))).as("w"))
    val counts = toks.groupBy(col("w"))
      .agg(sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    driftTable(counts)
  }

  val t30CorpusDriftSql: String =
    """WITH toks AS (
      |  SELECT doc_id % 2 AS side,
      |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '')) AS w
      |  FROM documents),
      |counts AS (
      |  SELECT w,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM toks GROUP BY w),
      |tot AS (
      |  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
      |    count(*) AS v
      |  FROM counts),
      |scored AS (
      |  SELECT w, ca, cb,
      |    (ca + 1) / CAST(ta + v AS DOUBLE) AS p,
      |    (cb + 1) / CAST(tb + v AS DOUBLE) AS q
      |  FROM counts CROSS JOIN tot)
      |SELECT w AS gram, ca AS cnt_a, cb AS cnt_b,
      |  floor(abs(p - q) * 1000000000.0 + 0.5) / 1000000000.0 AS abs_diff,
      |  floor((0.5 * p * log2(p / ((p + q) / 2.0))
      |       + 0.5 * q * log2(q / ((p + q) / 2.0))) * 1000000000.0 + 0.5)
      |    / 1000000000.0 AS js_term
      |FROM scored ORDER BY abs(p - q) DESC, w LIMIT 20""".stripMargin

  // ------------------------------------------------ t22_langid_audit
  /** Classifier audit for the language-ID heuristic: the confusion
    * matrix of declared vs predicted language plus per-cell recall and
    * precision shares — the eval harness every labeling operator needs
    * before it gates a corpus. Composes t3's fused scoring kernel, one
    * (truth, pred) hash agg, and two tiny re-aggregations joined back
    * (everything after the first agg is ≤ |langs|² rows). Shares divide
    * identically-spelled integer counts, so the doubles are bit-stable.
    */
  val t22LangidAudit: Plan = (s, d) => {
    val cells = t3LangId(s, d)
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
    val truth = cells.groupBy(col("lang")).agg(sum(col("n")).as("nt"))
    val pred = cells.groupBy(col("pred_lang")).agg(sum(col("n")).as("np"))
    cells.join(truth, "lang").join(pred, "pred_lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        sround(col("n").cast("double") / col("nt"), 4).as("recall_share"),
        sround(col("n").cast("double") / col("np"), 4).as("precision_share"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  val t22LangidAuditSql: String =
    s"""WITH preds AS ($t3LangIdSql),
       |cells AS (
       |  SELECT lang, pred_lang, count(*) AS n FROM preds GROUP BY 1, 2),
       |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nt
       |  FROM cells GROUP BY 1),
       |pr AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS np
       |  FROM cells GROUP BY 1)
       |SELECT c.lang, c.pred_lang, c.n,
       |  floor(CAST(c.n AS DOUBLE) / nt * 10000.0 + 0.5) / 10000.0
       |    AS recall_share,
       |  floor(CAST(c.n AS DOUBLE) / np * 10000.0 + 0.5) / 10000.0
       |    AS precision_share
       |FROM cells c JOIN t USING (lang) JOIN pr USING (pred_lang)
       |ORDER BY c.lang, c.pred_lang""".stripMargin

  // ---------------------------------------------------- t23_novelty
  /** Corpus NOVELTY audit: per document, the share of its distinct word
    * trigrams whose global FIRST occurrence (minimum doc_id over every
    * document containing the gram) is this document — the
    * redundancy-growth metric behind "is the new crawl adding anything?"
    * decisions (a near-dup contributes ~0 novel grams; fresh content
    * scores high). Shape: one corpus scan explodes distinct
    * (doc_id, gram) pairs, ONE gram-keyed shuffle serves BOTH the
    * global-argmin aggregate and the join back (same key, same
    * partitioning — AQE reuses the exchange), then a doc-keyed agg
    * closes. Per-gram state is one min(long) — no collect_set, so no
    * hot-gram blowup (t9's lesson); boilerplate grams occurring in
    * millions of docs still carry 8 bytes of aggregate state.
    */
  val t23Novelty: Plan = (s, d) => {
    // md5-62 LONG lanes via the fused array expression (d3's kernel):
    // per-doc distinct happens INSIDE the expression, so there is no
    // cross-row distinct() shuffle at all, and the gram exchange carries
    // 8-byte longs instead of 32-char hex strings.
    val grams = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 3).as("ngrams"))
      .select(col("doc_id"),
        explode(graft.expressions.PortableHashExpressions
          .md5HashArray62(col("ngrams"), distinctSorted = true)).as("g"))
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        sround(col("n_novel") / col("n_grams"), 4).as("novelty"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: identical tokenization (t9's spelling at n=3), distinct
    * pairs, min-doc argmin, and share arithmetic.
    */
  val t23NoveltySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 1),
      |        i -> array_to_string(t[i:i+2], ' ')),
      |      gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |      AS g
      |  FROM toks WHERE len(t) >= 3),
      |first AS (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
      |SELECT gr.doc_id, count(*) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  floor(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |    / count(*) * 10000.0 + 0.5) / 10000.0 AS novelty
      |FROM grams gr JOIN first f USING (g)
      |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin

  // ------------------------------------------------ t24_code_switch
  /** Code-switch / mixed-language detection: language-ID the HEAD and
    * TAIL halves of each document independently and flag disagreement —
    * the curation signal that catches concatenation artifacts and
    * mid-document language flips that a whole-document classifier
    * averages away (a 50/50 en/de doc scores confidently "en" overall
    * and then poisons a monolingual training mix). Two fused LangScores
    * kernel evaluations per row over substring views — narrow, zero
    * shuffles before the final sort; the split point is the character
    * midpoint, deterministic in both engines.
    */
  val t24CodeSwitch: Plan = (s, d) => codeSwitch(docs(s, d))

  /** t24 over an arbitrary documents frame — the spec plants a
    * half-English half-German document (the synthetic corpus is
    * monolingual by construction).
    */
  def codeSwitch(docsDf: DataFrame): DataFrame = {
    val h1 = expr("substring(text, 1, length(text) DIV 2)")
    val h2 = expr("substring(text, length(text) DIV 2 + 1, length(text))")
    docsDf
      .select(col("doc_id"), col("lang"),
        langScoresCol(h1).as("sc1"), langScoresCol(h2).as("sc2"))
      .select(col("doc_id"), col("lang"),
        predExprFrom(col("sc1")).as("pred_head"),
        predExprFrom(col("sc2")).as("pred_tail"))
      .withColumn("is_switched", col("pred_head") =!= col("pred_tail"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: identical midpoint split, per-half stopword counts,
    * and first-max-wins pick.
    */
  val t24CodeSwitchSql: String = {
    val pick =
      """CASE WHEN c_en = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'en'
        |         WHEN c_de = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'de'
        |         WHEN c_fr = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'fr'
        |         WHEN c_es = greatest(c_en,c_de,c_fr,c_es,c_zh) THEN 'es'
        |         ELSE 'zh' END""".stripMargin
    s"""WITH h AS (
       |  SELECT doc_id, lang,
       |    substr(text, 1, length(text) // 2) AS head_text,
       |    substr(text, length(text) // 2 + 1, length(text)) AS tail_text
       |  FROM documents),
       |f1 AS (
       |  SELECT doc_id, lang,
       |    ${langScoreSqlFor("head_text")}
       |  FROM h),
       |p1 AS (
       |  SELECT doc_id, lang, $pick AS pred_head
       |  FROM f1),
       |f2 AS (
       |  SELECT doc_id,
       |    ${langScoreSqlFor("tail_text")}
       |  FROM h),
       |p2 AS (
       |  SELECT doc_id, $pick AS pred_tail
       |  FROM f2)
       |SELECT p1.doc_id, p1.lang, pred_head, pred_tail,
       |  pred_head != pred_tail AS is_switched
       |FROM p1 JOIN p2 USING (doc_id) ORDER BY p1.doc_id""".stripMargin
  }

  // ------------------------------------------------------------ t26_bm25
  /** BM25 retrieval — the corpus-search primitive behind contamination
    * audits and targeted data selection ("pull every document about X").
    * A fixed 4-term query is scored with Okapi BM25 (k1=1.2, b=0.75,
    * log2 idf) and the global top-20 returned.
    *
    * Distributed shape — the INVERTED-INDEX discipline without building
    * one: because the query terms are known, per-term tf and doc length
    * come out of ONE narrow corpus scan (`size(filter(tokens, = q))` per
    * term — codegen'd, no explode, no postings shuffle). Corpus stats
    * (N, Σdl, per-term df) are a single 1-row aggregate broadcast back;
    * scoring is a projection; the only wide stage is TakeOrdered(20).
    * At 100 TB: scan + 1-row agg + scan + top-k — embarrassingly
    * parallel, zero joins on corpus-sized keys. (Contrast t10's explode:
    * fine for *all*-terms analytics, wasteful for a 4-term query.)
    *
    * Float discipline: idf uses log2 on an exact rational (t17's proven
    * libm-parity path); the 4 per-term contributions are summed as a
    * fixed left-associated chain in alphabetical term order, so the
    * doubles match the oracle bit for bit. tf=0 contributes an exact
    * 0.0 (zero numerator) — no CASE needed.
    */
  private val bm25Terms = Seq("hash", "merge", "spark", "window")

  val t26Bm25: Plan = (s, d) => {
    val base = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .select(
        col("doc_id") +: size(col("t")).cast("long").as("dl") +:
          bm25Terms.map(q =>
            size(filter(col("t"), x => x === lit(q))).cast("long").as(s"tf_$q")): _*)
      .materialize() // feeds the stats agg AND the scoring pass
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("sum_dl") +:
      bm25Terms.map(q => sum((col(s"tf_$q") > 0).cast("long")).as(s"df_$q"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    def contrib(q: String): Column = {
      val idf = log2(lit(1.0) +
        (col("n_docs") - col(s"df_$q") + lit(0.5)) / (col(s"df_$q") + lit(0.5)))
      // literals spelled exactly as in the oracle SQL (2.2, 1.2, 0.25,
      // 0.75) so both engines parse the identical nearest-double
      idf * ((col(s"tf_$q") * lit(2.2)) /
        (col(s"tf_$q") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))))
    }
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        bm25Terms.map(q => (col(s"tf_$q") > 0).cast("int"))
          .reduce(_ + _).as("n_hit"),
        sround(bm25Terms.map(contrib).reduce(_ + _), 4).as("score"))
      .filter(col("n_hit") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  val t26Bm25Sql: String = {
    val tfs = bm25Terms.map(q =>
      s"CAST(len(list_filter(t, x -> x = '$q')) AS BIGINT) AS tf_$q").mkString(",\n    ")
    val dfs = bm25Terms.map(q =>
      s"sum(CASE WHEN tf_$q > 0 THEN 1 ELSE 0 END) AS df_$q").mkString(", ")
    def contribSql(q: String): String =
      s"log2(1.0 + (n_docs - df_$q + 0.5) / (df_$q + 0.5)) * " +
        s"((tf_$q * 2.2) / (tf_$q + 1.2 * (0.25 + 0.75 * (dl / (CAST(sum_dl AS DOUBLE) / n_docs)))))"
    val score = bm25Terms.map(contribSql).mkString(" + ")
    val hits = bm25Terms.map(q => s"CAST(tf_$q > 0 AS INTEGER)").mkString(" + ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
       |    $tfs
       |  FROM (SELECT doc_id,
       |          list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |        FROM documents)),
       |stats AS (
       |  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, $dfs FROM base)
       |SELECT doc_id, $hits AS n_hit,
       |  floor(($score) * 10000.0 + 0.5) / 10000.0 AS score
       |FROM base CROSS JOIN stats
       |WHERE $hits > 0
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // -------------------------------------------------------- t31_sft_mask
  /** SFT (post-training) data prep: chat-turn structuring + loss-mask
    * accounting — the packing arithmetic every instruction-tuning
    * pipeline runs before a token reaches the trainer. Documents become
    * synthetic dialogues (sentence spans on '. ' alternate user/assistant
    * starting with user; empty spans dropped on BOTH engines before
    * positions are assigned); each turn renders under a fixed template
    * costing 2 framing tokens (role + end markers) plus its whitespace
    * words, and the LOSS MASK covers only assistant content + its end
    * marker (the user/template tokens train nothing). Per doc: turn
    * count, total templated tokens, loss tokens, and the loss share —
    * the number that says how much of an SFT batch actually teaches.
    *
    * Scale shape: one narrow generator (posexplode of the turn spans)
    * and one doc-keyed agg — no corpus-wide state, no joins; at 100 TB
    * it scales with input splits like t1. Integer token counts make the
    * share division bitwise-portable (sround 4).
    */
  val t31SftMask: Plan = (s, d) => {
    val turns = docs(s, d).select(col("doc_id"),
      filter(transform(split(col("text"), "\\. "), t => trim(t)),
        t => t =!= "").as("turns"))
    val t = turns.select(col("doc_id"),
      posexplode(col("turns")).as(Seq("pos", "turn")))
    val counted = t.select(col("doc_id"), col("pos"),
      size(filter(split(col("turn"), "\\s+"), x => x =!= ""))
        .cast("long").as("n_words"))
    counted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("n_words") + lit(2L)).as("n_tokens"),
        sum(when(col("pos") % 2 === 1, col("n_words") + lit(1L))
          .otherwise(lit(0L))).as("n_loss_tokens"))
      .select(col("doc_id"), col("n_turns"), col("n_tokens"),
        col("n_loss_tokens"),
        sround(col("n_loss_tokens") / col("n_tokens").cast("double"), 4)
          .as("loss_share"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: zipped unnest(turns)/unnest(range) assigns the same
    * 0-based positions to the same filtered spans.
    */
  val t31SftMaskSql: String =
    """WITH tt AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_split_to_array(text, '\. '),
      |      x -> trim(x)), x -> x != '') AS turns
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(range(0, len(turns))) AS pos,
      |    unnest(turns) AS turn
      |  FROM tt),
      |c AS (
      |  SELECT doc_id, pos,
      |    CAST(len(list_filter(regexp_split_to_array(turn, '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_words
      |  FROM t)
      |SELECT doc_id, count(*) AS n_turns,
      |  CAST(sum(n_words + 2) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN pos % 2 = 1 THEN n_words + 1 ELSE 0 END)
      |    AS BIGINT) AS n_loss_tokens,
      |  floor(sum(CASE WHEN pos % 2 = 1 THEN n_words + 1 ELSE 0 END)
      |    / CAST(sum(n_words + 2) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |    AS loss_share
      |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- t32_preference_pairs
  /** Preference-pair (RLHF/DPO) data assembly — the post-training step
    * after t31's SFT accounting: build (prompt, chosen, rejected)
    * records and audit them BEFORE a gradient sees them. Deterministic
    * synthetic assembly over train-split docs (doc_id % 20 != 0, t9's
    * convention): a doc's first 8 words are the PROMPT, the remainder its
    * CHOSEN response (docs under 9 words can't form a pair and drop);
    * the REJECTED response is the NEXT doc's response within the same
    * (source, 4096-id block) — a standard hard-negative pairing. Per
    * pair, the audits every preference pipeline runs:
    *   degenerate   — chosen and rejected responses are EXACT dups under
    *                  d1's canonical fingerprint (md5 of normalized
    *                  text): a pair that teaches nothing and destabilizes
    *                  a DPO margin;
    *   contaminated — either side shares a word-8gram with the EVAL split
    *                  (t9's semi-join kernel): a pair that leaks eval;
    * plus token/loss accounting through t31's template (each turn costs
    * its words + 2 framing tokens; loss covers assistant words + the end
    * marker) for both branches — what a trainer weighs batches by.
    *
    * Scale shape: pairing is a lead() window over (source, id-block)
    * with block size 4096, so no window partition exceeds 4096 rows no
    * matter how big the corpus — the last doc of each block goes unpaired
    * by design (1/4096 loss) instead of serializing a whole source
    * through one reducer. Contamination is the t9 shape: distinct
    * eval-gram semi-join, O(1) state per key.
    */
  def preferencePairs(docsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spanned = docsDf
      .filter(col("doc_id") % 20 =!= 0)
      .select(col("doc_id"), col("source"), lowerTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 9)
      .select(col("doc_id"), col("source"),
        lit(8L).as("p_words"),
        (size(col("toks")) - 8).cast("long").as("r_words"),
        md5(concat_ws(" ", slice(col("toks"), lit(9), size(col("toks")) - 8)))
          .as("fp"))
    val w = Window
      .partitionBy(col("source"), floor(col("doc_id") / 4096L))
      .orderBy(col("doc_id"))
    val paired = spanned.select(col("doc_id").as("pair_id"), col("p_words"),
        col("r_words"), col("fp"),
        lead(col("doc_id"), 1).over(w).as("rejected_id"),
        lead(col("r_words"), 1).over(w).as("rej_words"),
        lead(col("fp"), 1).over(w).as("rej_fp"))
      .filter(col("rejected_id").isNotNull)
    // t9's contamination kernel: docs carrying any eval-split 8-gram
    val gd = docsDf
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 8).as("ngrams"))
      .select(col("doc_id"),
        explode(graft.expressions.PortableHashExpressions
          .md5HashArray62(col("ngrams"), distinctSorted = true)).as("g"))
    val evalGrams = gd.filter(col("doc_id") % 20 === 0).select(col("g")).distinct()
    val contaminated = gd.filter(col("doc_id") % 20 =!= 0)
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("dirty", lit(true))
    paired
      .join(contaminated.select(col("doc_id").as("pair_id"),
        col("dirty").as("c_dirty")), Seq("pair_id"), "left")
      .join(contaminated.select(col("doc_id").as("rejected_id"),
        col("dirty").as("r_dirty")), Seq("rejected_id"), "left")
      .select(col("pair_id"), col("rejected_id"),
        (col("p_words") + col("r_words") + lit(4L)).as("n_tokens_chosen"),
        (col("p_words") + col("rej_words") + lit(4L)).as("n_tokens_rejected"),
        (col("r_words") + lit(1L)).as("n_loss_chosen"),
        (col("rej_words") + lit(1L)).as("n_loss_rejected"),
        (col("fp") === col("rej_fp")).as("degenerate"),
        (coalesce(col("c_dirty"), lit(false)) ||
          coalesce(col("r_dirty"), lit(false))).as("contaminated"))
      .orderBy("pair_id")
  }

  val t32PreferencePairs: Plan = (s, d) => preferencePairs(docs(s, d))

  /** DuckDB twin: identical spans/lead pairing (1-based list slicing),
    * d1's fingerprint spelling, t9's gram kernel. The CTE chain is shared
    * with p8's oracle (CorpusPipeline), which packs the same audited pair
    * relation into DPO batches — one spelling, two consumers, so the pair
    * semantics can't drift between engine twin and pipeline twin.
    */
  private[graft] val t32PairsCtes: String =
    """tt AS (
      |  SELECT doc_id, source,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> x != '') AS t
      |  FROM documents WHERE doc_id % 20 != 0),
      |rw AS (
      |  SELECT doc_id, source, CAST(8 AS BIGINT) AS p_words,
      |    CAST(len(t) - 8 AS BIGINT) AS r_words,
      |    md5(array_to_string(t[9:], ' ')) AS fp
      |  FROM tt WHERE len(t) >= 9),
      |pr AS (
      |  SELECT doc_id AS pair_id, p_words, r_words, fp,
      |    lead(doc_id) OVER w AS rejected_id,
      |    lead(r_words) OVER w AS rej_words,
      |    lead(fp) OVER w AS rej_fp
      |  FROM rw
      |  WINDOW w AS (PARTITION BY source, floor(doc_id / 4096) ORDER BY doc_id)),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 6),
      |        i -> array_to_string(t[i:i+7], ' ')),
      |      gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |      AS g
      |  FROM toks WHERE len(t) >= 8),
      |eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
      |cont AS (
      |  SELECT DISTINCT doc_id FROM grams
      |  WHERE doc_id % 20 != 0 AND g IN (SELECT g FROM eval_g)),
      |pairs AS (
      |  SELECT pair_id, rejected_id,
      |    p_words + r_words + 4 AS n_tokens_chosen,
      |    p_words + rej_words + 4 AS n_tokens_rejected,
      |    r_words + 1 AS n_loss_chosen,
      |    rej_words + 1 AS n_loss_rejected,
      |    (fp = rej_fp) AS degenerate,
      |    (pair_id IN (SELECT doc_id FROM cont)
      |      OR rejected_id IN (SELECT doc_id FROM cont)) AS contaminated
      |  FROM pr WHERE rejected_id IS NOT NULL)""".stripMargin

  val t32PreferencePairsSql: String =
    s"WITH $t32PairsCtes\nSELECT * FROM pairs ORDER BY pair_id"

  // ---------------------------------------------- t33_rejection_sampling
  /** Best-of-N rejection sampling audit — the third post-training prep
    * step (t31 SFT accounting, t32 preference pairs): given N candidate
    * generations per prompt, keep the highest-reward eligible candidate
    * and log what a sampling run must log — how many candidates survived
    * the reward gate, which one won, and by what MARGIN (best − second
    * reward; a near-zero margin means the reward model couldn't separate
    * the pool, the signal BoN pipelines alarm on).
    *
    * Deterministic synthetic pool: doc_id blocks of 8 are a prompt's
    * candidate set; the reward is t2's quality blend (the engine's
    * canonical cheap scorer — reusing it keeps one reward definition
    * across t2/d6/t33). Eligibility = n_tok >= 5 AND reward >= 0.5
    * (the corpus median). Ties break on doc_id, so the winner is
    * deterministic on both engines.
    *
    * Scale shape: the rank window partitions on prompt_id — N rows per
    * partition regardless of corpus size — and both aggregations are
    * hash-partitioned on prompt_id; nothing serializes. At 100 TB this
    * is one shuffle of (prompt_id, score) pairs wide.
    */
  val BonThreshold = 0.5
  val BonMinTokens = 5L
  def rejectionSampling(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = counts.select(
      floor(col("doc_id") / 8).as("prompt_id"), col("doc_id"), col("n_tok"),
      sround(qualityBlend, 6).as("score"))
    val w = Window.partitionBy(col("prompt_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val elig = scored
      .filter(col("n_tok") >= BonMinTokens && col("score") >= BonThreshold)
      .withColumn("rk", row_number().over(w))
    val perPrompt = elig.groupBy("prompt_id").agg(
      count(lit(1)).as("n_eligible"),
      max(when(col("rk") === 1, col("doc_id"))).as("kept_doc_id"),
      max(when(col("rk") === 1, col("n_tok"))).as("kept_tokens"),
      max(when(col("rk") === 1, col("score"))).as("best_score"),
      max(when(col("rk") === 2, col("score"))).as("second_score"))
    scored.groupBy("prompt_id").agg(count(lit(1)).as("n_cand"))
      .join(perPrompt, Seq("prompt_id"), "left")
      .select(col("prompt_id"), col("n_cand"),
        coalesce(col("n_eligible"), lit(0L)).as("n_eligible"),
        col("kept_doc_id"), col("kept_tokens"), col("best_score"),
        sround(col("best_score") - col("second_score"), 6).as("margin"))
      .orderBy("prompt_id")
  }

  val t33RejectionSampling: Plan = (s, d) => rejectionSampling(qualityCounts(s, d))

  /** DuckDB twin: t2's blend spelling, identical rank/agg shape. */
  val t33RejectionSamplingSql: String =
    s"""WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents),
      |scored AS (
      |  SELECT CAST(floor(doc_id / 8) AS BIGINT) AS prompt_id, doc_id, n_tok,
      |    floor((least(n_tok / 100.0, 1.0) * 0.5 + (stop / nullif(n_tok, 0)) * 0.3
      |           + (1.0 - digit / nullif(len_c, 0)) * 0.2) * 1000000.0 + 0.5) / 1000000.0 AS score
      |  FROM f),
      |elig AS (
      |  SELECT *, row_number() OVER (PARTITION BY prompt_id
      |      ORDER BY score DESC, doc_id) AS rk
      |  FROM scored WHERE n_tok >= ${BonMinTokens} AND score >= ${BonThreshold}),
      |pp AS (
      |  SELECT prompt_id, count(*) AS n_eligible,
      |    max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
      |    max(CASE WHEN rk = 1 THEN n_tok END) AS kept_tokens,
      |    max(CASE WHEN rk = 1 THEN score END) AS best_score,
      |    max(CASE WHEN rk = 2 THEN score END) AS second_score
      |  FROM elig GROUP BY prompt_id)
      |SELECT s.prompt_id, count(*) AS n_cand,
      |  coalesce(any_value(pp.n_eligible), 0) AS n_eligible,
      |  any_value(pp.kept_doc_id) AS kept_doc_id,
      |  any_value(pp.kept_tokens) AS kept_tokens,
      |  any_value(pp.best_score) AS best_score,
      |  floor((any_value(pp.best_score) - any_value(pp.second_score)) * 1000000.0 + 0.5) / 1000000.0 AS margin
      |FROM scored s LEFT JOIN pp ON s.prompt_id = pp.prompt_id
      |GROUP BY s.prompt_id ORDER BY s.prompt_id""".stripMargin

  // ------------------------------------------------- t34_span_decontam
  /** Span-level decontamination — t9 says WHICH train docs share an eval
    * 8-gram; at web scale dropping every such doc forfeits good text over
    * one quoted sentence. The surgical standard excises only the
    * contaminated WINDOWS: every token covered by a word-8gram that also
    * occurs anywhere in the eval split (doc_id % 20 == 0, t9's split) is
    * removed, overlapping windows merge into maximal spans, the doc keeps
    * the rest. Output per train doc: token count, contaminated-span
    * count, tokens removed, keep ratio — the account a curation run logs
    * before rewriting text.
    *
    * Scale shape: positional grams are t9's narrow per-doc projection
    * (posexplode instead of explode — order matters here, so no in-kernel
    * distinct), the eval-gram build side is a distinct semi-join input
    * exactly like t9's train side, and span merging (lag + running-sum
    * run ids, then a two-level agg) runs on the HIT set only — the
    * contaminated starts, a tiny fraction of corpus positions. The
    * per-doc window carries one row of lag state; nothing holds a
    * document's positions in memory at once.
    */
  val t34SpanDecontam: Plan = (s, d) => {
    import graft.expressions.PortableHashExpressions.md5HashArray62
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = docs(s, d)
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
    val train = toks.filter(col("doc_id") % 20 =!= 0)
    val posGrams = train
      .select(col("doc_id"),
        posexplode(md5HashArray62(wordNgrams(col("t"), 8),
          distinctSorted = false)))
      .toDF("doc_id", "pos", "g")
    val evalGrams = toks.filter(col("doc_id") % 20 === 0)
      .select(explode(md5HashArray62(wordNgrams(col("t"), 8),
        distinctSorted = true)).as("g"))
      .distinct()
    val hits = posGrams.join(evalGrams, Seq("g"), "left_semi")
    val runs = hits
      .withColumn("new_run",
        when(lag(col("pos"), 1).over(w).isNull
          .or(col("pos") > lag(col("pos"), 1).over(w) + 7), 1).otherwise(0))
      .withColumn("run_id", sum(col("new_run")).over(w))
    val runAgg = runs.groupBy(col("doc_id"), col("run_id"))
      .agg((max(col("pos")) + 8 - min(col("pos"))).as("rm"))
    val docAgg = runAgg.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bad_spans"),
        sum(col("rm")).cast("long").as("n_toks_removed"))
    train.select(col("doc_id"), size(col("t")).cast("long").as("n_toks"))
      .join(docAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_bad_spans"), lit(0L)).as("n_bad_spans"),
        coalesce(col("n_toks_removed"), lit(0L)).as("n_toks_removed"),
        when(col("n_toks") === 0, lit(1.0)).otherwise(
          sround((col("n_toks") - coalesce(col("n_toks_removed"), lit(0L)))
            / col("n_toks"), 4)).as("keep_ratio"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: t9's tokenization and md5-62 gram hashes with 0-based
    * positions kept, the same lag/running-sum interval merge.
    */
  val t34SpanDecontamSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |pg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
      |    i -> {'p': i - 1,
      |          'g': CAST(md5_number_lower(array_to_string(t[i:i+7], ' '))
      |               & 4611686018427387903 AS BIGINT)})) AS u
      |  FROM toks WHERE doc_id % 20 != 0 AND len(t) >= 8),
      |ev AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(t) - 6),
      |    i -> CAST(md5_number_lower(array_to_string(t[i:i+7], ' '))
      |         & 4611686018427387903 AS BIGINT))) AS g
      |  FROM toks WHERE doc_id % 20 = 0 AND len(t) >= 8),
      |hits AS (
      |  SELECT doc_id, u.p AS pos FROM pg WHERE u.g IN (SELECT g FROM ev)),
      |marks AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 7
      |      THEN 1 ELSE 0 END AS new_run
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |runs AS (
      |  SELECT doc_id, pos, sum(new_run)
      |    OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
      |  FROM marks),
      |ra AS (SELECT doc_id, run_id, max(pos) + 8 - min(pos) AS rm
      |  FROM runs GROUP BY doc_id, run_id),
      |da AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bad_spans,
      |    CAST(sum(rm) AS BIGINT) AS n_toks_removed
      |  FROM ra GROUP BY doc_id)
      |SELECT k.doc_id, CAST(len(k.t) AS BIGINT) AS n_toks,
      |  coalesce(da.n_bad_spans, 0) AS n_bad_spans,
      |  coalesce(da.n_toks_removed, 0) AS n_toks_removed,
      |  CASE WHEN len(k.t) = 0 THEN 1.0 ELSE
      |    floor((len(k.t) - coalesce(da.n_toks_removed, 0)) / len(k.t)
      |          * 10000.0 + 0.5) / 10000.0 END AS keep_ratio
      |FROM toks k LEFT JOIN da ON k.doc_id = da.doc_id
      |WHERE k.doc_id % 20 != 0 ORDER BY k.doc_id""".stripMargin

  // ------------------------------------------------- t35_gopher_rules
  /** Consolidated Gopher/C4-style heuristic rule filter — the cheap
    * rule battery every web corpus passes through before any model-based
    * scoring (Rae et al. 2021 §A1.1; the C4 line rules): per doc, the
    * word/line shape statistics and one boolean per rule, plus the
    * conjunction `keep`. Rules (integer cross-multiplied — no float
    * predicates): mean word length in [3, 10]; symbol-to-word ratio
    * ('#' chars + '...' runs) < 0.1; bullet-point lines < 90%;
    * ellipsis-terminated lines < 30%; duplicate (trimmed) lines < 30%;
    * ≥ 2 stopword hits (t2's list). Zero-word docs fail `wl_ok` rather
    * than divide.
    *
    * `mean_word_len` (the one float this battery exposes) is rounded to
    * 4 decimals in EXACT integer arithmetic — round-half-up of p/q is
    * `(20000p + q) div (2q)` — followed by a single IEEE division by
    * 10000.0. The usual `floor(x*1e4 + 0.5)` float chain is three
    * separately-rounded ops whose last-ulp behavior can differ across
    * engines/builds (FMA contraction, evaluation order) exactly at the
    * .5 boundary this data hits (power-of-two word counts land there);
    * the integer form is bitwise-deterministic everywhere. The explicit
    * CAST(... AS DOUBLE) before the division matters: Spark parses the
    * bare literal `10000.0` as DECIMAL(5,1), and BIGINT/DECIMAL yields
    * DECIMAL(28,7) — same values, different parquet type than the
    * oracle's DOUBLE, which breaks any type-sensitive result hash.
    *
    * Scale shape: one narrow codegen projection per doc — no shuffle at
    * all except the oracle ORDER BY; at 100 TB this scales with input
    * splits like t1/t29.
    */
  val t35GopherRules: Plan = (s, d) =>
    docs(s, d)
      .selectExpr("doc_id", "text",
        "filter(split(lower(text), '\\\\s+'), w -> w != '') AS words",
        "filter(transform(split(text, '\\n'), l -> trim(l)), l -> l != '') AS lines")
      .selectExpr("doc_id",
        "CAST(size(words) AS BIGINT) AS n_words",
        "CAST(size(lines) AS BIGINT) AS n_lines",
        "aggregate(words, 0L, (a, w) -> a + length(w)) AS word_chars",
        """CAST(length(text) - length(replace(text, '#', ''))
           + (length(text) - length(replace(text, '...', ''))) DIV 3
           AS BIGINT) AS n_symbols""",
        "CAST(size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS n_bullet",
        "CAST(size(filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis",
        "CAST(size(lines) - size(array_distinct(lines)) AS BIGINT) AS n_dup_lines",
        s"""CAST(size(filter(words, w -> w IN (${stopWords.map(w => s"'$w'").mkString(", ")})))
           AS BIGINT) AS n_stop""")
      .selectExpr("doc_id", "n_words", "n_lines",
        """CASE WHEN n_words = 0 THEN NULL ELSE
           CAST((20000L * word_chars + n_words) DIV (2L * n_words) AS DOUBLE)
           / 10000.0 END AS mean_word_len""",
        "n_words > 0 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words AS wl_ok",
        "10 * n_symbols < n_words AS sym_ok",
        "10 * n_bullet < 9 * n_lines AS bullet_ok",
        "10 * n_ellipsis < 3 * n_lines AS ellipsis_ok",
        "10 * n_dup_lines < 3 * n_lines AS dup_ok",
        "n_stop >= 2 AS stop_ok")
      .selectExpr("doc_id", "n_words", "n_lines", "mean_word_len",
        "wl_ok", "sym_ok", "bullet_ok", "ellipsis_ok", "dup_ok", "stop_ok",
        "wl_ok AND sym_ok AND bullet_ok AND ellipsis_ok AND dup_ok AND stop_ok AS keep")
      .orderBy("doc_id")

  /** DuckDB twin: identical splits, list arithmetic and integer
    * cross-multiplied rules.
    */
  val t35GopherRulesSql: String =
    s"""WITH f AS (
      |  SELECT doc_id, text,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS words,
      |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |      l -> l != '') AS lines
      |  FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS BIGINT) AS n_words,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
      |      AS BIGINT) AS word_chars,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      + (length(text) - length(replace(text, '...', ''))) // 3
      |      AS BIGINT) AS n_symbols,
      |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))
      |      AS BIGINT) AS n_bullet,
      |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis,
      |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
      |    CAST(len(list_filter(words,
      |      w -> w IN (${stopWords.map(w => s"'$w'").mkString(", ")})))
      |      AS BIGINT) AS n_stop
      |  FROM f)
      |SELECT doc_id, n_words, n_lines,
      |  CASE WHEN n_words = 0 THEN NULL ELSE
      |    ((20000 * word_chars + n_words) // (2 * n_words))
      |    / 10000.0 END AS mean_word_len,
      |  n_words > 0 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words AS wl_ok,
      |  10 * n_symbols < n_words AS sym_ok,
      |  10 * n_bullet < 9 * n_lines AS bullet_ok,
      |  10 * n_ellipsis < 3 * n_lines AS ellipsis_ok,
      |  10 * n_dup_lines < 3 * n_lines AS dup_ok,
      |  n_stop >= 2 AS stop_ok,
      |  n_words > 0 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
      |    AND 10 * n_symbols < n_words AND 10 * n_bullet < 9 * n_lines
      |    AND 10 * n_ellipsis < 3 * n_lines AND 10 * n_dup_lines < 3 * n_lines
      |    AND n_stop >= 2 AS keep
      |FROM g ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- t36_moore_lewis
  /** Cross-entropy difference selection (Moore & Lewis 2010, "Intelligent
    * selection of language model training data"): every document is
    * ranked by H_in(x) − H_gen(x), its per-bigram cross-entropy under an
    * IN-DOMAIN LM minus under the general-corpus LM. Documents the
    * in-domain model finds easier than the general model (negative
    * score) are the ones worth keeping when adapting a web corpus toward
    * a trusted seed domain — the classic pre-DSIR domain-selection
    * recipe (t19 is its hashed importance-weighting descendant). The
    * seed here is `source = 'src0'`; both models are t17's add-one
    * bigram estimator, so the whole operator is t17 run against two
    * models at once.
    *
    * Distributed shape — why two models cost one: the seed is a SUBSET
    * of the corpus, so both models fall out of t17's two gram-keyed hash
    * aggs with a second CONDITIONAL counter (count of seed occurrences)
    * — no second scan, no second shuffle. The scoring join ships each
    * bigram occurrence to its model row once and carries both -log2
    * terms back; per-doc sums are two sorted folds (bitwise-stable
    * doubles). Bigrams unseen in the seed hit add-one's floor
    * (1/(cc_t + V_in)) through the SAME inner-join row — corpus counts
    * are never zero by construction, so no outer join appears.
    *
    * Selection: Moore-Lewis keeps the best FRACTION by score (the
    * absolute zero point shifts with the two vocabularies' add-one
    * floors, so a fixed threshold is meaningless) — here the bottom
    * quartile via t27's score-level distribution-table cut: scores are
    * sround-4 discrete, the corpus collapses to a (score4, count)
    * table, and the cut runs on that bounded table (≤ distinct scores
    * rows at any corpus size), never a corpus-wide sort. A score4 group
    * straddling the boundary is kept whole, so every kept score is
    * strictly below every dropped one and |kept| ≥ ceil(N/4). Assumes a
    * non-empty seed (zero 2-token seed docs would make V_in = 0).
    */
  val t36MooreLewis: Plan = (s, d) => {
    val toks = docs(s, d)
      .select(col("doc_id"), (col("source") === "src0").as("tgt"),
        lowerTokens(col("text")).as("t"))
      .materialize()
    val big = toks
      .select(col("doc_id"), col("tgt"),
        posexplode(col("t")).as(Seq("i", "w1")), col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("doc_id"), col("tgt"), col("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))
      // feeds bigram counts, context counts, and the scoring join
      .materialize()
    val bc = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_g"), count(when(col("tgt"), lit(1))).as("c_t"))
    val ctx = big.groupBy(col("w1"))
      .agg(count(lit(1)).as("cc_g"), count(when(col("tgt"), lit(1))).as("cc_t"))
    val vocab = toks.select(col("tgt"), explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v_g"),
        countDistinct(when(col("tgt"), col("w"))).as("v_t"))
    val scored = big.join(bc, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (-log2((col("c_t") + 1) / (col("cc_t") + col("v_t")).cast("double"))).as("term_t"),
        (-log2((col("c_g") + 1) / (col("cc_g") + col("v_g")).cast("double"))).as("term_g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(col("term_t"))),
          lit(0.0), (acc, x) => acc + x).as("ht"),
        aggregate(array_sort(collect_list(col("term_g"))),
          lit(0.0), (acc, x) => acc + x).as("hg"))
      .select(col("doc_id"), col("n_bigrams"),
        sround(col("ht") / col("n_bigrams"), 4).as("ce_in"),
        sround(col("hg") / col("n_bigrams"), 4).as("ce_gen"))
      .withColumn("s4",
        floor((col("ce_in") - col("ce_gen")) * 10000.0 + lit(0.5)).cast("long"))
      .materialize() // feeds the score distribution AND the final join-back
    val dist = scored.groupBy(col("s4")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("s4"))
    // single-partition window, but over the bounded (score4, count)
    // distribution table — t27's discipline, never the corpus
    val marked = dist
      .withColumn("cum", coalesce(
        sum(col("c")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_all", sum(col("c")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("s4"),
        (col("cum") < floor((col("n_all") + lit(3)) / lit(4.0)).cast("long"))
          .as("keep"))
    scored.join(broadcast(marked), Seq("s4"))
      .select(col("doc_id"), col("n_bigrams"), col("ce_in"), col("ce_gen"),
        (col("s4") / 10000.0).as("score"), col("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: t17's CTE chain with the conditional seed counters;
    * score arithmetic on the ROUNDED components so the subtraction sees
    * identical doubles on both engines, then the identical score-level
    * quartile cut over the (score4, count) distribution.
    */
  val t36MooreLewisSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, source = 'src0' AS tgt,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, tgt, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, tgt, t, unnest(range(1, len(t))) AS i FROM toks
      |        WHERE len(t) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS c_g,
      |         count(CASE WHEN tgt THEN 1 END) AS c_t
      |       FROM big GROUP BY 1, 2),
      |ctx AS (SELECT w1, count(*) AS cc_g,
      |          count(CASE WHEN tgt THEN 1 END) AS cc_t
      |        FROM big GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v_g,
      |        count(DISTINCT CASE WHEN tgt THEN w END) AS v_t
      |      FROM (SELECT tgt, unnest(t) AS w FROM toks)),
      |terms AS (
      |  SELECT b.doc_id,
      |    -log2((bc.c_t + 1) / CAST(ctx.cc_t + v.v_t AS DOUBLE)) AS term_t,
      |    -log2((bc.c_g + 1) / CAST(ctx.cc_g + v.v_g AS DOUBLE)) AS term_g
      |  FROM big b JOIN bc USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    list_aggregate(list_sort(list(term_t)), 'sum') AS ht,
      |    list_aggregate(list_sort(list(term_g)), 'sum') AS hg
      |  FROM terms GROUP BY doc_id),
      |sc AS (
      |  SELECT doc_id, n_bigrams,
      |    floor(ht / n_bigrams * 10000.0 + 0.5) / 10000.0 AS ce_in,
      |    floor(hg / n_bigrams * 10000.0 + 0.5) / 10000.0 AS ce_gen
      |  FROM agg),
      |sc2 AS MATERIALIZED (
      |  SELECT doc_id, n_bigrams, ce_in, ce_gen,
      |    CAST(floor((ce_in - ce_gen) * 10000.0 + 0.5) AS BIGINT) AS s4
      |  FROM sc),
      |dist AS (SELECT s4, count(*) AS c FROM sc2 GROUP BY 1),
      |marked AS (
      |  SELECT s4,
      |    coalesce(sum(c) OVER (ORDER BY s4
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
      |    sum(c) OVER () AS n_all
      |  FROM dist)
      |SELECT doc_id, n_bigrams, ce_in, ce_gen, s4 / 10000.0 AS score,
      |  cum < CAST(floor((n_all + 3) / 4.0) AS BIGINT) AS keep
      |FROM sc2 JOIN marked USING (s4) ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- t37_zipf_audit
  /** Per-language Zipf / vocabulary-health audit: natural text follows a
    * rank-frequency power law with slope ≈ −1 in log-log space (Zipf
    * 1949); machine-generated spam, templated boilerplate, and broken
    * tokenization bend or flatten the curve. Per language this reports
    * the OLS slope and r² of log2(freq) against log2(rank) over the
    * top-1000 words, plus the top-1 token share (boilerplate indicator)
    * and hapax share (OCR-noise / tokenizer-breakage indicator) — the
    * corpus-health datasheet row next to t5's raw vocabulary and t22's
    * label audit.
    *
    * Distributed shape: ONE corpus-wide shuffle (the (lang, word) count
    * agg); everything after runs on the vocab-collapsed table — the
    * per-lang stats are a second hash agg over vocab rows, and the
    * top-1000 rank window also partitions over vocab rows, never the
    * corpus. The regression itself is arithmetic over ≤1000 rows per
    * language. Float discipline: the fold arrays are sorted by rank
    * (unique per lang), so every sum is order-pinned and the slope/r²
    * doubles replay bitwise (g12's never-pow rule: squares are spelled
    * as explicit products).
    */
  val t37ZipfAudit: Plan = (s, d) => {
    val wc = docs(s, d)
      .select(col("lang"), explode(lowerTokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      .materialize() // feeds per-lang stats AND the top-k ranking
    val stats = wc.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top1"),
        count(when(col("c") === 1, lit(1))).as("hapax"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("c").desc, col("w").asc)
    def fsum(f: Column => Column): Column =
      aggregate(transform(col("arr"), e => f(e)), lit(0.0), (a, x) => a + x)
    val fit = wc
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 1000)
      .select(col("lang"), struct(col("rnk"),
        log2(col("rnk").cast("double")).as("x"),
        log2(col("c").cast("double")).as("y")).as("e"))
      .groupBy(col("lang"))
      .agg(array_sort(collect_list(col("e"))).as("arr"))
      .select(col("lang"), size(col("arr")).cast("double").as("k"),
        fsum(_.getField("x")).as("sx"), fsum(_.getField("y")).as("sy"),
        fsum(e => e.getField("x") * e.getField("y")).as("sxy"),
        fsum(e => e.getField("x") * e.getField("x")).as("sxx"),
        fsum(e => e.getField("y") * e.getField("y")).as("syy"))
      .select(col("lang"), col("k"),
        (col("k") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("k") * col("sxx") - col("sx") * col("sx")).as("dxx"),
        (col("k") * col("syy") - col("sy") * col("sy")).as("dyy"))
      // Degenerate-fit guard: k=1 or zero-variance x/y (all top-ranked
      // words sharing one count) makes the OLS denominators 0 — emit
      // NULL rather than let 0/0 NaN/Inf flow into sround, where
      // engine NaN conventions diverge. Mirrored verbatim in the twin.
      .select(col("lang"), col("k").cast("long").as("k"),
        when(col("k") < 2.0 || col("dxx") === 0.0, lit(null))
          .otherwise(col("num") / col("dxx")).as("slope_raw"),
        when(col("k") < 2.0 || col("dxx") === 0.0 || col("dyy") === 0.0,
          lit(null))
          .otherwise(col("num") * col("num") / (col("dxx") * col("dyy")))
          .as("r2_raw"))
    stats.join(fit, Seq("lang"))
      .select(col("lang"), col("n_tokens"), col("n_distinct"), col("k"),
        sround(col("slope_raw"), 4).as("zipf_slope"),
        sround(col("r2_raw"), 4).as("zipf_r2"),
        sround(col("top1") / col("n_tokens").cast("double"), 6).as("top1_share"),
        sround(col("hapax") / col("n_distinct").cast("double"), 6).as("hapax_share"))
      .orderBy("lang")
  }

  /** DuckDB twin: same vocab agg; the fold lists are built with
    * `list(expr ORDER BY rnk)` so the per-component sums run in the
    * identical rank order as Spark's array_sort-by-rank fold.
    */
  val t37ZipfAuditSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |wc AS MATERIALIZED (
      |  SELECT lang, w, count(*) AS c
      |  FROM (SELECT lang, unnest(t) AS w FROM toks) GROUP BY 1, 2),
      |stats AS (
      |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
      |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top1,
      |    count(CASE WHEN c = 1 THEN 1 END) AS hapax
      |  FROM wc GROUP BY 1),
      |rk AS (
      |  SELECT lang, c, CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY c DESC, w ASC) AS BIGINT) AS rnk
      |  FROM wc),
      |sums AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS k,
      |    list_aggregate(list(log2(CAST(rnk AS DOUBLE)) ORDER BY rnk), 'sum') AS sx,
      |    list_aggregate(list(log2(CAST(c AS DOUBLE)) ORDER BY rnk), 'sum') AS sy,
      |    list_aggregate(list(log2(CAST(rnk AS DOUBLE)) * log2(CAST(c AS DOUBLE))
      |      ORDER BY rnk), 'sum') AS sxy,
      |    list_aggregate(list(log2(CAST(rnk AS DOUBLE)) * log2(CAST(rnk AS DOUBLE))
      |      ORDER BY rnk), 'sum') AS sxx,
      |    list_aggregate(list(log2(CAST(c AS DOUBLE)) * log2(CAST(c AS DOUBLE))
      |      ORDER BY rnk), 'sum') AS syy
      |  FROM rk WHERE rnk <= 1000 GROUP BY lang),
      |fit AS (
      |  SELECT lang, k,
      |    CASE WHEN k < 2 OR (k * sxx - sx * sx) = 0.0 THEN NULL ELSE
      |      (k * sxy - sx * sy) / (k * sxx - sx * sx) END AS slope_raw,
      |    CASE WHEN k < 2 OR (k * sxx - sx * sx) = 0.0
      |        OR (k * syy - sy * sy) = 0.0 THEN NULL ELSE
      |      ((k * sxy - sx * sy) * (k * sxy - sx * sy))
      |        / ((k * sxx - sx * sx) * (k * syy - sy * sy)) END AS r2_raw
      |  FROM sums)
      |SELECT s.lang, s.n_tokens, s.n_distinct, f.k,
      |  floor(f.slope_raw * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
      |  floor(f.r2_raw * 10000.0 + 0.5) / 10000.0 AS zipf_r2,
      |  floor(s.top1 / CAST(s.n_tokens AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS top1_share,
      |  floor(s.hapax / CAST(s.n_distinct AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS hapax_share
      |FROM stats s JOIN fit f USING (lang) ORDER BY lang""".stripMargin

  // ---------------------------------------------- t38_dup_ngram_chars
  /** Gopher's duplicated-n-gram coverage rule (Rae et al. 2021 §A1.1):
    * the fraction of a document covered by word-5grams that occur MORE
    * THAN ONCE within the same document — the self-repetition signal
    * t13's top-bigram share and t35's duplicate-line rule both miss
    * (loops and boilerplate repeated mid-paragraph, not line-aligned).
    * Coverage is a positional interval union (overlapping repeats are
    * not double-counted), and keep applies Gopher's 0.15 bound via an
    * integer cross-multiplication.
    *
    * Distributed shape: ZERO shuffles — everything is per-document
    * array arithmetic in one narrow projection (duplicate positions from
    * sorted-neighbor equality on a (gram, pos) struct sort, O(k log k)
    * per doc; coverage from the sorted start positions, where
    * consecutive starts closer than n overlap by construction), so at
    * 100 TB it scales with input splits like t1/t29/t35. Docs under 5
    * tokens have no grams and score 0.
    *
    * Expression-shape rule learned here the hard way: NEVER reference a
    * derived array column inside another higher-order function's LAMBDA
    * (e.g. `array_contains(dups, element_at(grams, i))`) — projection
    * collapse inlines the producing expression into the lambda body and
    * it re-evaluates PER ELEMENT (the first formulation re-sorted the
    * gram array once per position: measured 7.8 s for 5000 tiny docs at
    * sf0.1). Neighbor logic is therefore spelled with zip_with over
    * slice-shifted copies, where every lambda touches only its bound
    * variables and array producers appear only as HOF ARGUMENTS
    * (evaluated O(1) times per row). The oracle's index-lambda spelling
    * is equivalent in VALUES: the duplicate-position set is the same,
    * and coverage diffs are base-shift-invariant.
    */
  val t38DupNgramChars: Plan = (s, d) =>
    docs(s, d)
      .selectExpr("doc_id",
        "filter(split(lower(text), '\\\\s+'), w -> w != '') AS toks")
      .selectExpr("doc_id", "CAST(size(toks) AS BIGINT) AS n_tokens",
        """CASE WHEN size(toks) < 5 THEN array()
           ELSE transform(sequence(1, size(toks) - 4),
             i -> concat_ws(' ', slice(toks, i, 5))) END AS grams""")
      .selectExpr("doc_id", "n_tokens",
        "array_sort(transform(grams, (g, i) -> struct(g AS g, i AS p))) AS ga")
      .selectExpr("doc_id", "n_tokens",
        """CASE WHEN size(ga) = 0 THEN array()
           ELSE zip_with(ga,
             concat(slice(ga, 2, greatest(size(ga) - 1, 0)),
               array(struct('' AS g, -1 AS p))),
             (a, b) -> a.g = b.g) END AS eq_next""",
        "transform(ga, a -> a.p) AS pos")
      .selectExpr("doc_id", "n_tokens",
        """CASE WHEN size(pos) = 0 THEN array()
           ELSE array_sort(filter(zip_with(pos,
             zip_with(eq_next,
               concat(array(false),
                 slice(eq_next, 1, greatest(size(eq_next) - 1, 0))),
               (n, p) -> n OR p),
             (pp, f) -> IF(f, pp, CAST(NULL AS INT))),
           x -> x IS NOT NULL)) END AS starts""")
      .selectExpr("doc_id", "n_tokens",
        "CAST(size(starts) AS BIGINT) AS n_dup_positions",
        """CAST(CASE WHEN size(starts) = 0 THEN 0
           WHEN size(starts) = 1 THEN 5
           ELSE aggregate(
             zip_with(slice(starts, 2, size(starts) - 1),
               slice(starts, 1, size(starts) - 1),
               (a, b) -> least(5, a - b)),
             0, (acc, x) -> acc + x) + 5 END AS BIGINT) AS covered_tokens""")
      .selectExpr("doc_id", "n_tokens", "n_dup_positions", "covered_tokens",
        """CAST(CASE WHEN n_tokens = 0 THEN 0.0 ELSE
           floor(covered_tokens / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5)
           / 1000000.0 END AS DOUBLE) AS dup_frac""",
        "covered_tokens * 100 <= 15 * n_tokens AS keep")
      .orderBy("doc_id")

  /** DuckDB twin: identical list arithmetic (1-based on both engines by
    * spelling the positions explicitly), identical coverage fold.
    */
  val t38DupNgramCharsSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> w != '') AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CASE WHEN len(toks) < 5 THEN []
      |    ELSE list_transform(range(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+4], ' ')) END AS grams
      |  FROM f),
      |s AS (
      |  SELECT doc_id, n_tokens, grams, list_sort(grams) AS sg FROM g),
      |du AS (
      |  SELECT doc_id, n_tokens, grams,
      |    CASE WHEN len(sg) < 2 THEN []
      |    ELSE list_distinct(list_filter(
      |      list_transform(range(2, len(sg) + 1),
      |        i -> CASE WHEN sg[i] = sg[i - 1] THEN sg[i] END),
      |      x -> x IS NOT NULL)) END AS dups
      |  FROM s),
      |st AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN len(grams) = 0 THEN []
      |    ELSE list_filter(range(1, len(grams) + 1),
      |      i -> list_contains(dups, grams[i])) END AS starts
      |  FROM du),
      |cov AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(len(starts) AS BIGINT) AS n_dup_positions,
      |    CAST(CASE WHEN len(starts) = 0 THEN 0
      |    ELSE coalesce(list_sum(list_transform(range(1, len(starts)),
      |      j -> least(5, starts[j + 1] - starts[j]))), 0) + 5
      |    END AS BIGINT) AS covered_tokens
      |  FROM st)
      |SELECT doc_id, n_tokens, n_dup_positions, covered_tokens,
      |  CASE WHEN n_tokens = 0 THEN 0.0 ELSE
      |    floor(covered_tokens / CAST(n_tokens AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 END AS dup_frac,
      |  covered_tokens * 100 <= 15 * n_tokens AS keep
      |FROM cov ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- t39_filter_funnel
  /** Filter-attribution funnel — the report every curation pipeline
    * needs before committing a rule battery: per rule, how many docs
    * fail it (n_fail), how many ONLY it kills (n_unique_fail — the
    * rule's marginal value; a rule with zero unique kills is redundant),
    * and the cumulative survivor count applying rules in their fixed
    * order. Rules composed verbatim from the audited operators:
    * `gopher` = t35's conjunction, `dup5gram` = t38's coverage bound,
    * `ppl_tail` = t27's CCNet tail cut (docs too short to score pass —
    * no evidence is not a verdict).
    *
    * Distributed shape: the three per-doc flag frames join co-keyed on
    * doc_id (t35/t38 are narrow projections, the bucket join is t27's
    * broadcast-sized cut table), then ONE 1-row aggregate computes all
    * nine conditional counts in a single pass — the funnel costs one
    * corpus scan more than the rules themselves, and the output is
    * constant-size (3 rows) at any corpus size.
    */
  val t39FilterFunnel: Plan = (s, d) => {
    val gopher = t35GopherRules(s, d).select(col("doc_id"), col("keep").as("r_gopher"))
    val dup = t38DupNgramChars(s, d).select(col("doc_id"), col("keep").as("r_dup"))
    val ppl = ccnetDocBuckets(s, d)
      .select(col("doc_id"), (col("bucket") =!= "tail").as("b"))
    val flags = gopher.join(dup, "doc_id").join(ppl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("r_gopher"), col("r_dup"),
        coalesce(col("b"), lit(true)).as("r_ppl"))
    def cnt(c: Column): Column = count(when(c, lit(1)))
    flags.agg(
        count(lit(1)).as("n_docs"),
        cnt(!col("r_gopher")).as("gf"),
        cnt(!col("r_gopher") && col("r_dup") && col("r_ppl")).as("gu"),
        cnt(col("r_gopher")).as("s1"),
        cnt(!col("r_dup")).as("df"),
        cnt(!col("r_dup") && col("r_gopher") && col("r_ppl")).as("du"),
        cnt(col("r_gopher") && col("r_dup")).as("s2"),
        cnt(!col("r_ppl")).as("pf"),
        cnt(!col("r_ppl") && col("r_gopher") && col("r_dup")).as("pu"),
        cnt(col("r_gopher") && col("r_dup") && col("r_ppl")).as("s3"))
      .selectExpr("n_docs", """stack(3,
          'gopher',   1, gf, gu, s1,
          'dup5gram', 2, df, du, s2,
          'ppl_tail', 3, pf, pu, s3)
        AS (rule, ord, n_fail, n_unique_fail, survivors_after)""")
      .select(col("rule"), col("ord"), col("n_docs"), col("n_fail"),
        col("n_unique_fail"), col("survivors_after"))
      .orderBy("ord")
  }

  /** DuckDB twin: t35's and t38's chains inlined under prefixed CTE
    * names (their published oracles stay untouched), t27's shared
    * ccnetCtes + p10's doc-grain bucket join, one 1-row aggregate,
    * three UNION ALL rows.
    */
  val t39FilterFunnelSql: String =
    s"""WITH g35f AS (
      |  SELECT doc_id, text,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS words,
      |    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
      |      l -> l != '') AS lines
      |  FROM documents),
      |g35g AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS BIGINT) AS n_words,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(coalesce(list_sum(list_transform(words, w -> length(w))), 0)
      |      AS BIGINT) AS word_chars,
      |    CAST(length(text) - length(replace(text, '#', ''))
      |      + (length(text) - length(replace(text, '...', ''))) // 3
      |      AS BIGINT) AS n_symbols,
      |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'))
      |      AS BIGINT) AS n_bullet,
      |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ellipsis,
      |    CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
      |    CAST(len(list_filter(words,
      |      w -> w IN (${stopWords.map(w => s"'$w'").mkString(", ")})))
      |      AS BIGINT) AS n_stop
      |  FROM g35f),
      |g35_rules AS (
      |  SELECT doc_id,
      |    n_words > 0 AND 3 * n_words <= word_chars AND word_chars <= 10 * n_words
      |      AND 10 * n_symbols < n_words AND 10 * n_bullet < 9 * n_lines
      |      AND 10 * n_ellipsis < 3 * n_lines AND 10 * n_dup_lines < 3 * n_lines
      |      AND n_stop >= 2 AS keep
      |  FROM g35g),
      |d38f AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\\s+'), w -> w != '') AS toks
      |  FROM documents),
      |d38g AS (
      |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CASE WHEN len(toks) < 5 THEN []
      |    ELSE list_transform(range(1, len(toks) - 3),
      |      i -> array_to_string(toks[i:i+4], ' ')) END AS grams
      |  FROM d38f),
      |d38s AS (
      |  SELECT doc_id, n_tokens, grams, list_sort(grams) AS sg FROM d38g),
      |d38du AS (
      |  SELECT doc_id, n_tokens, grams,
      |    CASE WHEN len(sg) < 2 THEN []
      |    ELSE list_distinct(list_filter(
      |      list_transform(range(2, len(sg) + 1),
      |        i -> CASE WHEN sg[i] = sg[i - 1] THEN sg[i] END),
      |      x -> x IS NOT NULL)) END AS dups
      |  FROM d38s),
      |d38st AS (
      |  SELECT doc_id, n_tokens,
      |    CASE WHEN len(grams) = 0 THEN []
      |    ELSE list_filter(range(1, len(grams) + 1),
      |      i -> list_contains(dups, grams[i])) END AS starts
      |  FROM d38du),
      |d38_rules AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN len(starts) = 0 THEN 0
      |    ELSE coalesce(list_sum(list_transform(range(1, len(starts)),
      |      j -> least(5, starts[j + 1] - starts[j]))), 0) + 5
      |    END AS BIGINT) * 100 <= 15 * n_tokens AS keep
      |  FROM d38st),
      |$ccnetCtes,
      |docb AS (
      |  SELECT s.doc_id, b.bucket
      |  FROM scored s JOIN meta m USING (doc_id)
      |  JOIN bucketed b ON b.lang = m.lang AND b.score4 = s.score4),
      |flags AS (
      |  SELECT g.doc_id, g.keep AS r_gopher, t.keep AS r_dup,
      |    coalesce(b.bucket != 'tail', TRUE) AS r_ppl
      |  FROM g35_rules g JOIN d38_rules t USING (doc_id)
      |  LEFT JOIN docb b USING (doc_id)),
      |agg AS (
      |  SELECT count(*) AS n_docs,
      |    count(CASE WHEN NOT r_gopher THEN 1 END) AS gf,
      |    count(CASE WHEN NOT r_gopher AND r_dup AND r_ppl THEN 1 END) AS gu,
      |    count(CASE WHEN r_gopher THEN 1 END) AS s1,
      |    count(CASE WHEN NOT r_dup THEN 1 END) AS df,
      |    count(CASE WHEN NOT r_dup AND r_gopher AND r_ppl THEN 1 END) AS du,
      |    count(CASE WHEN r_gopher AND r_dup THEN 1 END) AS s2,
      |    count(CASE WHEN NOT r_ppl THEN 1 END) AS pf,
      |    count(CASE WHEN NOT r_ppl AND r_gopher AND r_dup THEN 1 END) AS pu,
      |    count(CASE WHEN r_gopher AND r_dup AND r_ppl THEN 1 END) AS s3
      |  FROM flags)
      |SELECT 'gopher' AS rule, 1 AS ord, n_docs, gf AS n_fail,
      |  gu AS n_unique_fail, s1 AS survivors_after FROM agg
      |UNION ALL SELECT 'dup5gram', 2, n_docs, df, du, s2 FROM agg
      |UNION ALL SELECT 'ppl_tail', 3, n_docs, pf, pu, s3 FROM agg
      |ORDER BY ord""".stripMargin

  // ---------------------------------------------- t40_heldout_ppl
  /** Held-out perplexity evaluation of the LM quality scorer — d12's
    * eval discipline applied to t17: the bigram model is trained on the
    * TRAIN split only (doc_id % 10 != 9) and scored on the held-out
    * tenth, per language, with the OOV-bigram share alongside. t17's
    * self-perplexity cannot say whether the scorer memorizes templated
    * boilerplate; the train/test gap and the unseen-bigram rate are the
    * numbers that can. Per-lang averages are MACRO (mean of per-doc
    * scores in exact 1e-4 integer units — order-free long sums, p4's
    * discipline; a per-lang float fold over unbounded doc counts would
    * not scale), OOV share is a ratio of exact counts.
    *
    * Distributed shape: t17's two gram-keyed hash aggs filtered to the
    * train split (the split predicate pushes below the aggregates, the
    * t9 pattern), scoring is a gram-keyed LEFT join from held-out
    * occurrences (unseen bigrams hit add-one's floor via null-coalesced
    * counts), then one doc-keyed and one lang-keyed agg.
    */
  val t40HeldoutPpl: Plan = (s, d) => {
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 10 =!= 9).as("train"),
        lowerTokens(col("text")).as("t"))
      .materialize()
    val big = toks
      .select(col("doc_id"), col("lang"), col("train"),
        posexplode(col("t")).as(Seq("i", "w1")), col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("doc_id"), col("lang"), col("train"), col("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))
      .materialize() // feeds both model aggs AND the held-out scoring
    val bc = big.filter(col("train")).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val ctx = big.filter(col("train")).groupBy(col("w1"))
      .agg(count(lit(1)).as("cc"))
    val vocab = toks.filter(col("train")).select(explode(col("t")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val perDoc = big.filter(!col("train"))
      .join(bc, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("lang"),
        (-log2((coalesce(col("c"), lit(0L)) + 1)
          / (coalesce(col("cc"), lit(0L)) + col("v")).cast("double"))).as("term"),
        col("c").isNull.cast("long").as("unseen"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("nb"),
        aggregate(array_sort(collect_list(col("term"))),
          lit(0.0), (acc, x) => acc + x).as("h"),
        sum(col("unseen")).as("oov"))
      .select(col("doc_id"), col("lang"), col("nb"), col("oov"),
        floor(col("h") / col("nb") * 10000.0 + lit(0.5)).cast("long").as("s4"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nb")).as("n_bigrams"),
        sum(col("s4")).as("s4sum"), sum(col("oov")).as("n_oov"))
      .select(col("lang"), col("n_docs"), col("n_bigrams"),
        sround(col("s4sum") / col("n_docs").cast("double") / lit(10000.0), 4)
          .as("heldout_neg_log2p"),
        sround(col("n_oov") / col("n_bigrams").cast("double"), 6).as("oov_share"))
      .orderBy("lang")
  }

  /** DuckDB twin: t17's chain with train-filtered model CTEs, LEFT-join
    * scoring with null-coalesced counts, identical macro-average units.
    */
  val t40HeldoutPplSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang, doc_id % 10 != 9 AS train,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, lang, train, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, lang, train, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |bc AS (SELECT w1, w2, count(*) AS c FROM big WHERE train GROUP BY 1, 2),
      |ctx AS (SELECT w1, count(*) AS cc FROM big WHERE train GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(t) AS w FROM toks WHERE train)),
      |terms AS (
      |  SELECT b.doc_id, b.lang,
      |    -log2((coalesce(bc.c, 0) + 1)
      |      / CAST(coalesce(ctx.cc, 0) + v.v AS DOUBLE)) AS term,
      |    CAST(bc.c IS NULL AS BIGINT) AS unseen
      |  FROM big b LEFT JOIN bc USING (w1, w2) LEFT JOIN ctx USING (w1)
      |  CROSS JOIN v WHERE NOT b.train),
      |perdoc AS (
      |  SELECT doc_id, lang, count(*) AS nb,
      |    CAST(sum(unseen) AS BIGINT) AS oov,
      |    CAST(floor(list_aggregate(list_sort(list(term)), 'sum') / count(*)
      |      * 10000.0 + 0.5) AS BIGINT) AS s4
      |  FROM terms GROUP BY 1, 2)
      |SELECT lang, count(*) AS n_docs, CAST(sum(nb) AS BIGINT) AS n_bigrams,
      |  floor(sum(s4) / CAST(count(*) AS DOUBLE) / 10000.0 * 10000.0 + 0.5)
      |    / 10000.0 AS heldout_neg_log2p,
      |  floor(sum(oov) / CAST(sum(nb) AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS oov_share
      |FROM perdoc GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------- t43_kn_lm_score
  /** Interpolated Kneser-Ney bigram scoring — the production LM recipe
    * behind CCNet/DSIR-style data selection (Heafield's KenLM default),
    * where t17/t40's add-one is the didactic stand-in. Add-one gives
    * frequent contexts far too much smoothing mass and scores novel-but-
    * fluent text poorly; KN discounts every seen bigram by a fixed D and
    * redistributes by CONTINUATION counts (how many distinct contexts a
    * word completes), the quantity that actually predicts novel usage.
    *
    * Model (D = 0.75, trained on t40's split doc_id % 10 != 9):
    *   P(w2|w1) = max(c(w1 w2) - D, 0)/c(w1)
    *            + [D · N1+(w1,·)/c(w1)] · Pcont(w2)        (w1 seen)
    *   P(w2|w1) = Pcont(w2)                                 (w1 unseen)
    *   Pcont(w2) = (N1+(·,w2) + 1) / (N1+(·,·) + V + 1)
    * with add-one on the continuation distribution so held-out OOV
    * words keep nonzero mass (the <unk> role, spelled arithmetically so
    * both engines replay it).
    *
    * Distributed shape: all four model statistics fall out of TWO
    * gram-keyed hash aggs over the train bigrams — (w1,w2) counts, then
    * per-w1 totals+distincts and per-w2 distincts from that table (the
    * second agg runs on the BIGRAM TYPE table, vocab², not the corpus);
    * scoring is t40's gram-keyed left-join shape with the same sorted
    * per-doc fold. Output is PER HELD-OUT DOC — this operator's job is
    * doc-level selection scores, t40's is the per-language eval.
    */
  val t43KnLmScore: Plan = (s, d) => {
    val toks = docs(s, d)
      .select(col("doc_id"), col("lang"), (col("doc_id") % 10 =!= 9).as("train"),
        lowerTokens(col("text")).as("t"))
      .materialize()
    val big = toks
      .select(col("doc_id"), col("lang"), col("train"),
        posexplode(col("t")).as(Seq("i", "w1")), col("t"))
      .filter(col("i") < size(col("t")) - 1)
      .select(col("doc_id"), col("lang"), col("train"), col("w1"),
        element_at(col("t"), col("i") + 2).as("w2"))
      .materialize() // feeds the model aggs AND the held-out scoring
    val bc = big.filter(col("train")).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .materialize() // feeds ctx, cont, B and the scoring join
    val ctx = bc.groupBy(col("w1"))
      .agg(sum(col("c")).as("cc"), count(lit(1)).as("n1f"))
    val cont = bc.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val stats = bc.agg(count(lit(1)).as("bb")).crossJoin(
      toks.filter(col("train")).select(explode(col("t")).as("w"))
        .agg(countDistinct(col("w")).as("v")))
    val pcont = (coalesce(col("n1b"), lit(0L)) + 1) /
      (col("bb") + col("v") + 1).cast("double")
    val perDoc = big.filter(!col("train"))
      .join(bc, Seq("w1", "w2"), "left")
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("lang"),
        (-log2(when(col("cc").isNull, pcont)
          .otherwise(
            greatest(coalesce(col("c"), lit(0L)) - 0.75, lit(0.0))
              / col("cc").cast("double")
              + (lit(0.75) * col("n1f") / col("cc").cast("double")) * pcont)))
          .as("term"),
        col("c").isNull.cast("long").as("unseen"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(col("term"))),
          lit(0.0), (acc, x) => acc + x).as("h"),
        sum(col("unseen")).as("n_oov"))
    perDoc
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("n_oov"),
        sround(col("h") / col("n_bigrams").cast("double"), 4)
          .as("kn_neg_log2p"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: identical model CTEs off the bigram-count table, the
    * same CASE/greatest arithmetic (operator-for-operator, so the IEEE
    * evaluation order matches), list-sorted per-doc fold.
    */
  val t43KnLmScoreSql: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, lang, doc_id % 10 != 9 AS train,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |big AS MATERIALIZED (
      |  SELECT doc_id, lang, train, t[i] AS w1, t[i + 1] AS w2
      |  FROM (SELECT doc_id, lang, train, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |bc AS MATERIALIZED (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
      |  FROM big WHERE train GROUP BY 1, 2),
      |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cc,
      |          CAST(count(*) AS BIGINT) AS n1f FROM bc GROUP BY 1),
      |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bc GROUP BY 1),
      |stats AS (
      |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM bc) AS bb,
      |    (SELECT CAST(count(DISTINCT w) AS BIGINT)
      |     FROM (SELECT unnest(t) AS w FROM toks WHERE train)) AS v),
      |terms AS (
      |  SELECT b.doc_id, b.lang,
      |    -log2(CASE WHEN ctx.cc IS NULL THEN
      |        (coalesce(cont.n1b, 0) + 1) / CAST(s.bb + s.v + 1 AS DOUBLE)
      |      ELSE
      |        greatest(coalesce(bc.c, 0) - 0.75, 0.0) / CAST(ctx.cc AS DOUBLE)
      |        + (0.75 * ctx.n1f / CAST(ctx.cc AS DOUBLE))
      |          * ((coalesce(cont.n1b, 0) + 1) / CAST(s.bb + s.v + 1 AS DOUBLE))
      |      END) AS term,
      |    CAST(bc.c IS NULL AS BIGINT) AS unseen
      |  FROM big b LEFT JOIN bc USING (w1, w2) LEFT JOIN ctx USING (w1)
      |  LEFT JOIN cont USING (w2) CROSS JOIN stats s
      |  WHERE NOT b.train)
      |SELECT doc_id, lang, count(*) AS n_bigrams,
      |  CAST(sum(unseen) AS BIGINT) AS n_oov,
      |  floor(list_aggregate(list_sort(list(term)), 'sum') / count(*)
      |    * 10000.0 + 0.5) / 10000.0 AS kn_neg_log2p
      |FROM terms GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin

  // ----------------------------------------------- t41_bpe_train64
  /** Production-grain BPE TRAINING (t21 past its toy merge count): the
    * same pair-count → argmax → merge loop, run for 64 rounds instead
    * of 5. The distributed piece is exactly what scales with the
    * corpus — ONE scan building the word-frequency table — and the
    * rounds run DRIVER-SIDE on the collected vocab multiset, which is
    * how production trainers work (HuggingFace tokenizers/SentencePiece
    * train on a word-count table in memory; merge decisions are
    * inherently sequential, so "distributing" them buys 3 tiny shuffles
    * of latency per round and nothing else — t21's 5 unrolled
    * table-algebra rounds are the didactic form, this is the shape that
    * reaches 32k merges). The collect is BOUNDED at any corpus size: the
    * vocab is capped to the top `VocabCap` words by (freq DESC, word) —
    * the standard trainer discipline — so 100 TB of text still collects
    * at most 64k (word, freq) rows.
    *
    * Merge semantics are bit-identical to t21 (pair counts weighted by
    * word freq over every adjacency, ties lexicographic on (a, b),
    * apply = literal leftmost-non-overlapping `" a b "` → `" ab "`
    * String.replace — the same scan rule as Spark/DuckDB `replace()`),
    * so rounds 1..5 equal t21's output wherever the cap does not bind.
    */
  val BpeRounds64 = 64
  val BpeVocabCap = 65536

  /** Collected (freq DESC, word)-capped vocab → `rounds` sequential BPE
    * merges: (rank, a, b, merged, pair_freq). Loud when the vocab
    * exhausts before `rounds` (corpus too small to support the table).
    */
  private def bpeTrainDriver(s: SparkSession, d: String,
      rounds: Int): Array[(Int, String, String, String, Long)] = {
    val vocab = docs(s, d)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(length(col("w")) >= 2 && length(col("w")) <= 12)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(BpeVocabCap)
      // driver-bound(k-bounded): top-BpeVocabCap vocab rows (TakeOrderedAndProject)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    bpeTrainOnVocabIndexed(vocab, rounds)
  }

  /** Reference trainer: full pair recount every round — O(rounds ×
    * total adjacencies). Semantically canonical (this IS t21's table
    * algebra in a loop) and the differential oracle for the indexed
    * trainer below; too slow past a few hundred rounds on a 64k vocab.
    */
  private[graft] def bpeTrainOnVocab(vocab: Array[(String, Long)],
      rounds: Int): Array[(Int, String, String, String, Long)] = {
    val words = vocab.map { case (w, _) => " " + w.map(c => s"$c ").mkString }
    val freqs = vocab.map(_._2)
    val out = Array.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    while (r <= rounds) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var k = 0
      while (k < words.length) {
        val t = words(k).trim.split(" ")
        var i = 0
        while (i < t.length - 1) {
          val key = (t(i), t(i + 1))
          counts.update(key, counts.getOrElse(key, 0L) + freqs(k))
          i += 1
        }
        k += 1
      }
      require(counts.nonEmpty,
        s"bpe trainer: vocab fully merged at round $r — corpus too small " +
          s"for $rounds merges")
      val ((a, b), pf) = counts.minBy { case ((x, y), c) => (-c, x, y) }
      out += ((r, a, b, a + b, pf))
      val (pat, rep) = (s" $a $b ", s" $a$b ")
      var k2 = 0
      while (k2 < words.length) { words(k2) = words(k2).replace(pat, rep); k2 += 1 }
      r += 1
    }
    out.result()
  }

  /** Production-shape trainer: incremental pair-count maintenance (the
    * HuggingFace-tokenizers / SentencePiece discipline). The pair-count
    * table and a pair → {word index} inverted index are built ONCE; each
    * round then touches only the words that actually contain the merged
    * pair — subtract their current pair counts, apply the same literal
    * `" a b "` → `" ab "` String.replace the reference trainer uses, and
    * re-add. Per-round cost is O(words containing the argmax pair), not
    * O(vocab), which is what makes 512–32k merges a driver-side
    * non-event: merged symbols grow rarer as training proceeds, so the
    * touched set SHRINKS with rank while the naive recount stays flat.
    *
    * Bit-identical to [[bpeTrainOnVocab]] by construction — the apply
    * step is the same String.replace, the counts are maintained exactly
    * (entries dropped at zero so argmax never sees a dead pair), and the
    * argmax tie-break is the same (-freq, a, b) — and differentially
    * asserted against it at 64 and 512 rounds in CurationSpec.
    */
  private[graft] def bpeTrainOnVocabIndexed(vocab: Array[(String, Long)],
      rounds: Int): Array[(Int, String, String, String, Long)] = {
    val words = vocab.map { case (w, _) => " " + w.map(c => s"$c ").mkString }
    val freqs = vocab.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.BitSet]
    def tally(k: Int, sign: Long): Unit = {
      val t = words(k).trim.split(" ")
      var i = 0
      while (i < t.length - 1) {
        val key = (t(i), t(i + 1))
        val c = counts.getOrElse(key, 0L) + sign * freqs(k)
        if (c == 0L) counts.remove(key) else counts.update(key, c)
        if (sign > 0)
          occurs.getOrElseUpdate(key,
            scala.collection.mutable.BitSet.empty) += k
        i += 1
      }
    }
    var k0 = 0
    while (k0 < words.length) { tally(k0, 1L); k0 += 1 }
    val out = Array.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    while (r <= rounds) {
      require(counts.nonEmpty,
        s"bpe trainer: vocab fully merged at round $r — corpus too small " +
          s"for $rounds merges")
      val ((a, b), pf) = counts.minBy { case ((x, y), c) => (-c, x, y) }
      out += ((r, a, b, a + b, pf))
      val (pat, rep) = (s" $a $b ", s" $a$b ")
      // the inverted index may hold stale ids (word no longer contains
      // the pair after an earlier merge); counts are exact, so a literal
      // containment check is the precise filter
      occurs.remove((a, b)).foreach(_.foreach { k =>
        if (words(k).contains(pat)) {
          tally(k, -1L)
          words(k) = words(k).replace(pat, rep)
          tally(k, 1L)
        }
      })
      r += 1
    }
    out.result()
  }

  val t41BpeTrain64: Plan = (s, d) => {
    import s.implicits._
    bpeTrainDriver(s, d, BpeRounds64).toSeq
      .toDF("rank", "a", "b", "merged", "pf").orderBy("rank")
  }

  /** The 64-round trainer as oracle CTEs. Every `words`/`m` frame is
    * MATERIALIZED: each round references the previous words frame twice
    * (pair counting AND merge application), and without the fences the
    * twin re-executes 2^64 times instead of 64 (the t21 5-round chain
    * survives un-fenced at 2^5; this one would never finish).
    */
  private def bpeTrainerCtes64(rounds: Int): String = {
    def round(prev: String, r: Int): String =
      s"""p$r AS (
         |  SELECT l[i + 1] AS a, l[i + 2] AS b,
         |    CAST(sum(freq) AS BIGINT) AS pf FROM (
         |    SELECT string_split(trim(syms), ' ') AS l, freq,
         |      unnest(range(len(string_split(trim(syms), ' ')) - 1)) AS i
         |    FROM $prev WHERE len(string_split(trim(syms), ' ')) >= 2)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT $r AS rank, a, b, a || b AS merged, pf
         |  FROM p$r ORDER BY pf DESC, a, b LIMIT 1)""".stripMargin
    def app(prev: String, r: Int): String =
      s"""words$r AS MATERIALIZED (
         |  SELECT replace(syms, ' ' || a || ' ' || b || ' ',
         |    ' ' || merged || ' ') AS syms, freq
         |  FROM $prev, m$r)""".stripMargin
    val chain = (1 to rounds).map { r =>
      if (r < rounds) s"${round(s"words${r - 1}", r)},\n${app(s"words${r - 1}", r)}"
      else round(s"words${r - 1}", r)
    }.mkString(",\n")
    s"""vocab AS (
       |  SELECT w, freq FROM (
       |    SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |      FROM documents)
       |    WHERE length(w) >= 2 AND length(w) <= 12 GROUP BY w)
       |  ORDER BY freq DESC, w LIMIT $BpeVocabCap),
       |words0 AS MATERIALIZED (
       |  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms, freq
       |  FROM vocab),
       |$chain""".stripMargin
  }

  val t41BpeTrain64Sql: String =
    s"""WITH ${bpeTrainerCtes64(BpeRounds64)}
       |SELECT rank, a, b, merged, pf FROM (
       |  ${(1 to BpeRounds64).map(r => s"SELECT * FROM m$r")
            .mkString(" UNION ALL ")})
       |ORDER BY rank""".stripMargin

  // ---------------------------------------------- t42_bpe_encode64
  /** Production-grain BPE ENCODING: t25's per-document token account
    * under the 64-merge table, with the two plan properties a real
    * tokenizer deployment needs and the toy encoder lacks:
    *
    *  1. **Plan size O(1) in the merge count.** The merge table rides
    *     inside ONE codegen'd kernel expression
    *     ([[graft.expressions.BpeApplyMerges]]) that loops rank order
    *     internally — not 64 (or 32k) chained `replace` projections,
    *     whose generated code grows linearly and collapses codegen.
    *  2. **Encode the VOCABULARY, not the corpus.** BPE is a pure
    *     word function, so the kernel runs once per DISTINCT word —
    *     tiny next to the corpus, but NOT bounded (typos and junk
    *     tokens grow the corpus vocab with the data; only the
    *     trainer's vocab is capped at 64k). The corpus pass is a
    *     dictionary join word → (n_base, n_bpe) plus one per-doc hash
    *     agg, with NO explicit broadcast hint: AQE broadcasts when
    *     the measured dictionary fits and falls back to a word-keyed
    *     shuffle join when a 100-TB corpus's junk-heavy vocab does
    *     not — forcing `broadcast()` here would OOM exactly there.
    *     Either way the kernel cost stays per-distinct-word; this is
    *     how serving tokenizers amortize (cache by word), expressed
    *     relationally.
    *
    * Out-of-vocab handling matches t25: EVERY nonempty word is encoded
    * (the distinct-word table covers the corpus by construction), words
    * the trainer never saw just pick up whatever merges fire.
    */
  val t42BpeEncode64: Plan = (s, d) => {
    val merges = bpeTrainDriver(s, d, BpeRounds64)
      .map { case (_, a, b, m, _) => (a, b, m) }.toSeq
    val words = docs(s, d)
      .select(col("doc_id"),
        explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .where(col("w") =!= "")
    val wenc = words.select(col("w")).distinct()
      .select(col("w"),
        graft.expressions.BpeExpressions.applyMerges(
          concat(lit(" "), regexp_replace(col("w"), "(.)", "$1 ")),
          merges).as("syms"))
      .select(col("w"), length(col("w")).cast("long").as("n_base_w"),
        size(split(trim(col("syms")), " ")).cast("long").as("n_bpe_w"))
    val perDoc = words.join(wenc, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_base_w")).as("n_base"),
        sum(col("n_bpe_w")).as("n_bpe"))
    docs(s, d).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_bpe"), lit(0L)).as("n_bpe"))
      .orderBy("doc_id")
  }

  /** Oracle: the 64-round trainer CTEs, then the encode chain applied to
    * the DISTINCT-word table (vocab-sized per round, fenced) and joined
    * back to word occurrences — the same dictionary shape as the Spark
    * side, so the account hash-matches.
    */
  val t42BpeEncode64Sql: String = {
    val encChain = (1 to BpeRounds64).map { r =>
      s"""e$r AS MATERIALIZED (
         |  SELECT w, replace(syms, ' ' || a || ' ' || b || ' ',
         |    ' ' || merged || ' ') AS syms
         |  FROM e${r - 1}, m$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bpeTrainerCtes64(BpeRounds64)},
       |allw AS MATERIALIZED (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
       |    FROM documents)
       |  WHERE w != ''),
       |e0 AS MATERIALIZED (
       |  SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS syms
       |  FROM (SELECT DISTINCT w FROM allw)),
       |$encChain,
       |wenc AS MATERIALIZED (
       |  SELECT w, CAST(length(w) AS BIGINT) AS n_base_w,
       |    CAST(len(string_split(trim(syms), ' ')) AS BIGINT) AS n_bpe_w
       |  FROM e$BpeRounds64),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |    CAST(sum(n_base_w) AS BIGINT) AS n_base,
       |    CAST(sum(n_bpe_w) AS BIGINT) AS n_bpe
       |  FROM allw JOIN wenc USING (w) GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(p.n_words, CAST(0 AS BIGINT)) AS n_words,
       |  coalesce(p.n_base, CAST(0 AS BIGINT)) AS n_base,
       |  coalesce(p.n_bpe, CAST(0 AS BIGINT)) AS n_bpe
       |FROM documents d LEFT JOIN perdoc p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- t44_blocklist
  /** Multi-pattern blocklist audit via Aho–Corasick: one O(len) automaton
    * scan per document counts the occurrences of EVERY phrase at once —
    * the pattern-count-independent corpus pass a production blocklist
    * (NSFW/PII/contamination lists, 10k–1M phrases) requires at 100 TB.
    * The oracle twin is the naive documents × patterns replace-trick
    * (one corpus pass PER pattern — fine for two dozen phrases in
    * DuckDB, the exact shape AC exists to avoid). Patterns are
    * border-free (construction-asserted), so all-occurrence counts equal
    * leftmost-non-overlapping counts and the replace trick is exact; the
    * list deliberately includes patterns ending inside other patterns
    * ("can" in "scan", "art" in "part") to exercise collapsed output
    * links on real data.
    */
  val blockPatterns: Seq[String] = Seq(
    "scan", "can", "art", "spark", "stream", "join",
    "merge batch", "key agg", "the line", "query big",
    "slow fast", "value table", "big table", "sort column",
    "window s", "hash v")

  val t44Blocklist: Plan = (s, d) =>
    docs(s, d)
      .select(col("doc_id"),
        graft.expressions.BlocklistExpressions
          .blocklistStats(col("text"), blockPatterns).as("bs"))
      .select(col("doc_id"),
        col("bs.n_hits").as("n_hits"),
        col("bs.n_pats").as("n_pats"))
      .orderBy("doc_id")

  val t44BlocklistSql: String = {
    // SQL-escape each pattern (' -> '') — a quote in a future blocklist
    // entry must corrupt neither the VALUES list nor the hash compare
    val vals = blockPatterns
      .map(p => s"('${p.replace("'", "''")}')").mkString(", ")
    s"""WITH pats(pat) AS (VALUES $vals),
       |hits AS (
       |  SELECT d.doc_id,
       |    (length(d.text) - length(replace(d.text, p.pat, '')))
       |      // length(p.pat) AS cnt
       |  FROM documents d CROSS JOIN pats p)
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_hits,
       |  CAST(count(*) FILTER (cnt > 0) AS INTEGER) AS n_pats
       |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- t45_fim_prep
  /** Fill-in-the-Middle training prep (Bavarian et al. 2022): each doc is
    * deterministically either left autoregressive ('ar', 10%) or FIM-
    * transformed ('fim', 90%) — two uniform split points over [0, len]
    * cut prefix/middle/suffix, and the training text is reassembled in
    * PSM order (<PRE>prefix<SUF>suffix<MID>middle) so the model learns
    * infilling while the data stays a plain next-token stream. All
    * randomness is portable md5-62 hash lanes of doc_id (the p9
    * discipline), so the oracle replays the exact same splits; the dump
    * carries md5(out_text) instead of the reassembled corpus. Scale
    * shape: a pure narrow projection — zero shuffles beyond the
    * gate-only ORDER BY, whole-stage codegen end to end, and the
    * transform is position arithmetic + three substrings per row
    * regardless of corpus size.
    */
  val t45FimPrep: Plan = (s, d) => {
    import graft.expressions.PortableHashExpressions.md5Hash62
    def lane(tag: String): Column =
      md5Hash62(concat(lit(tag), col("doc_id").cast("string")))
    val lenL = col("len")
    docs(s, d)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
      .withColumn("u1", lane("fim#a#") % (lenL + lit(1L)))
      .withColumn("u2", lane("fim#b#") % (lenL + lit(1L)))
      .withColumn("is_fim", lane("fim#m#") % 10 < 9)
      .withColumn("lo", least(col("u1"), col("u2")))
      .withColumn("hi", greatest(col("u1"), col("u2")))
      .select(
        col("doc_id"),
        when(col("is_fim"), lit("fim")).otherwise(lit("ar")).as("mode"),
        when(col("is_fim"), col("lo")).otherwise(lenL).as("n_prefix"),
        when(col("is_fim"), col("hi") - col("lo")).otherwise(lit(0L)).as("n_middle"),
        when(col("is_fim"), lenL - col("hi")).otherwise(lit(0L)).as("n_suffix"),
        md5(when(col("is_fim"),
          concat(lit("<PRE>"),
            col("text").substr(lit(1), col("lo").cast("int")),
            lit("<SUF>"),
            col("text").substr((col("hi") + 1L).cast("int"),
              (lenL - col("hi")).cast("int")),
            lit("<MID>"),
            col("text").substr((col("lo") + 1L).cast("int"),
              (col("hi") - col("lo")).cast("int"))))
          .otherwise(col("text"))).as("fim_md5"))
      .orderBy("doc_id")
  }

  val t45FimPrepSql: String = {
    def lane(tag: String): String =
      s"CAST(md5_number_lower('$tag' || CAST(doc_id AS VARCHAR)) " +
        "& 4611686018427387903 AS BIGINT)"
    s"""WITH b AS (
       |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
       |    ${lane("fim#a#")} % (CAST(length(text) AS BIGINT) + 1) AS u1,
       |    ${lane("fim#b#")} % (CAST(length(text) AS BIGINT) + 1) AS u2,
       |    ${lane("fim#m#")} % 10 < 9 AS is_fim
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, text, len, is_fim,
       |    least(u1, u2) AS lo, greatest(u1, u2) AS hi
       |  FROM b)
       |SELECT doc_id,
       |  CASE WHEN is_fim THEN 'fim' ELSE 'ar' END AS mode,
       |  CASE WHEN is_fim THEN lo ELSE len END AS n_prefix,
       |  CASE WHEN is_fim THEN hi - lo ELSE CAST(0 AS BIGINT) END AS n_middle,
       |  CASE WHEN is_fim THEN len - hi ELSE CAST(0 AS BIGINT) END AS n_suffix,
       |  md5(CASE WHEN is_fim
       |      THEN '<PRE>' || substr(text, 1, CAST(lo AS INTEGER))
       |        || '<SUF>' || substr(text, CAST(hi + 1 AS INTEGER),
       |                             CAST(len - hi AS INTEGER))
       |        || '<MID>' || substr(text, CAST(lo + 1 AS INTEGER),
       |                             CAST(hi - lo AS INTEGER))
       |      ELSE text END) AS fim_md5
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- t46_classifier_train
  /** In-engine quality-classifier TRAINING — the step t20 deliberately
    * froze: production curation pipelines (CCNet, Wenzek et al. 2020;
    * the GPT-3/DataComp filters) train the fastText-style linear scorer
    * on in-domain-vs-random samples before scoring the crawl. This
    * operator trains a linear model on hashed bag-of-words term
    * frequencies (4096 buckets, md5-62 mod — t19/t20's feature space)
    * with label y = (lang = 'en'), by THREE bounded batch-gradient
    * rounds on squared loss, then scores every document with the
    * trained weights (t20's frozen-weight kernel shape, weights now
    * learned).
    *
    * Exact-rational update discipline (p11's (1+ηx) rationale, pushed
    * one level deeper): per-doc activations fold in sorted order (t8's
    * bitwise-deterministic double reduction), residuals collapse to
    * exact 1e-4 integer units (p4's trick), so the per-FEATURE gradient
    * is a sum of LONGS — order-free and exact at any parallelism — and
    * the weight update w += η·g/(N·1e8) is one identically-spelled
    * double expression. Every number the oracle replays is either an
    * integer or a deterministic fold, so the twin matches bit for bit
    * through all three rounds.
    *
    * Scale shape: the feature frame (one row per (doc, bucket),
    * materialized once) is the only corpus-sized object; each round is
    * one doc-keyed agg (activation), one narrow residual projection, one
    * feature-keyed agg (gradient — 4096 rows out), and a 4096-row
    * weight join that AQE broadcasts. Rounds chain through materialized
    * 4096-row weight frames, so plan depth stays flat (p11's 2^rounds
    * lesson). Nothing iterative ever touches the corpus more than once
    * per round.
    */
  /** t46/t47's shared feature frame: hashed-bucket token frequencies in
    * 1e-4 integer units, one row per (doc, bucket), materialized once —
    * the only corpus-sized object either operator touches per round.
    */
  private[graft] def classifierFeats(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    import org.apache.spark.sql.expressions.Window
    // r18 reshape (guide §2.4): ONE exchange builds the whole frame.
    // repartition(doc_id) up front satisfies ClusteredDistribution for
    // the (doc_id, fid) aggregate (g15's trick), the per-doc token total
    // is a bounded window over the SAME partitioning (≤4096 rows/doc)
    // instead of a second agg + join (two more exchanges), and the label
    // y — functionally dependent on doc_id — rides the aggregation key
    // (the r17 "dl rides the term index" move), so the former per-round
    // lab join in the train loop disappears outright. The checkpoint
    // then hands every round a doc_id-partitioned frame: per-round
    // activation and gradient aggregates plan with NO exchange of their
    // own at any scale.
    docs(s, d)
      .select(col("doc_id"), (col("lang") === "en").cast("int").as("y"),
        explode(lowerTokens(col("text"))).as("token"))
      .repartition(col("doc_id"))
      .groupBy(col("doc_id"), (md5Hash62(col("token")) % lit(4096L)).as("fid"))
      .agg(count(lit(1)).as("c"), first(col("y")).as("y"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("fid"),
        floor(col("c") / col("n") * lit(10000.0) + lit(0.5)).as("x4"),
        col("y"))
      .materialize() // every round's activation AND gradient side
  }

  /** Hashed-feature domain size shared by t19/t20/t46/t47. */
  private val ClsBuckets = 4096

  /** Per-doc activation under a driver-held weight array — the
    * sorted-fold sum both training rounds and final scoring share. The
    * weight domain is the hashed-feature space (4096 buckets — driver-
    * bounded by construction, independent of corpus size), so the
    * weights ride into the plan as ONE array literal and the lookup is
    * a codegen O(1) element_at, replacing the former per-round
    * 4096-row-frame join (r17 optimization, guide §3/§5: no build side,
    * no per-round checkpoint, identical doubles). `live` replays the
    * old inner join's semantics exactly: a feature that ever missed a
    * gradient round drops its rows from every later activation.
    */
  private def classifierZ(feats: DataFrame, w: Array[Double],
      live: Array[Boolean]): DataFrame = {
    val idx = (col("fid") + 1).cast("int")
    feats.where(element_at(typedlit(live.toSeq), idx))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TextFunctions
        .sortedFoldSum(element_at(typedlit(w.toSeq), idx) * col("x4"))
        .as("zraw"))
  }

  /** The three exact-rational gradient rounds, fit on exactly the docs
    * `lab` carries (t46 passes every doc; t47 passes the 9/10 train
    * split — the gradient join restricts itself because `g = feats ⋈
    * resid` is inner on doc_id). `nd` is the matching doc count.
    * Returns the trained weights plus the liveness mask (features whose
    * fid missed any round's gradient frame — the old w ⋈ g inner join's
    * drop set). Per round the corpus is touched exactly twice (the
    * activation agg and the gradient agg); the ≤ 4096-row gradient is
    * the only thing that ever leaves the cluster, and the weight update
    * replays the old Spark expression double-for-double on the driver.
    */
  private def classifierTrainLoop(feats: DataFrame, trainFilter: Column,
      nd: Double): (Array[Double], Array[Boolean]) = {
    val eta = 0.1
    val w = Array.fill(ClsBuckets)(0.0)
    val live = Array.fill(ClsBuckets)(true)
    // round-0 liveness is ALL buckets: the old w0 (distinct fid FROM
    // feats) only ever filtered rows that carry those fids anyway, so
    // "every bucket live" keeps the identical row set
    (1 to 3).foreach { _ =>
      // y rides feats (r18), so the old lab ⋈ Z join is a projection on
      // the activation aggregate itself: same doc set (docs with ≥1 live
      // feat row ∧ the train split — zero-token docs never reach feats,
      // exactly as the old inner join dropped them), same doubles.
      val idx = (col("fid") + 1).cast("int")
      val resid = feats.where(trainFilter)
        .where(element_at(typedlit(live.toSeq), idx))
        .groupBy(col("doc_id"))
        .agg(graft.functions.TextFunctions
          .sortedFoldSum(element_at(typedlit(w.toSeq), idx) * col("x4"))
          .as("zraw"), first(col("y")).as("y"))
        .select(col("doc_id"),
          floor((col("y") - col("zraw") / lit(10000.0)) * lit(10000.0)
            + lit(0.5)).as("r4"))
      // driver-bound(stat-frame): <= 4096 hashed-feature-bucket rows
      val g = feats.join(resid, "doc_id")
        .groupBy(col("fid")).agg(sum(col("r4") * col("x4")).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var i = 0
      while (i < ClsBuckets) {
        if (live(i)) g.get(i.toLong) match {
          // the old w.join(g).crossJoin(ndF) update expression verbatim:
          // w + eta * (g.toDouble / (nd * 1e8)) — identical IEEE ops
          case Some(gv) => w(i) = w(i) + eta * (gv.toDouble / (nd * 1.0e8))
          case None => live(i) = false
        }
        i += 1
      }
    }
    (w, live)
  }

  val t46ClassifierTrain: Plan = (s, d) => {
    val feats = classifierFeats(s, d)
    // driver-bound(stat-frame): one groupless count row
    val nd = feats.agg(countDistinct(col("doc_id")).cast("double").as("nd"))
      .collect().head.getDouble(0)
    val (w, live) = classifierTrainLoop(feats, lit(true), nd)
    def zOf(): DataFrame = classifierZ(feats, w, live)
    // keep = strictly above the corpus-mean score (the CCNet-style
    // keep-the-better-half cut, self-calibrated — three damped rounds
    // rank correctly long before scores reach probability scale). The
    // compare is the integer cross-multiply zq·n > Σzq on 1e-6-unit
    // longs — exact at any summation order — executed in DECIMAL(38,0)
    // (the twin uses HUGEINT): zq reaches ~1e9-1e10, so at multi-
    // billion-doc corpora the product exceeds a Long and would WRAP
    // silently in Spark while DuckDB errors; 128-bit math keeps both
    // sides exact to ~1e38.
    val scored = docs(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("label"))
      .join(zOf(), Seq("doc_id"), "left")
      .withColumn("zq", floor(coalesce(col("zraw"), lit(0.0))
        * lit(1000000.0) + lit(0.5)).cast("long"))
      .materialize() // the mean stats AND the output rows
    val stats = scored.where(col("zraw").isNotNull)
      .agg(sum(col("zq")).as("zsum"), count(lit(1)).as("zn"))
    scored.crossJoin(stats)
      .select(col("doc_id"), col("label"),
        sround(coalesce(col("zraw"), lit(0.0)) / lit(10000.0), 6).as("score"),
        (col("zraw").isNotNull &&
          col("zq").cast("decimal(38,0)") * col("zn") >
            col("zsum").cast("decimal(38,0)")).as("keep"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: identical feature build, three unrolled gradient
    * rounds as MATERIALIZED weight CTEs (w0..w3 — each round references
    * its predecessor twice, p11's fence rule), list_sort folds for the
    * activations, integer r4·x4 gradients, and the same one-expression
    * weight update.
    */
  /** The CTE chain through the trained activations (`zf`), shared by
    * t46's oracle (trainWhere = "", fit on every doc) and t47's
    * (trainWhere restricts `lab` and the doc count to the train split)
    * — one spelling of the feature build and all three rounds.
    */
  private def classifierSqlCtes(trainWhere: String): String = {
    def zSql(wcte: String): String =
      s"""SELECT doc_id,
         |    list_aggregate(list_sort(list(w * x4)), 'sum') AS zraw
         |  FROM feats JOIN $wcte USING (fid) GROUP BY doc_id""".stripMargin
    val roundCtes = (1 to 3).map { t =>
      val prev = s"w${t - 1}"
      s"""z$t AS ($$(zzz)),
         |r$t AS (
         |  SELECT l.doc_id,
         |    CAST(floor((l.y - z.zraw / 10000.0) * 10000.0 + 0.5) AS BIGINT) AS r4
         |  FROM lab l JOIN z$t z USING (doc_id)),
         |g$t AS (
         |  SELECT fid, sum(r4 * x4) AS g
         |  FROM feats JOIN r$t USING (doc_id) GROUP BY fid),
         |w$t AS MATERIALIZED (
         |  SELECT $prev.fid,
         |    $prev.w + 0.1 * (CAST(g$t.g AS DOUBLE) / (nd.nd * 100000000.0)) AS w
         |  FROM $prev JOIN g$t USING (fid) CROSS JOIN nd)"""
        .stripMargin.replace("$(zzz)", zSql(prev))
    }.mkString(",\n")
    s"""tok AS MATERIALIZED (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> x != '')) AS token
       |  FROM documents),
       |feats AS MATERIALIZED (
       |  SELECT c.doc_id, c.fid,
       |    CAST(floor(c.c / n.n * 10000.0 + 0.5) AS BIGINT) AS x4
       |  FROM (SELECT doc_id,
       |          CAST(md5_number_lower(token) & 4611686018427387903 AS BIGINT)
       |            % 4096 AS fid,
       |          count(*) AS c
       |        FROM tok GROUP BY 1, 2) c
       |  JOIN (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1) n
       |    USING (doc_id)),
       |lab AS (SELECT doc_id, CAST(lang = 'en' AS INT) AS y
       |        FROM documents$trainWhere),
       |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd
       |       FROM feats$trainWhere),
       |w0 AS MATERIALIZED (SELECT DISTINCT fid, 0.0 AS w FROM feats),
       |$roundCtes,
       |zf AS (${zSql("w3")})""".stripMargin
  }

  val t46ClassifierTrainSql: String = {
    s"""WITH ${classifierSqlCtes("")},
       |sc AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang = 'en' AS label, z.zraw,
       |    CAST(floor(coalesce(z.zraw, 0.0) * 1000000.0 + 0.5) AS BIGINT)
       |      AS zq
       |  FROM documents d LEFT JOIN zf z USING (doc_id)),
       |st AS (SELECT CAST(sum(zq) AS BIGINT) AS zsum, count(*) AS zn
       |       FROM sc WHERE zraw IS NOT NULL)
       |SELECT doc_id, label,
       |  floor(coalesce(zraw, 0.0) / 10000.0 * 1000000.0 + 0.5) / 1000000.0
       |    AS score,
       |  (zraw IS NOT NULL
       |    AND CAST(zq AS HUGEINT) * zn > CAST(zsum AS HUGEINT)) AS keep
       |FROM sc CROSS JOIN st ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ t47_heldout_eval
  /** Held-out evaluation of the t46 quality classifier — t40's
    * held-out discipline applied to the trained scorer: the weights are
    * fit on the 9/10 train split only (doc_id % 10 != 0), EVERY doc is
    * scored with the same frozen activation spelling, and the report is
    * the per-(split, label) score envelope — n_docs, min and max score.
    * A trained filter whose quality is only measured on its own
    * training corpus is the classic curation foot-gun; this is the
    * measurement that licenses t46's keep-cut before a production
    * corpus commits to it. Ranking separation — min(in-domain) above
    * max(junk) on the HELD-OUT split — is the contract (CurationSpec
    * asserts it on the planted fixture); min/max envelopes rather than
    * means keep the output free of summation-order float hazards.
    *
    * Scale shape: identical to t46 (the train-split restriction rides
    * the existing gradient join), plus one 4-row aggregate.
    */
  val t47HeldoutEval: Plan = (s, d) => {
    val feats = classifierFeats(s, d)
    val isHeld = col("doc_id") % 10 === 0
    // driver-bound(stat-frame): one groupless count row
    val nd = feats.where(!isHeld)
      .agg(countDistinct(col("doc_id")).cast("double").as("nd"))
      .collect().head.getDouble(0)
    val (w, live) = classifierTrainLoop(feats, !isHeld, nd)
    docs(s, d)
      .select(col("doc_id"), (col("lang") === "en").as("label"),
        when(isHeld, lit("heldout")).otherwise(lit("train")).as("split"))
      .join(classifierZ(feats, w, live), Seq("doc_id"), "left")
      .withColumn("score",
        sround(coalesce(col("zraw"), lit(0.0)) / lit(10000.0), 6))
      .groupBy(col("split"), col("label"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("split", "label")
  }

  /** Oracle: the SAME CTE chain as t46's twin with the train split in
    * `lab`/`nd`, then the envelope aggregate.
    */
  val t47HeldoutEvalSql: String =
    s"""WITH ${classifierSqlCtes(" WHERE doc_id % 10 != 0")},
       |sc AS (
       |  SELECT d.doc_id, d.lang = 'en' AS label,
       |    CASE WHEN d.doc_id % 10 = 0 THEN 'heldout' ELSE 'train' END
       |      AS split,
       |    floor(coalesce(z.zraw, 0.0) / 10000.0 * 1000000.0 + 0.5)
       |      / 1000000.0 AS score
       |  FROM documents d LEFT JOIN zf z USING (doc_id))
       |SELECT split, label, CAST(count(*) AS BIGINT) AS n_docs,
       |  min(score) AS min_score, max(score) AS max_score
       |FROM sc GROUP BY split, label ORDER BY split, label""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("t1_text_stats", t1TextStats, t1TextStatsSql),
    Query("t2_quality", t2Quality, t2QualitySql),
    Query("t3_lang_id", t3LangId, t3LangIdSql),
    Query("t4_fingerprint", t4Fingerprint, t4FingerprintSql),
    Query("t5_vocab", t5Vocab, t5VocabSql),
    Query("t6_winnowing", t6Winnowing, t6WinnowingSql),
    Query("t7_chunking", t7Chunking, t7ChunkingSql),
    Query("t8_char_entropy", t8CharEntropy, t8CharEntropySql),
    Query("t9_contamination", t9Contamination, t9ContaminationSql),
    Query("t10_tfidf", t10Tfidf, t10TfidfSql),
    Query("t11_packing", t11Packing, t11PackingSql),
    Query("t12_redact", t12Redact, t12RedactSql),
    Query("t13_repetition", t13Repetition, t13RepetitionSql),
    Query("t14_bloom_contamination", t14BloomContamination, t14BloomContaminationSql),
    Query("t15_global_packing", t15GlobalPacking, t15GlobalPackingSql),
    Query("t16_corpus_mix", t16CorpusMix, t16CorpusMixSql),
    Query("t17_lm_score", t17LmScore, t17LmScoreSql),
    Query("t18_heavy_hitters", t18HeavyHitters, t18HeavyHittersSql),
    Query("t19_dsir_importance", t19DsirImportance, t19DsirImportanceSql),
    Query("t20_quality_classifier", t20QualityClassifier, t20QualityClassifierSql),
    Query("t21_bpe_merges", t21BpeMerges, t21BpeMergesSql),
    Query("t22_langid_audit", t22LangidAudit, t22LangidAuditSql),
    Query("t23_novelty", t23Novelty, t23NoveltySql),
    Query("t24_code_switch", t24CodeSwitch, t24CodeSwitchSql),
    Query("t25_bpe_encode", t25BpeEncode, t25BpeEncodeSql),
    Query("t26_bm25", t26Bm25, t26Bm25Sql),
    Query("t27_ccnet_buckets", t27CcnetBuckets, t27CcnetBucketsSql),
    Query("t28_fertility", t28Fertility, t28FertilitySql),
    Query("t29_code_detect", t29CodeDetect, t29CodeDetectSql),
    Query("t30_corpus_drift", t30CorpusDrift, t30CorpusDriftSql),
    Query("t31_sft_mask", t31SftMask, t31SftMaskSql),
    Query("t32_preference_pairs", t32PreferencePairs, t32PreferencePairsSql),
    Query("t33_rejection_sampling", t33RejectionSampling, t33RejectionSamplingSql),
    Query("t34_span_decontam", t34SpanDecontam, t34SpanDecontamSql),
    Query("t35_gopher_rules", t35GopherRules, t35GopherRulesSql),
    Query("t36_moore_lewis", t36MooreLewis, t36MooreLewisSql),
    Query("t37_zipf_audit", t37ZipfAudit, t37ZipfAuditSql),
    Query("t38_dup_ngram_chars", t38DupNgramChars, t38DupNgramCharsSql),
    Query("t39_filter_funnel", t39FilterFunnel, t39FilterFunnelSql),
    Query("t40_heldout_ppl", t40HeldoutPpl, t40HeldoutPplSql),
    Query("t41_bpe_train64", t41BpeTrain64, t41BpeTrain64Sql),
    Query("t42_bpe_encode64", t42BpeEncode64, t42BpeEncode64Sql),
    Query("t43_kn_lm_score", t43KnLmScore, t43KnLmScoreSql),
    Query("t44_blocklist", t44Blocklist, t44BlocklistSql),
    Query("t45_fim_prep", t45FimPrep, t45FimPrepSql),
    Query("t46_classifier_train", t46ClassifierTrain, t46ClassifierTrainSql),
    Query("t47_heldout_eval", t47HeldoutEval, t47HeldoutEvalSql))

  val queries: Map[String, Plan] = Query.plans(registry)
}
