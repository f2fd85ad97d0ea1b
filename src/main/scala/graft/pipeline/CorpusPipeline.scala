package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.operators.{Dedup, KeyedRank}
import graft.functions.TextFunctions.sround

/** End-to-end training-corpus preparation — the composition the individual
  * operators exist FOR, as one orchestrated flow:
  *
  *   raw documents
  *     → quality filter      (t2's score >= 0.5 — drop low-signal docs)
  *     → exact dedup         (d1's canonical-md5 groups, keep min doc_id)
  *     → near-dup resolution (d2 pairs on the SURVIVORS → connected
  *                            components → keep each cluster's canonical)
  *     → chunking            (t7's 160/120 sliding windows → model-ready units)
  *
  * The driver-facing result is the per-stage funnel (docs in/out) — the
  * numbers a data-curation run reports — hash-checked against a DuckDB
  * oracle that replays the entire pipeline in SQL. Stage order matters and
  * is part of the contract: dedup after quality (don't waste pair
  * generation on discards), near-dup on exact-dedup survivors (exact
  * copies would saturate the pair graph).
  */
object CorpusPipeline {

  private val QualityThreshold = 0.5

  private def qualityScore: Column = {
    val nTok = col("ts.n_tokens")
    val stop = col("ts.n_stop")
    least(nTok / lit(100.0), lit(1.0)) * lit(0.5) +
      (stop / nullif(nTok, lit(0L))) * lit(0.3) +
      (lit(1.0) - col("digit") / nullif(col("len_c"), lit(0L))) * lit(0.2)
  }

  /** The shared front end — raw → quality gate → exact dedup — used by
    * p1 (which continues into near-dup components) and p2 (which
    * continues into decontamination + packing).
    */
  /** The raw input frame of the funnel (the immutable pipeline input). */
  def rawDocs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))

  /** Stage function: quality survivors of an arbitrary raw frame. */
  def qualityStage(raw: DataFrame): DataFrame = {
    val scored = raw.select(col("doc_id"),
        length(col("text")).cast("long").as("len_c"),
        graft.expressions.SetSketchExpressions
          .tokenStats(col("text"), graft.operators.TextAnalysis.stopWords).as("ts"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("digit"))
      .select(col("doc_id"), qualityScore.as("q"))
    raw.join(scored.filter(col("q") >= QualityThreshold)
      .select(col("doc_id")), "doc_id")
  }

  /** Stage function: exact-dedup survivors (keep min doc_id per
    * canonical-md5 fingerprint).
    *
    * Winner selection is a map-side-combinable `groupBy(fp).min(doc_id)`
    * + semi-join back, NOT `min.over(Window.partitionBy(fp))`: a window
    * routes every copy of a hot fingerprint (the million-fold boilerplate
    * page exact dedup exists to kill) into one task, while the hash
    * aggregate collapses hot keys to one row per mapper and the
    * (fp, doc_id) equi-join is AQE-skew-splittable.
    */
  def exactDedupStage(df: DataFrame): DataFrame = {
    val fp = df.withColumn("fp",
      md5(graft.functions.TextFunctions.normText(col("text"))))
    val winners = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    fp.join(winners, Seq("fp", "doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
  }

  def frontEnd(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val raw = rawDocs(s, d)
    // each stage is consumed at least twice (its own count + the next
    // stage's input); checkpoint so the funnel computes every stage once
    val qualityM = qualityStage(raw).materialize()
    val keepers = exactDedupStage(qualityM).materialize()
    Seq("raw" -> raw, "quality" -> qualityM, "exact_dedup" -> keepers)
  }

  /** Stage function: drop every training doc sharing a word-8gram with
    * ANY raw holdout doc (t9's audit applied as a filter; the holdout
    * grams come from the RAW corpus so filtered/deduped eval docs still
    * protect).
    */
  def deconStage(train: DataFrame, raw: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    def grams(df: DataFrame): DataFrame = df
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 8).as("ngrams"))
      .select(col("doc_id"),
        explode(graft.expressions.PortableHashExpressions
          .md5HashArray62(col("ngrams"), distinctSorted = true)).as("g"))
    val holdoutGrams = grams(raw.filter(col("doc_id") % 20 === 0))
      .select(col("g")).distinct()
    val contaminated = grams(train).join(holdoutGrams, "g")
      .select(col("doc_id")).distinct()
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The survivor frame after each stage, keyed by stage name (insertion
    * order = pipeline order). Exposed for tests; each frame carries the
    * full document columns so any stage output is directly usable.
    */
  def stages(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    val front = frontEnd(s, d)
    val keepers = front.last._2
    val comps = Dedup.connectedComponents(
      keepers.select(col("doc_id")), Dedup.ngramPairs(keepers))
    val canon = keepers.join(
      comps.filter(col("doc_id") === col("cluster_id")).select(col("doc_id")),
      "doc_id").materialize()
    front :+ ("neardup_dedup" -> canon)
  }

  /** Chunk the final survivors into 160/120 sliding windows. */
  def chunks(survivors: DataFrame): DataFrame =
    survivors.select(col("doc_id"),
      explode(sequence(lit(1),
        greatest(length(col("text")) - 159, lit(1)), lit(120))).as("start"),
      col("text"))
      .select(col("doc_id"), col("start"),
        md5(col("text").substr(col("start"), lit(160))).as("chunk_md5"))

  /** Driver query: the pipeline funnel — (stage, docs_in, docs_out). */
  def p1CorpusPipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val st = stages(s, d)
    // raw is a bare scan (Dataset.count prunes it to a parquet rowcount);
    // every later stage is checkpointed, where cheapCount reads the
    // blocks in one RDD job instead of a two-stage AQE aggregate (r18 §5)
    val counts = st.map { case (name, df) =>
      name -> (if (name == "raw") df.count() else cheapCount(df)) }
    val nChunks = chunks(st.last._2).count()
    val funnel = counts.sliding(2).collect {
      case Seq((_, in), (stage, out)) => (stage, in, out)
    }.toSeq :+ (("chunking", counts.last._2, nChunks))
    funnel.toDF("stage", "docs_in", "docs_out").orderBy("stage")
  }

  val p1CorpusPipelineSql: String =
    """WITH RECURSIVE
      |f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents),
      |q AS (
      |  SELECT d.doc_id, d.text, d.source, d.n_chars FROM documents d JOIN f USING (doc_id)
      |  WHERE least(n_tok / 100.0, 1.0) * 0.5 + (stop / nullif(n_tok, 0)) * 0.3
      |        + (1.0 - digit / nullif(len_c, 0)) * 0.2 >= 0.5),
      |fp AS (
      |  SELECT *, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint FROM q),
      |ex AS (
      |  SELECT doc_id, text, source, n_chars FROM fp
      |  WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY fingerprint)),
      |""".stripMargin +
    graft.operators.Dedup.bandCandSql("ex") + ",\n" +
    graft.operators.Dedup.charVerifySql("ex") + ",\n" +
    """pairs AS (
      |  SELECT doc_a, doc_b FROM cj
      |  WHERE inter / CAST(n_a + n_b - inter AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT doc_a AS u, doc_b AS v FROM pairs
      |  UNION SELECT doc_b AS u, doc_a AS v FROM pairs),
      |reach AS (
      |  SELECT u, v FROM edges
      |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |canon AS (
      |  SELECT e.doc_id, e.text FROM ex e LEFT JOIN reach r ON r.u = e.doc_id
      |  GROUP BY e.doc_id, e.text
      |  HAVING e.doc_id = least(e.doc_id, coalesce(min(r.v), e.doc_id))),
      |chk AS (
      |  SELECT count(*) AS n FROM (
      |    SELECT unnest(generate_series(1, greatest(length(text) - 159, 1), 120))
      |    FROM canon))
      |SELECT 'quality' AS stage,
      |  (SELECT count(*) FROM documents) AS docs_in,
      |  (SELECT count(*) FROM q) AS docs_out
      |UNION ALL SELECT 'exact_dedup',
      |  (SELECT count(*) FROM q), (SELECT count(*) FROM ex)
      |UNION ALL SELECT 'neardup_dedup',
      |  (SELECT count(*) FROM ex), (SELECT count(*) FROM canon)
      |UNION ALL SELECT 'chunking',
      |  (SELECT count(*) FROM canon), (SELECT n FROM chk)
      |ORDER BY stage""".stripMargin

  // ------------------------------------------------ p2_training_prep
  /** The full LLM TRAINING-DATA preparation flow, composed end to end —
    * what the individual curation operators exist for:
    *
    *   raw documents
    *     → quality filter      (t2's blend >= 0.5)
    *     → exact dedup         (d1's canonical-md5, keep min doc_id)
    *     → holdout split       (doc_id % 20 == 0 held out for eval —
    *                            NEVER trains)
    *     → decontamination     (drop any training doc sharing a word-8gram
    *                            with ANY raw holdout doc — t9's audit
    *                            applied as a filter, against the full raw
    *                            holdout so filtered/deduped eval docs
    *                            still protect)
    *     → sequence packing    (t15's strict global prefix-sum packing)
    *
    * Output is the per-stage funnel; the final row reports packed
    * training units. Distributed shape: the decontamination is a
    * gram-keyed left-anti join (both sides distinct on the gram — O(1)
    * state per key), everything else inherits the component operators'
    * audited shapes.
    */
  /** p2's materialized frames: the funnel rows, the decontaminated
    * survivor set (full doc columns), and the per-document pack
    * assignment — exactly what the training-set exporter ships.
    */
  def p2Frames(s: SparkSession, d: String)
      : (Seq[(String, Long, Long)], DataFrame, DataFrame) = {
    import graft.functions.TextFunctions._
    val front = frontEnd(s, d)
    val raw = front.head._2
    val keepers = front.last._2

    val train = keepers.filter(col("doc_id") % 20 =!= 0).materialize()
    // t9/t23's fused-kernel shape inside deconStage: per-doc-distinct
    // md5-62 long lanes, no string gram rows, no cross-row distinct shuffle
    val decon = deconStage(train, raw).materialize()

    val packedDocs = graft.operators.TextAnalysis.globalPackingDocs(
      decon.select(col("doc_id"),
        size(lowerTokens(col("text"))).cast("long").as("n_tok")),
      budget = PackBudget).materialize()

    val counts = front.map { case (name, df) =>
      name -> (if (name == "raw") df.count() else cheapCount(df)) } ++
      Seq("holdout_split" -> cheapCount(train),
        "decontaminate" -> cheapCount(decon))
    val funnel = counts.sliding(2).collect {
      case Seq((_, in), (stage, out)) => (stage, in, out)
    }.toSeq :+ (("packing", counts.last._2,
      packedDocs.select(col("pack_id")).distinct().count()))
    (funnel, decon, packedDocs)
  }

  /** Packing budget (tokens per training unit) shared by p2 and Export. */
  val PackBudget = 256L

  def p2TrainingPrep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (funnel, _, _) = p2Frames(s, d)
    funnel.toDF("stage", "docs_in", "docs_out").orderBy("stage")
  }

  /** Full-pipeline SQL replay for the oracle, composed from the component
    * oracles' fragments (quality/fp CTEs from p1, the gram semi-join from
    * t9, the global-window packing from t15).
    */
  val p2TrainingPrepSql: String =
    raw"""WITH f AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents),
      |q AS (
      |  SELECT d.doc_id, d.text FROM documents d JOIN f USING (doc_id)
      |  WHERE least(n_tok / 100.0, 1.0) * 0.5 + (stop / nullif(n_tok, 0)) * 0.3
      |        + (1.0 - digit / nullif(len_c, 0)) * 0.2 >= 0.5),
      |fp AS (
      |  SELECT *, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint FROM q),
      |ex AS (
      |  SELECT doc_id, text FROM fp
      |  WHERE doc_id IN (SELECT min(doc_id) FROM fp GROUP BY fingerprint)),
      |train AS (SELECT doc_id, text FROM ex WHERE doc_id % 20 != 0),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '') AS t
      |  FROM documents),
      |hold_g AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |      list_transform(range(1, len(t) - 6),
      |        i -> array_to_string(t[i:i+7], ' ')),
      |      gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |      AS g
      |  FROM toks WHERE len(t) >= 8 AND doc_id % 20 = 0),
      |train_g AS (
      |  SELECT DISTINCT tk.doc_id,
      |    unnest(list_distinct(list_transform(
      |      list_transform(range(1, len(tk.t) - 6),
      |        i -> array_to_string(tk.t[i:i+7], ' ')),
      |      gm -> CAST(md5_number_lower(gm) & 4611686018427387903 AS BIGINT))))
      |      AS g
      |  FROM toks tk JOIN train tr USING (doc_id) WHERE len(tk.t) >= 8),
      |dirty AS (SELECT DISTINCT doc_id FROM train_g WHERE g IN (SELECT g FROM hold_g)),
      |decon AS (
      |  SELECT tr.doc_id,
      |    CAST(len(list_filter(regexp_split_to_array(lower(tr.text), '\s+'),
      |      x -> x != '')) AS BIGINT) AS n_tok
      |  FROM train tr WHERE tr.doc_id NOT IN (SELECT doc_id FROM dirty)),
      |packs AS (
      |  SELECT count(DISTINCT pid) AS n FROM (
      |    SELECT CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${PackBudget}) AS BIGINT) AS pid
      |    FROM decon))
      |SELECT 'quality' AS stage,
      |  (SELECT count(*) FROM documents) AS docs_in,
      |  (SELECT count(*) FROM q) AS docs_out
      |UNION ALL SELECT 'exact_dedup',
      |  (SELECT count(*) FROM q), (SELECT count(*) FROM ex)
      |UNION ALL SELECT 'holdout_split',
      |  (SELECT count(*) FROM ex), (SELECT count(*) FROM train)
      |UNION ALL SELECT 'decontaminate',
      |  (SELECT count(*) FROM train), (SELECT count(*) FROM decon)
      |UNION ALL SELECT 'packing',
      |  (SELECT count(*) FROM decon), (SELECT n FROM packs)
      |ORDER BY stage""".stripMargin

  // ----------------------------------------------------- p3_dataset_card
  /** Dataset card — the per-source datasheet every released corpus ships
    * (composition, volume, duplication, quality): for each source,
    * document and token volume, exact-duplicate rate (d1's canonical
    * fingerprint), mean t2 quality, and the language profile (distinct
    * langs + dominant lang). One grouped pass over per-doc metrics the
    * engine already defines — the governance report stitched from
    * audited operators, not new math.
    *
    * Scale shape: everything is a narrow per-doc projection followed by
    * ONE source-keyed agg (sources are few; the collect_list feeding the
    * sorted quality fold is per-source card state, bounded by docs per
    * source — at 100 TB swap the exact mean's fold for streaming sum
    * by pre-rounding, or sample per source; the card is a report, not a
    * hot path). Dominant lang is a tiny per-source window over
    * (source × lang) counts.
    */
  def p3DatasetCard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.load(s, d, "documents")
    val quality = graft.operators.TextAnalysis.t2Quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val base = docs.select(col("doc_id"), col("source"), col("lang"),
      md5(graft.functions.TextFunctions.normText(col("text"))).as("fp"))
      .join(quality, "doc_id")
      .materialize() // feeds the card agg and the lang profile
    val card = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("fp")).as("n_distinct"),
        (aggregate(array_sort(collect_list(col("quality_score"))), lit(0.0),
          (acc, x) => acc + x) / count(lit(1))).as("q_raw"))
    val langRank = Window.partitionBy(col("source"))
      .orderBy(col("lang_cnt").desc, col("lang").asc)
    val langs = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("lang_cnt"))
      .withColumn("rnk", row_number().over(langRank))
    val profile = langs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        max(when(col("rnk") === 1, col("lang"))).as("top_lang"))
    card.join(profile, "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        sround(lit(1.0) - col("n_distinct") / col("n_docs").cast("double"), 4)
          .as("dup_rate"),
        sround(col("q_raw"), 4).as("mean_quality"),
        col("n_langs"), col("top_lang"))
      .orderBy("source")
  }

  val p3DatasetCardSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents),
      |per_doc AS (
      |  SELECT d.doc_id, d.source, d.lang,
      |    md5(trim(regexp_replace(lower(d.text), '\s+', ' ', 'g'))) AS fp,
      |    q.n_tok,
      |    floor((least(q.n_tok / 100.0, 1.0) * 0.5 + (q.stop / nullif(q.n_tok, 0)) * 0.3
      |           + (1.0 - q.digit / nullif(q.len_c, 0)) * 0.2) * 10000.0 + 0.5) / 10000.0
      |      AS quality_score
      |  FROM documents d JOIN q USING (doc_id)),
      |card AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      |    count(DISTINCT fp) AS n_distinct,
      |    list_aggregate(list_sort(list(quality_score)), 'sum') / count(*) AS q_raw
      |  FROM per_doc GROUP BY source),
      |lc AS (
      |  SELECT source, lang, count(*) AS lang_cnt,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY count(*) DESC, lang ASC) AS rnk
      |  FROM per_doc GROUP BY source, lang),
      |profile AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_langs,
      |    max(CASE WHEN rnk = 1 THEN lang END) AS top_lang
      |  FROM lc GROUP BY source)
      |SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs, c.total_tokens,
      |  floor((1.0 - c.n_distinct / CAST(c.n_docs AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS dup_rate,
      |  floor(c.q_raw * 10000.0 + 0.5) / 10000.0 AS mean_quality,
      |  p.n_langs, p.top_lang
      |FROM card c JOIN profile p USING (source)
      |ORDER BY c.source""".stripMargin

  // ------------------------------------------------- p4_mixture_schedule
  /** Multi-epoch data-mixture schedule — the plan a training run consumes:
    * per (epoch, source), the sampling weight and token quota, ANNEALED
    * from the corpus's natural composition (epoch 1) toward a
    * quality-reweighted target (final epoch) — the standard mid-training
    * anneal: early epochs match the data, late epochs overweight clean
    * sources. The target weight is availability x quality:
    * mass_s = n_tokens_s x mean_quality_s (t2's audited score), so a
    * source twice as clean is sampled twice as hard per token.
    *
    * Per (epoch, source) the schedule reports the interpolated mix share,
    * the token quota against a budget of half the corpus per epoch, and
    * the REPEAT factor (quota / available tokens) — the data-constrained-
    * scaling signal that says when a source starts repeating.
    *
    * Scale shape: ONE corpus scan into a source-keyed agg (map-side
    * partial, sources are few), then pure arithmetic on a sources x
    * epochs frame — the schedule costs the same at 100 TB as at 1 GB
    * beyond the scan. Numeric discipline: per-doc quality collapses to
    * exact 1e-4 integer units (q4), so per-source sums are order-free
    * longs (no sorted fold needed); mass = n_tokens x mq4 stays a long
    * (< 2^63 while n_tokens < 9e14 at mq4 <= 1e4 — loud to revisit at
    * yotta-scale); every double is a single identically-spelled division.
    */
  def p4MixtureSchedule(s: SparkSession, d: String): DataFrame = {
    val nEpochs = 4
    val quality = graft.operators.TextAnalysis.t2Quality(s, d)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val src = graft.Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
    val perSrc = src.join(quality, "doc_id")
      .select(col("source"), col("n_tokens"),
        floor(col("quality_score") * 10000.0 + lit(0.5)).cast("long").as("q4"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("q4")).as("qsum4"))
      .withColumn("mq4",
        floor(col("qsum4") / col("n_docs").cast("double") + lit(0.5))
          .cast("long"))
      .withColumn("mass", col("n_tokens") * col("mq4"))
    val totals = perSrc.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("mass")).as("tot_mass"))
    perSrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens") / col("tot_tokens").cast("double")).as("nat"),
        (col("mass") / col("tot_mass").cast("double")).as("tgt"),
        floor(col("tot_tokens") / lit(2.0)).cast("long").as("budget"))
      .withColumn("epoch_i", explode(sequence(lit(1), lit(nEpochs))))
      .withColumn("epoch", col("epoch_i").cast("long"))
      .withColumn("mix",
        col("nat") + (col("tgt") - col("nat"))
          * ((col("epoch") - lit(1)) / lit((nEpochs - 1).toDouble)))
      .select(col("epoch"), col("source"),
        sround(col("nat"), 6).as("natural_share"),
        sround(col("tgt"), 6).as("target_share"),
        sround(col("mix"), 6).as("mix_share"),
        floor(col("mix") * col("budget").cast("double")).cast("long")
          .as("token_quota"),
        sround(floor(col("mix") * col("budget").cast("double"))
          / col("n_tokens").cast("double"), 4).as("repeat_factor"))
      .orderBy("epoch", "source")
  }

  /** Oracle: t2's quality CTEs + the identical integer-mass schedule. */
  val p4MixtureScheduleSql: String =
    """WITH q AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS len_c,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> t != '')) AS BIGINT) AS n_tok,
      |    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS digit,
      |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      t -> t IN ('the','a','of','and','to','is','in','that','it','for'))) AS BIGINT) AS stop
      |  FROM documents),
      |per_doc AS (
      |  SELECT d.source, q.n_tok,
      |    CAST(floor(
      |      floor((least(q.n_tok / 100.0, 1.0) * 0.5 + (q.stop / nullif(q.n_tok, 0)) * 0.3
      |             + (1.0 - q.digit / nullif(q.len_c, 0)) * 0.2) * 10000.0 + 0.5) / 10000.0
      |      * 10000.0 + 0.5) AS BIGINT) AS q4
      |  FROM documents d JOIN q USING (doc_id)),
      |per_src AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(sum(q4) AS BIGINT) AS qsum4
      |  FROM per_doc GROUP BY source),
      |massed AS (
      |  SELECT source, n_docs, n_tokens,
      |    n_tokens * CAST(floor(qsum4 / CAST(n_docs AS DOUBLE) + 0.5) AS BIGINT) AS mass
      |  FROM per_src),
      |totals AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
      |    CAST(sum(mass) AS BIGINT) AS tot_mass FROM massed),
      |sched AS (
      |  SELECT m.source, m.n_tokens,
      |    m.n_tokens / CAST(t.tot_tokens AS DOUBLE) AS nat,
      |    m.mass / CAST(t.tot_mass AS DOUBLE) AS tgt,
      |    CAST(floor(t.tot_tokens / 2.0) AS BIGINT) AS budget
      |  FROM massed m CROSS JOIN totals t),
      |epochs AS (SELECT unnest(range(1, 5)) AS epoch),
      |mixed AS (
      |  SELECT e.epoch, s.source, s.n_tokens, s.budget, s.nat, s.tgt,
      |    s.nat + (s.tgt - s.nat) * ((e.epoch - 1) / 3.0) AS mix
      |  FROM sched s CROSS JOIN epochs e)
      |SELECT CAST(epoch AS BIGINT) AS epoch, source,
      |  floor(nat * 1000000.0 + 0.5) / 1000000.0 AS natural_share,
      |  floor(tgt * 1000000.0 + 0.5) / 1000000.0 AS target_share,
      |  floor(mix * 1000000.0 + 0.5) / 1000000.0 AS mix_share,
      |  CAST(floor(mix * CAST(budget AS DOUBLE)) AS BIGINT) AS token_quota,
      |  floor(floor(mix * CAST(budget AS DOUBLE)) / CAST(n_tokens AS DOUBLE)
      |    * 10000.0 + 0.5) / 10000.0 AS repeat_factor
      |FROM mixed ORDER BY epoch, source""".stripMargin

  // ----------------------------------------------- p5_epoch_materialize
  /** The top 6 bits of a non-negative 62-bit hash: 64 contiguous,
    * uniformly filled shards of the hash order, for
    * [[graft.operators.KeyedRank.prefixBefore]].
    */
  private def topBits(h: Column): Column = shiftright(h, 62 - 6).cast("int")

  /** Materialize the FINAL epoch of p4's schedule — the step that turns
    * the mixture plan into an actual selection: per source, take
    * documents in md5-hash order (q29's deterministic sampling
    * discipline) until the epoch's token quota fills, and report the
    * realized fill. Sources whose quality-reweighted quota exceeds their
    * supply saturate below 1.0 fill — exactly the repeat requirement p4
    * flags, now measured against real documents.
    *
    * The interesting part at 100 TB is the PER-SOURCE token prefix sum:
    * a naive `Window.partitionBy(source)` funnels each source's slice of
    * the corpus through ONE task (sources are few and huge). Here it is
    * [[graft.operators.KeyedRank.prefixBefore]] keyed by source, sharded
    * by the hash's top 6 bits (64 contiguous ranges — uniform because md5
    * is). Selection is then a narrow filter: prefix-before < quota
    * (greedy fill, last doc may overshoot — the standard packer rule).
    */
  def p5EpochMaterialize(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val quota = p4MixtureSchedule(s, d)
      .filter(col("epoch") === 4)
      .select(col("source"), col("token_quota"))
    val base = graft.Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.functions.TextFunctions.lowerTokens(col("text")))
          .cast("long").as("n_tok"),
        md5Hash62(col("doc_id").cast("string")).as("h"))
    val agged = KeyedRank.prefixBefore(base, Some("source"), topBits(col("h")),
        Seq(col("h"), col("doc_id")), col("n_tok"))
      .join(broadcast(quota), "source")
      .filter(col("before") < col("token_quota"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_selected"),
        sum(col("n_tok")).as("tokens_selected"))
    quota.join(agged, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_docs_selected"), lit(0L)).as("n_docs_selected"),
        coalesce(col("tokens_selected"), lit(0L)).as("tokens_selected"),
        col("token_quota"),
        when(col("token_quota") === 0, lit(null).cast("double"))
          .otherwise(sround(
            coalesce(col("tokens_selected"), lit(0L))
              / col("token_quota").cast("double"), 4)).as("fill_ratio"))
      .orderBy("source")
  }

  /** Oracle: p4's CTEs for the quota + ONE per-source window (affordable
    * at oracle scale — exactly the plan the Spark side must avoid).
    */
  val p5EpochMaterializeSql: String =
    s"""WITH p4 AS ($p4MixtureScheduleSql),
       |q AS (SELECT source, token_quota FROM p4 WHERE epoch = 4),
       |b AS (
       |  SELECT doc_id, source,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> x != '')) AS BIGINT) AS n_tok,
       |    CAST(md5_number_lower(CAST(doc_id AS VARCHAR))
       |      & 4611686018427387903 AS BIGINT) AS h
       |  FROM documents),
       |pref AS (
       |  SELECT source, doc_id, n_tok, h,
       |    coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
       |  FROM b),
       |sel AS (
       |  SELECT p.source, p.n_tok FROM pref p JOIN q USING (source)
       |  WHERE p.bef < q.token_quota),
       |agg AS (
       |  SELECT source, count(*) AS n_docs_selected,
       |    CAST(sum(n_tok) AS BIGINT) AS tokens_selected
       |  FROM sel GROUP BY source)
       |SELECT q.source,
       |  CAST(coalesce(a.n_docs_selected, 0) AS BIGINT) AS n_docs_selected,
       |  CAST(coalesce(a.tokens_selected, 0) AS BIGINT) AS tokens_selected,
       |  q.token_quota,
       |  CASE WHEN q.token_quota = 0 THEN NULL
       |       ELSE floor(coalesce(a.tokens_selected, 0)
       |         / CAST(q.token_quota AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |  END AS fill_ratio
       |FROM q LEFT JOIN agg a USING (source)
       |ORDER BY q.source""".stripMargin

  // ------------------------------------------------- p6_epoch_shuffle
  /** Deterministic EPOCH SHUFFLE — the "shuffle then shard" step every
    * training run performs between epochs: each document's position for
    * epoch e is its rank in md5_62(e || '#' || doc_id) order (a seeded
    * permutation both engines replay), and positions map to fixed-size
    * shards of 256 docs. Output is the shard manifest (count, position
    * range, order-independent content signature — mm8's discipline), the
    * artifact a data loader consumes.
    *
    * The 100 TB point: the naive formulation is row_number() over ONE
    * global hash order — a single-partition window (or a full range
    * exchange + zipWithIndex dance). Here the position is
    * [[graft.operators.KeyedRank.prefixBefore]] with no key and v = 1:
    * the hash's top 6 bits shard the permutation into 64 contiguous
    * ranges, each counts in parallel, and 64 offsets rebuild the exact
    * global position.
    * Shuffling 100 TB costs one narrow projection + one bounded-window
    * pass, not a global sort.
    */
  val DocsPerShard = 256L

  def p6EpochShuffle(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val epoch = 1
    val base = graft.Tables.load(s, d, "documents")
      .select(col("doc_id"),
        md5Hash62(concat(lit(s"$epoch#"), col("doc_id").cast("string")))
          .as("h"),
        md5Hash62(col("text")).bitwiseAND(lit(1099511627775L)).as("sig"))
    KeyedRank.prefixBefore(base, None, topBits(col("h")),
        Seq(col("h"), col("doc_id")), lit(1L))
      .select(col("doc_id"), col("sig"),
        col("before").as("pos"),
        (col("before") / lit(DocsPerShard)).cast("long").as("shard_id"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos"),
        sum(col("sig")).as("signature"))
      .orderBy("shard_id")
  }

  /** Oracle: the permutation as ONE global window (oracle-affordable;
    * the Spark side must not), same masked-md5 signature sum.
    */
  val p6EpochShuffleSql: String =
    raw"""WITH b AS (
      |  SELECT doc_id,
      |    CAST(md5_number_lower('1#' || CAST(doc_id AS VARCHAR))
      |      & 4611686018427387903 AS BIGINT) AS h,
      |    CAST(md5_number_lower(text) & 1099511627775 AS BIGINT) AS sig
      |  FROM documents),
      |ranked AS (
      |  SELECT doc_id, sig,
      |    CAST(row_number() OVER (ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
      |  FROM b)
      |SELECT CAST(floor(pos / ${DocsPerShard}) AS BIGINT) AS shard_id,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  min(pos) AS first_pos, max(pos) AS last_pos,
      |  CAST(sum(sig) AS BIGINT) AS signature
      |FROM ranked GROUP BY 1 ORDER BY shard_id""".stripMargin

  // ------------------------------------------------- p7_sft_packing
  /** SFT batch assembly: t31's templated dialogues packed into
    * fixed-budget training units (t15's strict global prefix-sum
    * packing, the same PackBudget as p2), rolled up per pack with LOSS
    * DENSITY — docs, total tokens, loss tokens, loss share. The per-pack
    * share is what a trainer needs to weight batches (a pack of
    * user-heavy dialogues teaches less per step than its token count
    * suggests); the pretraining path (p2) has no mask, so this is the
    * post-training twin of its packing stage. Shapes inherited: one
    * narrow t31 pass + t15's globalPackingDocs (a sharded prefix sum) +
    * a pack-keyed agg.
    */
  def p7SftPacking(s: SparkSession, d: String): DataFrame = {
    val perDoc = graft.operators.TextAnalysis.t31SftMask(s, d)
      .select(col("doc_id"), col("n_tokens").as("n_tok"),
        col("n_loss_tokens")).materialize()
    val packed = graft.operators.TextAnalysis.globalPackingDocs(
      perDoc.select(col("doc_id"), col("n_tok")), budget = PackBudget)
    packed.join(perDoc.select(col("doc_id"), col("n_loss_tokens")), "doc_id")
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_loss_tokens")).as("n_loss_tokens"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        col("n_loss_tokens"),
        sround(col("n_loss_tokens") / col("n_tokens").cast("double"), 4)
          .as("loss_share"))
      .orderBy("pack_id")
  }

  /** Oracle: t31's per-doc arithmetic + p2's prefix-sum pack id. */
  val p7SftPackingSql: String =
    raw"""WITH tt AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(regexp_split_to_array(text, '\. '),
      |      x -> trim(x)), x -> x != '') AS turns
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, unnest(range(0, len(turns))) AS pos,
      |    unnest(turns) AS turn
      |  FROM tt),
      |pd AS (
      |  SELECT doc_id,
      |    CAST(sum(len(list_filter(regexp_split_to_array(turn, '\s+'),
      |      x -> x != '')) + 2) AS BIGINT) AS n_tok,
      |    CAST(sum(CASE WHEN pos % 2 = 1
      |      THEN len(list_filter(regexp_split_to_array(turn, '\s+'),
      |        x -> x != '')) + 1 ELSE 0 END) AS BIGINT) AS n_loss
      |  FROM t GROUP BY doc_id),
      |pk AS (
      |  SELECT doc_id, n_tok, n_loss,
      |    CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${PackBudget})
      |      AS BIGINT) AS pack_id
      |  FROM pd)
      |SELECT pack_id, count(*) AS n_docs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_loss) AS BIGINT) AS n_loss_tokens,
      |  floor(sum(n_loss) / CAST(sum(n_tok) AS DOUBLE) * 10000.0 + 0.5)
      |    / 10000.0 AS loss_share
      |FROM pk GROUP BY pack_id ORDER BY pack_id""".stripMargin

  // ------------------------------------------------- p8_dpo_batches
  /** DPO training-batch assembly — the preference twin of p7: t32's
    * audited (chosen, rejected) pairs, CLEANED (degenerate and
    * eval-contaminated pairs dropped — the curation gate t32 exists to
    * inform), then packed into fixed-budget batches. A pair costs BOTH
    * branches (chosen + rejected token counts — DPO forward-passes both
    * sequences), so the batch budget is 2× p2/p7's PackBudget; the
    * per-batch rollup carries pair count, token totals, and loss share,
    * the numbers a DPO trainer weights its batch loss by.
    *
    * Scale shape: one t32 pass (bounded 4096-row windows), t15's
    * globalPackingDocs pack (no single-partition window), one
    * batch-keyed agg. The pair relation is materialized once and read
    * twice (pack assignment + rollup join).
    */
  val DpoBudget: Long = 2 * PackBudget
  def p8DpoBatches(s: SparkSession, d: String): DataFrame = {
    val clean = graft.operators.TextAnalysis.t32PreferencePairs(s, d)
      .filter(!col("degenerate") && !col("contaminated"))
      .select(col("pair_id").as("doc_id"),
        (col("n_tokens_chosen") + col("n_tokens_rejected")).as("n_tok"),
        (col("n_loss_chosen") + col("n_loss_rejected")).as("n_loss"))
      .materialize()
    val packed = graft.operators.TextAnalysis.globalPackingDocs(
      clean.select(col("doc_id"), col("n_tok")), budget = DpoBudget)
    packed.join(clean.select(col("doc_id"), col("n_loss")), "doc_id")
      .groupBy(col("pack_id").as("batch_id"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_loss")).as("n_loss_tokens"))
      .select(col("batch_id"), col("n_pairs"), col("n_tokens"),
        col("n_loss_tokens"),
        sround(col("n_loss_tokens") / col("n_tokens").cast("double"), 4)
          .as("loss_share"))
      .orderBy("batch_id")
  }

  /** Oracle: t32's shared pair CTEs + p2's prefix-sum pack id at 2×
    * budget. The budget is interpolated from the same val the Spark path
    * uses (round-10 ADVICE: constants must not fork).
    */
  val p8DpoBatchesSql: String =
    raw"""WITH ${graft.operators.TextAnalysis.t32PairsCtes},
      |cl AS (
      |  SELECT pair_id AS doc_id,
      |    n_tokens_chosen + n_tokens_rejected AS n_tok,
      |    n_loss_chosen + n_loss_rejected AS n_loss
      |  FROM pairs WHERE NOT degenerate AND NOT contaminated),
      |pk AS (
      |  SELECT doc_id, n_tok, n_loss,
      |    CAST(floor(coalesce(sum(n_tok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / ${DpoBudget})
      |      AS BIGINT) AS batch_id
      |  FROM cl)
      |SELECT batch_id, count(*) AS n_pairs,
      |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(sum(n_loss) AS BIGINT) AS n_loss_tokens,
      |  floor(sum(n_loss) / CAST(sum(n_tok) AS DOUBLE) * 10000.0 + 0.5)
      |    / 10000.0 AS loss_share
      |FROM pk GROUP BY batch_id ORDER BY batch_id""".stripMargin

  // ---------------------------------------------- p9_leak_safe_split
  /** Leak-safe train/eval holdout — split by DEDUP CLUSTER, not by doc:
    * a naive per-doc hash split puts near-duplicates on both sides, so
    * the eval set silently contains paraphrases of training data and
    * overstates the model (the leakage t9/t32 audit for, created at
    * split time). Here the unit of assignment is d5's connected
    * component (d2's verified near-dup pairs, min-label components):
    * every doc in a cluster goes where its cluster's hash goes (~10%
    * eval), so NO near-dup pair can straddle the split by construction.
    *
    * Output: one row per split (doc/cluster/char counts, leak_pairs = 0)
    * plus a `~audit` totals row whose leak_pairs is the COUNTERFACTUAL —
    * how many verified near-dup pairs would straddle a naive per-doc
    * hash split of the same rate. That number is the op's reason to
    * exist; the spec asserts the cluster split's own straddle count is
    * zero.
    *
    * Scale shape: d5's component machinery (band candidates + pointer
    * jumping, never corpus²), one hash per cluster id, split-keyed aggs;
    * the audit join is the pair set against two scalar hash columns.
    * The 1-row counterfactual frame joins by literal crossJoin —
    * broadcast of one row.
    */
  def p9LeakSafeSplit(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    import graft.operators.Dedup
    def evalSide(c: Column): Column =
      md5Hash62(concat(lit("split#"), c.cast("string"))) % 10 === 0
    val docsDf = graft.Tables.load(s, d, "documents")
    val pairs = Dedup.d2Pairs(s, d).select(col("doc_a"), col("doc_b"))
      .materialize() // component edges AND the counterfactual audit
    val comps = Dedup.connectedComponents(
      docsDf.select(col("doc_id")), pairs)
    val assigned = comps
      .join(docsDf.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("split",
        when(evalSide(col("cluster_id")), lit("eval")).otherwise(lit("train")))
      .materialize() // per-split rollup + the totals row
    val per = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("leak_pairs", lit(0L))
    val naiveLeak = pairs
      .filter(evalSide(col("doc_a")) =!= evalSide(col("doc_b")))
      .agg(count(lit(1)).as("leak_pairs"))
    val audit = assigned
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("n_chars")).as("n_chars"))
      .crossJoin(naiveLeak) // 1 row x 1 row
      .select(lit("~audit").as("split"), col("n_docs"), col("n_clusters"),
        col("n_chars"), col("leak_pairs"))
    per.select(col("split"), col("n_docs"), col("n_clusters"),
        col("n_chars"), col("leak_pairs"))
      .union(audit)
      .orderBy("split")
  }

  /** Oracle: d5's recursive-component chain + the same masked-md5 split
    * hash; the counterfactual leak count reads the shared pair CTE.
    */
  val p9LeakSafeSplitSql: String = {
    val h = (x: String) =>
      s"(CAST(md5_number_lower('split#' || CAST($x AS VARCHAR)) " +
        "& 4611686018427387903 AS BIGINT) % 10 = 0)"
    raw"""WITH RECURSIVE ${graft.operators.Dedup.bandCandSql("documents")},
      |${graft.operators.Dedup.charVerifySql("documents")},
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
      |  GROUP BY d.doc_id),
      |asg AS (
      |  SELECT c.doc_id, c.cluster_id, d.n_chars,
      |    CASE WHEN ${h("c.cluster_id")} THEN 'eval' ELSE 'train' END AS split
      |  FROM comp c JOIN documents d USING (doc_id)),
      |nl AS (
      |  SELECT CAST(count(*) AS BIGINT) AS leak_pairs FROM pairs
      |  WHERE ${h("doc_a")} != ${h("doc_b")})
      |SELECT split, count(*) AS n_docs,
      |  count(DISTINCT cluster_id) AS n_clusters,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
      |  CAST(0 AS BIGINT) AS leak_pairs
      |FROM asg GROUP BY split
      |UNION ALL
      |SELECT '~audit', count(*), count(DISTINCT cluster_id),
      |  CAST(sum(n_chars) AS BIGINT), (SELECT leak_pairs FROM nl)
      |FROM asg
      |ORDER BY split""".stripMargin
  }

  // ------------------------------------------------ p10_curriculum
  /** Curriculum schedule — the easy→hard training ORDER: stage 0 is the
    * per-language CCNet head (lowest-perplexity) tercile, 1 the middle,
    * 2 the tail, with t27's score-level cut reused verbatim
    * (TextAnalysis.ccnetDocBuckets — "difficulty" has ONE definition);
    * within a stage the order is a deterministic hash permutation (p6's
    * discipline — a content-correlated order would leak curriculum
    * position into content). The global rank is stage-major:
    * [[graft.operators.KeyedRank.prefixBefore]] with no key, v = 1 and
    * shard = stage × 64 + the hash's top 6 bits (192 contiguous ranges of
    * the (stage, hash) order, no single-partition window at any scale).
    * Per-LANG terciles keep every stage's language mix balanced — a
    * global cut would front-load whichever language the LM scores
    * easiest. Domain = scored docs (≥ 2 tokens), t17's.
    */
  def p10Curriculum(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val staged = graft.operators.TextAnalysis.ccnetDocBuckets(s, d)
      .withColumn("stage",
        when(col("bucket") === "head", 0)
          .when(col("bucket") === "middle", 1).otherwise(2))
      .withColumn("h",
        md5Hash62(concat(lit("curr#"), col("doc_id").cast("string"))))
    KeyedRank.prefixBefore(staged, None,
        col("stage") * 64 + topBits(col("h")),
        Seq(col("stage"), col("h"), col("doc_id")), lit(1L))
      .select(col("doc_id"), col("lang"), col("bucket"), col("stage"),
        col("before").as("curriculum_rank"))
      .orderBy("curriculum_rank")
  }

  /** Oracle: t27's shared CTE chain to per-doc buckets, then one global
    * stage-major row_number — equivalent to the engine's sharded prefix
    * sum + offsets.
    */
  val p10CurriculumSql: String =
    s"""WITH ${graft.operators.TextAnalysis.ccnetCtes},
      |docb AS (
      |  SELECT s.doc_id, m.lang, b.bucket,
      |    CASE b.bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1
      |      ELSE 2 END AS stage
      |  FROM scored s JOIN meta m USING (doc_id)
      |  JOIN bucketed b ON b.lang = m.lang AND b.score4 = s.score4)
      |SELECT doc_id, lang, bucket, CAST(stage AS INTEGER) AS stage,
      |  CAST(row_number() OVER (ORDER BY stage,
      |    CAST(md5_number_lower('curr#' || CAST(doc_id AS VARCHAR))
      |      & 4611686018427387903 AS BIGINT), doc_id) - 1 AS BIGINT)
      |    AS curriculum_rank
      |FROM docb ORDER BY curriculum_rank""".stripMargin

  // ------------------------------------------------- p11_doremi_mixture
  /** Group-DRO domain reweighting — the DoReMi shape (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining"): domains whose loss EXCEEDS the current mixture's
    * weighted-average loss get their sampling weight multiplicatively
    * boosted, iterated to a mixture that hedges against the worst
    * domains. Losses here are t17's self-trained bigram LM scores (the
    * proxy-model stand-in this container supports), domain = `source`.
    * Five mirror-ascent rounds, each: baseline B = Σ w_d·L_d, excess
    * e_d = max(L_d − B, 0), w ← w·(1 + η·e_d) renormalized, then
    * DoReMi's uniform smoothing w ← (1−s)·w + s/|D|. The (1 + ηx)
    * update is the rational multiplicative-weights variant of exp(ηx) —
    * chosen because +,×,÷ are IEEE-identical across engines while exp()
    * is not, so the oracle replays bit-for-bit.
    *
    * Scale shape: ONE corpus-sized stage (t17's gram-keyed scoring) into
    * a source-keyed agg; per-doc scores collapse to exact 1e-4 integer
    * units so per-domain sums are order-free longs (p4's discipline).
    * The ascent itself runs DRIVER-SIDE on the collected |domains|-row
    * table (bounded — 20 here, dozens-to-thousands in production: the
    * domain registry, never the corpus — v10's bounded-collect rule).
    * The frame formulation was measured at 53 s on a 20-row input: each
    * round references its predecessor twice (baseline agg + update), so
    * the unrolled plan re-executes upstream 2^rounds times — Spark's
    * edition of the CTE re-inlining pathology the ORACLE dodges with
    * MATERIALIZED fences. Sorted ascending folds keep the driver doubles
    * bit-identical to the oracle's list_sort sums. Docs with <2 tokens
    * have no bigram score and are excluded (t17's domain).
    */
  def p11DoremiMixture(s: SparkSession, d: String): DataFrame = {
    val eta = 0.1
    val smooth = 0.01
    val rounds = 5
    val scores = graft.operators.TextAnalysis.t17LmScore(s, d)
      .select(col("doc_id"),
        floor(col("avg_neg_log2p") * 10000.0 + lit(0.5)).cast("long").as("s4"))
    val src = graft.Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
    val perSrc = src.join(scores, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s4")).as("s4sum"))
      .select(col("source"), col("n_docs"),
        (col("s4sum") / col("n_docs").cast("double") / lit(10000.0)).as("l"))
      // driver-bound(enum-bounded): one row per source domain
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1) // bounded: one row per domain
    val nd = perSrc.length.toDouble
    val l = perSrc.map(_._3)
    def fold(xs: Array[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    var w = Array.fill(perSrc.length)(1.0 / nd)
    (1 to rounds).foreach { _ =>
      val b = fold(l.indices.map(i => w(i) * l(i)).toArray)
      val wn = l.indices.map(i =>
        w(i) * (1.0 + eta * math.max(l(i) - b, 0.0))).toArray
      val sw = fold(wn)
      w = wn.map(x => (x / sw) * (1.0 - smooth) + smooth / nd)
    }
    def r(x: Double, f: Double): Double = math.floor(x * f + 0.5) / f
    import s.implicits._
    perSrc.zipWithIndex.map { case ((source, nDocs, li), i) =>
      (source, nDocs, r(li, 1e6), r(w(i), 1e6), r(w(i) * nd, 1e4))
    }.toSeq.toDF("source", "n_docs", "loss", "weight", "boost")
      .orderBy("source")
  }

  /** Oracle: t17's CTE chain to per-doc integer score units, then the
    * five ascent rounds unrolled as CTE pairs (baseline fold, update +
    * renormalize + smooth) with identical arithmetic spellings.
    * `per_src` and each round CTE are MATERIALIZED: every round
    * references its predecessor twice, and DuckDB inlines plain CTEs
    * per reference — without the fence the corpus-sized bigram chain
    * under r0 re-evaluates 2^5 times (g5's exponential-re-eval
    * pathology; OOMs at sf0.1).
    */
  val p11DoremiMixtureSql: String = {
    val roundCtes = (1 to 5).map { t =>
      val prev = if (t == 1) "r0" else s"r${t - 1}"
      s"""b$t AS (SELECT list_aggregate(list_sort(list(w * l)), 'sum') AS b FROM $prev),
         |u$t AS (
         |  SELECT source, n_docs, l, nd,
         |    w * (1.0 + 0.1 * greatest(l - b, 0.0)) AS wn
         |  FROM $prev CROSS JOIN b$t),
         |s$t AS (SELECT list_aggregate(list_sort(list(wn)), 'sum') AS sw FROM u$t),
         |r$t AS MATERIALIZED (
         |  SELECT source, n_docs, l, nd,
         |    (wn / sw) * 0.99 + 0.01 / nd AS w
         |  FROM u$t CROSS JOIN s$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
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
       |scores AS (
       |  SELECT doc_id,
       |    CAST(floor(
       |      floor(list_aggregate(list_sort(list(term)), 'sum') / count(*)
       |        * 10000.0 + 0.5) / 10000.0
       |      * 10000.0 + 0.5) AS BIGINT) AS s4
       |  FROM terms GROUP BY doc_id),
       |per_src AS MATERIALIZED (
       |  SELECT d.source, count(*) AS n_docs, CAST(sum(s.s4) AS BIGINT) AS s4sum
       |  FROM documents d JOIN scores s USING (doc_id)
       |  GROUP BY d.source),
       |base AS (
       |  SELECT source, n_docs,
       |    s4sum / CAST(n_docs AS DOUBLE) / 10000.0 AS l
       |  FROM per_src),
       |r0 AS (
       |  SELECT source, n_docs, l, nd, 1.0 / nd AS w
       |  FROM base CROSS JOIN
       |    (SELECT CAST(count(*) AS DOUBLE) AS nd FROM base)),
       |$roundCtes
       |SELECT source, n_docs,
       |  floor(l * 1000000.0 + 0.5) / 1000000.0 AS loss,
       |  floor(w * 1000000.0 + 0.5) / 1000000.0 AS weight,
       |  floor(w * nd * 10000.0 + 0.5) / 10000.0 AS boost
       |FROM r5 ORDER BY source""".stripMargin
  }

  // ------------------------------------------------- p12_unimax_mixture
  /** UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and
    * More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total token budget across languages as
    * UNIFORMLY as possible, subject to a per-language cap of
    * availability × E epochs — low-resource languages contribute all
    * their data (up to E repeats, bounding overfitting) and the residual
    * budget splits equally among the high-resource ones.
    *
    * The allocation is exact water-filling in CLOSED FORM — no driver
    * loop: languages sorted by cap ascending; the cutoff is the first
    * rank where the remaining budget spread over the remaining languages
    * fits under that language's cap, tested with the exact integer
    * cross-multiplication `B − cum ≤ cap × rem` (never a float compare,
    * so the branch cannot flip between engines); every language before
    * the cutoff is capped (alloc = cap), everyone at/after it shares
    * `(B − cum_cut) / rem_cut` — ONE division of two longs, bit-identical
    * in Spark and DuckDB.
    *
    * Scale shape: one corpus scan into a lang-keyed agg (map-side
    * partial); everything after runs on the language frame, which is
    * REGISTRY-bounded (dozens of rows — the month-partials precedent for
    * a single-partition window on a catalog-sized frame, never the
    * corpus). Budget B = 3/2 of corpus chars with E = 2: on this corpus
    * the four smaller languages cap at exactly 2.0 epochs and `en`
    * absorbs the residual — the canonical UniMax readout.
    */
  def p12UnimaxMixture(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val E = 2L
    val byLang = Tables.load(s, d, "documents")
      .groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("n_avail"))
      .withColumn("cap", col("n_avail") * lit(E))
      .materialize() // the lang frame feeds BOTH the budget scalar and
                     // the ranking; without the cut the corpus scans twice
    val budget = byLang.agg(
      expr("CAST((3 * sum(n_avail)) DIV 2 AS BIGINT)").as("b"))
    val w = Window.orderBy(col("cap").asc, col("lang").asc)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = byLang.crossJoin(broadcast(budget)) // 1-row stats frame
      .withColumn("rn", row_number().over(w))
      .withColumn("cum", coalesce(
        sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("n_langs", count(lit(1)).over(full))
      .withColumn("rem", col("n_langs") - col("rn") + 1L)
      // exact integer water-filling cutoff test
      .withColumn("is_cut", col("b") - col("cum") <= col("cap") * col("rem"))
      .withColumn("cut_rn", min(when(col("is_cut"), col("rn"))).over(full))
      .withColumn("theta_num",
        max(when(col("rn") === col("cut_rn"), col("b") - col("cum"))).over(full))
      .withColumn("theta_den",
        max(when(col("rn") === col("cut_rn"), col("rem"))).over(full))
    ranked
      .withColumn("capped",
        col("cut_rn").isNull || col("rn") < col("cut_rn"))
      .withColumn("alloc", when(col("capped"), col("cap").cast("double"))
        .otherwise(col("theta_num").cast("double") / col("theta_den")))
      .select(col("lang"), col("n_avail"), col("cap"),
        sround(col("alloc"), 4).as("alloc"),
        sround(col("alloc") / col("n_avail"), 4).as("epochs_used"),
        col("capped"))
      .orderBy("lang")
  }

  /** Oracle: the same closed-form water-filling — integer cutoff test,
    * one long÷long division — spelled in DuckDB window functions.
    */
  val p12UnimaxMixtureSql: String =
    """WITH bylang AS (
      |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n_avail,
      |    CAST(2 * sum(n_chars) AS BIGINT) AS cap
      |  FROM documents GROUP BY lang),
      |b AS (SELECT CAST((3 * sum(n_avail)) // 2 AS BIGINT) AS b FROM bylang),
      |ranked AS (
      |  SELECT lang, n_avail, cap, b.b,
      |    row_number() OVER (ORDER BY cap ASC, lang ASC) AS rn,
      |    coalesce(sum(cap) OVER (ORDER BY cap ASC, lang ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
      |    count(*) OVER () AS n_langs
      |  FROM bylang, b),
      |cut AS (
      |  SELECT *, n_langs - rn + 1 AS rem,
      |    (b - cum <= cap * (n_langs - rn + 1)) AS is_cut
      |  FROM ranked),
      |withcut AS (
      |  SELECT *, min(CASE WHEN is_cut THEN rn END) OVER () AS cut_rn
      |  FROM cut),
      |marked AS (
      |  SELECT *,
      |    max(CASE WHEN rn = cut_rn THEN b - cum END) OVER () AS theta_num,
      |    max(CASE WHEN rn = cut_rn THEN rem END) OVER () AS theta_den
      |  FROM withcut)
      |SELECT lang, n_avail, cap,
      |  floor(CASE WHEN cut_rn IS NULL OR rn < cut_rn
      |      THEN CAST(cap AS DOUBLE)
      |      ELSE CAST(theta_num AS DOUBLE) / theta_den END * 10000.0 + 0.5)
      |    / 10000.0 AS alloc,
      |  floor((CASE WHEN cut_rn IS NULL OR rn < cut_rn
      |      THEN CAST(cap AS DOUBLE)
      |      ELSE CAST(theta_num AS DOUBLE) / theta_den END / n_avail)
      |      * 10000.0 + 0.5) / 10000.0 AS epochs_used,
      |  (cut_rn IS NULL OR rn < cut_rn) AS capped
      |FROM marked ORDER BY lang""".stripMargin

  // ------------------------------------------------- p13_source_cap
  /** Per-source document cap — the Gopher/C4 curation rule (Rae et al.
    * 2021 cap repetitious domains; C4 keeps one page per URL): within
    * each source, RANK documents by quality and keep only the top k, so
    * no single domain dominates the training mixture no matter how much
    * it crawled. Quality is t2's blended score CONSUMED from the t2
    * operator itself (one spelling — the oracle embeds t2's own SQL as a
    * subquery), ranking is one per-source window with doc_id tie-break,
    * and `kept` is the rank <= k cut.
    *
    * Scale shape: one corpus pass for the quality projection, then
    * [[graft.operators.KeyedRank.keyedRank]] for the per-source rank —
    * web-crawl domain mass is maximally skewed, and the output contract
    * (a rank for EVERY document, not just the kept top k) makes this
    * full-rank problem keyed range sharding, not top-k truncation: a
    * bounded proportional sample picks per-source score boundaries,
    * per-(source, shard) windows rank in parallel, and broadcast
    * offsets stitch the exact global per-source rank. No source — not
    * even a domain holding 90% of the crawl — ever sorts in a single
    * task (PipelineSpec plan-asserts this on a skewed fixture).
    */
  /** p13's cap — interpolated into the oracle SQL and consumed by
    * PipelineSpec, so there is exactly one spelling of k.
    */
  val P13Cap = 20

  def p13SourceCap(s: SparkSession, d: String): DataFrame = {
    val q = graft.operators.TextAnalysis.t2Quality(s, d)
      .select(col("doc_id"), col("quality_score"))
    val joined = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
      .join(q, "doc_id")
    graft.operators.KeyedRank
      .keyedRank(joined, "source", "quality_score", "doc_id", "src_rank")
      .select(col("doc_id"), col("source"), col("src_rank"),
        col("quality_score"), (col("src_rank") <= P13Cap).as("kept"))
      .orderBy("doc_id")
  }

  /** Oracle: t2's OWN shipped SQL as a subquery (no re-spelled quality
    * expression to drift), plus the per-source rank window — the naive
    * single-partition spelling IS the correct replay semantics; only
    * the Spark side needs the skew-safe plan.
    */
  val p13SourceCapSql: String =
    s"""WITH q AS (${graft.operators.TextAnalysis.t2QualitySql}),
       |r AS (
       |  SELECT d.doc_id, d.source, q.quality_score,
       |    CAST(row_number() OVER (PARTITION BY d.source
       |      ORDER BY q.quality_score DESC, d.doc_id ASC) AS INTEGER)
       |      AS src_rank
       |  FROM documents d JOIN q USING (doc_id))
       |SELECT doc_id, source, src_rank, quality_score,
       |  src_rank <= $P13Cap AS kept
       |FROM r ORDER BY doc_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("p1_corpus_pipeline", p1CorpusPipeline, p1CorpusPipelineSql),
    Query("p2_training_prep", p2TrainingPrep, p2TrainingPrepSql),
    Query("p3_dataset_card", p3DatasetCard, p3DatasetCardSql),
    Query("p4_mixture_schedule", p4MixtureSchedule, p4MixtureScheduleSql),
    Query("p5_epoch_materialize", p5EpochMaterialize, p5EpochMaterializeSql),
    Query("p6_epoch_shuffle", p6EpochShuffle, p6EpochShuffleSql),
    Query("p7_sft_packing", p7SftPacking, p7SftPackingSql),
    Query("p8_dpo_batches", p8DpoBatches, p8DpoBatchesSql),
    Query("p9_leak_safe_split", p9LeakSafeSplit, p9LeakSafeSplitSql),
    Query("p10_curriculum", p10Curriculum, p10CurriculumSql),
    Query("p11_doremi_mixture", p11DoremiMixture, p11DoremiMixtureSql),
    Query("p12_unimax_mixture", p12UnimaxMixture, p12UnimaxMixtureSql),
    Query("p13_source_cap", p13SourceCap, p13SourceCapSql))

  val queries: Map[String, Query.Plan] = Query.plans(registry)
}
