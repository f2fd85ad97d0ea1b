package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Query, Tables}
import graft.Query.Plan
import graft.functions.VectorFunctions._
import graft.functions.TextFunctions.{sortedFoldSum, sround}

/** Similarity search over the `embeddings` table (64-dim float vectors,
  * 10 class labels).
  *
  * v1 is the exact baseline: stream the corpus once against a BROADCAST
  * query set (queries are always the small side), per-partition partial
  * top-k via window row_number. v2 is the scale path: sign-LSH bucketing +
  * multiprobe — candidate generation by equality join, which is the only
  * shape that survives a 100 TB corpus (the corpus-side scan stays linear
  * and shuffle-free; no pairwise blowup).
  *
  * v3 near-dup pairs blocks on `label` (an IVF-style coarse quantizer that
  * the data already provides) and verifies cosine within blocks.
  */
object Similarity {

  private def emb(s: SparkSession, d: String) = Tables.load(s, d, "embeddings")

  // DuckDB-twin spelling of `dot` over two list columns
  private def dotList(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  private val K = 10
  private val NQ = 8 // query vectors: vec_id < 8
  // v23's sub-shard quantizer size — must stay 16 while the shared
  // ivfCorpusCtes oracle spelling hardcodes its 16 seed cells
  private val V23K = 16

  // -------------------------------------------------------- v1_knn_brute
  /** Exact cosine top-k: corpus ⋈ broadcast(queries), one pass. Ties broken
    * by neighbor id so ranking is deterministic and oracle-comparable.
    */
  val v1KnnBrute: Plan = (s, d) => {
    val e = emb(s, d)
    // squared norms once per VECTOR (not per pair): the corpus side computes
    // its norm in the scan projection, the query side in the broadcast
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"))
    val sim = cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n"))
    // top-K through the two-phase keyedTopK cut: the brute frame is
    // corpus-sized PER QUERY, so a bare per-q_id window would sort a
    // billion-row list in one task at 100 TB (the round-16 audit class)
    KeyedRank.keyedTopK(
      c.join(broadcast(q), col("n_id") =!= col("q_id")).withColumn("sim", sim),
      Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), K, "rnk")
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  val v1KnnBruteSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
       |pairs AS (
       |  SELECT q.q_id, e.vec_id AS n_id,
       |    list_dot_product(
       |      CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |    / (sqrt(list_dot_product(
       |         CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
       |     * sqrt(list_dot_product(
       |         CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
       |  FROM embeddings e, q WHERE e.vec_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // ---------------------------------------------------------- v2_ann_lsh
  /** Approximate top-k: sign-LSH buckets on the corpus, query
    * side expanded to its Hamming-1 multiprobe set, cosine only within
    * colliding buckets. The hyperplanes are fixed seeded constants, so the
    * oracle SQL below embeds them as literals (exact shortest-roundtrip
    * double rendering) and reproduces buckets, probes, and ranking —
    * hash-checked by the driver; recall vs v1 is asserted in ScalaTest.
    */
  val v2AnnLsh: Plan = (s, d) => {
    // 4 planes → 16 coarse buckets: this synthetic corpus is near-uniform on
    // the sphere (no cluster structure), so recall needs wide buckets; a
    // clustered production corpus would take 8-16 planes.
    val nPlanes = 4
    val planes = hyperplanes(nPlanes, 64)
    val e = emb(s, d)
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"),
        explode(multiprobeBuckets(lshBucket(col("embedding"), planes), nPlanes))
          .as("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n")))
      .dropDuplicates("q_id", "n_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin of v2 with the plane coefficients inlined: Scala's
    * Double.toString is shortest-roundtrip, so DuckDB parses back the
    * bit-identical double and every dot product replays exactly.
    */
  val v2AnnLshSql: String = {
    val planes = hyperplanes(4, 64)
    def dotPlane(p: Array[Double], vec: String): String =
      s"list_sum(list_transform(range(1, len($vec) + 1), i -> CAST($vec[i] AS DOUBLE) * ([${p.mkString(",")}])[i]))"
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotPlane(p, "embedding")} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq,
       |    CAST($bucketExpr AS BIGINT) AS bucket
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4), xor(bucket, 8)]) AS bucket
       |  FROM e WHERE vec_id < $NQ),
       |pairs AS (
       |  SELECT DISTINCT q.q_id, c.vec_id AS n_id,
       |    list_dot_product(
       |      CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
       |      / (sqrt(q.nsq_q) * sqrt(c.nsq)) AS sim
       |  FROM e c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ------------------------------------------------- v3_embedding_neardup
  /** Embedding-cosine near-dup pairs, label-blocked (IVF coarse cells):
    * within-label pairs with cosine >= 0.35 (the synthetic corpus has no
    * tight dup clusters; the threshold sits in the top tail of its cosine
    * distribution). Oracle-checkable because the
    * cosine is pure double arithmetic in both engines.
    */
  val v3EmbeddingNeardup: Plan = (s, d) => {
    val e = emb(s, d)
    val a = e.select(col("vec_id").as("id_a"), col("label"), col("embedding").as("emb_a"),
      normSq(col("embedding")).as("nsq_a"))
    val b = e.select(col("vec_id").as("id_b"), col("label"), col("embedding").as("emb_b"),
      normSq(col("embedding")).as("nsq_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim",
        cosineWithNorms(dot(col("emb_a"), col("emb_b")), col("nsq_a"), col("nsq_b")))
      .filter(col("sim") >= 0.35)
      .select(col("id_a"), col("id_b"), col("label"), sround(col("sim"), 4).as("sim"))
      .orderBy("id_a", "id_b")
  }

  val v3EmbeddingNeardupSql: String =
    """WITH pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label,
      |    list_dot_product(
      |      CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
      |    / (sqrt(list_dot_product(
      |         CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
      |     * sqrt(list_dot_product(
      |         CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) AS sim
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b, label, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
      |FROM pairs WHERE sim >= 0.35 ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------------------ v4_ivf_ann
  /** IVF-style ANN with a COMPUTED coarse quantizer (vs v3's label shortcut):
    * deterministic seeds (lowest vec_ids) → one Lloyd refinement (elementwise
    * mean per cell via posexplode + grouped avg) → corpus assigned to nearest
    * centroid → queries probe the `nprobe` nearest cells → exact cosine
    * within probed cells only.
    *
    * Scale shape: centroids are a tiny driver/broadcast artifact (k × dim);
    * assignment is one narrow pass over the corpus; search touches
    * nprobe/k of the data. Centroid means are rounded to 4 decimals so the
    * float-sum association order can't flip cell assignments between runs
    * or engines — which is what lets the SQL oracle below replay the
    * whole build and the driver hash-check the output.
    */
  private def centroidDots(centroids: Array[Array[Double]], vec: Column): Column =
    array(centroids.map(c => dot(vec, typedlit(c.toSeq))): _*)
  private def nearestCell(centroids: Array[Array[Double]], vec: Column): Column = {
    val scores = centroidDots(centroids, vec)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** The v4 coarse-quantizer build over an arbitrary vector frame:
    * deterministic seeds (k lowest vec_ids, normalized) + ONE Lloyd
    * refinement, means rounded to 4 decimals (absorbs cross-engine
    * float-sum association deltas). k × dim doubles — a bounded driver
    * artifact at any corpus size.
    */
  private def ivfRefined(e: DataFrame, k: Int): Array[Array[Double]] = {
    // driver-bound(k-bounded): k seed vectors (vec_id < k literal cut)
    val seeds: Array[Array[Double]] = e.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => if (n == 0) 0.0 else x / n)
      }
    val assigned0 = e.select(col("vec_id"), col("embedding"),
      nearestCell(seeds, col("embedding")).as("cell"))
    assigned0
      .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("v")).as("m"))
      // driver-bound(stat-frame): k cells x dim mean rows (enum x enum)
      .collect()
      .groupBy(_.getInt(0))
      .toArray.sortBy(_._1)
      .map { case (_, rows) =>
        val dim = rows.map(r => (r.getInt(1), math.floor(r.getDouble(2) * 1e4 + 0.5) / 1e4))
        dim.sortBy(_._1).map(_._2)
      }
  }

  val v4IvfAnn: Plan = (s, d) => {
    val k = 16
    val nprobe = 4
    val e = emb(s, d)
    val refined = ivfRefined(e, k)

    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"),
      nearestCell(refined, col("embedding")).as("cell"))
    // queries probe their nprobe closest refined cells
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"),
        centroidDots(refined, col("embedding")).as("cscores"))
      .select(col("q_id"), col("q_emb"), col("nsq_q"),
        explode(slice(array_sort(
          transform(col("cscores"), (sc, i) => struct((-sc).as("neg"), i.cast("int").as("cell")))),
          1, nprobe)).as("probe"))
      .select(col("q_id"), col("q_emb"), col("nsq_q"), col("probe.cell").as("cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin of v4: the whole IVF build — seed normalization, first
    * assignment, the 4-decimal-rounded Lloyd refinement, re-assignment,
    * nprobe selection, and final ranking — replayed as chained CTEs.
    * Argmax ties break (score DESC, cell ASC) exactly like Spark's
    * array_position-of-max. The refinement's avg() is the one
    * order-sensitive float reduction; the 4-decimal rounding that makes
    * the Spark side run-to-run deterministic also absorbs the cross-engine
    * summation-order delta (flip risk ~1e-6 per coordinate — accepted).
    */
  /** The v4 IVF build + corpus assignment as a reusable CTE chain
    * (`e`/`seeds`/`a0`/`refined`/`corpus`) — shared by v4's oracle and
    * v15's (diversified retrieval reuses the same coarse quantizer, so
    * one spelling keeps the builds from drifting apart).
    */
  private val ivfCorpusCtes: String = {
    s"""e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq
       |  FROM embeddings),
       |seeds AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    CASE WHEN sqrt(nsq) = 0 THEN list_transform(embedding, x -> 0.0)
       |         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) END AS c
       |  FROM e WHERE vec_id < 16),
       |a0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, s.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "s.c")} DESC, s.cell ASC) AS rn
       |    FROM e, seeds s)
       |  WHERE rn = 1),
       |refined AS MATERIALIZED (
       |  SELECT cell, list(m ORDER BY i) AS c
       |  FROM (
       |    SELECT cell, i,
       |      floor(avg(CAST(embedding[i] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS m
       |    FROM a0, (SELECT unnest(range(1, 65)) AS i)
       |    GROUP BY cell, i)
       |  GROUP BY cell),
       |corpus AS MATERIALIZED (
       |  SELECT vec_id AS n_id, embedding AS n_emb, nsq AS nsq_n, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, e.nsq, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r)
       |  WHERE rn = 1)""".stripMargin
  }

  val v4IvfAnnSql: String = {
    s"""WITH $ivfCorpusCtes,
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, e.nsq, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r
       |    WHERE e.vec_id < $NQ)
       |  WHERE rn <= 4),
       |pairs AS (
       |  SELECT q.q_id, c.n_id,
       |    ${dotList("q.q_emb", "c.n_emb")} / (sqrt(q.nsq_q) * sqrt(c.nsq_n)) AS sim
       |  FROM corpus c JOIN probes q USING (cell)
       |  WHERE c.n_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ----------------------------------------------------- v15_diverse_ann
  /** Diversified retrieval — cluster-capped top-k: exact cosine scores
    * (v1's brute pass over the bounded query set), but at most `DivCap`
    * results per (query, IVF cell) before the global top-K is taken.
    * This is the standard result-diversification gate for RAG / training
    * retrieval: without it a near-duplicate cluster floods the whole
    * result list (the failure mode d7/v3 measure); capping per coarse
    * cell guarantees the k results span >= k/cap distinct regions of the
    * embedding space. Reuses v4's computed coarse quantizer VERBATIM
    * (same seeds, one Lloyd step, 4-decimal rounding), so the cell
    * structure is consistent across v4/v14/v15.
    *
    * Scale shape: centroids are a k x dim driver artifact; the corpus
    * pass computes (cell, sim) in one projection against broadcast
    * queries; both windows partition on (q_id[, cell]) — cardinality
    * bounded by NQ x k — and the heavy input to them is pre-pruned by
    * the per-cell rank filter before the global rank runs.
    */
  val DivCap = 2
  val v15DiverseAnn: Plan = (s, d) => {
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"),
      nearestCell(refined, col("embedding")).as("cell"))
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"))
    val wGlob = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    // the per-(q, cell) diversity cap cuts a brute corpus frame — the
    // two-phase shape (v1's audit class); the global rank then runs over
    // the ≤ cells×DivCap capped frame (bounded)
    KeyedRank.keyedTopK(
      corpus.join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("sim",
          cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n"))),
      Seq("q_id", "cell"), Seq(col("sim").desc, col("n_id").asc), DivCap, "crk")
      .withColumn("rnk", row_number().over(wGlob))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"), col("cell"),
        sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin: v4's shared build chain + the two-stage rank. */
  val v15DiverseAnnSql: String = {
    s"""WITH $ivfCorpusCtes,
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q
       |      FROM e WHERE vec_id < $NQ),
       |pairs AS (
       |  SELECT q.q_id, c.n_id, c.cell,
       |    ${dotList("q.q_emb", "c.n_emb")} / (sqrt(q.nsq_q) * sqrt(c.nsq_n)) AS sim
       |  FROM corpus c, q WHERE c.n_id != q.q_id),
       |capped AS (
       |  SELECT q_id, n_id, cell, sim
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id, cell
       |        ORDER BY sim DESC, n_id ASC) AS crk
       |    FROM pairs)
       |  WHERE crk <= $DivCap),
       |ranked AS (
       |  SELECT q_id, n_id, cell, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM capped)
       |SELECT q_id, rnk, n_id, cell, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ------------------------------------------------------------ v6_pq_ann
  /** Product quantization ANN — the memory-bound scale path beyond v5's
    * scalar quantization: the 64-dim space splits into M=8 subspaces of 8
    * dims, each with its own 16-centroid codebook (seeded from the lowest
    * vec_ids + one Lloyd step, the v4 recipe per subspace), and every
    * corpus vector compresses to 8 ONE-BYTE codes (64x smaller than the
    * float vector). Search is asymmetric distance computation: per query,
    * an 8x16 lookup table of query-subvector x centroid dots; scoring a
    * candidate is 8 table reads — no float vector is touched.
    *
    * Determinism/portability: centroid refinement rounds to 4 decimals
    * (v4's trick — absorbs cross-engine float-sum association deltas);
    * L2 assignment argmin is expressed as argmax(dot - |c|^2/2) with
    * first-max-wins ties in both engines; the per-candidate sums over the
    * 8 subspaces fold in ascending-m order on both sides (left-assoc
    * column chain here, ORDER BY m list fold in the oracle). The oracle
    * replays the ENTIRE build — seeds, refinement, encoding, LUT scoring —
    * as SQL, so even this two-level approximation hash-checks.
    *
    * Scale shape: codebooks are an M x 16 x 8 driver artifact; encoding is
    * one narrow pass; search streams the (tiny) code table against the
    * broadcast LUTs. Cells are normally all occupied (each seed subvector
    * self-assigns at L2 distance zero); if duplicate seed subvectors DO
    * empty a cell, the encoder argmaxes over the present cells with their
    * original ids — the same set the oracle's refined CTE contains.
    */
  /** The v6 PQ index build over a vector frame: the coded corpus (n_id +
    * 8 one-byte codes), the broadcastable query LUT frame, and the
    * ascending-m ADC fold columns. Shared verbatim by v6 (flat scan over
    * all codes) and v14 (scan restricted to IVF-probed candidates).
    */
  private case class PqIndex(coded: DataFrame, qdf: DataFrame,
      adot: Column, ansq: Column)

  private def pqBuild(s: SparkSession, e: DataFrame): PqIndex = {
    val M = 8     // subspaces
    val dSub = 8  // dims per subspace
    val Kc = 16   // centroids per codebook

    def seqDot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def seqSumSq(a: Array[Double]): Double = seqDot(a, a)

    def assignCol(nCells: Int, centroid: Int => Array[Double], vecSub: Column): Column = {
      val scores = array((0 until nCells).map { c =>
        val cb = centroid(c)
        dot(vecSub, typedlit(cb.toSeq)) - lit(seqSumSq(cb) / 2.0)
      }: _*)
      (array_position(scores, array_max(scores)) - 1).cast("int")
    }

    val subsCols = (0 until M).map(m =>
      slice(col("embedding"), m * dSub + 1, dSub).as(s"sub_$m"))
    val withSubs = e.select((col("vec_id") +: col("embedding") +: subsCols): _*)

    // seeds: the Kc lowest vec_ids' subvectors (raw, not normalized — PQ
    // quantizes offsets, not directions). Cell ids are RANKS over the
    // ordered seed set (= the oracle's row_number()-1 renumbering), so a
    // corpus with fewer than Kc seed ids degrades gracefully instead of
    // indexing past the array.
    // driver-bound(k-bounded): Kc seed vectors (vec_id < Kc literal cut)
    val seedVecs: Array[Array[Double]] = e.filter(col("vec_id") < Kc)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val nSeeds = seedVecs.length
    require(nSeeds > 0, s"v6_pq_ann needs at least one seed vector (vec_id < $Kc)")
    def seedSub(m: Int)(c: Int): Array[Double] =
      seedVecs(c).slice(m * dSub, (m + 1) * dSub)

    // one Lloyd step per subspace, all subspaces in one long-form pass
    val assigned0 = withSubs.select(
      (col("vec_id") +: col("embedding") +:
        (0 until M).map(m => assignCol(nSeeds, seedSub(m), col(s"sub_$m")).as(s"cell_$m"))): _*)
    val longCells = assigned0.select(col("vec_id"), col("embedding"),
      posexplode(array((0 until M).map(m => col(s"cell_$m")): _*)).as(Seq("m", "cell")))
    val refinedRows = longCells
      .select(col("m"), col("cell"),
        posexplode(slice(col("embedding"), col("m") * dSub + 1, lit(dSub)))
          .as(Seq("pos", "v")))
      .groupBy(col("m"), col("cell"), col("pos"))
      .agg(avg(col("v")).as("mv"))
      // driver-bound(stat-frame): M x Kc x dSub codebook mean rows (enum domains)
      .collect()
    // refined codebooks hold ONLY the cells that received members —
    // mirroring the oracle's refined CTE exactly. (A cell goes empty only
    // if two seed subvectors are identical in a subspace; the encoder
    // must then argmax over the PRESENT cells with their original ids,
    // not fall back to a stale seed the oracle no longer has.)
    val refinedMap: Map[(Int, Int), Array[Double]] = refinedRows
      .groupBy(r => (r.getInt(0), r.getInt(1)))
      .map { case (key, rows) =>
        val c = new Array[Double](dSub)
        rows.foreach(r =>
          c(r.getInt(2)) = math.floor(r.getDouble(3) * 1e4 + 0.5) / 1e4)
        key -> c
      }
    val presentCells: Array[Seq[Int]] = Array.tabulate(M)(m =>
      refinedMap.keys.collect { case (`m`, c) => c }.toSeq.sorted)
    def refined(m: Int)(c: Int): Array[Double] = refinedMap((m, c))

    def assignRefined(m: Int, vecSub: Column): Column = {
      val cells = presentCells(m)
      val scores = array(cells.map { c =>
        val cb = refined(m)(c)
        dot(vecSub, typedlit(cb.toSeq)) - lit(seqSumSq(cb) / 2.0)
      }: _*)
      // first-max-wins over ascending PRESENT cell ids == the oracle's
      // (score DESC, cell ASC) over the refined CTE's rows
      element_at(typedlit(cells),
        array_position(scores, array_max(scores)).cast("int"))
    }

    // encode the corpus: 8 one-byte codes per vector
    val coded = withSubs.select(
      (col("vec_id").as("n_id") +:
        (0 until M).map(m => assignRefined(m, col(s"sub_$m")).as(s"code_$m"))): _*)

    // query-side LUTs (driver artifact: NQ x M x Kc doubles)
    import s.implicits._
    val qRows: Seq[(Long, Double, Seq[Seq[Double]])] =
      // driver-bound(k-bounded): NQ query rows (vec_id < NQ literal cut)
      e.filter(col("vec_id") < NQ).orderBy("vec_id").collect().toSeq.map { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Float](1).map(_.toDouble).toArray
        // LUT slots for absent cells are never read (no vector can carry
        // an absent code) — 0.0 placeholders keep the arrays dense
        val luts = (0 until M).map(m => (0 until Kc).map(c =>
          refinedMap.get((m, c))
            .map(cb => seqDot(qv.slice(m * dSub, (m + 1) * dSub), cb))
            .getOrElse(0.0)).toSeq).toSeq
        (qid, seqSumSq(qv), luts)
      }
    val qdf = qRows.map { case (qid, nsq, luts) =>
      (qid, nsq, luts(0), luts(1), luts(2), luts(3), luts(4), luts(5), luts(6), luts(7))
    }.toDF(("q_id" +: "nsq_q" +: (0 until M).map(m => s"lut_$m")): _*)
    val nsqLut = (0 until M).map(m =>
      typedlit((0 until Kc).map(c =>
        refinedMap.get((m, c)).map(seqSumSq).getOrElse(0.0)).toSeq))

    // ADC scoring: ascending-m left-assoc folds (must match the oracle's
    // ORDER BY m list fold bit for bit)
    val adot = (0 until M).map(m =>
      element_at(col(s"lut_$m"), col(s"code_$m") + 1)).reduce(_ + _)
    val ansq = (0 until M).map(m =>
      element_at(nsqLut(m), col(s"code_$m") + 1)).reduce(_ + _)
    PqIndex(coded, qdf, adot, ansq)
  }

  val v6PqAnn: Plan = (s, d) => {
    val ix = pqBuild(s, emb(s, d))
    // two-phase top-K over the ADC-scored brute frame (v1's audit class)
    KeyedRank.keyedTopK(
      ix.coded.join(broadcast(ix.qdf), col("n_id") =!= col("q_id"))
        .withColumn("sim", ix.adot / (sqrt(col("nsq_q")) * sqrt(ix.ansq))),
      Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), K, "rnk")
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin of v6: the full PQ build replayed — per-subspace seeds,
    * L2 argmin assignment (as argmax(dot - |c|^2/2), first-max ties),
    * rounded Lloyd refinement, encoding, and ADC scoring with the
    * ascending-m ordered fold.
    */
  val v6PqAnnSql: String = {
    def dotSub(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 9), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def nsqSub(a: String): String = dotSub(a, a)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, m, embedding[(m*8+1):(m*8+8)] AS sub
       |  FROM e, (SELECT unnest(range(8)) AS m)),
       |seeds AS MATERIALIZED (
       |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    sub AS c
       |  FROM subs WHERE vec_id < 16),
       |a0 AS MATERIALIZED (
       |  SELECT vec_id, m, cell, sub FROM (
       |    SELECT s.vec_id, s.m, sd.cell, s.sub,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dotSub("s.sub", "sd.c")} - ${nsqSub("sd.c")} / 2 DESC, sd.cell ASC) AS rn
       |    FROM subs s JOIN seeds sd USING (m))
       |  WHERE rn = 1),
       |refined AS MATERIALIZED (
       |  SELECT m, cell, list(mv ORDER BY pos) AS c
       |  FROM (
       |    SELECT m, cell, pos,
       |      floor(avg(CAST(sub[pos] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mv
       |    FROM a0, (SELECT unnest(range(1, 9)) AS pos)
       |    GROUP BY m, cell, pos)
       |  GROUP BY m, cell),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT s.vec_id, s.m, r.cell,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dotSub("s.sub", "r.c")} - ${nsqSub("r.c")} / 2 DESC, r.cell ASC) AS rn
       |    FROM subs s JOIN refined r USING (m))
       |  WHERE rn = 1),
       |qn AS (
       |  SELECT vec_id AS q_id,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq_q
       |  FROM e WHERE vec_id < $NQ),
       |terms AS (
       |  SELECT cd.vec_id AS n_id, qs.vec_id AS q_id, cd.m,
       |    ${dotSub("qs.sub", "r.c")} AS adot_term,
       |    ${nsqSub("r.c")} AS ansq_term
       |  FROM codes cd
       |  JOIN refined r ON r.m = cd.m AND r.cell = cd.cell
       |  JOIN subs qs ON qs.m = cd.m AND qs.vec_id < $NQ
       |  WHERE cd.vec_id != qs.vec_id),
       |sims AS (
       |  SELECT n_id, q_id,
       |    list_aggregate(list(adot_term ORDER BY m), 'sum') AS adot,
       |    list_aggregate(list(ansq_term ORDER BY m), 'sum') AS ansq
       |  FROM terms GROUP BY n_id, q_id),
       |ranked AS (
       |  SELECT s.q_id, s.n_id,
       |    s.adot / (sqrt(qn.nsq_q) * sqrt(s.ansq)) AS sim,
       |    CAST(row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY s.adot / (sqrt(qn.nsq_q) * sqrt(s.ansq)) DESC, s.n_id ASC) AS INTEGER) AS rnk
       |  FROM sims s JOIN qn USING (q_id))
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // --------------------------------------------------------- v5_int8_ann
  /** Scalar int8 quantization + exact integer top-k — the memory-bound
    * scale path for brute-force search: per-vector symmetric quantization
    * (scale = max|x|/127, q_i = floor(x_i/scale + 0.5)) shrinks the
    * corpus 4x and the integer dot products are EXACT (≤ 127²·64 ≪ 2⁵³),
    * so ranking is fully deterministic and oracle-checkable — unlike
    * float-dot ANN, nothing here depends on summation order. The
    * per-vector scales cancel out of the cosine, so the score is a pure
    * function of the quantized vectors. Quantized values ride in double
    * arrays to reuse the codegen'd DotProduct kernel (every value is an
    * exact small integer; an int8 column would halve memory again but
    * needs a second kernel for no ranking difference).
    *
    * Same join shape as v1: corpus streams once against the broadcast
    * quantized query set; per-query top-k via rank-limited window.
    */
  val v5Int8Ann: Plan = (s, d) => {
    val e = emb(s, d)
    // scale bound in its own projection: a lambda capturing a COMPUTED
    // column would re-evaluate it per element (no CSE inside HOFs)
    val scaled = e.select(col("vec_id"), col("embedding"),
      (array_max(transform(col("embedding"), x => abs(x))) / lit(127.0))
        .as("scale"))
      .filter(col("scale") > 0) // drop degenerate all-zero vectors
    val quant = scaled.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x / col("scale") + lit(0.5)).cast("double")).as("qv"))
    val withNorm = quant.select(col("vec_id"), col("qv"),
      dot(col("qv"), col("qv")).as("qn"))
    val q = withNorm.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("qn").as("q_qn"))
    // two-phase top-K over the quantized brute frame (v1's audit class)
    KeyedRank.keyedTopK(
      withNorm.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
          col("qn").as("n_qn"))
        .join(broadcast(q), col("n_id") =!= col("q_id"))
        .withColumn("sim",
          cosineWithNorms(dot(col("q_qv"), col("n_qv")), col("q_qn"), col("n_qn"))),
      Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), K, "rnk")
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  val v5Int8AnnSql: String =
    s"""WITH scaled AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings),
       |quant AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / scale + 0.5)) AS qv
       |  FROM scaled WHERE scale > 0),
       |normed AS (
       |  SELECT vec_id, qv,
       |    list_sum(list_transform(qv, x -> x * x)) AS qn
       |  FROM quant),
       |pairs AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      i -> q.qv[i] * n.qv[i])) / (sqrt(q.qn) * sqrt(n.qn)) AS sim
       |  FROM normed n, normed q
       |  WHERE q.vec_id < $NQ AND n.vec_id != q.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------------------ v7_mips
  /** Maximum-inner-product search (MIPS) — retrieval scored by RAW dot
    * product, the objective for recommendation / routing workloads where
    * vector NORM carries signal that cosine throws away. Sign-LSH is
    * cosine-native, so the corpus is AUGMENTED first (Bachrach et al.
    * 2014 / Shrivastava-Li 2014): append sqrt(M² − |x|²) as a 65th
    * component (M = max corpus norm, a 1-row broadcast aggregate — never
    * a driver collect). Augmented vectors share the norm M, making
    * inner-product order equal cosine order, so 65-dim sign-LSH buckets
    * + Hamming-1 multiprobe give candidates by EQUALITY join; queries
    * keep augmented component 0 (their norm scales scores uniformly).
    * Exact dot re-scores candidates.
    *
    * Scale shape: identical to v2 — linear corpus scan to buckets, tiny
    * broadcast probe set, no all-pairs. The augmentation term costs one
    * extra multiply-add per plane, computed in the same scan projection
    * as the norm.
    */
  val v7Mips: Plan = (s, d) => {
    val nPlanes = 4
    val planes = hyperplanes(nPlanes, 65)
    val e = emb(s, d).select(col("vec_id"), col("embedding"),
      normSq(col("embedding")).as("nsq"))
    val m2 = e.agg(max(col("nsq")).as("m2"))
    def rawBucket(vec: Column): Column =
      planes.zipWithIndex.map { case (p, i) =>
        when(dot(vec, typedlit(p.take(64).toSeq)) > 0, lit(1L << i))
          .otherwise(lit(0L))
      }.reduce(_.bitwiseOR(_))
    val corpus = e.crossJoin(broadcast(m2))
      .withColumn("aug", sqrt(greatest(col("m2") - col("nsq"), lit(0.0))))
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        planes.zipWithIndex.map { case (p, i) =>
          when(dot(col("embedding"), typedlit(p.take(64).toSeq))
            + col("aug") * lit(p(64)) > 0, lit(1L << i)).otherwise(lit(0L))
        }.reduce(_.bitwiseOR(_)).as("bucket"))
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        explode(multiprobeBuckets(rawBucket(col("embedding")), nPlanes))
          .as("bucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id").asc)
    corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("score", dot(col("q_emb"), col("n_emb")))
      .dropDuplicates("q_id", "n_id")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("score"), 4).as("score"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin with the 65-dim plane coefficients inlined; the max-norm
    * scalar subquery, augmentation sqrt, bucket bits, probes, and exact
    * dot re-score all replay bitwise.
    */
  val v7MipsSql: String = {
    val planes = hyperplanes(4, 65)
    def dotPlane(p: Array[Double], vec: String): String =
      s"list_sum(list_transform(range(1, len($vec) + 1), i -> CAST($vec[i] AS DOUBLE) * ([${p.take(64).mkString(",")}])[i]))"
    val cBucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotPlane(p, "embedding")} + aug * (${p(64)}) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${dotPlane(p, "embedding")} > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq
       |  FROM embeddings),
       |c AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    CAST($cBucket AS BIGINT) AS bucket
       |  FROM (SELECT vec_id, embedding,
       |      sqrt(greatest((SELECT max(nsq) FROM e) - nsq, 0.0)) AS aug
       |    FROM e)),
       |q AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb,
       |    unnest([bucket, xor(bucket, 1), xor(bucket, 2), xor(bucket, 4),
       |      xor(bucket, 8)]) AS bucket
       |  FROM (SELECT vec_id, embedding, CAST($qBucket AS BIGINT) AS bucket
       |    FROM e WHERE vec_id < $NQ)),
       |pairs AS (
       |  SELECT DISTINCT q.q_id, c.vec_id AS n_id,
       |    list_dot_product(
       |      CAST(q.q_emb AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
       |      AS score
       |  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, score,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(score * 10000.0 + 0.5) / 10000.0 AS score
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ----------------------------------------------------- v8_filtered_ann
  /** Metadata-filtered vector search — the hybrid-search shape every
    * retrieval stack needs (vector index + WHERE clause). PRE-filtering:
    * the language predicate pushes into the documents parquet scan, a
    * LEFT SEMI join on doc_id shrinks the corpus BEFORE any distance
    * math, and only survivors pay the O(d) dot product. The alternative
    * (post-filter: search first, filter the top-k) silently under-fills
    * k when the predicate is selective — with a 20%-selective filter and
    * k=10 you'd need k'=50+ to compensate. At cluster scale the same
    * semi-join composes with v4's IVF routing (filter AND cell equality)
    * unchanged; here the verification path is exact brute force so the
    * oracle hash-checks instead of needing a recall bound.
    */
  val v8FilteredAnn: Plan = (s, d) => {
    val en = Tables.load(s, d, "documents")
      .filter(col("lang") === "en").select(col("doc_id"))
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"))
    val c = e.join(en, e("vec_id") === en("doc_id"), "left_semi")
      .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        normSq(col("embedding")).as("nsq_n"))
    val sim = cosineWithNorms(dot(col("q_emb"), col("n_emb")),
      col("nsq_q"), col("nsq_n"))
    // two-phase top-K: the filtered corpus is still corpus-scale per
    // query (a predicate shrinks, never bounds — v1's audit class)
    KeyedRank.keyedTopK(
      c.join(broadcast(q), col("n_id") =!= col("q_id")).withColumn("sim", sim),
      Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), K, "rnk")
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  val v8FilteredAnnSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NQ),
       |c AS (SELECT e.* FROM embeddings e
       |  WHERE e.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')),
       |pairs AS (
       |  SELECT q.q_id, e.vec_id AS n_id,
       |    list_dot_product(
       |      CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |    / (sqrt(list_dot_product(
       |         CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
       |     * sqrt(list_dot_product(
       |         CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
       |  FROM c e, q WHERE e.vec_id != q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM pairs)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // ----------------------------------------------------- v9_rerank
  /** Two-stage retrieval — the production serving architecture every
    * vector stack converges on: a CHEAP coarse pass (v5's int8-quantized
    * cosine) shortlists 4·k candidates per query by ids alone, then the
    * exact float rerank runs ONLY on the shortlist, with the full-precision
    * vectors RE-FETCHED BY JOIN (the coarse index stores codes, not
    * vectors — at 100 TB the float embeddings never ride through the
    * scoring scan, only |queries|·4k of them are ever materialized).
    * Output carries both ranks, so the reorder the rerank performs is
    * visible (coarse_rnk ≠ rnk rows are exactly the quantization errors
    * the second stage repairs).
    */
  val v9Rerank: Plan = (s, d) => {
    val SL = 4 * K
    val e = emb(s, d)
    val scaled = e.select(col("vec_id"), col("embedding"),
      (array_max(transform(col("embedding"), x => abs(x))) / lit(127.0))
        .as("scale"))
      .filter(col("scale") > 0)
    val quant = scaled.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x / col("scale") + lit(0.5)).cast("double")).as("qv"))
    val withNorm = quant.select(col("vec_id"), col("qv"),
      dot(col("qv"), col("qv")).as("qn"))
    val cq = withNorm.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("qn").as("q_qn"))
    // coarse shortlist through the two-phase cut: the quantized score
    // pass is corpus-sized per query (v1's audit class)
    val short = KeyedRank.keyedTopK(
      withNorm.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
          col("qn").as("n_qn"))
        .join(broadcast(cq), col("n_id") =!= col("q_id"))
        .withColumn("coarse",
          cosineWithNorms(dot(col("q_qv"), col("n_qv")), col("q_qn"), col("n_qn"))),
      Seq("q_id"), Seq(col("coarse").desc, col("n_id").asc), SL, "coarse_rnk")
      .select(col("q_id"), col("n_id"), col("coarse_rnk"))
    val wf = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    short
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb")),
        "n_id")
      .join(broadcast(e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))),
        "q_id")
      .withColumn("sim", cosineWithNorms(dot(col("q_emb"), col("n_emb")),
        normSq(col("q_emb")), normSq(col("n_emb"))))
      .withColumn("rnk", row_number().over(wf).cast("int"))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"),
        sround(col("sim"), 4).as("sim"), col("coarse_rnk"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin: v5's quantized coarse CTEs → 4k shortlist → exact
    * cosine rerank over vectors re-joined from the embeddings table.
    */
  val v9RerankSql: String =
    s"""WITH scaled AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
       |  FROM embeddings),
       |quant AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / scale + 0.5)) AS qv
       |  FROM scaled WHERE scale > 0),
       |normed AS (
       |  SELECT vec_id, qv,
       |    list_sum(list_transform(qv, x -> x * x)) AS qn
       |  FROM quant),
       |cpairs AS (
       |  SELECT q.vec_id AS q_id, n.vec_id AS n_id,
       |    list_sum(list_transform(range(1, len(q.qv) + 1),
       |      i -> q.qv[i] * n.qv[i])) / (sqrt(q.qn) * sqrt(n.qn)) AS coarse
       |  FROM normed n, normed q
       |  WHERE q.vec_id < $NQ AND n.vec_id != q.vec_id),
       |short AS (
       |  SELECT q_id, n_id, coarse_rnk FROM (
       |    SELECT q_id, n_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY coarse DESC, n_id ASC) AS INTEGER) AS coarse_rnk
       |    FROM cpairs)
       |  WHERE coarse_rnk <= ${4 * K}),
       |ex AS (
       |  SELECT s.q_id, s.n_id, s.coarse_rnk,
       |    list_dot_product(
       |      CAST(qe.embedding AS DOUBLE[]), CAST(ne.embedding AS DOUBLE[]))
       |    / (sqrt(list_dot_product(
       |         CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))
       |     * sqrt(list_dot_product(
       |         CAST(ne.embedding AS DOUBLE[]), CAST(ne.embedding AS DOUBLE[]))))
       |      AS sim
       |  FROM short s JOIN embeddings ne ON ne.vec_id = s.n_id
       |  JOIN embeddings qe ON qe.vec_id = s.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, sim, coarse_rnk,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM ex)
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim,
       |  coarse_rnk
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------------------ v10_kmeans
  /** Full k-means corpus clustering (multi-iteration Lloyd) + cluster-
    * balanced sampling — the curation primitive behind SemDeDup-style and
    * cluster-diversity data selection (partition the embedding space, then
    * take an equal-sized deterministic sample per cluster so every content
    * region contributes to the training mix regardless of raw density).
    *
    * v4's IVF build stops after ONE Lloyd refinement (enough for a routing
    * quantizer); this is the real trainer loop: [[KmIters]] rounds of
    * assign → elementwise-mean, with 4-decimal-rounded centroid means
    * (engine-portable — the v4 argument) and EMPTY-CELL CARRY: a cell that
    * loses all members keeps its previous centroid. Both engines decide
    * emptiness on identical rounded arithmetic, so they agree.
    *
    * Scale shape: each iteration is ONE narrow corpus scan (k×dim
    * centroids broadcast in the projection) + a (cell, pos)-keyed partial
    * agg whose post-shuffle size is k×dim rows — constant in corpus size;
    * the per-round centroid collect is a k×dim driver artifact (bounded by
    * construction, the v4 precedent). The balanced sample dodges the
    * k-partition window hotspot (k=8 clusters would serialize a naive
    * global row_number at 100 TB): a salted pre-rank over (cluster,
    * hash(vec_id) % 32) keeps ≤ quota candidates per salt lane — each
    * lane's top-quota is a superset of its contribution to the global
    * top-quota — and the exact rank runs on k×32×quota survivors.
    */
  private[graft] val KmCells = 8
  private[graft] val KmIters = 3
  private[graft] val KmQuota = 25

  /** The trained centroids after [[KmIters]] Lloyd rounds — exposed for
    * the in-memory differential test in SimilaritySpec.
    */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): Array[Array[Double]] = {
    val e = emb(s, d)
    // driver-bound(k-bounded): KmCells seed vectors (vec_id < KmCells literal cut)
    val seeds: Array[Array[Double]] = e.filter(col("vec_id") < KmCells)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(x => if (n == 0) 0.0 else x / n)
      }
    var cents = seeds
    for (_ <- 1 to KmIters) {
      // 8×64 rows per round — bounded by construction
      val means: Map[Int, Array[Double]] = e
        .select(nearestCell(cents, col("embedding")).as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("v")).as("m"))
        // driver-bound(stat-frame): KmCells x dim mean rows per Lloyd round
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.map(r => (r.getInt(1),
              math.floor(r.getDouble(2) * 1e4 + 0.5) / 1e4))
            .sortBy(_._1).map(_._2)
        }
      cents = Array.tabulate(KmCells)(c => means.getOrElse(c, cents(c)))
    }
    cents
  }

  val v10Kmeans: Plan = (s, d) => {
    val cents = kmeansCentroids(s, d)
    val assigned = emb(s, d).select(col("vec_id"),
      nearestCell(cents, col("embedding")).as("cluster"))
    val sizes = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
    val h = md5(col("vec_id").cast("string"))
    val pre = Window
      .partitionBy(col("cluster"), pmod(hash(col("vec_id")), lit(32)))
      .orderBy(col("h"), col("vec_id"))
    val fin = Window.partitionBy(col("cluster"))
      .orderBy(col("h"), col("vec_id"))
    assigned
      .withColumn("h", h)
      .withColumn("pr", row_number().over(pre))
      .filter(col("pr") <= KmQuota)
      .withColumn("rnk", row_number().over(fin))
      .filter(col("rnk") <= KmQuota)
      .join(broadcast(sizes), Seq("cluster"))
      .select(col("cluster"), col("n_members"), col("rnk"), col("vec_id"))
      .orderBy("cluster", "rnk")
  }

  /** DuckDB twin of v10: the ENTIRE training loop — seed normalization,
    * three unrolled assign/mean rounds with the same 4-decimal rounding
    * and LEFT-JOIN empty-cell carry — then final assignment, cluster
    * sizes, and the hash-ordered balanced sample. The oracle's single
    * per-cluster window and Spark's salted two-phase rank select the same
    * rows (each salt lane's top-quota is a superset of its part of the
    * global top-quota).
    */
  val v10KmeansSql: String = {
    def assign(n: Int): String =
      s"""a$n AS MATERIALIZED (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, s.cell,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dotList("e.embedding", "s.c")} DESC, s.cell ASC) AS rn
         |    FROM e, c${n - 1} s) WHERE rn = 1)""".stripMargin
    def refine(n: Int): String =
      s"""c$n AS MATERIALIZED (
         |  SELECT p.cell, coalesce(m.c, p.c) AS c
         |  FROM c${n - 1} p LEFT JOIN (
         |    SELECT cell, list(m ORDER BY i) AS c FROM (
         |      SELECT cell, i,
         |        floor(avg(CAST(embedding[i] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS m
         |      FROM a$n, (SELECT unnest(range(1, 65)) AS i)
         |      GROUP BY cell, i)
         |    GROUP BY cell) m ON p.cell = m.cell)""".stripMargin
    val rounds = (1 to KmIters).map(n => s"${assign(n)},\n${refine(n)}").mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    CASE WHEN sqrt(nsq) = 0 THEN list_transform(embedding, x -> 0.0)
       |         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) END AS c
       |  FROM (
       |    SELECT vec_id, embedding,
       |      list_dot_product(
       |        CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq
       |    FROM embeddings WHERE vec_id < $KmCells)),
       |$rounds,
       |af AS MATERIALIZED (
       |  SELECT vec_id, cell AS cluster FROM (
       |    SELECT e.vec_id, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, c$KmIters r) WHERE rn = 1),
       |sized AS (SELECT cluster, count(*) AS n_members FROM af GROUP BY cluster),
       |ranked AS (
       |  SELECT cluster, vec_id,
       |    CAST(row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) AS rnk
       |  FROM af)
       |SELECT r.cluster, s.n_members, r.rnk, r.vec_id
       |FROM ranked r JOIN sized s USING (cluster)
       |WHERE r.rnk <= $KmQuota ORDER BY cluster, rnk""".stripMargin
  }

  // ----------------------------------------------------- v12_ivf_append
  /** Incremental IVF index maintenance — d10's asymmetric discipline for
    * vectors: the standing index (centroids trained on the EXISTING
    * corpus only, vec_id < Split) is FROZEN, and the incoming delta is
    * assigned to it without retraining — the production append path,
    * since retraining on every delta re-shuffles the whole corpus. Per
    * cell the operator reports existing membership, incoming membership,
    * and a DRIFT metric (mean cosine of incoming vectors to their
    * assigned centroid, sorted-fold summed): when drift sags, the
    * quantizer no longer fits the data and a retrain (v10's full Lloyd)
    * is due — the measurement that schedules it.
    *
    * Scale shape: the build side is v4's bounded k×dim artifact computed
    * from existing only; the append is ONE narrow pass over the DELTA
    * (centroid literals inside the projection — no join, no shuffle on
    * corpus keys) + one k-row agg. Cost scales with the delta, exactly
    * like d10/NearDupStream on the text side.
    */
  val v12IvfAppend: Plan = (s, d) => {
    val k = 16
    val split = 400L
    val e = emb(s, d)
    val ex = e.filter(col("vec_id") < split)
    val refined = ivfRefined(ex, k)
    // per-cell centroid norms as a literal lookup (exact same doubles the
    // oracle derives from its refined CTE: ascending-dimension sum)
    val cnorm = refined.map(c => math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x)))
    val exCells = ex
      .select(nearestCell(refined, col("embedding")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_existing"))
    val incCells = e.filter(col("vec_id") >= split)
      .select(col("vec_id"), normSq(col("embedding")).as("nsq"),
        centroidDots(refined, col("embedding")).as("scores"))
      .select(col("vec_id"), col("nsq"),
        (array_position(col("scores"), array_max(col("scores"))) - 1)
          .cast("int").as("cell"),
        array_max(col("scores")).as("cdot"))
      .withColumn("csim", col("cdot") /
        (sqrt(col("nsq")) * element_at(typedlit(cnorm.toSeq), col("cell") + 1)))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_incoming"),
        (aggregate(array_sort(collect_list(col("csim"))), lit(0.0),
          (acc, x) => acc + x) / count(lit(1))).as("drift_raw"))
    exCells.join(incCells, Seq("cell"), "left")
      .select(col("cell"), col("n_existing"),
        coalesce(col("n_incoming"), lit(0L)).as("n_incoming"),
        sround(col("drift_raw"), 4).as("drift_sim"))
      .orderBy("cell")
  }

  val v12IvfAppendSql: String = {
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq
       |  FROM embeddings),
       |ex AS MATERIALIZED (SELECT * FROM e WHERE vec_id < 400),
       |seeds AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    CASE WHEN sqrt(nsq) = 0 THEN list_transform(embedding, x -> 0.0)
       |         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) END AS c
       |  FROM ex WHERE vec_id < 16),
       |a0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell
       |  FROM (
       |    SELECT ex.vec_id, ex.embedding, s.cell,
       |      row_number() OVER (PARTITION BY ex.vec_id
       |        ORDER BY ${dotList("ex.embedding", "s.c")} DESC, s.cell ASC) AS rn
       |    FROM ex, seeds s)
       |  WHERE rn = 1),
       |refined AS MATERIALIZED (
       |  SELECT cell, list(m ORDER BY i) AS c
       |  FROM (
       |    SELECT cell, i,
       |      floor(avg(CAST(embedding[i] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS m
       |    FROM a0, (SELECT unnest(range(1, 65)) AS i)
       |    GROUP BY cell, i)
       |  GROUP BY cell),
       |exa AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_existing
       |  FROM (
       |    SELECT ex.vec_id, r.cell,
       |      row_number() OVER (PARTITION BY ex.vec_id
       |        ORDER BY ${dotList("ex.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM ex, refined r)
       |  WHERE rn = 1 GROUP BY cell),
       |inca AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_incoming,
       |    list_aggregate(list_sort(list(csim)), 'sum') / count(*) AS drift_raw
       |  FROM (
       |    SELECT e.vec_id, r.cell,
       |      ${dotList("e.embedding", "r.c")}
       |        / (sqrt(e.nsq) * sqrt(${dotList("r.c", "r.c")})) AS csim,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r WHERE e.vec_id >= 400)
       |  WHERE rn = 1 GROUP BY cell)
       |SELECT exa.cell, exa.n_existing,
       |  coalesce(inca.n_incoming, 0) AS n_incoming,
       |  floor(inca.drift_raw * 10000.0 + 0.5) / 10000.0 AS drift_sim
       |FROM exa LEFT JOIN inca USING (cell)
       |ORDER BY exa.cell""".stripMargin
  }

  // ---------------------------------------------------- v11_recall_eval
  /** ANN quality evaluation — the harness every index deployment needs
    * ("measure, don't guess"): recall@K of the sign-LSH index (v2)
    * against exact brute force (v1), per query. Emits, for each query:
    * how many neighbors the index returned (n_approx ≤ K), how many of
    * the true top-K it found (n_overlap), and recall@K — the operator
    * that tells you whether 4 planes is enough BEFORE you commit the
    * index shape at scale. (t22_langid_audit is the same pattern for
    * labeling operators; this closes it for retrieval.)
    *
    * Scale shape: composes two already-audited plans; everything after
    * them is NQ×K rows — constant in corpus size. Recall measurement
    * inherently pays one exact pass, which is why production evals run
    * on a SAMPLED query set (NQ here); the corpus-side cost is v1's
    * audited broadcast-join scan, not a new shape.
    */
  val v11RecallEval: Plan = (s, d) => {
    val exact = v1KnnBrute(s, d).select(col("q_id"), col("n_id"))
    val approx = v2AnnLsh(s, d).select(col("q_id"), col("n_id"))
    val nApprox = approx.groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_approx"))
    val hit = approx.withColumn("hit", lit(1L))
    exact.join(hit, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_exact"), sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .join(nApprox, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_overlap"),
        sround(col("n_overlap") / lit(K.toDouble), 4).as("recall_at_k"))
      .orderBy("q_id")
  }

  val v11RecallEvalSql: String =
    s"""WITH exact AS (SELECT q_id, n_id FROM ($v1KnnBruteSql)),
       |approx AS (SELECT q_id, n_id FROM ($v2AnnLshSql)),
       |na AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_approx
       |       FROM approx GROUP BY q_id)
       |SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
       |  coalesce(any_value(na.n_approx), 0) AS n_approx,
       |  CAST(count(a.n_id) AS BIGINT) AS n_overlap,
       |  floor(count(a.n_id) / CAST($K AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |    AS recall_at_k
       |FROM exact e
       |LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |LEFT JOIN na ON na.q_id = e.q_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  // --------------------------------------------------------- v14_ivfpq
  /** IVF+PQ — the composed two-level index that production vector stores
    * actually deploy (FAISS's IVFPQ shape, raw-vector variant): v4's
    * coarse quantizer ROUTES each query to its 4 nearest cells, and
    * within the probed cells candidates are scored by v6's asymmetric
    * distance over 8 one-byte codes — no float vector is touched at
    * search time, and only nprobe/k of the code table is scanned. The
    * two index builds are independent (coarse on whole vectors, PQ on
    * raw subvectors) and reused VERBATIM from v4/v6 (shared builders),
    * so the composition adds exactly one equality join: candidates =
    * coded ⋈ probes on the cell key.
    *
    * Scale shape: everything bounded-or-narrow from the component
    * audits — two driver-side codebook artifacts, two narrow encode
    * passes, and a search that streams 1/4 of a 64x-compressed code
    * table against broadcast LUTs. The oracle replays BOTH builds and
    * the composed scoring as one CTE chain (iv_ / pq_ prefixes), so even
    * the two-level approximation hash-checks.
    */
  val v14IvfPq: Plan = (s, d) => {
    val e = emb(s, d)
    // the two codebook builds are INDEPENDENT driver-side artifacts
    // (coarse on whole vectors, PQ on raw subvectors) whose corpus
    // aggregates ran strictly sequentially — two driver threads (guide
    // §2.6, r18 change 6's pattern) overlap their seed collects and
    // Lloyd-step aggregates; frames and results are unchanged
    val (refinedC, ix) = graft.Par.par2(ivfRefined(e, 16), pqBuild(s, e))
    // coarse half: v4's refined quantizer, corpus cells, query probes
    val corpusCells = e.select(col("vec_id").as("n_id"),
      nearestCell(refinedC, col("embedding")).as("cell"))
    val probes = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"),
        centroidDots(refinedC, col("embedding")).as("cscores"))
      .select(col("q_id"),
        explode(slice(array_sort(
          transform(col("cscores"),
            (sc, i) => struct((-sc).as("neg"), i.cast("int").as("cell")))),
          1, 4)).as("probe"))
      .select(col("q_id"), col("probe.cell").as("cell"))
    val cand = corpusCells.join(broadcast(probes), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"))
    // fine half: v6's codes + LUTs (ix, built above in parallel with the
    // coarse quantizer), scored over the candidates only
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    ix.coded.join(cand, Seq("n_id"))
      .join(broadcast(ix.qdf), Seq("q_id"))
      .withColumn("sim", ix.adot / (sqrt(col("nsq_q")) * sqrt(ix.ansq)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .select(col("q_id"), col("rnk"), col("n_id"), sround(col("sim"), 4).as("sim"))
      .orderBy("q_id", "rnk")
  }

  /** Oracle: v4's routing CTEs (iv_) + v6's coding CTEs (pq_) + the
    * candidate join, spellings copied verbatim from the component twins.
    */
  val v14IvfPqSql: String = {
    def dotSub(a: String, b: String): String =
      s"list_sum(list_transform(range(1, 9), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def nsqSub(a: String): String = dotSub(a, a)
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    list_dot_product(
       |      CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) AS nsq
       |  FROM embeddings),
       |iv_seeds AS MATERIALIZED (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    CASE WHEN sqrt(nsq) = 0 THEN list_transform(embedding, x -> 0.0)
       |         ELSE list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(nsq)) END AS c
       |  FROM e WHERE vec_id < 16),
       |iv_a0 AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, s.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "s.c")} DESC, s.cell ASC) AS rn
       |    FROM e, iv_seeds s)
       |  WHERE rn = 1),
       |iv_refined AS MATERIALIZED (
       |  SELECT cell, list(m ORDER BY i) AS c
       |  FROM (
       |    SELECT cell, i,
       |      floor(avg(CAST(embedding[i] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS m
       |    FROM iv_a0, (SELECT unnest(range(1, 65)) AS i)
       |    GROUP BY cell, i)
       |  GROUP BY cell),
       |iv_corpus AS MATERIALIZED (
       |  SELECT vec_id AS n_id, cell
       |  FROM (
       |    SELECT e.vec_id, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, iv_refined r)
       |  WHERE rn = 1),
       |iv_probes AS (
       |  SELECT vec_id AS q_id, cell
       |  FROM (
       |    SELECT e.vec_id, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, iv_refined r
       |    WHERE e.vec_id < $NQ)
       |  WHERE rn <= 4),
       |cand AS MATERIALIZED (
       |  SELECT q.q_id, c.n_id
       |  FROM iv_corpus c JOIN iv_probes q USING (cell)
       |  WHERE c.n_id != q.q_id),
       |subs AS MATERIALIZED (
       |  SELECT vec_id, m, embedding[(m*8+1):(m*8+8)] AS sub
       |  FROM e, (SELECT unnest(range(8)) AS m)),
       |pq_seeds AS MATERIALIZED (
       |  SELECT m, CAST(row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS INTEGER) AS cell,
       |    sub AS c
       |  FROM subs WHERE vec_id < 16),
       |pq_a0 AS MATERIALIZED (
       |  SELECT vec_id, m, cell, sub FROM (
       |    SELECT s.vec_id, s.m, sd.cell, s.sub,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dotSub("s.sub", "sd.c")} - ${nsqSub("sd.c")} / 2 DESC, sd.cell ASC) AS rn
       |    FROM subs s JOIN pq_seeds sd USING (m))
       |  WHERE rn = 1),
       |pq_refined AS MATERIALIZED (
       |  SELECT m, cell, list(mv ORDER BY pos) AS c
       |  FROM (
       |    SELECT m, cell, pos,
       |      floor(avg(CAST(sub[pos] AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS mv
       |    FROM pq_a0, (SELECT unnest(range(1, 9)) AS pos)
       |    GROUP BY m, cell, pos)
       |  GROUP BY m, cell),
       |pq_codes AS MATERIALIZED (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT s.vec_id, s.m, r.cell,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |        ORDER BY ${dotSub("s.sub", "r.c")} - ${nsqSub("r.c")} / 2 DESC, r.cell ASC) AS rn
       |    FROM subs s JOIN pq_refined r USING (m))
       |  WHERE rn = 1),
       |qn AS (
       |  SELECT vec_id AS q_id, nsq AS nsq_q FROM e WHERE vec_id < $NQ),
       |terms AS (
       |  SELECT cd.vec_id AS n_id, qs.vec_id AS q_id, cd.m,
       |    ${dotSub("qs.sub", "r.c")} AS adot_term,
       |    ${nsqSub("r.c")} AS ansq_term
       |  FROM pq_codes cd
       |  JOIN pq_refined r ON r.m = cd.m AND r.cell = cd.cell
       |  JOIN subs qs ON qs.m = cd.m
       |  JOIN cand ON cand.n_id = cd.vec_id AND cand.q_id = qs.vec_id),
       |sims AS (
       |  SELECT n_id, q_id,
       |    list_aggregate(list(adot_term ORDER BY m), 'sum') AS adot,
       |    list_aggregate(list(ansq_term ORDER BY m), 'sum') AS ansq
       |  FROM terms GROUP BY n_id, q_id),
       |ranked AS (
       |  SELECT s.q_id, s.n_id,
       |    s.adot / (sqrt(qn.nsq_q) * sqrt(s.ansq)) AS sim,
       |    CAST(row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY s.adot / (sqrt(qn.nsq_q) * sqrt(s.ansq)) DESC, s.n_id ASC) AS INTEGER) AS rnk
       |  FROM sims s JOIN qn USING (q_id))
       |SELECT q_id, rnk, n_id, floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM ranked WHERE rnk <= $K ORDER BY q_id, rnk""".stripMargin
  }

  // ----------------------------------------------- v13_truncation_eval
  /** Dimension-truncation recall eval (the Matryoshka question): how much
    * of the exact top-K survives when retrieval uses only the FIRST
    * 8/16/32 of the 64 dims? Truncated prefixes are the cheapest
    * shortlist there is — a 8-dim scan moves 1/8th the bytes — and this
    * harness says per query what that costs in recall BEFORE a deploy
    * commits to a prefix length (v11's discipline, third member of the
    * eval family after d12/g12).
    *
    * Scale shape: three extra brute passes over SLICED vectors (the
    * slice happens in the scan projection — strictly cheaper per row
    * than v1's full pass), each v1's audited broadcast-join shape;
    * everything after is dims × NQ × K rows. Like v11, production runs
    * this on a sampled query set; the harness's cost IS the exact
    * baseline it measures against.
    */
  private val TruncDims = Seq(8, 16, 32)

  val v13TruncationEval: Plan = (s, d) => {
    val exact = v1KnnBrute(s, d).select(col("q_id"), col("n_id"))
      .withColumn("hit", lit(1L))
      .materialize() // joined under each truncated pass
    val e = emb(s, d)
    val truncTop = TruncDims.map { dm =>
      val q = e.filter(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"),
          slice(col("embedding"), 1, dm).as("q_emb"))
        .withColumn("nsq_q", normSq(col("q_emb")))
      val c = e.select(col("vec_id").as("n_id"),
        slice(col("embedding"), 1, dm).as("n_emb"))
        .withColumn("nsq_n", normSq(col("n_emb")))
      val sim = cosineWithNorms(dot(col("q_emb"), col("n_emb")),
        col("nsq_q"), col("nsq_n"))
      // each truncated pass is a brute corpus frame per query — same
      // two-phase cut as v1 (round-16 audit class)
      KeyedRank.keyedTopK(
        c.join(broadcast(q), col("n_id") =!= col("q_id")).withColumn("sim", sim),
        Seq("q_id"), Seq(col("sim").desc, col("n_id").asc), K, "rnk")
        .select(lit(dm).cast("long").as("dim"), col("q_id"), col("n_id"))
    }.reduce(_ unionAll _)
    truncTop.join(exact, Seq("q_id", "n_id"), "left")
      .groupBy(col("dim"), col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("dim"), col("q_id"), col("n_overlap"),
        sround(col("n_overlap") / lit(K.toDouble), 4).as("recall_at_k"))
      .orderBy("dim", "q_id")
  }

  /** Oracle: v1's CTE + one truncated brute CTE per prefix length with
    * the identical index-ordered prefix sums.
    */
  val v13TruncationEvalSql: String = {
    def dotPfx(a: String, b: String, dm: Int) =
      s"list_sum(list_transform(range(1, ${dm + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
    def cte(dm: Int) =
      s"""t$dm AS (
         |  SELECT CAST($dm AS BIGINT) AS dim, q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        ${dotPfx("q.q_emb", "e.embedding", dm)}
         |        / (sqrt(${dotPfx("q.q_emb", "q.q_emb", dm)})
         |         * sqrt(${dotPfx("e.embedding", "e.embedding", dm)})) DESC,
         |        e.vec_id ASC) AS rnk
         |    FROM embeddings e, qv q WHERE e.vec_id != q.q_id)
         |  WHERE rnk <= $K)""".stripMargin
    s"""WITH exact AS (SELECT q_id, n_id FROM ($v1KnnBruteSql)),
       |qv AS (SELECT vec_id AS q_id, embedding AS q_emb
       |       FROM embeddings WHERE vec_id < $NQ),
       |${cte(8)},
       |${cte(16)},
       |${cte(32)}
       |SELECT t.dim, t.q_id AS q_id, CAST(count(e.n_id) AS BIGINT) AS n_overlap,
       |  floor(count(e.n_id) / CAST($K AS DOUBLE) * 10000.0 + 0.5) / 10000.0
       |    AS recall_at_k
       |FROM (SELECT * FROM t8 UNION ALL SELECT * FROM t16
       |      UNION ALL SELECT * FROM t32) t
       |LEFT JOIN exact e ON e.q_id = t.q_id AND e.n_id = t.n_id
       |GROUP BY t.dim, t.q_id ORDER BY t.dim, t.q_id""".stripMargin
  }

  // ------------------------------------------------------ v16_knn_join
  /** k-NN GRAPH construction (cell-blocked kNN self-join) — the
    * SemDeDup / graph-ML prep step: EVERY corpus vector gets its top-3
    * cosine neighbors among the vectors of its own IVF cell, with v4's
    * coarse-quantizer build reused verbatim (one spelling, shared oracle
    * CTE chain — the v14 discipline). The self-join is key-equality on
    * the cell, never corpus²; the pair bill is Σ|cell|², which is the
    * knob production turns by growing the cell count with the corpus
    * (cells of bounded size keep the bill linear). Single-probe by
    * design: a neighbor graph tolerates cell-boundary loss (d7 consumes
    * exactly this kind of cell-local pair set; v11's harness is how a
    * deploy measures what the boundary costs).
    */
  val v16KnnJoin: Plan = (s, d) => {
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val corpus = e.select(col("vec_id"), col("embedding"),
        normSq(col("embedding")).as("nsq"),
        nearestCell(refined, col("embedding")).as("cell"))
      .materialize() // both sides of the cell self-join
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("nbr").asc)
    corpus.select(col("vec_id").as("src"), col("embedding").as("e_a"),
        col("nsq").as("nsq_a"), col("cell"))
      .join(corpus.select(col("vec_id").as("nbr"), col("embedding").as("e_b"),
        col("nsq").as("nsq_b"), col("cell")), Seq("cell"))
      .filter(col("src") =!= col("nbr"))
      .withColumn("sim", cosineWithNorms(dot(col("e_a"), col("e_b")),
        col("nsq_a"), col("nsq_b")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("src").as("vec_id"), col("rnk"), col("nbr").as("nbr_id"),
        sround(col("sim"), 4).as("sim"))
      .orderBy("vec_id", "rnk")
  }

  /** DuckDB twin: v4's shared build CTEs, then the same cell self-join
    * and per-source rank.
    */
  val v16KnnJoinSql: String = {
    // The naive twin ranks EVERY within-cell pair in one window — at
    // scaled SFs that is a multi-billion-row sort (the compare harness,
    // not the operator, became the certification bottleneck; round-12's
    // q24 lesson). Exact top-3 without the giant sort: bucket neighbors
    // by nbr_id mod 64, take per-bucket maxima (hash agg), and
    // lower-bound the true 3rd-best sim by the 3rd-largest bucket max —
    // three distinct buckets' maxima are sims of three distinct pairs,
    // so the 3rd-best overall can't be smaller. Rows below the bound
    // (the overwhelming majority) never reach the window; vecs with
    // fewer than 3 non-empty buckets keep everything (bound -2 < any
    // cosine). Same rows, bit-identical sims, tiny sort.
    // The pair stream appears TWICE as an inline derived table on
    // purpose: a pair-stream CTE gets engine-materialized (billions of
    // buffered rows at scaled SFs — exactly what this rewrite avoids),
    // while a derived table streams straight into its consumer's hash
    // agg / bounded window.
    def pairsSql: String =
      s"""(SELECT a.n_id AS vec_id, b.n_id AS nbr_id,
         |    ${dotList("a.n_emb", "b.n_emb")}
         |      / (sqrt(a.nsq_n) * sqrt(b.nsq_n)) AS sim
         |  FROM corpus a JOIN corpus b USING (cell)
         |  WHERE a.n_id != b.n_id)""".stripMargin
    s"""WITH $ivfCorpusCtes,
       |bound AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN count(*) >= 3 THEN min(m) ELSE -2.0 END AS m3
       |  FROM (SELECT vec_id, m,
       |          row_number() OVER (PARTITION BY vec_id ORDER BY m DESC) AS r
       |        FROM (SELECT vec_id, nbr_id % 64 AS bk, max(sim) AS m
       |              FROM $pairsSql bm GROUP BY 1, 2))
       |  WHERE r <= 3 GROUP BY vec_id),
       |rk AS (
       |  SELECT p.vec_id, p.nbr_id, p.sim,
       |    row_number() OVER (PARTITION BY p.vec_id
       |      ORDER BY p.sim DESC, p.nbr_id ASC) AS rnk
       |  FROM $pairsSql p JOIN bound b ON b.vec_id = p.vec_id
       |  WHERE p.sim >= b.m3)
       |SELECT vec_id, CAST(rnk AS INTEGER) AS rnk, nbr_id,
       |  floor(sim * 10000.0 + 0.5) / 10000.0 AS sim
       |FROM rk WHERE rnk <= 3 ORDER BY vec_id, rnk""".stripMargin
  }

  // -------------------------------------------------- v17_hard_negatives
  /** Hard-negative mining for retrieval training — the DPR / ANCE prep
    * step (Karpukhin et al. 2020; Xiong et al. 2021): for each query
    * vector, the highest-cosine candidates with a DIFFERENT class label
    * are the negatives a contrastive loss learns most from. Candidates
    * come from v4's IVF probe budget verbatim (nprobe=4 cells — mining
    * runs inside the ANN bill, never corpus-wide), negatives rank within
    * the probe set, and each row carries the query's margin: best
    * same-label sim minus the negative's sim. A NEGATIVE margin means
    * this negative currently outscores every positive in the probe set —
    * ANCE's signal that the pair matters; NULL margin means no positive
    * was probed at all.
    *
    * Distributed shape: one corpus scan (cell assignment in the scan
    * projection), candidates by cell-equality join against the broadcast
    * probe set, and the candidate frame is materialized ONCE to feed
    * both the negative ranking and the positive max — the second
    * consumer costs no second scan.
    */
  val v17HardNegatives: Plan = (s, d) => {
    val nprobe = 4
    val nNeg = 5
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      col("label").as("n_label"),
      normSq(col("embedding")).as("nsq_n"),
      nearestCell(refined, col("embedding")).as("cell"))
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"),
        normSq(col("embedding")).as("nsq_q"),
        centroidDots(refined, col("embedding")).as("cscores"))
      .select(col("q_id"), col("q_emb"), col("q_label"), col("nsq_q"),
        explode(slice(array_sort(
          transform(col("cscores"), (sc, i) => struct((-sc).as("neg"), i.cast("int").as("cell")))),
          1, nprobe)).as("probe"))
      .select(col("q_id"), col("q_emb"), col("q_label"), col("nsq_q"),
        col("probe.cell").as("cell"))
    val cand = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("sim",
        cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n")))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"), col("sim"))
      .materialize() // feeds the negative ranking AND the positive max
    val pos = cand.filter(col("n_label") === col("q_label"))
      .groupBy(col("q_id")).agg(max(col("sim")).as("pos_sim"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("n_id").asc)
    cand.filter(col("n_label") =!= col("q_label"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= nNeg)
      .join(pos, Seq("q_id"), "left")
      .select(col("q_id"), col("rnk"), col("n_id"), col("n_label"),
        sround(col("sim"), 4).as("sim"),
        sround(col("pos_sim") - col("sim"), 4).as("margin"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin: v4's shared build CTEs + v4's probes spelling, labels
    * joined back from the base table, then the same negative rank /
    * positive max / margin arithmetic.
    */
  val v17HardNegativesSql: String = {
    s"""WITH $ivfCorpusCtes,
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, e.nsq, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r
       |    WHERE e.vec_id < $NQ)
       |  WHERE rn <= 4),
       |cand AS MATERIALIZED (
       |  SELECT q.q_id, qe.label AS q_label, c.n_id, le.label AS n_label,
       |    ${dotList("q.q_emb", "c.n_emb")} / (sqrt(q.nsq_q) * sqrt(c.nsq_n)) AS sim
       |  FROM corpus c JOIN probes q USING (cell)
       |  JOIN embeddings le ON le.vec_id = c.n_id
       |  JOIN embeddings qe ON qe.vec_id = q.q_id
       |  WHERE c.n_id != q.q_id),
       |pos AS (
       |  SELECT q_id, max(sim) AS pos_sim FROM cand
       |  WHERE n_label = q_label GROUP BY q_id),
       |negs AS (
       |  SELECT q_id, n_id, n_label, sim,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, n_id ASC) AS INTEGER) AS rnk
       |  FROM cand WHERE n_label != q_label)
       |SELECT n.q_id, n.rnk, n.n_id, n.n_label,
       |  floor(n.sim * 10000.0 + 0.5) / 10000.0 AS sim,
       |  floor((p.pos_sim - n.sim) * 10000.0 + 0.5) / 10000.0 AS margin
       |FROM negs n LEFT JOIN pos p USING (q_id)
       |WHERE n.rnk <= 5 ORDER BY n.q_id, n.rnk""".stripMargin
  }

  // ------------------------------------------------ v18_prototypicality
  /** Prototypicality scoring & pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power law scaling via data pruning"):
    * a vector's cosine to its OWN cluster centroid ranks how prototypical
    * the example is; in the abundant-data regime the top fifth of each
    * cluster — the easiest, most redundant examples — is pruned and the
    * hard tail kept. Reuses v4's coarse quantizer verbatim (one build
    * spelling, the v14 discipline).
    *
    * Distributed shape — why this is linear at any corpus size: there are
    * NO pairs. One corpus scan computes the cell assignment and the
    * centroid cosine in the scan projection (centroids are a k×dim
    * broadcast literal); the only shuffle is the per-cell ranking window,
    * and cells are exactly the unit production scales out by growing the
    * cell count. The prune cutoff is integer arithmetic on the cell
    * count (ceil(cnt/5)), so the keep flag is deterministic under any
    * partitioning.
    */
  val v18Prototypicality: Plan = (s, d) => {
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val nsqC: Array[Double] = refined.map { c =>
      var t = 0.0; var i = 0
      while (i < c.length) { t += c(i) * c(i); i += 1 }; t
    }
    val w = Window.partitionBy(col("cell"))
    e.select(col("vec_id"),
        normSq(col("embedding")).as("nsq"),
        nearestCell(refined, col("embedding")).as("cell"),
        centroidDots(refined, col("embedding")).as("cdots"))
      .select(col("vec_id"), col("cell"),
        cosineWithNorms(element_at(col("cdots"), col("cell") + 1),
          col("nsq"),
          element_at(typedlit(nsqC.toSeq), col("cell") + 1)).as("proto"))
      .withColumn("rnk",
        row_number().over(w.orderBy(col("proto").desc, col("vec_id").asc)))
      .withColumn("cnt", count(lit(1)).over(w))
      .select(col("vec_id"), col("cell"), sround(col("proto"), 4).as("proto"),
        col("rnk"),
        (col("rnk") > floor((col("cnt") + lit(4)) / lit(5))).as("keep"))
      .orderBy("vec_id")
  }

  /** DuckDB twin: the shared build CTEs, centroid cosine via the same
    * fold, per-cell rank + count windows, integer ceil-div cutoff.
    */
  val v18PrototypicalitySql: String = {
    s"""WITH $ivfCorpusCtes,
       |scored AS (
       |  SELECT c.n_id AS vec_id, c.cell,
       |    ${dotList("c.n_emb", "r.c")}
       |      / (sqrt(c.nsq_n) * sqrt(${dotList("r.c", "r.c")})) AS proto
       |  FROM corpus c JOIN refined r USING (cell)),
       |rk AS (
       |  SELECT vec_id, cell, proto,
       |    CAST(row_number() OVER (PARTITION BY cell
       |      ORDER BY proto DESC, vec_id ASC) AS INTEGER) AS rnk,
       |    count(*) OVER (PARTITION BY cell) AS cnt
       |  FROM scored)
       |SELECT vec_id, cell, floor(proto * 10000.0 + 0.5) / 10000.0 AS proto,
       |  rnk, rnk > (cnt + 4) // 5 AS keep
       |FROM rk ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------------- v19_nprobe_sweep
  /** IVF operating-point sweep — d13's threshold-sweep discipline for the
    * vector index: recall@K against v1's exact ground truth AND the
    * candidate bill (vectors actually scored) at nprobe ∈ {1, 2, 4, 8},
    * the curve a deploy reads to pick its probe budget (v4 hardcodes 4;
    * this is the evidence). Recall denominators and candidate counts are
    * exact integers, so the curve hash-replays.
    *
    * Distributed shape: ONE candidate frame at the maximum budget
    * (probe_rank ≤ 8) with each similarity computed ONCE, materialized,
    * then every operating point is a filter + rank over that frame (the
    * nprobe=n candidate set is a prefix of nprobe=8's by construction) —
    * the sweep costs one ANN pass, not four. The 4-row budget table
    * cross-joins broadcast; rank windows partition on (np, q_id) — K×NQ×4
    * rows past the candidate frame at any corpus size.
    */
  val v19NprobeSweep: Plan = (s, d) => {
    import s.implicits._
    val maxProbe = 8
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"),
      nearestCell(refined, col("embedding")).as("cell"))
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"),
        centroidDots(refined, col("embedding")).as("cscores"))
      .select(col("q_id"), col("q_emb"), col("nsq_q"),
        posexplode(slice(array_sort(
          transform(col("cscores"), (sc, i) => struct((-sc).as("neg"), i.cast("int").as("cell")))),
          1, maxProbe)).as(Seq("pr0", "probe")))
      .select(col("q_id"), col("q_emb"), col("nsq_q"),
        (col("pr0") + 1).as("probe_rank"), col("probe.cell").as("cell"))
    val cand = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("probe_rank"), col("n_id"),
        cosineWithNorms(dot(col("q_emb"), col("n_emb")), col("nsq_q"), col("nsq_n"))
          .as("sim"))
      .materialize() // one sim per candidate serves all four budgets
    val nps = Seq(1, 2, 4, 8).toDF("np")
    val percand = cand.crossJoin(broadcast(nps))
      .filter(col("probe_rank") <= col("np"))
    val w = Window.partitionBy(col("np"), col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    val exact = v1KnnBrute(s, d).select(col("q_id"), col("n_id"))
    val counts = percand.groupBy(col("np"))
      .agg(count(lit(1)).as("total_candidates"))
    val overlap = percand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .join(exact, Seq("q_id", "n_id"))
      .groupBy(col("np")).agg(count(lit(1)).as("total_overlap"))
    counts.join(overlap, Seq("np"), "left")
      .select(col("np").as("nprobe"), col("total_candidates"),
        coalesce(col("total_overlap"), lit(0L)).as("total_overlap"),
        sround(coalesce(col("total_overlap"), lit(0L))
          / lit((NQ * K).toDouble), 4).as("recall_at_k"))
      .orderBy("nprobe")
  }

  /** DuckDB twin: the shared IVF build CTEs, v4's probe spelling at
    * rank ≤ 8, the same single candidate frame filtered per budget, and
    * v1's oracle as the exact side.
    */
  val v19NprobeSweepSql: String = {
    s"""WITH $ivfCorpusCtes,
       |probes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q, cell,
       |    rn AS probe_rank
       |  FROM (
       |    SELECT e.vec_id, e.embedding, e.nsq, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r
       |    WHERE e.vec_id < $NQ)
       |  WHERE rn <= 8),
       |cand AS MATERIALIZED (
       |  SELECT q.q_id, q.probe_rank, c.n_id,
       |    ${dotList("q.q_emb", "c.n_emb")} / (sqrt(q.nsq_q) * sqrt(c.nsq_n)) AS sim
       |  FROM corpus c JOIN probes q USING (cell)
       |  WHERE c.n_id != q.q_id),
       |nps AS (SELECT unnest([1, 2, 4, 8]) AS np),
       |percand AS MATERIALIZED (
       |  SELECT np, q_id, n_id, sim FROM cand JOIN nps ON probe_rank <= np),
       |topk AS (
       |  SELECT np, q_id, n_id FROM (
       |    SELECT np, q_id, n_id, row_number() OVER (PARTITION BY np, q_id
       |      ORDER BY sim DESC, n_id ASC) AS rnk
       |    FROM percand)
       |  WHERE rnk <= $K),
       |exact AS (SELECT q_id, n_id FROM ($v1KnnBruteSql)),
       |counts AS (SELECT np, CAST(count(*) AS BIGINT) AS total_candidates
       |           FROM percand GROUP BY np),
       |ov AS (SELECT np, CAST(count(*) AS BIGINT) AS total_overlap
       |       FROM topk t JOIN exact e USING (q_id, n_id) GROUP BY np)
       |SELECT c.np AS nprobe, c.total_candidates,
       |  coalesce(o.total_overlap, 0) AS total_overlap,
       |  floor(coalesce(o.total_overlap, 0) / CAST(${NQ * K} AS DOUBLE)
       |    * 10000.0 + 0.5) / 10000.0 AS recall_at_k
       |FROM counts c LEFT JOIN ov o USING (np)
       |ORDER BY nprobe""".stripMargin
  }

  // -------------------------------------------------- v20_bitext_mining
  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    * LASER/CCMatrix recipe for building parallel MT/LLM corpora): for
    * every non-English document, the best English candidate scored by
    * the MARGIN criterion — raw cosine divided by the mean of both
    * sides' k-NN cosines — which cancels hubness (a vector that is close
    * to EVERYTHING has a high denominator, so raw-cosine false mates are
    * demoted; margin > 1 ⟺ this pair is closer than its neighborhoods).
    *
    *   margin(x, y) = 2·cos(x,y) / (meanK(x) + meanK(y)),  k = 4
    *
    * Blocking is v4's coarse quantizer verbatim (one spelling, shared
    * oracle CTE chain): candidates and BOTH k-NN neighborhoods live
    * inside the vector's own IVF cell, so the pair bill is Σ|Xc|·|Yc| —
    * the bipartite v16 shape, grown by cell count at corpus scale, never
    * corpus². The pair stream is recomputed per consumer (three
    * passes: meanK(x), meanK(y), final scoring) — at 100 TB recomputing
    * a streamed join is cheap, materializing billions of pairs is not
    * (v16's lesson). meanK sums use the sorted-fold idiom (g1's
    * bitwise-deterministic double reduction), and the margin is one
    * identically-spelled division, so the twin replays exactly.
    */
  val v20BitextMining: Plan = (s, d) => {
    val kNN = 4
    val e = emb(s, d)
    val langs = Tables.load(s, d, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val refined = ivfRefined(e, 16)
    val corpus = e.join(langs, "vec_id")
      .select(col("vec_id"), col("embedding"),
        normSq(col("embedding")).as("nsq"),
        nearestCell(refined, col("embedding")).as("cell"), col("lang"))
      .materialize() // linear frame; feeds both language sides
    val xs = corpus.filter(col("lang") =!= "en")
      .select(col("vec_id").as("x_id"), col("embedding").as("e_x"),
        col("nsq").as("nsq_x"), col("cell"))
    val ys = corpus.filter(col("lang") === "en")
      .select(col("vec_id").as("y_id"), col("embedding").as("e_y"),
        col("nsq").as("nsq_y"), col("cell"))
    def pairs: DataFrame = xs.join(ys, Seq("cell"))
      .withColumn("sim", cosineWithNorms(dot(col("e_x"), col("e_y")),
        col("nsq_x"), col("nsq_y")))
      .select(col("x_id"), col("y_id"), col("sim"))
    def meanK(key: String, other: String): DataFrame = pairs
      .withColumn("r", row_number().over(Window.partitionBy(col(key))
        .orderBy(col("sim").desc, col(other).asc)))
      .where(col("r") <= kNN)
      .groupBy(col(key))
      .agg((sortedFoldSum(col("sim")) / count(lit(1))).as(s"m_$key"))
    pairs
      .join(meanK("x_id", "y_id"), "x_id")
      .join(meanK("y_id", "x_id"), "y_id")
      .withColumn("margin",
        lit(2.0) * col("sim") / (col("m_x_id") + col("m_y_id")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("x_id"))
        .orderBy(col("margin").desc, col("y_id").asc)))
      .where(col("rk") === 1)
      .select(col("x_id"), col("y_id"),
        sround(col("sim"), 4).as("sim"), sround(col("margin"), 4).as("margin"))
      .orderBy("x_id")
  }

  /** DuckDB twin: v4's shared build CTEs + lang join, the pair stream
    * INLINED per consumer (a pair CTE would materialize — v16's lesson),
    * list_sort+list_aggregate for the deterministic k-NN mean folds.
    */
  val v20BitextMiningSql: String = {
    def pairsSql: String =
      s"""(SELECT x.n_id AS x_id, y.n_id AS y_id,
         |    ${dotList("x.n_emb", "y.n_emb")}
         |      / (sqrt(x.nsq_n) * sqrt(y.nsq_n)) AS sim
         |  FROM corpx x JOIN corpy y USING (cell))""".stripMargin
    def meanSql(key: String, other: String): String =
      s"""  SELECT $key, list_aggregate(list_sort(list(sim)), 'sum')
         |      / count(*) AS m_$key
         |  FROM (SELECT $key, $other, sim,
         |          row_number() OVER (PARTITION BY $key
         |            ORDER BY sim DESC, $other ASC) AS r
         |        FROM $pairsSql pr)
         |  WHERE r <= 4 GROUP BY $key""".stripMargin
    s"""WITH $ivfCorpusCtes,
       |langd AS (SELECT doc_id AS n_id, lang FROM documents),
       |corpx AS MATERIALIZED (
       |  SELECT c.* FROM corpus c JOIN langd l USING (n_id)
       |  WHERE l.lang != 'en'),
       |corpy AS MATERIALIZED (
       |  SELECT c.* FROM corpus c JOIN langd l USING (n_id)
       |  WHERE l.lang = 'en'),
       |mx AS MATERIALIZED (
       |${meanSql("x_id", "y_id")}),
       |my AS MATERIALIZED (
       |${meanSql("y_id", "x_id")}),
       |scored AS (
       |  SELECT p.x_id, p.y_id, p.sim,
       |    2.0 * p.sim / (mx.m_x_id + my.m_y_id) AS margin,
       |    row_number() OVER (PARTITION BY p.x_id
       |      ORDER BY 2.0 * p.sim / (mx.m_x_id + my.m_y_id) DESC,
       |               p.y_id ASC) AS rk
       |  FROM $pairsSql p JOIN mx USING (x_id) JOIN my USING (y_id))
       |SELECT x_id, y_id,
       |  floor(sim * 10000.0 + 0.5) / 10000.0 AS sim,
       |  floor(margin * 10000.0 + 0.5) / 10000.0 AS margin
       |FROM scored WHERE rk = 1 ORDER BY x_id""".stripMargin
  }

  // --------------------------------------------------- v21_hybrid_rrf
  /** Hybrid dense+lexical retrieval with reciprocal-rank fusion — the
    * production search shape (Cormack, Clarke & Buettcher SIGIR'09 RRF;
    * every hybrid RAG/search stack runs this): each query retrieves a
    * top-K list from TWO independent rankers — exact cosine over the
    * embedding column (v1's plan) and per-query BM25 over the text
    * column (t26's exact scoring spelling, generalized from fixed query
    * terms to each query doc's own token set) — and the lists fuse by
    * RRF(d) = Σ 1/(60 + rank_i(d)), which needs no score calibration
    * between rankers (the whole point: cosine and BM25 live on
    * incomparable scales).
    *
    * Distributed shape: the dense side is v1's broadcast-queries single
    * corpus pass; the lexical side is a token-keyed join of the
    * BROADCAST query-term set against the corpus term index (the
    * inverted-index probe — corpus-linear, never corpus×queries), with
    * the per-query top-K cut through [[KeyedRank.keyedTopK]]'s two-phase
    * rank instead of a single-partition-per-q_id window, so a
    * candidate-heavy query never sorts its full list in one task.
    * Fusion is a full-outer join of two ≤ NQ·K-row rank lists — bounded
    * by the probe budget, independent of corpus size. Float discipline:
    * each BM25 term replays bitwise (log2 of integer ratios + rational
    * saturation, t26's proof), per-(q,doc) sums use the sorted fold, and
    * the RRF score is one fixed-order two-term sum of exact rationals.
    */
  /** v21's dense candidate scores: every (query, other-doc) cosine —
    * v1's broadcast-queries single corpus pass, shared by v21 (K-cut)
    * and v22 (full-rank ground truth).
    */
  private[graft] def v21DenseSims(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"))
    val c = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
      normSq(col("embedding")).as("nsq_n"))
    c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("sim", cosineWithNorms(dot(col("q_emb"), col("n_emb")),
        col("nsq_q"), col("nsq_n")))
      .select(col("q_id"), col("n_id").as("doc_id"), col("sim"))
  }

  /** v21's lexical candidate scores: per-query BM25 over the corpus
    * term index through the query-term probe — the
    * (q, doc)-keyed sorted-fold sums, before any rank cut. Shared by
    * v21 (top-K) and v22 (full-rank ground truth).
    */
  private[graft] def v21Bm25Scores(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.lowerTokens
    val toks = Tables.load(s, d, "documents")
      .select(col("doc_id"), lowerTokens(col("text")).as("t"))
      .materialize() // term index, doc lengths AND the query-term side
    // dl rides the ti aggregation key (functionally dependent on doc_id —
    // same exchange, same row set) so the scoring pass below needs NO
    // doc-length join at all (r17 optimization, guide §2.4: the old
    // `.join(dl, "doc_id")` re-shuffled or re-broadcast the postings for
    // a column the term index can carry for free)
    val ti = toks.select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        explode(col("t")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .materialize() // the df agg AND the query-term probe
    val dfq = ti.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("t")).cast("long")).as("sum_dl"))
    val qt = toks.filter(col("doc_id") < NQ)
      .select(col("doc_id").as("q_id"), explode(col("t")).as("token"))
      .distinct()
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contrib =
      log2(lit(1.0) +
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
        ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / avgdl))))
    // probe terms with their df, so no post-probe dfq join
    val probe = broadcast(qt).join(dfq, "token")
    broadcast(probe).join(ti, "token")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(stats))
      .select(col("q_id"), col("doc_id"), contrib.as("c"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sortedFoldSum(col("c")).as("score"))
  }

  /** The FULL per-query dense and BM25 rank lists (v22/v24's ground-truth
    * inputs) from ONE keyedRank pass (r18, guide §5). Rank within
    * (side, q_id) is independent per group, so a side-tagged union ranked
    * by the composite key "d<q_id>" / "b<q_id>" yields exactly the two
    * separate full ranks — same (ord DESC, doc_id ASC) total order per
    * group, same int ranks — while the keyedRank action bill (input
    * checkpoint, count+bottom-k sample job, per-shard offset job) is paid
    * once instead of twice. One checkpoint carries both lists; the two
    * consumers filter it by side. The scorer subtrees meet at one
    * exchange as INDEPENDENT stages of the same job DAG, so they compute
    * concurrently without the r17 driver-thread overlap.
    */
  private[graft] def v21FusedFullRanks(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val tagged = v21DenseSims(s, d)
      .select(col("q_id"), col("doc_id"), col("sim").as("ord"),
        lit("d").as("side"))
      .unionAll(v21Bm25Scores(s, d)
        .select(col("q_id"), col("doc_id"), col("score").as("ord"),
          lit("b").as("side")))
      .withColumn("qk", concat(col("side"), col("q_id").cast("string")))
    val both = KeyedRank.keyedRank(tagged, "qk", "ord", "doc_id", "r")
      .materialize() // ground truth AND the K-truncated replays, per side
    (both.where(col("side") === "d")
       .select(col("q_id"), col("doc_id"), col("r").as("rd")),
     both.where(col("side") === "b")
       .select(col("q_id"), col("doc_id"), col("r").as("rb")))
  }

  val v21HybridRrf: Plan = (s, d) => {
    val kFuse = 3
    // dense ranker: v1's exact cosine top-K (v1's documented
    // brute-force eval contract — NQ sampled queries), cut through the
    // SAME two-phase keyedTopK as the lexical side: the brute frame is
    // corpus-sized PER QUERY, so a bare per-q_id window would sort a
    // billion-row list in one task at 100 TB (VERDICT r15's one weak)
    val drank = KeyedRank.keyedTopK(v21DenseSims(s, d), Seq("q_id"),
      Seq(col("sim").desc, col("doc_id").asc), K, "rd")
      .select(col("q_id"), col("doc_id"), col("rd"))
    // lexical ranker: top-K through the two-phase cut
    val brank = KeyedRank.keyedTopK(v21Bm25Scores(s, d), Seq("q_id"),
      Seq(col("score").desc, col("doc_id").asc), K, "rb")
      .select(col("q_id"), col("doc_id"), col("rb"))
    // reciprocal-rank fusion over the two bounded rank lists
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    drank.join(brank, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)))
      .withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= kFuse)
      .select(col("q_id"), col("rnk"), col("doc_id"),
        col("rd").as("r_dense"), col("rb").as("r_bm25"),
        sround(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rnk")
  }

  /** DuckDB twin: the v1 cosine pair spelling, the t26 BM25 term
    * spelling over the query docs' distinct tokens, list_sort folds for
    * per-(q,doc) sums, and the identical two-term RRF expression
    * (CAST(rank AS DOUBLE) keeps DuckDB's decimal literals out of the
    * division).
    */
  /** Shared oracle CTE prefix: the full-rank dense (`drank`) and BM25
    * (`brank`) lists from the v1 cosine and t26 BM25 spellings — ONE
    * spelling consumed by both v21's oracle (which cuts at K before
    * fusing) and v22's (which also fuses the uncut lists as ground
    * truth).
    */
  private val v21RankCtes: String =
    s"""toks AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x != '') AS t
       |  FROM documents),
       |ti AS MATERIALIZED (
       |  SELECT doc_id, token, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(t) AS token FROM toks) GROUP BY 1, 2),
       |dfq AS (SELECT token, count(*) AS df FROM ti GROUP BY token),
       |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |qt AS (SELECT DISTINCT doc_id AS q_id, unnest(t) AS token
       |       FROM toks WHERE doc_id < $NQ),
       |contrib AS (
       |  SELECT qt.q_id, ti.doc_id,
       |    log2(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
       |      ((ti.tf * 2.2) / (ti.tf + 1.2 * (0.25 + 0.75 *
       |        (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))) AS c
       |  FROM qt JOIN ti USING (token) JOIN dfq d USING (token)
       |  JOIN dl ON dl.doc_id = ti.doc_id CROSS JOIN stats s
       |  WHERE ti.doc_id != qt.q_id),
       |brank AS (
       |  SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rb
       |  FROM (SELECT q_id, doc_id,
       |          list_aggregate(list_sort(list(c)), 'sum') AS score
       |        FROM contrib GROUP BY 1, 2)),
       |dpairs AS (
       |  SELECT q.vec_id AS q_id, e.vec_id AS doc_id,
       |    list_dot_product(
       |      CAST(q.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
       |    / (sqrt(list_dot_product(
       |         CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
       |     * sqrt(list_dot_product(
       |         CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS sim
       |  FROM embeddings e, (SELECT vec_id, embedding FROM embeddings
       |                      WHERE vec_id < $NQ) q
       |  WHERE e.vec_id != q.vec_id),
       |drank AS (
       |  SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, doc_id ASC) AS INTEGER) AS rd
       |  FROM dpairs)""".stripMargin

  val v21HybridRrfSql: String =
    s"""WITH $v21RankCtes,
       |fused AS (
       |  SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |    coalesce(dr.doc_id, br.doc_id) AS doc_id, dr.rd, br.rb,
       |    coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |  FROM (SELECT * FROM drank WHERE rd <= $K) dr
       |  FULL OUTER JOIN (SELECT * FROM brank WHERE rb <= $K) br
       |    ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id)
       |SELECT q_id, rnk, doc_id, rd AS r_dense, rb AS r_bm25,
       |  floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
       |FROM (SELECT q_id, doc_id, rd, rb, rrf,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |      FROM fused)
       |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  // --------------------------------------------------- v22_hybrid_eval
  /** Hybrid-retrieval deploy gate — v11's recall discipline applied to
    * v21's fused list. Ground truth is RRF over the FULL per-query rank
    * lists (no top-K cut before fusion): truncated fusion is genuinely
    * approximate — a doc at dense rank 2 whose BM25 rank sits just
    * outside K carries 1/(60+2) + 1/(60+K+ε) in TRUE fused order,
    * which can outrank a dense-rank-1 doc with no lexical support at
    * 1/61 — so the deployed pipeline needs this measurement, per
    * query, before the K budget is committed (exactly v11's argument
    * for v2's planes). Emits n_truth, n_approx, n_overlap and
    * recall@kFuse per query.
    *
    * Scale shape: composes the two audited v21 score passes; the exact
    * side pays full-rank lists over the NQ-sampled query set (v11's
    * eval contract), computed through [[KeyedRank.keyedRank]] so even
    * a corpus-sized candidate list never sorts in one task. Everything
    * after the rank lists is NQ-bounded.
    */
  val v22HybridEval: Plan = (s, d) => {
    val kFuse = 3
    // each scorer runs ONCE; the deployed v21 list is derived from the
    // same frames — a full rank filtered to <= K IS v21's top-K rank
    // (same total order), so the harness never re-scores the corpus.
    // BOTH full ranks ride ONE keyedRank pass (r18, guide §5): rank
    // within (side, q_id) is independent per group, so tagging the
    // dense and lexical score frames with a side prefix and ranking the
    // union by the composite key produces row-identical rd/rb while
    // paying keyedRank's action bill (input checkpoint + count/sample
    // job + offset job) ONCE instead of twice. The two scorer subtrees
    // feed one exchange as independent stages of one job DAG, so they
    // still execute concurrently — the r17 two-thread overlap is now a
    // plan property, not driver scheduling.
    val (dfull, bfull) = v21FusedFullRanks(s, d)
    def fuse(dr: DataFrame, br: DataFrame): DataFrame =
      dr.join(br, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rd")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)))
    val truth = KeyedRank.keyedTopK(fuse(dfull, bfull), Seq("q_id"),
      Seq(col("rrf").desc, col("doc_id").asc), kFuse, "rt")
      .select(col("q_id"), col("doc_id"))
    // approx side: BOTH inputs are K-cut rank lists, so the fused frame is
    // ≤ 2K rows per query BY CONSTRUCTION — v21's plain bounded window is
    // the right cut here (1 exchange), not the corpus-safe two-phase
    // keyedTopK (3 exchanges) the truth side above still needs (r17
    // optimization, guide §2.4; identical total order, identical rows)
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val approx =
      fuse(dfull.where(col("rd") <= K), bfull.where(col("rb") <= K))
        .withColumn("rt", row_number().over(wA)).where(col("rt") <= kFuse)
        .select(col("q_id"), col("doc_id"))
    val nApprox = approx.groupBy(col("q_id")).agg(count(lit(1)).as("n_approx"))
    truth.join(approx.withColumn("hit", lit(1L)), Seq("q_id", "doc_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .join(nApprox, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_overlap"),
        sround(col("n_overlap") / lit(kFuse.toDouble), 4).as("recall_at_k"))
      .orderBy("q_id")
  }

  /** Oracle: the SAME rank-CTE prefix as v21's oracle (one spelling of
    * both scorers), fused twice — once K-cut (the deployed v21 replay),
    * once uncut (ground truth) — then v11's overlap arithmetic.
    */
  val v22HybridEvalSql: String =
    s"""WITH $v21RankCtes,
       |approx AS (
       |  SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |    FROM (
       |      SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |        coalesce(dr.doc_id, br.doc_id) AS doc_id,
       |        coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |          + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |      FROM (SELECT * FROM drank WHERE rd <= $K) dr
       |      FULL OUTER JOIN (SELECT * FROM brank WHERE rb <= $K) br
       |        ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id))
       |  WHERE rnk <= 3),
       |truth AS (
       |  SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |    FROM (
       |      SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |        coalesce(dr.doc_id, br.doc_id) AS doc_id,
       |        coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |          + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |      FROM drank dr
       |      FULL OUTER JOIN brank br
       |        ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id))
       |  WHERE rnk <= 3),
       |na AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_approx
       |       FROM approx GROUP BY q_id)
       |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
       |  coalesce(any_value(na.n_approx), 0) AS n_approx,
       |  CAST(count(a.doc_id) AS BIGINT) AS n_overlap,
       |  floor(count(a.doc_id) / 3.0 * 10000.0 + 0.5) / 10000.0
       |    AS recall_at_k
       |FROM truth t
       |LEFT JOIN approx a ON a.q_id = t.q_id AND a.doc_id = t.doc_id
       |LEFT JOIN na ON na.q_id = t.q_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin

  // ----------------------------------------------------- v23_cell_shard
  /** IVF hot-cell sub-sharding — the ANN family's one structural skew
    * exposure closed the production way. Every per-cell plan in the
    * family (v4/v14/v15/v19's candidate windows) is bounded by CELL
    * size, and k-means gives no balance guarantee: at corpus scale a
    * dense region (the near-dup mass d7 measures) lands one cell with a
    * corpus-share of the vectors — a hot key for any per-cell sort or
    * build. The standard remedy (FAISS-style) is sub-sharding: split
    * every cell into ceil(size / cap) shards with a HARD cap, so each
    * (cell, shard) becomes the new bounded work unit. The shard id is
    * assigned by per-cell hash-ordered rank through [[KeyedRank
    * .keyedRank]] (cell cardinality is driver-bounded — 16 here; a
    * cell's SIZE is not), so the cap is exact — floor((rank-1)/cap) —
    * never probabilistic, and no cell ever sorts in one task. Emits the
    * per-cell audit: size, shard count, max shard size (provably ≤ cap),
    * with cap = ceil(1.25 · N / k) in exact integer arithmetic.
    */
  val v23CellShard: Plan = (s, d) => {
    val k = V23K
    val e = emb(s, d)
    val n = e.count()
    // ceil(1.25 * n / k) in integer arithmetic: 1.25/k == 5/(4k), so
    // ceil(5n / 4k) = (5n + 4k - 1) / (4k) — the overfactor tracks k
    val cap = (5L * n + (4L * k - 1L)) / (4L * k)
    val refined = ivfRefined(e, k)
    val assigned = e.select(col("vec_id"),
        nearestCell(refined, col("embedding")).as("cell"))
      .withColumn("ck", col("cell").cast("string"))
      .withColumn("h", md5(col("vec_id").cast("string")))
    val ranked = KeyedRank.keyedRank(assigned, "ck", "h", "vec_id", "r",
      descending = false)
    val sharded = ranked.withColumn("shard",
      floor((col("r") - 1) / lit(cap.toDouble)).cast("int"))
    sharded.groupBy(col("cell"), col("shard"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("cell"))
      .agg(sum(col("c")).as("n_before"),
        count(lit(1)).as("n_shards"),
        max(col("c")).as("shard_max"))
      .withColumn("cap", lit(cap))
      .orderBy("cell")
  }

  /** Oracle: v4's corpus-assignment CTEs verbatim (one quantizer
    * spelling), then the identical hash-ordered per-cell rank and
    * integer cap arithmetic.
    */
  val v23CellShardSql: String =
    s"""WITH $ivfCorpusCtes,
       |nrow AS (SELECT count(*) AS n FROM e),
       |capt AS (SELECT CAST((5 * n + ${4 * V23K - 1}) // ${4 * V23K} AS BIGINT) AS cap FROM nrow),
       |rankedc AS (
       |  SELECT cell, CAST(row_number() OVER (PARTITION BY cell
       |    ORDER BY md5(CAST(n_id AS VARCHAR)), n_id) AS INTEGER) AS r
       |  FROM corpus),
       |sharded AS (
       |  SELECT cell,
       |    CAST(floor((r - 1) / CAST(cap AS DOUBLE)) AS INTEGER) AS shard
       |  FROM rankedc, capt),
       |per AS (SELECT cell, shard, count(*) AS c FROM sharded GROUP BY 1, 2)
       |SELECT cell, CAST(sum(c) AS BIGINT) AS n_before,
       |  CAST(count(*) AS BIGINT) AS n_shards,
       |  CAST(max(c) AS BIGINT) AS shard_max,
       |  (SELECT cap FROM capt) AS cap
       |FROM per GROUP BY cell ORDER BY cell""".stripMargin

  // --------------------------------------------------- v24_ann_hybrid
  /** ANN-dense hybrid retrieval + its deploy gate — VERDICT r15's
    * "What's missing #1", the production serving shape of the v21
    * flagship: the dense ranker is v4's CELL-BOUNDED IVF shortlist
    * (nprobe nearest cells, exact cosine inside probed cells only — the
    * FAISS serving pattern) instead of the brute corpus pass, fused with
    * v21's df-capped BM25 top-K by the same fixed-order RRF (Cormack et
    * al. 2009). The emitted number is the gate: per-query recall@kFuse
    * of the ANN-hybrid fused list against the BRUTE FULL-RANK fused
    * truth (v22's ground-truth contract) — i.e. what swapping the brute
    * dense pass for the bounded ANN bill costs the fused ranking, the
    * measurement a deploy commits to before shipping the cheap plan.
    *
    * Scale shape: the dense candidate bill is nprobe/k of the corpus
    * (v4's audit), the lexical bill df-capped (v21), both rank cuts are
    * two-phase keyedTopK, and only the TRUTH side pays full-rank brute
    * lists — through keyedRank's sharded windows, NQ-bounded output
    * (the eval-harness contract; the serving path never computes it).
    *
    * `nprobe` is a parameter for the differential spec: probing ALL k
    * cells makes the shortlist exactly the brute top-K, so
    * v24(nprobe=16) must REPRODUCE v22's output bit-for-bit — the
    * correctness proof that the only approximation is the probe budget.
    */
  /** The served dense ranker shared by v24 (eval) and v25 (serving):
    * v4's IVF probe — corpus assigned to its nearest refined cell,
    * queries probe their `nprobe` nearest cells, exact cosine inside
    * probed cells only, top-K through the two-phase cut. Candidate
    * bill = nprobe/k of the corpus (v4's audit), never corpus-sized.
    */
  private def annDenseRank(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val e = emb(s, d)
    val refined = ivfRefined(e, 16)
    val corpus = e.select(col("vec_id").as("doc_id"),
      col("embedding").as("n_emb"), normSq(col("embedding")).as("nsq_n"),
      nearestCell(refined, col("embedding")).as("cell"))
    val queries = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        normSq(col("embedding")).as("nsq_q"),
        centroidDots(refined, col("embedding")).as("cscores"))
      .select(col("q_id"), col("q_emb"), col("nsq_q"),
        explode(slice(array_sort(
          transform(col("cscores"),
            (sc, i) => struct((-sc).as("neg"), i.cast("int").as("cell")))),
          1, nprobe)).as("probe"))
      .select(col("q_id"), col("q_emb"), col("nsq_q"),
        col("probe.cell").as("cell"))
    KeyedRank.keyedTopK(
      corpus.join(broadcast(queries), Seq("cell"))
        .filter(col("doc_id") =!= col("q_id"))
        .withColumn("sim", cosineWithNorms(dot(col("q_emb"), col("n_emb")),
          col("nsq_q"), col("nsq_n"))),
      Seq("q_id"), Seq(col("sim").desc, col("doc_id").asc), K, "rd")
      .select(col("q_id"), col("doc_id"), col("rd"))
  }

  private[graft] def v24AnnHybridEval(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val kFuse = 3
    // truth side: v22's full-rank lists, BOTH from the one fused
    // keyedRank pass (see v21FusedFullRanks — half the keyedRank action
    // bill, row-identical ranks); the lexical full rank ALSO serves the
    // approx side via its K-cut. The ANN shortlist is independent of the
    // brute ranks until the fuse — built on a second driver thread
    // (guide §2.6) so its probe/codebook collects overlap the fused
    // rank's checkpoint stages.
    val (annRank, (dfull, bfull)) = graft.Par.par2(
      annDenseRank(s, d, nprobe),
      v21FusedFullRanks(s, d))
    def fuse(dr: DataFrame, br: DataFrame): DataFrame =
      dr.join(br, Seq("q_id", "doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60.0) + col("rd")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)))
    val truth = KeyedRank.keyedTopK(fuse(dfull, bfull), Seq("q_id"),
      Seq(col("rrf").desc, col("doc_id").asc), kFuse, "rt")
      .select(col("q_id"), col("doc_id"))
    // approx side: annRank is keyedTopK-cut to ≤ K and the lexical side is
    // rb <= K, so the fused frame is ≤ 2K rows per query BY CONSTRUCTION —
    // v21's plain bounded window replaces the two-phase cut (r17
    // optimization; identical total order, identical rows)
    val wA = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    val approx =
      fuse(annRank, bfull.where(col("rb") <= K))
        .withColumn("rt", row_number().over(wA)).where(col("rt") <= kFuse)
        .select(col("q_id"), col("doc_id"))
    val nApprox = approx.groupBy(col("q_id")).agg(count(lit(1)).as("n_approx"))
    truth.join(approx.withColumn("hit", lit(1L)), Seq("q_id", "doc_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .join(nApprox, Seq("q_id"), "left")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"), col("n_overlap"),
        sround(col("n_overlap") / lit(kFuse.toDouble), 4).as("recall_at_k"))
      .orderBy("q_id")
  }

  val v24AnnHybrid: Plan = (s, d) => v24AnnHybridEval(s, d, nprobe = 4)

  /** Oracle: v21's shared rank-CTE prefix (full drank/brank — one
    * spelling of both brute scorers) PLUS v4's IVF build CTEs (one
    * spelling of the quantizer), the probed ANN rank, and v22's fuse +
    * overlap arithmetic with the ANN list on the approx dense side.
    */
  /** The ANN-shortlist rank as a reusable CTE fragment (`aprobes` /
    * `apairs` / `arank`) over v4's shared build chain — one spelling
    * consumed by v24's oracle (eval) and v25's (serving).
    */
  private val annRankCtes: String = {
    s"""aprobes AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nsq AS nsq_q, cell
       |  FROM (
       |    SELECT e.vec_id, e.embedding, e.nsq, r.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotList("e.embedding", "r.c")} DESC, r.cell ASC) AS rn
       |    FROM e, refined r
       |    WHERE e.vec_id < $NQ)
       |  WHERE rn <= 4),
       |apairs AS (
       |  SELECT q.q_id, c.n_id AS doc_id,
       |    ${dotList("q.q_emb", "c.n_emb")} / (sqrt(q.nsq_q) * sqrt(c.nsq_n)) AS sim
       |  FROM corpus c JOIN aprobes q USING (cell)
       |  WHERE c.n_id != q.q_id),
       |arank AS (
       |  SELECT q_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY sim DESC, doc_id ASC) AS INTEGER) AS rd
       |  FROM apairs)""".stripMargin
  }

  val v24AnnHybridSql: String = {
    s"""WITH $v21RankCtes,
       |$ivfCorpusCtes,
       |$annRankCtes,
       |approx AS (
       |  SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |    FROM (
       |      SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |        coalesce(dr.doc_id, br.doc_id) AS doc_id,
       |        coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |          + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |      FROM (SELECT * FROM arank WHERE rd <= $K) dr
       |      FULL OUTER JOIN (SELECT * FROM brank WHERE rb <= $K) br
       |        ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id))
       |  WHERE rnk <= 3),
       |truth AS (
       |  SELECT q_id, doc_id FROM (
       |    SELECT q_id, doc_id,
       |      CAST(row_number() OVER (PARTITION BY q_id
       |        ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |    FROM (
       |      SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |        coalesce(dr.doc_id, br.doc_id) AS doc_id,
       |        coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |          + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |      FROM drank dr
       |      FULL OUTER JOIN brank br
       |        ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id))
       |  WHERE rnk <= 3),
       |na AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_approx
       |       FROM approx GROUP BY q_id)
       |SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_truth,
       |  coalesce(any_value(na.n_approx), 0) AS n_approx,
       |  CAST(count(a.doc_id) AS BIGINT) AS n_overlap,
       |  floor(count(a.doc_id) / 3.0 * 10000.0 + 0.5) / 10000.0
       |    AS recall_at_k
       |FROM truth t
       |LEFT JOIN approx a ON a.q_id = t.q_id AND a.doc_id = t.doc_id
       |LEFT JOIN na ON na.q_id = t.q_id
       |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
  }

  // -------------------------------------------------- v25_hybrid_serve
  /** The SERVING query of the hybrid family — what production actually
    * runs per request once v24's gate has priced the probe budget: the
    * ANN-dense shortlist ([[annDenseRank]], nprobe=4 of 16 cells) fused
    * with v21's df-capped BM25 top-K by the same RRF, emitting the
    * fused top-3 list in v21's exact output shape (q_id, rnk, doc_id,
    * r_dense, r_bm25, rrf) so a user can diff served-vs-brute row by
    * row. Unlike v21/v22/v24, NO corpus-sized rank list exists anywhere
    * in this plan — the dense bill is nprobe/k of the corpus, the
    * lexical bill df-capped postings, fusion is a full-outer join of
    * two ≤ NQ·K rank lists. This is the plan whose cost scales to
    * 100 TB serving; v24 is the measurement that licenses it.
    */
  private[graft] def v25HybridServeAt(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val kFuse = 3
    // the two served rankers are independent until the fuse — overlap
    // their builder-time stages/collects on two driver threads (§2.6)
    val (drank, brank) = graft.Par.par2(
      annDenseRank(s, d, nprobe),
      KeyedRank.keyedTopK(v21Bm25Scores(s, d), Seq("q_id"),
        Seq(col("score").desc, col("doc_id").asc), K, "rb")
        .select(col("q_id"), col("doc_id"), col("rb")))
    val wF = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    drank.join(brank, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rb")), lit(0.0)))
      .withColumn("rnk", row_number().over(wF))
      .filter(col("rnk") <= kFuse)
      .select(col("q_id"), col("rnk"), col("doc_id"),
        col("rd").as("r_dense"), col("rb").as("r_bm25"),
        sround(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rnk")
  }

  val v25HybridServe: Plan = (s, d) => v25HybridServeAt(s, d, nprobe = 4)

  /** Oracle: the shared BM25 CTEs (brank), v4's IVF build chain, the
    * shared ANN rank fragment, and v21's fusion/output spelling.
    */
  val v25HybridServeSql: String =
    s"""WITH $v21RankCtes,
       |$ivfCorpusCtes,
       |$annRankCtes,
       |fused AS (
       |  SELECT coalesce(dr.q_id, br.q_id) AS q_id,
       |    coalesce(dr.doc_id, br.doc_id) AS doc_id, dr.rd, br.rb,
       |    coalesce(1.0 / (60.0 + CAST(dr.rd AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / (60.0 + CAST(br.rb AS DOUBLE)), 0.0) AS rrf
       |  FROM (SELECT * FROM arank WHERE rd <= $K) dr
       |  FULL OUTER JOIN (SELECT * FROM brank WHERE rb <= $K) br
       |    ON dr.q_id = br.q_id AND dr.doc_id = br.doc_id)
       |SELECT q_id, rnk, doc_id, rd AS r_dense, rb AS r_bm25,
       |  floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
       |FROM (SELECT q_id, doc_id, rd, rb, rrf,
       |        CAST(row_number() OVER (PARTITION BY q_id
       |          ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS rnk
       |      FROM fused)
       |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("v1_knn_brute", v1KnnBrute, v1KnnBruteSql),
    Query("v2_ann_lsh", v2AnnLsh, v2AnnLshSql),
    Query("v3_embedding_neardup", v3EmbeddingNeardup, v3EmbeddingNeardupSql),
    Query("v4_ivf_ann", v4IvfAnn, v4IvfAnnSql),
    Query("v5_int8_ann", v5Int8Ann, v5Int8AnnSql),
    Query("v6_pq_ann", v6PqAnn, v6PqAnnSql),
    Query("v7_mips", v7Mips, v7MipsSql),
    Query("v8_filtered_ann", v8FilteredAnn, v8FilteredAnnSql),
    Query("v9_rerank", v9Rerank, v9RerankSql),
    Query("v10_kmeans", v10Kmeans, v10KmeansSql),
    Query("v11_recall_eval", v11RecallEval, v11RecallEvalSql),
    Query("v12_ivf_append", v12IvfAppend, v12IvfAppendSql),
    Query("v13_truncation_eval", v13TruncationEval, v13TruncationEvalSql),
    Query("v14_ivfpq", v14IvfPq, v14IvfPqSql),
    Query("v15_diverse_ann", v15DiverseAnn, v15DiverseAnnSql),
    Query("v16_knn_join", v16KnnJoin, v16KnnJoinSql),
    Query("v17_hard_negatives", v17HardNegatives, v17HardNegativesSql),
    Query("v18_prototypicality", v18Prototypicality, v18PrototypicalitySql),
    Query("v19_nprobe_sweep", v19NprobeSweep, v19NprobeSweepSql),
    Query("v20_bitext_mining", v20BitextMining, v20BitextMiningSql),
    Query("v21_hybrid_rrf", v21HybridRrf, v21HybridRrfSql),
    Query("v22_hybrid_eval", v22HybridEval, v22HybridEvalSql),
    Query("v23_cell_shard", v23CellShard, v23CellShardSql),
    Query("v24_ann_hybrid", v24AnnHybrid, v24AnnHybridSql),
    Query("v25_hybrid_serve", v25HybridServe, v25HybridServeSql))

  val queries: Map[String, Plan] = Query.plans(registry)
}
