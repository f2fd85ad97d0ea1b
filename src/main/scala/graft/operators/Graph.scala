package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import graft.{Query, Tables}
import graft.Query.Plan
import graft.functions.TextFunctions.{sortedFoldSum, sround}

/** Graph analytics over relationally-derived edge lists — the iterative
  * family alongside d5's connected components. The engine's stance: a graph
  * is an edge DataFrame; one iteration is one join + one aggregation. With
  * a FIXED iteration count the whole unrolled DAG plans as one job; a
  * data-dependent loop would cut lineage per round with Materialize
  * (d5's shape — the round-2 plan-growth lesson).
  *
  * Scale shape: each PageRank round shuffles the edge list once on the
  * source key and once on the destination key — the same partitioning every
  * round, so a cluster run pre-partitions edges by src and the per-round
  * cost is one co-partitioned join + one agg. No driver-side graph state;
  * ranks live in a DataFrame keyed by node.
  */
object Graph {

  /** The bipartite user↔item interaction graph mined from `events`
    * (user_id ↔ props.k), as a distinct directed edge list u→k. g1 and g3
    * both walk it undirected by unioning the reversal.
    */
  private def bipartiteBase(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .select(concat(lit("u"), col("user_id")).as("src"),
        concat(lit("k"), get_json_object(col("props"), "$.k")).as("dst"))
      .where(col("dst").isNotNull)
      .distinct()

  // ------------------------------------------------------- g1_pagerank
  /** PageRank (3 damped iterations, d=0.85) over the bipartite
    * user-interacts-with-item graph mined from `events` (user_id ↔
    * props.k), walked UNDIRECTED (each edge contributes both ways) so no
    * dangling-mass correction is needed. Every iteration is:
    *
    *   contribs = edges ⋈ rank (on src) ⋈ outdeg  → (dst, rank/deg)
    *   rank'    = 0.15 + 0.85 * Σ contribs per dst (sorted fold)
    *
    * Float discipline: initial ranks are exact (1.0), degrees are exact
    * integers, and each per-node Σ folds in SORTED order — so the rank
    * doubles stay bitwise-identical across engines through all three
    * iterations, and the oracle (the same three rounds unrolled as CTEs)
    * hash-matches even the top-k cut.
    */
  val g1Pagerank: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    // ONE eager materialization: edges carry (src, dst, deg-of-src) so the
    // per-iteration work is a single join + agg. nodes derive from the
    // checkpointed frame (tiny re-agg per use beats extra eager jobs).
    val edges = {
      val e = base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .materialize()
    }
    val nodes = edges.select(col("src").as("node")).distinct()

    // FIXED 3 iterations: lineage depth is bounded, so no per-round
    // checkpoint — Catalyst plans the whole unrolled DAG in one job (a
    // data-dependent iteration count would checkpoint per round, d5-style).
    var rank = nodes.select(col("node"), lit(1.0).as("rank"))
    for (_ <- 1 to 3) {
      val contribs = edges
        .join(rank, edges("src") === rank("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
      rank = nodes
        .join(contribs.groupBy(col("node")).agg(sortedFoldSum(col("c")).as("csum")),
          Seq("node"), "left")
        .select(col("node"),
          (lit(0.15) + lit(0.85) * coalesce(col("csum"), lit(0.0))).as("rank"))
    }
    rank.select(col("node"), sround(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(30)
  }

  /** DuckDB twin: the three iterations unrolled as chained CTEs, each with
    * the identical sorted-fold contribution sum.
    */
  val g1PagerankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node, 0.15 + 0.85 * coalesce(s.csum, 0.0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      list_aggregate(list_sort(list(r.rank / d.deg)), 'sum') AS csum
         |    FROM edges e JOIN $prev r ON e.src = r.node
         |      JOIN deg d ON e.src = d.src
         |    GROUP BY e.dst) s USING (node))""".stripMargin
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |r0 AS (SELECT node, 1.0 AS rank FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM r3 ORDER BY 2 DESC, node LIMIT 30""".stripMargin
  }

  // ----------------------------------------------------- g2_triangles
  /** Per-node triangle counts over the supplier co-occurrence graph
    * (suppliers sharing a high-quantity order are connected). Classic
    * DEGREE-ORIENTED enumeration: every undirected edge is oriented from
    * its (degree, id)-smaller endpoint, wedges are generated only between
    * an oriented edge pair sharing a source, and the closing edge is a
    * LEFT SEMI probe — each triangle materializes exactly once, from its
    * unique minimum-order corner.
    *
    * Scale shape: pair generation is a self-equi-join on the order key
    * (output linear — lines per order is bounded); orientation caps the
    * wedge count at O(m^1.5) regardless of degree skew (a hub of degree Δ
    * contributes C(Δ,2) wedges UNORIENTED but only C(out,2) ≤ O(m) here);
    * wedge→closing is an equi semi-join on (b,c). No all-pairs stage
    * anywhere, no driver-side graph state.
    */
  val g2Triangles: Plan = (s, d) => {
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct()
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // total order "okey" = deg * 2^32 + id packed in one long: orientation
    // and wedge ordering become single primitive comparisons
    val ok = (dg: Column, id: Column) => dg * lit(1L << 32) + id
    val withK = e0
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"), ok(col("du"), col("u")).as("ku"),
        ok(col("dv"), col("v")).as("kv"))
    val oriented = withK.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
      when(col("ku") < col("kv"), col("kv")).otherwise(col("ku")).as("kdst"))
      .materialize() // three consumers: two wedge sides + the probe
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.kdst") < col("y.kdst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tris = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
      .join(deg, Seq("node"), "right")
      .select(col("node"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
      .orderBy(col("tri").desc, col("deg").desc, col("node"))
  }

  /** DuckDB twin: identical orientation arithmetic (BIGINT packing), wedge
    * generation, and closing-edge semi join.
    */
  val g2TrianglesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem WHERE l_quantity >= 45),
      |e0 AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_suppkey < b.l_suppkey),
      |deg AS (SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |  GROUP BY node),
      |withk AS (SELECT u, v, du.deg * 4294967296 + u AS ku,
      |    dv.deg * 4294967296 + v AS kv
      |  FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node),
      |oriented AS MATERIALIZED (SELECT
      |    CASE WHEN ku < kv THEN u ELSE v END AS src,
      |    CASE WHEN ku < kv THEN v ELSE u END AS dst,
      |    CASE WHEN ku < kv THEN kv ELSE ku END AS kdst
      |  FROM withk),
      |tris AS (
      |  SELECT x.src AS a, x.dst AS b, y.dst AS c
      |  FROM oriented x JOIN oriented y
      |    ON x.src = y.src AND x.kdst < y.kdst
      |  WHERE EXISTS (SELECT 1 FROM oriented o
      |    WHERE o.src = x.dst AND o.dst = y.dst)),
      |pernode AS (SELECT node, count(*) AS tri FROM (
      |    SELECT a AS node FROM tris UNION ALL
      |    SELECT b FROM tris UNION ALL SELECT c FROM tris)
      |  GROUP BY node)
      |SELECT d.node, d.deg, coalesce(p.tri, 0) AS tri
      |FROM deg d LEFT JOIN pernode p ON d.node = p.node
      |ORDER BY tri DESC, deg DESC, d.node""".stripMargin

  // --------------------------------------------------------- g3_reach
  /** Bounded multi-source BFS: hop distance (≤4) from the signup-user
    * seed set over the undirected user↔item graph, reported as nodes per
    * distance ring. FRONTIER-ONLY expansion (delta iteration): each round
    * joins the edges against just the nodes discovered LAST round and
    * anti-joins the visited set — never re-relaxes the whole distance
    * relation (the naive min-relaxation re-aggregated every visited node
    * every round; at 10x data that was 4.4x wall — frontier BFS probes
    * O(frontier) per round instead). Integer-only state, so cross-engine
    * parity is exact with no float discipline.
    *
    * Each frontier is materialized: it feeds BOTH the next round's
    * join and the final union, and the checkpoint keeps the per-round
    * plan flat (d5's lesson for data-dependent growth). At cluster scale
    * edges pre-partition on src so every round's probe is co-partitioned.
    */
  val g3Reach: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    val edges = base
      .unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      .materialize() // one eager materialization, probed 4x
    // sparse deterministic seed set (~0.5% of users) so the rings spread
    // over the full 4-hop budget instead of saturating at hop 1
    val seeds = Tables.load(s, d, "events")
      .filter(col("event_type") === "signup" && col("user_id") % 199 === 0)
      .select(concat(lit("u"), col("user_id")).as("node")).distinct()
      .materialize()
    var visited = seeds.select(col("node"), lit(0).as("dist"))
    var frontier = seeds
    for (k <- 1 to 4) {
      val next = edges.join(frontier, edges("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
      // the LAST frontier has a single consumer (the final union) — a
      // checkpoint there would be a pure extra materialization
      frontier = if (k < 4) next.materialize() else next
      visited = visited.unionAll(frontier.select(col("node"), lit(k).as("dist")))
    }
    visited.groupBy(col("dist")).agg(count(lit(1)).as("cnt")).orderBy(col("dist"))
  }

  /** DuckDB twin: the four relaxation rounds unrolled as CTEs. */
  val g3ReachSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev UNION ALL
         |  SELECT e.dst, r.dist + 1 FROM edges e JOIN $prev r ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |d0 AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS node, 0 AS dist
       |  FROM events WHERE event_type = 'signup' AND user_id % 199 = 0),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")},
       |${round("d3", "d4")}
       |SELECT dist, count(*) AS cnt FROM d4 GROUP BY dist ORDER BY dist""".stripMargin
  }

  // ---------------------------------------------------------- g4_sssp
  /** Weighted single-source-set shortest paths (4 relaxation rounds of
    * FRONTIER Bellman-Ford) over the undirected user↔item graph. Edge
    * weights are integers 1..9 derived from the portable md5-62 hash of
    * the CANONICAL endpoint pair (least‖greatest — the weight must be
    * symmetric or the two directed copies of an undirected edge would
    * disagree), so distances are exact integers with no float discipline.
    *
    * Frontier BF relaxes only edges out of nodes whose distance IMPROVED
    * last round (g3's delta-iteration lesson: full re-relaxation
    * re-aggregates every settled node every round — 4.4x wall at 10x).
    * After k rounds this equals full Bellman-Ford's ≤k-edge shortest
    * distances: a best ≤k-edge path's penultimate node improved at some
    * round j < k, so its outgoing edge was relaxed at round j+1 with the
    * final prefix value. The oracle replays the FULL relaxation (simpler
    * SQL, same fixpoint) — parity PROVES the frontier optimization sound.
    *
    * Per-round state: `improved` feeds the next join and the dist update
    * (Materialize — d5's lesson); `visited` re-checkpoints so the
    * data-dependent loop never stacks lineage. At cluster scale edges
    * pre-partition on src; each round probes O(frontier).
    */
  val g4Sssp: Plan = (s, d) => {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val base = bipartiteBase(s, d)
    val w = pmod(md5Hash62(concat(least(col("src"), col("dst")), lit(">"),
      greatest(col("src"), col("dst")))), lit(9L)) + lit(1L)
    val edges = base
      .unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      .select(col("src"), col("dst"), w.as("w"))
      .materialize() // one eager materialization, probed 4x
    val seeds = Tables.load(s, d, "events")
      .filter(col("event_type") === "signup" && col("user_id") % 199 === 0)
      .select(concat(lit("u"), col("user_id")).as("node")).distinct()
    // state = (node, dist, imp) where imp marks last-round improvement.
    // ONE full-outer join per round folds the relax-min, the dist update,
    // and the next frontier into a single shuffle + single checkpoint
    // (the first cut's left-join + anti-join + union did the same work in
    // two joins and two checkpoints — 2x the per-round exchanges).
    var state = seeds
      .select(col("node"), lit(0L).as("dist"), lit(true).as("imp"))
      .materialize()
    for (k <- 1 to 4) {
      val frontier = state.where(col("imp"))
      val cand = edges
        .join(frontier, edges("src") === frontier("node"))
        .select(edges("dst").as("node"), (frontier("dist") + edges("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      state = state.select(col("node"), col("dist")).as("v")
        .join(cand.as("c"), Seq("node"), "full_outer")
        .select(col("node"),
          least(col("v.dist"), col("c.nd")).as("dist"), // least skips nulls
          (col("c.nd").isNotNull &&
            (col("v.dist").isNull || col("c.nd") < col("v.dist"))).as("imp"))
      state = if (k < 4) state.materialize() else state
    }
    state.select(col("node"), col("dist"))
      .orderBy(col("dist"), col("node")).limit(100)
  }

  /** DuckDB twin: four FULL Bellman-Ford rounds unrolled as CTEs (min over
    * previous dists union relaxed edges), same canonical-pair weights.
    */
  val g4SsspSql: String = {
    def round(prev: String, cur: String): String =
      s"""$cur AS (SELECT node, min(dist) AS dist FROM (
         |  SELECT node, dist FROM $prev UNION ALL
         |  SELECT e.dst, r.dist + e.w FROM edges e JOIN $prev r ON e.src = r.node)
         |  GROUP BY node)""".stripMargin
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST(md5_number_lower(least(src, dst) || '>' || greatest(src, dst))
       |      & 4611686018427387903 AS BIGINT) % 9 + 1 AS w
       |  FROM (SELECT src, dst FROM base
       |    UNION ALL SELECT dst, src FROM base)),
       |d0 AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS node,
       |    CAST(0 AS BIGINT) AS dist
       |  FROM events WHERE event_type = 'signup' AND user_id % 199 = 0),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")},
       |${round("d3", "d4")}
       |SELECT node, dist FROM d4 ORDER BY dist, node LIMIT 100""".stripMargin
  }

  // --------------------------------------------------------- g5_kcore
  /** k-core peeling (k = 3, 5 unrolled rounds) over the undirected
    * user↔item graph: each round computes degrees and drops every node
    * (with its edges) whose degree fell below k — the standard dense-
    * subgraph / community-seed primitive. Five rounds of peeling is the
    * deterministic bounded variant (the true fixpoint is data-dependent;
    * 5 rounds converges on this graph — asserted in GraphSpec — while
    * keeping the oracle an exact unrolled replay, the g4 trade).
    *
    * Execution is DELTA peeling (round 11 — the 5x full-edge semi-join
    * formulation measured 25x wall for 100x data at sf10): the edge set
    * is computed once and never rewritten; a standing degree table is
    * updated each round by subtracting the REMOVED nodes' incident-edge
    * counts (one semi-probe of the edge set against the tiny
    * newly-removed set, grouped by the other endpoint). Per-round cost
    * tracks the removed frontier, which collapses after round one —
    * the same survivor sets as the restrict-the-edges formulation,
    * round for round, which is exactly what the unrolled oracle
    * asserts. Output is the surviving 3-core with final degrees —
    * integer-only state, no float discipline.
    */
  val g5Kcore: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    val edges = base
      .unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      .materialize()
    // edges incident to `gone`, counted from the surviving endpoint
    def cutBy(gone: DataFrame): DataFrame = edges
      .join(gone.select(col("gone").as("dst")), Seq("dst"), "left_semi")
      .groupBy(col("src")).agg(count(lit(1)).as("cut"))
    val deg0 = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .materialize()
    var removed = deg0.where(col("deg") < 3).select(col("src").as("gone"))
    var survivors = deg0.where(col("deg") >= 3)
    for (_ <- 2 to 5) {
      val next = survivors.join(cutBy(removed), Seq("src"), "left")
        .select(col("src"),
          (col("deg") - coalesce(col("cut"), lit(0L))).as("deg"))
        .materialize()
      removed = next.where(col("deg") < 3).select(col("src").as("gone"))
      survivors = next.where(col("deg") >= 3)
    }
    // degrees within round-5's surviving subgraph: one last subtraction
    // of edges into the round-5 removals, no further peel
    survivors.join(cutBy(removed), Seq("src"), "left")
      .select(col("src").as("node"),
        (col("deg") - coalesce(col("cut"), lit(0L))).as("deg"))
      // a node whose round-5 neighbors ALL left has no e5 rows: the
      // oracle's GROUP BY over e5 omits it, so a 0-degree row must too
      .where(col("deg") > 0)
      .orderBy(col("deg").desc, col("node")).limit(100)
  }

  /** DuckDB twin: the five peel rounds unrolled (degree filter + edge
    * restriction per round).
    */
  val g5KcoreSql: String = {
    def peel(prev: String, r: Int): String =
      s"""n$r AS (SELECT src AS node FROM $prev
         |  GROUP BY src HAVING count(*) >= 3),
         |e$r AS (SELECT e.src, e.dst FROM $prev e
         |  WHERE EXISTS (SELECT 1 FROM n$r a WHERE a.node = e.src)
         |    AND EXISTS (SELECT 1 FROM n$r b WHERE b.node = e.dst))""".stripMargin
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |e0 AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |${peel("e0", 1)},
       |${peel("e1", 2)},
       |${peel("e2", 3)},
       |${peel("e3", 4)},
       |${peel("e4", 5)}
       |SELECT src AS node, count(*) AS deg FROM e5
       |GROUP BY src ORDER BY deg DESC, node LIMIT 100""".stripMargin
  }

  // ------------------------------------------------------- g6_cooccur
  /** Item co-occurrence mining (the market-basket / item-item
    * collaborative-filtering primitive): for items interacted with by
    * the same user, count co-occurrences and score by LIFT
    * (n_ij·N / n_i·n_j). The scale control is the PER-USER DEGREE CAP:
    * each user contributes only their top-20 items (by interaction
    * count, deterministic tie-break), so pair fanout is ≤ C(20,2) per
    * user — without the cap one power-user with 10k items emits 50M
    * pairs (the classic self-join blowup; capping is how production
    * co-occurrence jobs bound it, and it also denoises: a user who
    * touches everything says nothing about item affinity).
    *
    * Plan: interaction-count agg → per-user top-k (two-phase keyedTopK,
    * no single-task user sort) → self-join on user_id → pair agg → 1-row
    * N broadcast → TakeOrderedAndProject. Counts are integers; lift is
    * one identically-spelled double expression, and the top-50 cut
    * orders by integer columns only — no float in any comparison.
    */
  val g6Cooccur: Plan = (s, d) => {
    val inter = Tables.load(s, d, "events")
      .select(col("user_id").as("u"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .where(col("k").isNotNull)
      .groupBy(col("u"), col("k")).agg(count(lit(1)).as("cnt"))
    // per-user top-20 via the two-phase keyedTopK: the power user whose
    // item list the cap exists to bound is exactly the key a per-u rank
    // window would sort in one task
    val capped = KeyedRank.keyedTopK(inter, Seq("u"),
        Seq(col("cnt").desc, col("k")), k = 20, rankCol = "rn")
      .select(col("u"), col("k"))
      .materialize() // 2 join sides + item counts + the N scalar
    val nUsers = capped.select(countDistinct(col("u")).as("n_users"))
    val itemN = capped.groupBy(col("k")).agg(count(lit(1)).as("ni"))
    val pairs = capped.as("x").join(capped.as("y"),
        col("x.u") === col("y.u") && col("x.k") < col("y.k"))
      .groupBy(col("x.k").as("ka"), col("y.k").as("kb"))
      .agg(count(lit(1)).as("n_ij"))
    pairs
      .join(itemN.select(col("k").as("ka"), col("ni").as("na")), "ka")
      .join(itemN.select(col("k").as("kb"), col("ni").as("nb")), "kb")
      .crossJoin(broadcast(nUsers))
      .select(col("ka"), col("kb"), col("n_ij"),
        sround(col("n_ij").cast("double") * col("n_users") / col("na")
          / col("nb"), 4).as("lift"))
      .orderBy(col("n_ij").desc, col("ka"), col("kb"))
      .limit(50)
  }

  val g6CooccurSql: String =
    """WITH inter AS (
      |  SELECT user_id AS u,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |    count(*) AS cnt
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
      |  GROUP BY 1, 2),
      |capped AS MATERIALIZED (
      |  SELECT u, k FROM (
      |    SELECT u, k, row_number() OVER (
      |      PARTITION BY u ORDER BY cnt DESC, k) AS rn
      |    FROM inter) WHERE rn <= 20),
      |nu AS (SELECT count(DISTINCT u) AS n_users FROM capped),
      |itemn AS (SELECT k, count(*) AS ni FROM capped GROUP BY k),
      |pairs AS (
      |  SELECT x.k AS ka, y.k AS kb, count(*) AS n_ij
      |  FROM capped x JOIN capped y ON x.u = y.u AND x.k < y.k
      |  GROUP BY 1, 2)
      |SELECT ka, kb, n_ij,
      |  floor(CAST(n_ij AS DOUBLE) * n_users / na / nb * 10000.0 + 0.5)
      |    / 10000.0 AS lift
      |FROM pairs
      |JOIN (SELECT k AS ka, ni AS na FROM itemn) USING (ka)
      |JOIN (SELECT k AS kb, ni AS nb FROM itemn) USING (kb)
      |CROSS JOIN nu
      |ORDER BY n_ij DESC, ka, kb LIMIT 50""".stripMargin

  // ----------------------------------------------------- g7_linkpred
  /** Link prediction over g2's supplier co-occurrence graph: for every
    * NON-adjacent pair with at least one common neighbor, the
    * resource-allocation index RA(u,v) = Σ_z 1/deg(z) over common
    * neighbors z — the strongest of the simple local link predictors
    * (hubs contribute little by construction), ranked top-100.
    *
    * Scale shape: wedges are enumerated THROUGH the middle node z, and z
    * is degree-capped (deg ≤ 64) before the self-join — a hub of degree
    * Δ would otherwise emit C(Δ,2) candidate pairs, the classic wedge
    * blowup; the cap bounds output at Σ C(min(deg,64),2) ≤ 32·m and is
    * principled here because 1/deg makes super-hub evidence negligible
    * anyway. Existing edges leave via one anti-join on the canonical
    * (u<v) pair. The per-pair Σ folds 1/deg(z) in SORTED order (g1's
    * float discipline) so the score doubles — and the top-100 cut —
    * are bitwise-identical across engines.
    */
  val g7Linkpred: Plan = (s, d) => {
    val li = Tables.load(s, d, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("u"), col("b.l_suppkey").as("v"))
      .distinct()
      .materialize() // feeds deg, the wedge join, and the anti-join
    val und = e0.unionAll(e0.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val byZ = und.select(col("v").as("z"), col("u").as("nb"))
      .join(deg.select(col("node").as("z"), col("deg")), "z")
      .where(col("deg") <= 64)
    // NOT checkpointed despite the dual wedge-side probe: the subtree is
    // two cheap joins over the already-checkpointed e0, and measured
    // (DriftBench n=5, sf0.1 + 10x) the eager materialization costs more
    // than the recompute it saves (1.71s -> 2.00s min at sf0.1)
    val cands = byZ.as("x").join(byZ.as("y"),
        col("x.z") === col("y.z") && col("x.nb") < col("y.nb"))
      .select(col("x.nb").as("u"), col("y.nb").as("v"),
        (lit(1.0) / col("x.deg")).as("ra"))
      .join(e0, Seq("u", "v"), "left_anti")
    cands.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"), sortedFoldSum(col("ra")).as("raw"))
      .orderBy(col("raw").desc, col("u"), col("v"))
      .limit(100)
      .select(col("u"), col("v"), col("cn"), sround(col("raw"), 6).as("ra_score"))
  }

  /** DuckDB twin: identical graph, degree cap, wedge enumeration,
    * NOT-EXISTS edge exclusion, and sorted-fold RA sums.
    */
  val g7LinkpredSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey
      |  FROM lineitem WHERE l_quantity >= 45),
      |e0 AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |    AND a.l_suppkey < b.l_suppkey),
      |und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS (SELECT u AS node, count(*) AS deg FROM und GROUP BY 1),
      |byz AS (SELECT und.v AS z, und.u AS nb, deg.deg
      |  FROM und JOIN deg ON und.v = deg.node WHERE deg.deg <= 64),
      |cands AS (
      |  SELECT x.nb AS u, y.nb AS v, 1.0 / x.deg AS ra
      |  FROM byz x JOIN byz y ON x.z = y.z AND x.nb < y.nb
      |  WHERE NOT EXISTS (SELECT 1 FROM e0
      |    WHERE e0.u = x.nb AND e0.v = y.nb)),
      |scored AS (
      |  SELECT u, v, count(*) AS cn,
      |    list_aggregate(list_sort(list(ra)), 'sum') AS raw
      |  FROM cands GROUP BY 1, 2)
      |SELECT u, v, cn,
      |  floor(raw * 1000000.0 + 0.5) / 1000000.0 AS ra_score
      |FROM scored
      |ORDER BY raw DESC, u, v LIMIT 100""".stripMargin

  // --------------------------------------------------- g8_labelprop
  /** Community detection via LABEL PROPAGATION (3 synchronous rounds)
    * over the user↔item interaction graph — the community primitive
    * connected components (d5) cannot give: CC merges everything
    * reachable; LPA's majority vote finds densely-knit groups inside one
    * giant component. Fully deterministic: every node starts labeled as
    * itself, each round adopts the most frequent neighbor label with
    * ties broken to the lexicographically smallest — the argmax is a
    * per-node row_number over (count DESC, label ASC), the same
    * first-max-wins discipline as t3/t24.
    *
    * Scale shape: one round = one co-partitioned edges⋈labels join + a
    * (node, label) count + a per-node window — all keyed on the node,
    * so a cluster run pre-partitions edges by src once and every round
    * reuses that partitioning (g1's property). Fixed 3 rounds unroll
    * into one plan; labels are (node, label) pairs — state linear in
    * nodes, never in edges.
    */
  val g8Labelprop: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    val labels = labelPropagate(
      base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
        .materialize(), // probed once per round
      rounds = 3)
    labels.groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"))
      .orderBy(col("n_members").desc, col("label"))
      .limit(50)
  }

  /** The synchronous LPA core over an arbitrary DIRECTED edge frame
    * (src, dst — pass both directions for an undirected walk): returns
    * (node, label) after `rounds` majority votes. Factored so the spec
    * can plant a bridge-linked two-clique graph — the case where LPA
    * finds 2 communities and connected components can only see 1.
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      // majority vote = argmax(c desc, label asc) per dst, executed as a
      // min(struct(-c, label)) hash aggregate rather than a rank window:
      // a hub node's vote list (one row per incident label) would sort in
      // ONE WindowExec task, while the struct-min partial-aggregates
      // map-side — same winner (max count, ties to the smallest label)
      labels = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("dst").as("node"), col("m.label").as("label"))
    }
    labels
  }

  /** DuckDB twin: the three rounds unrolled as CTEs with the identical
    * majority-vote argmax (count DESC, label ASC row_number).
    */
  val g8LabelpropSql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS r
         |    FROM edges e JOIN $prev l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE r = 1)"""
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || user_id AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |l0 AS (
       |  SELECT node, node AS label FROM (
       |    SELECT DISTINCT src AS node FROM edges)),
       |${round("l0", "l1").stripMargin},
       |${round("l1", "l2").stripMargin},
       |${round("l2", "l3").stripMargin}
       |SELECT label, count(*) AS n_members, min(node) AS min_node
       |FROM l3 GROUP BY label
       |ORDER BY n_members DESC, label LIMIT 50""".stripMargin
  }

  // ------------------------------------------------------------ g9_walks
  /** Deterministic random-walk corpus — the DeepWalk/node2vec sampling
    * step that turns a graph into embedding-training sequences (walks ≈
    * sentences fed to a skip-gram model). One length-3 walk starts from
    * every USER node of the bipartite interaction graph; the step taken at
    * node v on hop i is the neighbor at index md5_62(v || '#' || i) mod
    * deg(v) in v's dst-sorted adjacency list — a hash replayable by the
    * oracle, standing in for the RNG draw (same discipline as q29's
    * hash-stratified sampling).
    *
    * Distributed shape: the adjacency build is ONE shuffle on src (the
    * row_number + count windows share the partition key, so Catalyst
    * plans a single exchange); each hop PRE-SELECTS its chosen edge by a
    * narrow filter (rnk = hash mod deg — no join, frontier-independent)
    * and the walk extension is an equality join per hop, keyed on the
    * current node. At 100 TB: adjacency partitions by src (skew bounded
    * by max degree — the g7 cap argument applies), and k hops cost k
    * co-partitionable joins of walk-count rows — never edge × walk. No
    * driver state; walk count scales with nodes, not edges².
    */
  val g9Walks: Plan = (s, d) => {
    import graft.expressions.PortableHashExpressions.md5Hash62
    import org.apache.spark.sql.expressions.Window
    val base = bipartiteBase(s, d)
    val edges = base.unionAll(
      base.select(col("dst").as("src"), col("src").as("dst")))
    val part = Window.partitionBy(col("src"))
    val ranked = edges
      .select(col("src"), col("dst"),
        (row_number().over(part.orderBy(col("dst"))) - 1).cast("long").as("rnk"),
        count(lit(1)).over(part).as("deg"))
      .materialize() // the adjacency index — probed once per hop
    def pick(i: Int): DataFrame = ranked
      .filter(col("rnk") ===
        pmod(md5Hash62(concat(col("src"), lit(s"#$i"))), col("deg")))
      .select(col("src"), col("dst"))
    val starts = base.select(col("src").as("walk_id")).distinct()
    starts
      .join(pick(1), starts("walk_id") === col("src"))
      .select(col("walk_id"), col("dst").as("n1"))
      .join(pick(2).withColumnRenamed("dst", "n2"), col("n1") === col("src"))
      .select(col("walk_id"), col("n1"), col("n2"))
      .join(pick(3).withColumnRenamed("dst", "n3"), col("n2") === col("src"))
      .select(col("walk_id"), col("n1"), col("n2"), col("n3"))
      .orderBy("walk_id")
  }

  val g9WalksSql: String = {
    def pick(i: Int): String =
      s"""p$i AS (
         |  SELECT src, dst FROM ranked
         |  WHERE rnk = CAST(md5_number_lower(src || '#$i')
         |    & 4611686018427387903 AS BIGINT) % deg)"""
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || user_id AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |ranked AS MATERIALIZED (
       |  SELECT src, dst,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS rnk,
       |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
       |  FROM edges),
       |${pick(1).stripMargin},
       |${pick(2).stripMargin},
       |${pick(3).stripMargin},
       |starts AS (SELECT DISTINCT src AS walk_id FROM base)
       |SELECT walk_id, p1.dst AS n1, p2.dst AS n2, p3.dst AS n3
       |FROM starts
       |JOIN p1 ON p1.src = walk_id
       |JOIN p2 ON p2.src = p1.dst
       |JOIN p3 ON p3.src = p2.dst
       |ORDER BY walk_id""".stripMargin
  }

  // ------------------------------------------------------- g10_walk_pairs
  /** Skip-gram training pairs from the g9 walk corpus — the step that
    * turns walks into a word2vec-style dataset: every (center, context)
    * pair within window 1 along each walk, symmetrized, counted across
    * the corpus. Together g9 + g10 are the complete DeepWalk data prep:
    * graph → walks → co-occurrence pairs ready for a skip-gram trainer
    * (or for g6-style PMI analytics).
    *
    * Distributed shape: walks are nodes-sized rows; pair extraction is a
    * narrow per-row explode of 3 adjacent hops (constant fan-out 6 —
    * never edges²) and ONE pair-keyed count agg. At 100 TB of walks this
    * is scan + one shuffle on pair keys, the same budget as any word
    * co-occurrence count.
    */
  val g10WalkPairs: Plan = (s, d) => {
    val walks = g9Walks(s, d)
    val arms = Seq(
      ("walk_id", "n1"), ("n1", "walk_id"), ("n1", "n2"),
      ("n2", "n1"), ("n2", "n3"), ("n3", "n2"))
    val pairs = walks.select(
      explode(array(arms.map { case (a, b) =>
        struct(col(a).as("center"), col(b).as("context"))
      }: _*)).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
    pairs.groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("center", "context")
  }

  val g10WalkPairsSql: String = {
    val inner = g9WalksSql.replace("ORDER BY walk_id", "")
    s"""WITH walks AS MATERIALIZED ($inner),
       |pairs AS (
       |  SELECT walk_id AS center, n1 AS context FROM walks
       |  UNION ALL SELECT n1, walk_id FROM walks
       |  UNION ALL SELECT n1, n2 FROM walks
       |  UNION ALL SELECT n2, n1 FROM walks
       |  UNION ALL SELECT n2, n3 FROM walks
       |  UNION ALL SELECT n3, n2 FROM walks)
       |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
       |FROM pairs GROUP BY center, context
       |ORDER BY center, context""".stripMargin
  }

  // ---------------------------------------------------------- g11_hits
  /** HITS hubs & authorities (2 unrolled rounds) over the DIRECTED
    * user→item interaction graph — the mutually-recursive centrality g1
    * can't express: a good hub (user) points at good authorities (items),
    * a good authority is pointed at by good hubs. On the bipartite events
    * graph this surfaces curator-users vs canonical-items, where PageRank
    * conflates the two sides.
    *
    * Un-normalized Kleinberg iteration with hub0 = 1: every score is then
    * an EXACT INTEGER (auth1 = indegree, hub1 = Σ auth1, ...), so the
    * whole query is long arithmetic — no float discipline, no sorted
    * folds, bit parity for free. Scores are bounded by m·Δ³ (< 2^63 for
    * any realistic corpus; the relative ORDER is what HITS ships).
    *
    * Scale shape: each half-round is one join + one agg, alternately
    * keyed on src and dst — a cluster run pre-partitions the edge list
    * both ways once (g1's discipline) and every round reuses the two
    * co-partitionings. Output is top-20 per role, TakeOrdered on each
    * side — never a global sort of the node set.
    */
  val g11Hits: Plan = (s, d) => {
    val edges = bipartiteBase(s, d).materialize()
    val auth1 = edges.groupBy(col("dst")).agg(count(lit(1)).as("a1"))
    val hub1 = edges.join(auth1, "dst")
      .groupBy(col("src")).agg(sum(col("a1")).as("h1"))
    val auth2 = edges.join(hub1, "src")
      .groupBy(col("dst")).agg(sum(col("h1")).as("a2"))
    val hub2 = edges.join(auth2, "dst")
      .groupBy(col("src")).agg(sum(col("a2")).as("h2"))
    val topAuth = auth2
      .select(lit("auth").as("role"), col("dst").as("node"),
        col("a2").as("score"))
      .orderBy(col("score").desc, col("node")).limit(20)
    val topHub = hub2
      .select(lit("hub").as("role"), col("src").as("node"),
        col("h2").as("score"))
      .orderBy(col("score").desc, col("node")).limit(20)
    topAuth.unionAll(topHub)
      .orderBy(col("role"), col("score").desc, col("node"))
  }

  /** DuckDB twin: the same two integer rounds as chained CTEs. */
  val g11HitsSql: String =
    """WITH edges AS MATERIALIZED (
      |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
      |    'k' || json_extract_string(props, '$.k') AS dst
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |auth1 AS (SELECT dst, count(*) AS a1 FROM edges GROUP BY dst),
      |hub1 AS (
      |  SELECT src, CAST(sum(a1) AS BIGINT) AS h1
      |  FROM edges JOIN auth1 USING (dst) GROUP BY src),
      |auth2 AS (
      |  SELECT dst, CAST(sum(h1) AS BIGINT) AS a2
      |  FROM edges JOIN hub1 USING (src) GROUP BY dst),
      |hub2 AS (
      |  SELECT src, CAST(sum(a2) AS BIGINT) AS h2
      |  FROM edges JOIN auth2 USING (dst) GROUP BY src),
      |top_auth AS (
      |  SELECT 'auth' AS role, dst AS node, a2 AS score FROM auth2
      |  ORDER BY score DESC, node LIMIT 20),
      |top_hub AS (
      |  SELECT 'hub' AS role, src AS node, h2 AS score FROM hub2
      |  ORDER BY score DESC, node LIMIT 20)
      |SELECT role, node, score FROM (
      |  SELECT * FROM top_auth UNION ALL SELECT * FROM top_hub)
      |ORDER BY role, score DESC, node""".stripMargin

  // ----------------------------------------------------- g12_modularity
  /** Modularity audit of the g8 label-propagation partition — the eval
    * harness for the community family (d12 audits d3's banding, v11
    * audits v2's index; g12 says whether g8's 3 rounds actually found
    * structure): per community, Newman's contribution
    * e_c/m − (d_c/2m)², where e_c is intra-community edge count, d_c
    * total member degree, m the undirected edge count. Positive = denser
    * than the degree-preserving random graph — the deploy gate before
    * committing a partition to downstream grouping. And the gate BITES
    * on this corpus: synchronous LPA oscillates on a bipartite graph
    * into the sides-split (users vs items), whose contributions come out
    * NEGATIVE (every edge crosses) — exactly the partition a consumer
    * must reject, which a size histogram alone would never reveal
    * (GraphSpec pins this, and the positive planted-clique contrast).
    *
    * Float discipline: everything is exact integer counts until the two
    * final divisions; the square is spelled as an explicit product (NOT
    * pow — libm pow parity is not a contract), so both engines do the
    * same two IEEE ops. Scale shape: labels come from g8's core (state
    * linear in nodes); intra counting is two co-partitioned label joins
    * keyed src/dst; degree mass is one join + agg; m is a 1-row
    * broadcast. Output is top-50 communities by size — g8's own output
    * discipline — never a global sort of all communities.
    */
  val g12Modularity: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    val edges = base.unionAll(
        base.select(col("dst").as("src"), col("src").as("dst")))
      .materialize() // probed per LPA round + deg + intra
    val labels = labelPropagate(edges, rounds = 3)
      .materialize() // probed three times below
    modularityContrib(edges, labels)
      .orderBy(col("n_nodes").desc, col("label"))
      .limit(50)
  }

  /** Newman per-community contribution e_c/m − (d_c/2m)² over a
    * both-directions edge list and a (node, label) partition. m2 = the
    * directed edge count = 2m, so the first term is spelled
    * (2·e_intra)/m2 — integer doubling before the one division keeps
    * both engines on the same two IEEE ops (the square likewise an
    * explicit product). Factored out of g12 so the spec can audit the
    * SAME expression on a planted-clique graph (round 9: the previous
    * inline form divided e_intra by 2m, halving the first term — dense
    * communities could score negative and be wrongly rejected).
    */
  def modularityContrib(edges: DataFrame, labels: DataFrame): DataFrame = {
    val m2 = edges.agg(count(lit(1)).as("m2")) // = 2m (both directions)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val dTot = deg.join(labels, deg("src") === labels("node"))
      .groupBy(col("label"))
      .agg(sum(col("deg")).as("d_tot"), count(lit(1)).as("n_nodes"))
    val lu = labels.select(col("node").as("src"), col("label").as("lu"))
    val lv = labels.select(col("node").as("dst"), col("label").as("lv"))
    val intra = edges.join(lu, "src").join(lv, "dst")
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu"))
      .agg((count(lit(1)) / lit(2)).cast("long").as("e_intra"))
      .withColumnRenamed("lu", "label")
    val ei = coalesce(col("e_intra"), lit(0L))
    val share = col("d_tot") / col("m2").cast("double")
    dTot.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m2))
      .select(col("label"), col("n_nodes"), ei.as("e_intra"), col("d_tot"),
        sround((ei * lit(2L)) / col("m2").cast("double") - share * share, 6)
          .as("q_contrib"))
  }

  /** DuckDB twin: g8's three LPA rounds + the identical integer counting
    * and explicitly-multiplied square.
    */
  val g12ModularitySql: String = {
    def round(prev: String, out: String): String =
      s"""$out AS (
         |  SELECT node, label FROM (
         |    SELECT e.dst AS node, l.label, count(*) AS c,
         |      row_number() OVER (PARTITION BY e.dst
         |        ORDER BY count(*) DESC, l.label ASC) AS r
         |    FROM edges e JOIN $prev l ON e.src = l.node
         |    GROUP BY e.dst, l.label)
         |  WHERE r = 1)"""
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || user_id AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |l0 AS (
       |  SELECT node, node AS label FROM (
       |    SELECT DISTINCT src AS node FROM edges)),
       |${round("l0", "l1").stripMargin},
       |${round("l1", "l2").stripMargin},
       |${round("l2", "l3").stripMargin},
       |m2 AS (SELECT count(*) AS m2 FROM edges),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |dtot AS (
       |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS d_tot,
       |    count(*) AS n_nodes
       |  FROM deg d JOIN l3 l ON d.src = l.node GROUP BY l.label),
       |intra AS (
       |  SELECT lu.label, CAST(count(*) / 2 AS BIGINT) AS e_intra
       |  FROM edges e JOIN l3 lu ON e.src = lu.node
       |    JOIN l3 lv ON e.dst = lv.node
       |  WHERE lu.label = lv.label GROUP BY lu.label)
       |SELECT d.label, CAST(d.n_nodes AS BIGINT) AS n_nodes,
       |  coalesce(i.e_intra, 0) AS e_intra, d.d_tot,
       |  floor(((coalesce(i.e_intra, 0) * 2) / CAST(m2.m2 AS DOUBLE)
       |    - (d.d_tot / CAST(m2.m2 AS DOUBLE))
       |      * (d.d_tot / CAST(m2.m2 AS DOUBLE)))
       |    * 1000000.0 + 0.5) / 1000000.0 AS q_contrib
       |FROM dtot d LEFT JOIN intra i USING (label) CROSS JOIN m2
       |ORDER BY n_nodes DESC, d.label LIMIT 50""".stripMargin
  }

  // ----------------------------------------------- g13_neighbor_sample
  /** GraphSAGE-style capped neighbor sampling — the GNN minibatch prep
    * step (g9 samples one PATH per node; GNN training needs a bounded
    * NEIGHBORHOOD per seed): for each seed, up to 3 hop-1 neighbors and
    * up to 2 hop-2 neighbors per hop-1 node, chosen deterministically by
    * hash order (rank neighbors of v by md5_62(v || '>' || nbr) — the
    * replayable stand-in for the uniform draw, q29/g9's discipline).
    * Every (seed, h1, h2) triple is a training subgraph row.
    *
    * Scale shape: ONE hash-ranked adjacency index (a single exchange on
    * src — rank + count windows share the partition key), then each hop
    * is an equality join against the index with the fan-out CAP applied
    * by the rank filter BEFORE the join output grows — cost is
    * seeds × 3 × 2 rows regardless of degree skew (a hub contributes at
    * most its cap, the g6/g7 argument). No driver state.
    */
  val g13NeighborSample: Plan = (s, d) => {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val base = bipartiteBase(s, d)
    val edges = base.unionAll(
      base.select(col("dst").as("src"), col("src").as("dst")))
    // the index is only ever probed at rnk <= 3, so the per-src rank runs
    // through the two-phase keyedTopK (local ≤3-per-partition prune, then
    // the bounded global rank) instead of a per-src window — a hub node's
    // full neighbor list never sorts in one task
    val ranked = KeyedRank.keyedTopK(
        edges.select(col("src"), col("dst"),
          md5Hash62(concat(col("src"), lit(">"), col("dst"))).as("h")),
        Seq("src"), Seq(col("h"), col("dst")), k = 3, rankCol = "rnk")
      .select(col("src"), col("dst"), col("rnk"))
      .materialize() // the sampling index — probed once per hop
    val seeds = Tables.load(s, d, "events")
      .filter(col("event_type") === "signup" && col("user_id") % 199 === 0)
      .select(concat(lit("u"), col("user_id")).as("seed")).distinct()
    val hop1 = seeds
      .join(ranked.filter(col("rnk") <= 3), seeds("seed") === col("src"))
      .select(col("seed"), col("dst").as("h1"))
    hop1
      .join(ranked.filter(col("rnk") <= 2)
        .select(col("src").as("h1"), col("dst").as("h2")), Seq("h1"))
      .select(col("seed"), col("h1"), col("h2"))
      .orderBy("seed", "h1", "h2")
  }

  /** DuckDB twin: identical hash-ranked index + capped hop joins. */
  val g13NeighborSampleSql: String =
    """WITH base AS (
      |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
      |    'k' || json_extract_string(props, '$.k') AS dst
      |  FROM events
      |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |edges AS (SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
      |ranked AS MATERIALIZED (
      |  SELECT src, dst,
      |    row_number() OVER (PARTITION BY src ORDER BY
      |      CAST(md5_number_lower(src || '>' || dst)
      |        & 4611686018427387903 AS BIGINT), dst) AS rnk
      |  FROM edges),
      |seeds AS (
      |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS seed
      |  FROM events WHERE event_type = 'signup' AND user_id % 199 = 0),
      |hop1 AS (
      |  SELECT s.seed, r.dst AS h1
      |  FROM seeds s JOIN ranked r ON r.src = s.seed AND r.rnk <= 3)
      |SELECT h.seed, h.h1, r.dst AS h2
      |FROM hop1 h JOIN ranked r ON r.src = h.h1 AND r.rnk <= 2
      |ORDER BY h.seed, h.h1, h2""".stripMargin

  // ------------------------------------------------------------ registry
  // --------------------------------------------------------- g14_ppr
  /** Personalized PageRank from a seed set (Haveliwala 2002; the random
    * walk restarts at the SEEDS, not uniformly) — graph-proximity data
    * selection: starting from trusted curator users, mass flows to the
    * items and users most entangled with them, ranking what to keep or
    * sample when explicit labels stop at the seed set. Seeds are the
    * user nodes with user_id % 50 == 0; un-normalized absorbing form
    * (rank₀ = 1 on seeds, restart 0.15 paid to seeds only), 3 rounds.
    *
    * Distributed shape: g1's machinery verbatim — one materialized
    * (src, dst, deg) edge frame, one join + one agg per round with
    * sorted contribution folds for bit parity. The one PPR-specific
    * win: rank frames stay SPARSE (only nodes reached within i hops of
    * a seed are nonzero), and the contribution join filters rank != 0,
    * so early rounds touch the seed neighborhood, not the graph —
    * exactly why PPR scales to huge graphs when global PageRank must
    * touch every node. Zero contributions are exact float identities,
    * so the filter cannot change a single output bit.
    */
  val g14Ppr: Plan = (s, d) => {
    val base = bipartiteBase(s, d)
    val edges = {
      val e = base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .materialize()
    }
    val nodes = edges.select(col("src").as("node")).distinct()
      .withColumn("is_seed", expr(
        "node LIKE 'u%' AND CAST(substring(node, 2) AS BIGINT) % 50 = 0"))
    var rank = nodes.select(col("node"),
      when(col("is_seed"), lit(1.0)).otherwise(lit(0.0)).as("rank"))
    for (_ <- 1 to 3) {
      val contribs = edges
        .join(rank.filter(col("rank") =!= 0.0), edges("src") === rank("node"))
        .select(col("dst").as("node"), (col("rank") / col("deg")).as("c"))
      rank = nodes
        .join(contribs.groupBy(col("node")).agg(sortedFoldSum(col("c")).as("csum")),
          Seq("node"), "left")
        .select(col("node"),
          (when(col("is_seed"), lit(0.15)).otherwise(lit(0.0))
            + lit(0.85) * coalesce(col("csum"), lit(0.0))).as("rank"))
    }
    rank.join(nodes, Seq("node"))
      .select(col("node"), col("is_seed"), sround(col("rank"), 6).as("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(30)
  }

  /** DuckDB twin: g1's unrolled-CTE shape with the seeded init/restart
    * and the identical rank != 0 contribution filter.
    */
  val g14PprSql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.node, n.is_seed,
         |    CASE WHEN n.is_seed THEN 0.15 ELSE 0.0 END
         |      + 0.85 * coalesce(s.csum, 0.0) AS rank
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      list_aggregate(list_sort(list(r.rank / d.deg)), 'sum') AS csum
         |    FROM edges e JOIN $prev r ON e.src = r.node
         |      JOIN deg d ON e.src = d.src
         |    WHERE r.rank != 0
         |    GROUP BY e.dst) s USING (node))""".stripMargin
    s"""WITH base AS (
       |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS src,
       |    'k' || json_extract_string(props, '$$.k') AS dst
       |  FROM events
       |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM base UNION ALL SELECT dst, src FROM base),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS MATERIALIZED (
       |  SELECT node,
       |    node LIKE 'u%' AND CAST(substring(node, 2) AS BIGINT) % 50 = 0
       |      AS is_seed
       |  FROM (SELECT DISTINCT src AS node FROM edges)),
       |r0 AS (SELECT node, is_seed,
       |  CASE WHEN is_seed THEN 1.0 ELSE 0.0 END AS rank FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT node, is_seed, floor(rank * 1000000.0 + 0.5) / 1000000.0 AS rank
       |FROM r3 ORDER BY 3 DESC, node LIMIT 30""".stripMargin
  }

  // ------------------------------------------------------ g15_cc_star
  /** Connected components by ALTERNATING STARS — the same clusters as d5
    * (identical oracle), computed by [[Dedup.starComponents]]'s
    * large-star/small-star edge rewriting on every graph, where d5's
    * [[Dedup.connectedComponents]] finishes small graphs with driver
    * union-find. Runs on d5's verified near-dup pair graph, so the
    * closure oracle stays bounded by construction.
    *
    * Cost stance: unlike d5 (~3× faster at test scale), g15
    * deliberately iterates the distributed path end-to-end — it is the
    * certification that the no-driver-state algorithm lands the same
    * clusters at every SF, i.e. that d5 stays correct past its
    * driver-finish gate.
    */
  val g15CcStar: Plan = (s, d) => {
    val comps = Dedup.starComponents(
      graft.Tables.load(s, d, "documents").select(col("doc_id")),
      Dedup.d2Pairs(s, d))
    // skew-safe size annotation (agg + join-back) — see Dedup.withClusterStats
    Dedup.withClusterStats(comps).orderBy("doc_id")
  }

  /** Oracle: d5's recursive-closure SQL verbatim — two algorithms, one
    * answer.
    */
  val g15CcStarSql: String = Dedup.d5DedupClustersSql

  val registry: Seq[Query] = Seq(
    Query("g1_pagerank", g1Pagerank, g1PagerankSql),
    Query("g2_triangles", g2Triangles, g2TrianglesSql),
    Query("g3_reach", g3Reach, g3ReachSql),
    Query("g4_sssp", g4Sssp, g4SsspSql),
    Query("g5_kcore", g5Kcore, g5KcoreSql),
    Query("g6_cooccur", g6Cooccur, g6CooccurSql),
    Query("g7_linkpred", g7Linkpred, g7LinkpredSql),
    Query("g8_labelprop", g8Labelprop, g8LabelpropSql),
    Query("g9_walks", g9Walks, g9WalksSql),
    Query("g10_walk_pairs", g10WalkPairs, g10WalkPairsSql),
    Query("g11_hits", g11Hits, g11HitsSql),
    Query("g12_modularity", g12Modularity, g12ModularitySql),
    Query("g13_neighbor_sample", g13NeighborSample, g13NeighborSampleSql),
    Query("g14_ppr", g14Ppr, g14PprSql),
    Query("g15_cc_star", g15CcStar, g15CcStarSql))

  val queries: Map[String, Plan] = Query.plans(registry)
}
