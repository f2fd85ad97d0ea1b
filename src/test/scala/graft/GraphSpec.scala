package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("g1 pagerank: ranks positive, popularity-ordered, deterministic") {
    val out = Graph.g1Pagerank(spark, sfDir)
    val rows = out.as[(String, Double)].collect()
    assert(rows.length == 30)
    rows.foreach { case (n, r) => assert(r > 0.15, s"$n rank $r") }
    // output is rank-descending with node tiebreak
    val sorted = rows.sortBy { case (n, r) => (-r, n) }.toSeq
    assert(rows.toSeq == sorted)
    // a node's rank grows with its degree: the top node has at least the
    // median degree of the ranked nodes
    val ev = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
    val deg = ev.unionAll(ev.select($"dst".as("src"), $"src".as("dst")))
      .groupBy($"src").agg(count(lit(1)).as("deg"))
      .as[(String, Long)].collect().toMap
    val rankedDegs = rows.map { case (n, _) => deg(n) }
    assert(rankedDegs.head >= rankedDegs.sorted.apply(rankedDegs.length / 2),
      "top-ranked node should not be low-degree")
    // deterministic across runs (bitwise — sorted folds fix the sum order)
    val again = Graph.g1Pagerank(spark, sfDir).as[(String, Double)].collect()
    assert(rows.toSeq == again.toSeq)
  }

  test("g14 ppr: exact in-memory replay of the seeded 3-round walk") {
    val got = Graph.g14Ppr(spark, sfDir)
      .as[(String, Boolean, Double)].collect().toSeq
    assert(got.length == 30)
    assert(got == got.sortBy { case (n, _, r) => (-r, n) })
    // replay: same edges, same seeds, sorted-fold sums
    val ev = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct().as[(String, String)].collect()
    val edges = ev ++ ev.map(e => (e._2, e._1))
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val inEdges = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val nodes = deg.keySet
    def isSeed(n: String) = n.startsWith("u") && n.drop(1).toLong % 50 == 0
    var rank: Map[String, Double] =
      nodes.map(n => n -> (if (isSeed(n)) 1.0 else 0.0)).toMap
    for (_ <- 1 to 3) {
      rank = nodes.map { n =>
        val cs = inEdges.getOrElse(n, Array.empty[String])
          .filter(s => rank(s) != 0.0).map(s => rank(s) / deg(s))
        val csum = cs.sorted.foldLeft(0.0)(_ + _)
        n -> ((if (isSeed(n)) 0.15 else 0.0) + 0.85 * csum)
      }.toMap
    }
    val expect = rank.toSeq
      .map { case (n, r) =>
        (n, isSeed(n), math.floor(r * 1e6 + 0.5) / 1e6) }
      .sortBy { case (n, _, r) => (-r, n) }.take(30)
    assert(got == expect)
    // proximity semantics: mass concentrates near seeds — the top node
    // is a seed or a direct neighbor of one
    val top = got.head._1
    assert(got.head._3 > 0 && (isSeed(top) ||
      inEdges.getOrElse(top, Array.empty[String]).exists(isSeed)))
  }

  test("g2 triangles: oriented enumeration matches brute-force reference") {
    val out = Graph.g2Triangles(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    // brute-force reference on the same (small) edge set
    val li = Tables.load(spark, sfDir, "lineitem")
      .filter($"l_quantity" >= 45)
      .select($"l_orderkey", $"l_suppkey").distinct()
    val e0 = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey"), col("b.l_suppkey"))
      .distinct().as[(Long, Long)].collect().toSet
    val adj = e0.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def connected(a: Long, b: Long): Boolean =
      e0.contains((math.min(a, b), math.max(a, b)))
    val nodes = e0.flatMap(p => Seq(p._1, p._2))
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, bs) <- adj; b <- bs; c <- adj.getOrElse(b, Set.empty)
      if connected(a, c)
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    val got = out.map { case (n, _, t) => n -> t }.toMap
    assert(got.keySet == nodes, "every node of the graph is reported")
    nodes.foreach { n =>
      assert(got(n) == naive(n), s"node $n: got ${got(n)} expected ${naive(n)}")
    }
    // per-node counts triple-count each triangle
    assert(out.map(_._3).sum % 3 == 0)
  }

  test("g3 reach: ring counts match an in-memory BFS") {
    val out = Graph.g3Reach(spark, sfDir).as[(Int, Long)].collect().toMap
    // reference BFS on collected edges
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    val adj = (base ++ base.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val seeds = Tables.load(spark, sfDir, "events")
      .filter($"event_type" === "signup" && $"user_id" % 199 === 0)
      .select(concat(lit("u"), $"user_id")).as[String].collect().toSet
    assert(seeds.nonEmpty, "seed set must be non-empty at this SF")
    var dist = seeds.map(_ -> 0).toMap
    for (k <- 1 to 4) {
      val frontier = dist.filter(_._2 == k - 1).keySet
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- dist.keySet
      dist = dist ++ next.map(_ -> k)
    }
    val expected = dist.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(out == expected, s"got $out expected $expected")
  }

  test("g11 hits: top-20 hubs/authorities match an in-memory Kleinberg iteration") {
    val got = Graph.g11Hits(spark, sfDir)
      .as[(String, String, Long)].collect().toSeq
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    // un-normalized HITS, hub0 = 1: two full rounds of exact longs
    var hub = base.map(_._1).distinct.map(_ -> 1L).toMap
    var auth = Map.empty[String, Long]
    for (_ <- 1 to 2) {
      auth = base.groupBy(_._2).view
        .mapValues(_.map(e => hub(e._1)).sum).toMap
      hub = base.groupBy(_._1).view
        .mapValues(_.map(e => auth(e._2)).sum).toMap
    }
    def top(m: Map[String, Long], role: String) =
      m.toSeq.sortBy { case (n, sc) => (-sc, n) }.take(20)
        .map { case (n, sc) => (role, n, sc) }
    val expect = (top(auth, "auth") ++ top(hub, "hub"))
      .sortBy { case (r, n, sc) => (r, -sc, n) }
    assert(got == expect)
    // bipartite sanity: authorities are items, hubs are users
    assert(got.filter(_._1 == "auth").forall(_._2.startsWith("k")))
    assert(got.filter(_._1 == "hub").forall(_._2.startsWith("u")))
  }

  test("g13 neighbor sample: triples match an in-memory hash-ranked reference; caps hold") {
    val got = Graph.g13NeighborSample(spark, sfDir)
      .as[(String, String, String)].collect().toSeq
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    val edges = base ++ base.map(_.swap)
    // replay the hash ranking through the engine's own portable hash
    val hashes = edges.toSeq.toDF("src", "dst")
      .select($"src", $"dst",
        graft.expressions.PortableHashExpressions
          .md5Hash62(concat($"src", lit(">"), $"dst")).as("h"))
      .as[(String, String, Long)].collect()
    val sample: Map[String, Seq[String]] = hashes.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._3, e._2)).map(_._2).toSeq).toMap
    val seeds = Tables.load(spark, sfDir, "events")
      .filter($"event_type" === "signup" && $"user_id" % 199 === 0)
      .select(concat(lit("u"), $"user_id")).as[String].collect().distinct
    val expect = (for {
      s0 <- seeds.toSeq
      h1 <- sample.getOrElse(s0, Seq.empty).take(3)
      h2 <- sample.getOrElse(h1, Seq.empty).take(2)
    } yield (s0, h1, h2)).sorted
    assert(got == expect && got.nonEmpty)
    // fan-out caps: <= 3 distinct h1 per seed, <= 2 h2 per (seed, h1)
    got.groupBy(_._1).values.foreach(g =>
      assert(g.map(_._2).distinct.size <= 3))
    got.groupBy(t => (t._1, t._2)).values.foreach(g =>
      assert(g.size <= 2))
    // sampled neighborhoods are real edges
    val eset = edges.toSet
    got.foreach { case (s0, h1, h2) =>
      assert(eset.contains((s0, h1)) && eset.contains((h1, h2)))
    }
  }

  test("g4 sssp: frontier Bellman-Ford matches an in-memory full relaxation") {
    val got = Graph.g4Sssp(spark, sfDir).as[(String, Long)].collect().toSeq
    // reference: FULL (non-frontier) Bellman-Ford on collected weighted
    // edges — proves the frontier pruning computes the same ≤4-edge dists
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    def w(a: String, b: String): Long = {
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      val bytes = s"$lo>$hi".getBytes("UTF-8")
      graft.expressions.PortableHash.md5Lower62(bytes, 0, bytes.length) % 9 + 1
    }
    val edges = (base ++ base.map(_.swap)).map { case (s0, d0) => (s0, d0, w(s0, d0)) }
    val seeds = Tables.load(spark, sfDir, "events")
      .filter($"event_type" === "signup" && $"user_id" % 199 === 0)
      .select(concat(lit("u"), $"user_id")).as[String].collect().toSet
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to 4) {
      val relaxed = edges.flatMap { case (s0, d0, wt) =>
        dist.get(s0).map(ds => d0 -> (ds + wt))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1).view
        .mapValues(_.map(_._2).min).toMap
    }
    val expect = dist.toSeq.sortBy(p => (p._2, p._1)).take(100)
    assert(got == expect)
  }

  test("g6 cooccur: pair counts match an in-memory capped reference; cap bounds fanout") {
    val inter = Tables.load(spark, sfDir, "events")
      .select($"user_id".as("u"),
        get_json_object($"props", "$.k").cast("long").as("k"))
      .where($"k".isNotNull)
      .groupBy($"u", $"k").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
    val capped = inter.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      rows.sortBy(r => (-r._3, r._2)).take(20).map(r => (u, r._2))
    }
    val nUsers = capped.map(_._1).distinct.size
    val itemN = capped.groupBy(_._2).view.mapValues(_.size).toMap
    val pairCounts = capped.groupBy(_._1).values.flatMap { rows =>
      val ks = rows.map(_._2).sorted
      for (i <- ks.indices; j <- (i + 1) until ks.length) yield (ks(i), ks(j))
    }.groupBy(identity).view.mapValues(_.size).toMap
    val expect = pairCounts.toSeq.map { case ((a, b), nij) =>
      val lift = math.floor(nij.toDouble * nUsers / itemN(a) / itemN(b)
        * 10000.0 + 0.5) / 10000.0
      (a, b, nij.toLong, lift)
    }.sortBy(p => (-p._3, p._1, p._2)).take(50)
    val got = Graph.g6Cooccur(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
  }

  test("g5 kcore: 5 peel rounds reach the true 3-core fixpoint") {
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    // in-memory peel to FIXPOINT (not 5 rounds) — proves 5 rounds suffice
    var edges = (base ++ base.map(_.swap)).toSet
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next.size != edges.size
      edges = next
    }
    val expect = edges.groupBy(_._1).view.mapValues(_.size.toLong).toSeq
      .map { case (n, dg) => (n, dg) }
      .sortBy(p => (-p._2, p._1)).take(100)
    val got = Graph.g5Kcore(spark, sfDir).as[(String, Long)].collect().toSeq
    assert(got == expect,
      "5 bounded peel rounds must equal the data-dependent fixpoint here")
  }

  test("g7 linkpred: RA scores match an in-memory capped reference; candidates are non-edges") {
    // sf0.001's capped co-occurrence graph has no non-adjacent wedge pair
    // at all (result legitimately empty), so this spec runs at sf0.01
    // where the top-100 is full — the reference is still tiny (bounded
    // wedges over a few hundred edges).
    val gDir = "/root/testdata/sf0.01"
    val li = Tables.load(spark, gDir, "lineitem")
      .filter($"l_quantity" >= 45)
      .select($"l_orderkey", $"l_suppkey").distinct()
      .as[(Long, Long)].collect()
    val e0 = li.groupBy(_._1).values.flatMap { grp =>
      val ss = grp.map(_._2).distinct.sorted
      for (i <- ss.indices; j <- i + 1 until ss.length) yield (ss(i), ss(j))
    }.toSet
    val und = e0.toSeq.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    val deg = und.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val byZ = und.map { case (u, v) => (v, u) }
      .filter { case (z, _) => deg(z) <= 64 }
    val cands = byZ.groupBy(_._1).toSeq.flatMap { case (z, grp) =>
      val nbs = grp.map(_._2).sorted
      for (i <- nbs.indices; j <- i + 1 until nbs.length)
        yield ((nbs(i), nbs(j)), 1.0 / deg(z))
    }.filter { case (p, _) => !e0.contains(p) }
    val scored = cands.groupBy(_._1).toSeq.map { case ((u, v), cs) =>
      // same association order as the engine's sorted fold
      (u, v, cs.size.toLong, cs.map(_._2).sorted.foldLeft(0.0)(_ + _))
    }
    val expect = scored.sortBy { case (u, v, _, raw) => (-raw, u, v) }.take(100)
      .map { case (u, v, cn, raw) =>
        (u, v, cn, math.floor(raw * 1e6 + 0.5) / 1e6) }
    val got = Graph.g7Linkpred(spark, gDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    assert(got.nonEmpty && got.forall { case (u, v, _, _) =>
      u < v && !e0.contains((u, v)) })
  }

  test("g15 star components: star, union-find and closure agree on chains, hubs, bridges") {
    import graft.operators.Dedup
    val nodes = (1L to 40L).toDF("doc_id")
    // a long chain (worst case for label propagation), a 20-spoke hub
    // rooted at a NON-minimal id (worst case for naive min-push), two
    // isolates, and a triangle
    val chain = (1L until 10L).map(i => (i, i + 1))
    val hub = (21L to 39L).map(v => (20L, v)) // 20 is the hub, not the min
    val tri = Seq((11L, 12L), (12L, 13L), (11L, 13L))
    val pairs = (chain ++ hub ++ tri).toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    // three plans, one contract: star directly, the entry point at its
    // default gate (driver union-find), and the entry point with the
    // gate forced below the edge count (its star branch)
    def threeWays(p: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val star = toMap(Dedup.starComponents(nodes, p))
      assert(toMap(Dedup.connectedComponents(nodes, p)) == star,
        "union-find disagrees with star")
      assert(toMap(Dedup.connectedComponents(nodes, p, -1L)) == star,
        "the above-gate branch disagrees with star")
      star
    }
    val ids = (1L to 40L)
    val star = threeWays(pairs)
    assert(star == closureComponents(ids, chain ++ hub ++ tri))
    assert(star(10L) == 1L && star(39L) == 20L && star(13L) == 11L)
    assert(star(14L) == 14L && star(40L) == 40L, "isolates must self-root")

    // the planted BRIDGE-MERGE fixture: two edges fuse the chain, the
    // triangle and the hub into a single component rooted at 1
    val bridges = Seq((10L, 11L), (13L, 20L))
    val merged = threeWays(pairs.union(bridges.toDF("doc_a", "doc_b")))
    assert(merged == closureComponents(ids, chain ++ hub ++ tri ++ bridges))
    assert(merged(39L) == 1L && merged(13L) == 1L && merged(10L) == 1L,
      "bridge edges must fuse chain+triangle+hub into the 1-rooted component")
    assert(merged(14L) == 14L, "isolates stay self-rooted after the merge")
  }

  test("g8 plan: propagation rounds are equality joins, never a cartesian") {
    val q = Graph.g8Labelprop(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"label propagation degraded to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected equality joins on the edge key:\n$plan")
  }

  test("g8 labelprop: matches an in-memory sync-LPA reference; splits what CC merges") {
    // corpus run vs in-memory reference (3 synchronous rounds, majority
    // vote, lexicographically-smallest tie-break)
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    val edges = base ++ base.map(_.swap)
    var labels = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = edges.groupBy(_._2).view.mapValues { in =>
        in.map(e => labels(e._1)).groupBy(identity).toSeq
          .map { case (l, xs) => (l, xs.size) }
          .minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val expect = labels.groupBy(_._2).toSeq
      .map { case (l, m) => (l, m.size.toLong, m.keys.min) }
      .sortBy { case (l, n, _) => (-n, l) }.take(50)
    val got = Graph.g8Labelprop(spark, sfDir)
      .as[(String, Long, String)].collect().toSeq
    assert(got == expect)
    // discriminator: two triangles joined by ONE bridge — connected
    // components see a single blob; LPA's majority vote keeps two
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val planted = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val comm = Graph.labelPropagate(planted, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(comm.values.toSet.size == 2,
      s"bridge-linked cliques must keep two communities, got $comm")
    assert(comm(1L) == comm(2L) && comm(2L) == comm(3L))
    assert(comm(4L) == comm(5L) && comm(5L) == comm(6L))
  }

  test("g12 modularity: matches an in-memory Newman computation over the g8 partition") {
    val got = Graph.g12Modularity(spark, sfDir)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // in-memory reference: same LPA labels, same integer counting
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    val edges = base ++ base.map(_.swap)
    var labels = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = edges.groupBy(_._2).view.mapValues { in =>
        in.map(e => labels(e._1)).groupBy(identity).toSeq
          .map { case (l, xs) => (l, xs.size) }
          .minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val m2 = edges.size.toDouble
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expect = labels.groupBy(_._2).toSeq.map { case (l, members) =>
      val nodes = members.keySet
      val dTot = nodes.toSeq.map(deg).sum
      val eIntra = edges.count(e =>
        nodes.contains(e._1) && labels(e._2) == l) / 2
      val share = dTot / m2
      // Newman first term: e_intra/m = (2*eIntra)/m2 since m2 counts both
      // directions. (Round 9 fixed production's halved eIntra/m2 form; the
      // reference here must encode the CORRECTED term or a regression of
      // that bug would pass — on this corpus e_intra is 0 everywhere, so
      // the planted-graph audit below is what actually exercises it.)
      val q = math.floor((2.0 * eIntra / m2 - share * share) * 1e6 + 0.5) / 1e6
      (l, nodes.size.toLong, eIntra.toLong, dTot, q)
    }.sortBy { case (l, n, _, _, _) => (-n, l) }.take(50)
    assert(got == expect)
    // THE HARNESS'S REASON TO EXIST: on the bipartite corpus graph,
    // synchronous LPA oscillates into the sides-split (all users vs all
    // items) — every edge crosses, and g12 correctly scores that
    // partition at or below chance (negative contributions). A consumer
    // gating on modularity rejects it instead of shipping it.
    assert(got.map(_._5).sum <= 0.0,
      s"bipartite sides-split must not score above chance: $got")
    // planted two-clique-bridge graph: both communities denser than chance
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L))
    val planted = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst").localCheckpoint(true)
    val plLabelsDf = Graph.labelPropagate(planted, rounds = 3)
      .localCheckpoint(true)
    val plLabels = plLabelsDf.as[(Long, Long)].collect().toMap
    val plM2 = 14.0
    val plDeg = tri.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val qs = plLabels.values.toSeq.distinct.map { l =>
      val nodes = plLabels.filter(_._2 == l).keySet
      val eIntra = tri.count { case (a, b) =>
        nodes.contains(a) && nodes.contains(b) } // m = 7 undirected edges
      val share = nodes.toSeq.map(plDeg).sum / plM2
      l -> (eIntra / 7.0 - share * share)
    }.toMap
    assert(qs.values.forall(_ > 0.0),
      s"clique communities must beat chance: $qs")
    // audit the PRODUCTION expression on the planted graph: e_intra > 0
    // here, so this FAILS if the halved first term (e_intra/m2) is ever
    // reintroduced — each clique community must score exactly the
    // hand-computed 2*3/14 − (7/14)² = 0.178571 (6-dp half-up round)
    val contrib = Graph.modularityContrib(planted, plLabelsDf)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map { case (l, n, e, d, q) => l -> ((n, e, d, q)) }.toMap
    assert(contrib.keySet == qs.keySet)
    qs.foreach { case (l, q) =>
      val (n, e, d, got) = contrib(l)
      assert((n, e, d) == ((3L, 3L, 7L)),
        s"community $l counts off: n=$n e_intra=$e d_tot=$d")
      assert(got == math.floor(q * 1e6 + 0.5) / 1e6,
        s"community $l: modularityContrib=$got, hand-computed=$q")
      assert(got == 0.178571, s"community $l: expected 0.178571, got $got")
    }
  }

  test("g9 walks: every user node walks 3 hops along the hash-chosen adjacency index") {
    import graft.expressions.PortableHash
    import org.apache.spark.unsafe.types.UTF8String
    def h62(s: String): Long =
      PortableHash.md5Lower62(UTF8String.fromString(s))
    val base = Tables.load(spark, sfDir, "events")
      .select(concat(lit("u"), $"user_id").as("src"),
        concat(lit("k"), get_json_object($"props", "$.k")).as("dst"))
      .where($"dst".isNotNull).distinct()
      .as[(String, String)].collect()
    val adj = (base ++ base.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    def step(v: String, i: Int): String = {
      val nbrs = adj(v)
      nbrs(((h62(s"$v#$i") % nbrs.length) + nbrs.length).toInt % nbrs.length)
    }
    val expect = base.map(_._1).distinct.sorted.map { u =>
      val n1 = step(u, 1); val n2 = step(n1, 2); val n3 = step(n2, 3)
      (u, n1, n2, n3)
    }.toSeq
    val got = Graph.g9Walks(spark, sfDir)
      .as[(String, String, String, String)].collect().toSeq
    assert(got == expect)
    // walks alternate u-side and k-side on the bipartite graph
    got.foreach { case (w, n1, n2, n3) =>
      assert(w.startsWith("u") && n1.startsWith("k") &&
        n2.startsWith("u") && n3.startsWith("k"), s"$w -> $n1 -> $n2 -> $n3")
    }
    // the hash choice genuinely varies: not every walk picks index 0
    val firstNbr = expect.map { case (u, n1, _, _) => n1 == adj(u).head }
    assert(firstNbr.contains(false))
  }

  test("g10 walk pairs: symmetric window-1 skip-gram counts over the g9 walks") {
    val walks = Graph.g9Walks(spark, sfDir)
      .as[(String, String, String, String)].collect()
    val expect = walks.flatMap { case (w, n1, n2, n3) =>
      Seq((w, n1), (n1, w), (n1, n2), (n2, n1), (n2, n3), (n3, n2))
    }.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, _) => (a, b) }
    val got = Graph.g10WalkPairs(spark, sfDir)
      .as[(String, String, Long)].collect().toSeq
    assert(got == expect)
    // symmetry: every (a,b) count equals its (b,a) count
    val m = got.map { case (a, b, c) => (a, b) -> c }.toMap
    m.foreach { case ((a, b), c) => assert(m((b, a)) == c) }
  }

  test("withClusterStats on a giant cluster: agg+join sizes, window-free plan") {
    // 900 of 1000 docs in one near-dup cluster — the boilerplate-cluster
    // regime where the r14 count-over-window shape sorts every member in
    // one task. Sizes and canonical flags must match a naive replay with
    // NO window in the plan.
    val comps = (0L until 1000L).map { i =>
      if (i < 900L) (i, 0L) else (i, i)
    }.toDF("doc_id", "cluster_id")
    val out = graft.operators.Dedup.withClusterStats(comps)
    val got = out.as[(Long, Long, Long, Boolean)].collect()
    assert(got.length == 1000)
    got.foreach { case (doc, cl, size, canon) =>
      assert(size == (if (cl == 0L) 900L else 1L), s"doc $doc size $size")
      assert(canon == (doc == cl), s"doc $doc canonical flag")
    }
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"cluster-size annotation must not use a window:\n$plan")
  }

  test("labelPropagate majority vote: struct-min argmax equals naive replay on a hub with ties") {
    // hub node receives equal vote counts from two cliques — the argmax
    // (count desc, label asc) tie must break to the smallest label, and
    // the whole vote must run as a map-side-combinable aggregate (no
    // per-dst window: a web-scale hub's vote list would sort in 1 task).
    val raw = Seq(
      // clique A: a1..a3 fully connected (labels converge to "a1")
      "a1" -> "a2", "a2" -> "a1", "a1" -> "a3", "a3" -> "a1",
      "a2" -> "a3", "a3" -> "a2",
      // clique B: b1..b3 fully connected (labels converge to "b1")
      "b1" -> "b2", "b2" -> "b1", "b1" -> "b3", "b3" -> "b1",
      "b2" -> "b3", "b3" -> "b2",
      // hub: 3 in-edges from each clique — tied 3:3 vote every round
      "a1" -> "hub", "a2" -> "hub", "a3" -> "hub",
      "b1" -> "hub", "b2" -> "hub", "b3" -> "hub",
      "hub" -> "a1", "hub" -> "b1")
    val edges = raw.toDF("src", "dst")
    val got = Graph.labelPropagate(edges, rounds = 3)
      .as[(String, String)].collect().toMap
    // naive in-memory replay of the identical synchronous vote
    var labels = raw.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = raw.groupBy(_._2).map { case (dst, es) =>
        val votes = es.map(e => labels(e._1))
          .groupBy(identity).map { case (l, v) => (l, v.size) }
        dst -> votes.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    assert(got == labels, s"vote argmax diverges: $got vs $labels")
    assert(got("hub").startsWith("a"), "tied hub vote must break to clique A")
    val plan = Graph.labelPropagate(edges, rounds = 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"majority vote must not use a per-dst window:\n$plan")
  }
}
