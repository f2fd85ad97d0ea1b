package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup

class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drops empty splits; charNgrams slides and guards short input") {
    val df = Seq(("  a  bb c ", "abcd"), ("", "ab")).toDF("t", "s")
    val r = df.select(
      size(tokens($"t")).as("n"),
      charNgrams($"s", 3).as("g")).collect()
    assert(r(0).getInt(0) == 3)
    assert(r(0).getSeq[String](1) == Seq("abc", "bcd"))
    assert(r(1).getSeq[String](1).isEmpty) // len < n → empty, not garbage
  }

  test("wordNgrams builds n-grams; jaccard of known sets is exact") {
    val df = Seq("w1 w2 w3 w4").toDF("t")
    val grams = df.select(wordNgrams(tokens($"t"), 3)).as[Seq[String]].head()
    assert(grams == Seq("w1 w2 w3", "w2 w3 w4"))
    val j = spark.range(1)
      .select(jaccard(typedlit(Seq("a", "b", "c")), typedlit(Seq("b", "c", "d"))))
      .as[Double].head()
    assert(j == 0.5) // 2 / 4
  }

  test("minhash signature: identical sets → identical sigs; disjoint sets differ") {
    val df = Seq(
      (1L, Seq("aa", "bb", "cc")),
      (2L, Seq("aa", "bb", "cc")),
      (3L, Seq("xx", "yy", "zz"))).toDF("id", "set")
    val sigs = df.select($"id", minhashSignature($"set").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
    assert(sigs(1L).size == 64)
  }

  test("simhash: identical token arrays → hamming 0; perturbed → small distance") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("id", "t")
    val sh = df.select($"id", simhash(lowerTokens($"t")).as("s"))
      .as[(Long, Long)].collect().toMap
    val d12 = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val d13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(d12 == 0)
    assert(d13 > 10, s"unrelated docs too close: $d13")
  }

  test("d3 MinHash+LSH finds every brute-force word-3gram pair at j>=0.3 (recall)") {
    // brute-force truth on the small SF
    val base = Tables.load(spark, sfDir, "documents").select(
      $"doc_id", array_distinct(wordNgrams(lowerTokens($"text"), 3)).as("sh"))
    val a = base.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
    val b = base.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
    val truth = a.crossJoin(b).filter($"doc_a" < $"doc_b")
      .withColumn("jac", jaccard($"sh_a", $"sh_b"))
      .filter($"jac" >= 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val found = Dedup.d3MinhashLsh(spark, sfDir)
      .filter($"jaccard" >= 0.3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty, "test corpus should contain planted near-dups")
    assert(truth.subsetOf(found),
      s"LSH missed ${truth.diff(found).size} of ${truth.size} true pairs")
  }

  test("t6 winnowing is deterministic and guarantees shared fingerprints for long matches") {
    import graft.operators.TextAnalysis
    val a = TextAnalysis.t6Winnowing(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = TextAnalysis.t6Winnowing(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a == b)
    // density sanity: expected ~2/(w+1) of gram positions selected
    val perDoc = a.groupBy(_.head).map(_._2.size)
    assert(perDoc.sum.toDouble / perDoc.size > 10, "suspiciously few fingerprints")
  }

  test("d2 pair join is scale-adaptive: broadcast locally, shuffle past the threshold") {
    // default session: the block-keyed build side is small → broadcast
    val local = Dedup.d2NgramJaccard(spark, sfDir)
    val localRows = local.collect().map(_.toSeq).toSeq
    assert(local.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small-scale d2 should broadcast the build side")
    // 100 TB posture: past autoBroadcastJoinThreshold the SAME query must
    // shuffle both sides on the block key instead of broadcasting a corpus
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val scaled = Dedup.d2NgramJaccard(s2, sfDir)
    val scaledRows = scaled.collect().map(_.toSeq).toSeq
    val plan = scaled.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"threshold disabled but plan still broadcasts:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffled block-key join:\n$plan")
    assert(scaledRows == localRows, "join strategy must not change results")
  }

  test("d9 containment: exact precision; recall complete over rare-gram-sharing pairs") {
    // in-memory shingle sets (word-3grams, same tokenization)
    val sets = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", lowerTokens($"text").as("t"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, t) =>
        id -> (if (t.length >= 3) (0 to t.length - 3)
          .map(i => t.slice(i, i + 3).mkString(" ")).toSet
        else Set.empty[String])
      }.toMap
    def cont(a: Long, b: Long): Double = {
      val (sa, sb) = (sets(a), sets(b))
      if (sa.isEmpty || sb.isEmpty) 0.0
      else (sa & sb).size.toDouble / math.min(sa.size, sb.size)
    }
    val got = graft.operators.Dedup.d9Containment(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // precision: every reported pair truly has >= 0.9 containment
    got.foreach { case (a, b) =>
      assert(cont(a, b) >= 0.9, s"pair ($a,$b) containment ${cont(a, b)}")
    }
    // recall over the blocking's contract: every >=0.9 pair that SHARES a
    // df-[2,20] gram is found
    val df = sets.values.toSeq.flatten.groupBy(identity).view.mapValues(_.size)
    val rare = df.filter(v => v._2 >= 2 && v._2 <= 20).keys.toSet
    val ids = sets.keys.toSeq.sorted
    val expect = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      if cont(a, b) >= 0.9 && (sets(a) & sets(b) & rare).nonEmpty
    } yield (a, b)).toSet
    assert(got == expect)
    assert(got.nonEmpty, "corpus must contain containment dups to detect")
  }

  test("d1 exact dedup keeps one row per fingerprint") {
    val out = Dedup.d1ExactDedup(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents").count()
    assert(out.agg(sum($"n_copies")).as[Long].head() == docs)
    assert(out.select($"fp").distinct().count() == out.count())
  }

  test("d5 cluster resolution: edges stay intra-cluster, canonical is the min") {
    val labels = Dedup.d5DedupClusters(spark, sfDir)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    // every near-dup edge connects two docs of the SAME cluster
    val pairs = Dedup.d2NgramJaccard(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"edge ($a,$b) crosses clusters")
    }
    // cluster id is the minimum member (so the canonical doc is in-cluster)
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
    // transitivity witness: a chain (a,b),(b,c) collapses to one cluster
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val chained = pairs.exists { case (a, b) =>
      (adj(b) - a).exists(c => labels(c) == labels(a))
    }
    assert(chained || pairs.isEmpty)
  }

  test("SpanChunks generator == HOF chunking; empty/null inputs emit nothing") {
    import graft.expressions.SpanChunks.spanChunks
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g")), // trailing partial span
      (2L, Seq("x", "y", "z")),                     // exactly one span
      (3L, Seq("q")),                               // sub-span doc
      (4L, Seq.empty[String])                       // no tokens -> no rows
    ).toDF("id", "t")
    val gen = df.select($"id", spanChunks($"t", 3).as(Seq("idx", "span")))
      .as[(Long, Int, String)].collect().toSet
    // the HOF twin (t7's shape): materialize the chunk array, posexplode
    val hof = df.filter(size($"t") > 0)
      .select($"id", posexplode(
        transform(sequence(lit(0), floor((size($"t") + 2) / lit(3)).cast("int") - 1),
          i => concat_ws(" ", slice($"t", i * 3 + 1, lit(3))))).as(Seq("idx", "span")))
      .as[(Long, Int, String)].collect().toSet
    assert(gen == hof)
    assert(gen.contains((1L, 2, "g")) && gen.contains((2L, 0, "x y z")))
    assert(!gen.exists(_._1 == 4L))
    // null array -> no rows (not a null row)
    val withNull = Seq((5L, null: Seq[String])).toDF("id", "t")
      .select($"id", spanChunks($"t", 3).as(Seq("idx", "span")))
    assert(withNull.count() == 0)
    // SQL surface via GraftExtensions
    df.createOrReplaceTempView("spanchunks_in")
    val sql = spark.sql(
      "SELECT id, graft_span_chunks(t, 3) FROM spanchunks_in")
      .as[(Long, Int, String)].collect().toSet
    assert(sql == gen)
  }

  test("d8 span dedup: kept spans count + first-occurrence wins + reconstruction") {
    val out = Dedup.d8SpanDedup(spark, sfDir)
    val rows = out.as[(Long, Long, Long, Long, String)].collect()
    // every doc accounted for, n_kept + n_dropped == n_spans
    assert(rows.length == Tables.load(spark, sfDir, "documents").count())
    rows.foreach { case (id, n, k, drp, _) =>
      assert(k + drp == n && k >= 0 && drp >= 0, s"doc $id inconsistent")
    }
    // global invariant: total kept spans == number of DISTINCT spans
    import graft.expressions.SpanChunks.spanChunks
    val spans = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", lowerTokens($"text").as("t"))
      .select($"doc_id", spanChunks($"t", 3).as(Seq("idx", "span")))
    assert(rows.map(_._3).sum == spans.select($"span").distinct().count())
    // the globally FIRST document (min doc_id) wins every inter-doc race:
    // it keeps exactly its DISTINCT spans (drops only self-repeats)
    val firstDoc = rows.minBy(_._1)
    val firstDistinct = spans.filter($"doc_id" === firstDoc._1)
      .select($"span").distinct().count()
    assert(firstDoc._3 == firstDistinct,
      s"first doc kept ${firstDoc._3}, expected $firstDistinct")
  }

  test("d18 span dedup at 32 tokens: a copied 64-token passage dies, common short phrases survive") {
    // two docs share a verbatim 64-token passage (= two aligned 32-token
    // spans); a third doc shares only a 3-token phrase — at production
    // grain the passage is boilerplate, the phrase is not
    val passage = (1 to 64).map(i => s"tok$i").mkString(" ")
    val phrase = "the quick fox"
    val dir = java.nio.file.Files.createTempDirectory("graft_d18").toString
    Seq(
      (1L, passage + " unique tail one", "en", "web", 1L),
      (2L, passage + " other ending words here", "en", "web", 1L),
      (3L, phrase + " jumps somewhere else entirely today", "en", "web", 1L),
      (4L, phrase + " runs away again tomorrow morning", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = Dedup.d18SpanDedup32(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1 (first occurrence) keeps everything: 64+3 tokens → 3 spans
    assert(out(1L) == ((3L, 3L, 0L)), s"doc1: ${out(1L)}")
    // doc 2 drops exactly the two copied aligned spans, keeps its tail
    assert(out(2L) == ((3L, 1L, 2L)), s"doc2: ${out(2L)}")
    // the 3-token phrase never forms a full shared 32-token span: both
    // phrase docs keep their single (partial) span
    assert(out(3L) == ((1L, 1L, 0L)) && out(4L) == ((1L, 1L, 0L)),
      s"phrase docs: ${out(3L)}, ${out(4L)}")
  }

  test("d21 exactsubstr catches any-offset repeats at their true extent where d18's fixed grain provably misses them") {
    // a verbatim 40-token passage at offset 10 in doc 1 and offset 17 in
    // doc 2: no aligned 32-token chunk boundary ever lines up, so d18
    // misses it entirely; d21's stride-1 windows catch it exactly
    val rep = (1 to 40).map(i => s"r$i").mkString(" ")
    val run20 = (1 to 20).map(i => s"u$i").mkString(" ")
    val block = (1 to 35).map(i => s"c$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_d21").toString
    Seq(
      (1L, (1 to 10).map(i => s"p$i").mkString(" ") + " " + rep +
        " q1 q2 q3 q4 q5", "en", "web", 1L),
      (2L, (1 to 17).map(i => s"s$i").mkString(" ") + " " + rep +
        " t1 t2 t3", "en", "web", 1L),
      (3L, "a1 a2 a3 a4 a5 " + run20 + " a6 a7 a8 a9 a10", "en", "web", 1L),
      (4L, (1 to 12).map(i => s"b$i").mkString(" ") + " " + run20 +
        " b13 b14 b15", "en", "web", 1L),
      (5L, "x1 x2 x3 " + block + " y1 y2 y3 y4 y5 y6 y7 " + block +
        " z1 z2", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // d18 at its own 32-token grain: NOTHING dropped — the straddling
    // offsets defeat aligned chunking
    val d18 = Dedup.d18SpanDedup32(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(d18.forall(_._4 == 0L),
      s"d18 should miss every repeat here: ${d18.mkString(", ")}")
    // d21 at the SAME 32-token minimum-match length
    val d21 = Dedup.exactSubstrAt(spark, dir, 32)
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // earliest copy survives intact
    assert(d21(1L)._1 == 55L && d21(1L)._2 == 0L && d21(1L)._3 == 0L)
    // doc 2 loses exactly the 40-token repeat (one maximal span), and the
    // kept text is its unique prefix + tail, byte-exact
    assert((d21(2L)._1, d21(2L)._2, d21(2L)._3) == ((60L, 1L, 40L)))
    val keptExpect =
      ((1 to 17).map(i => s"s$i") ++ Seq("t1", "t2", "t3")).mkString(" ")
    val md5Expect = spark.range(1)
      .select(md5(lit(keptExpect))).as[String].head()
    assert(d21(2L)._4 == md5Expect)
    // a 20-token shared run is BELOW the 32-token contract floor: both
    // carriers keep everything (exactness of the lower bound)
    assert(d21(3L)._3 == 0L && d21(4L)._3 == 0L)
    // within-doc self-repeat at arbitrary offsets (3 and 45): the second
    // occurrence is removed at its true 35-token extent, the first kept
    assert((d21(5L)._1, d21(5L)._2, d21(5L)._3) == ((82L, 1L, 35L)))
  }

  test("d8/d18/d21 argmin rewrite == rank-window witness, including on a hot-key corpus") {
    // HOT-KEY fixture: one boilerplate 3-token span planted in ~2/3 of
    // the docs (the Zipf regime the argmin rewrite exists for), plus
    // per-doc unique filler and a within-doc self-repeat. The round-14
    // rank-window shape routed every occurrence of the hot span into one
    // WindowExec task; the min(struct) aggregate must select the SAME
    // first occurrences with map-side partial aggregation.
    val hot = "click here now"
    val docsSeq = (0L until 30L).map { i =>
      val filler = (1 to 6).map(j => s"w${i}_$j").mkString(" ")
      val t =
        if (i % 3 == 0) filler // cold doc: no hot span
        else s"$hot $filler $hot" // hot span at both ends (self-repeat)
      (i, t, "en", s"src${i % 2}", t.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_hotkey").toString
    docsSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    // d8/d18 selection: both shapes over the same span stream
    import graft.expressions.SpanChunks.{spanChunks, slidingChunks}
    val spans = Tables.load(spark, dir, "documents")
      .select($"doc_id", lowerTokens($"text").as("t"))
      .select($"doc_id", spanChunks($"t", 3).as(Seq("idx", "span")))
    val keptAgg = Dedup.spanDedupKept(spans)
      .as[(Long, Int, String)].collect().toSet
    val keptWin = Dedup.spanDedupKeptRankWindow(spans)
      .as[(Long, Int, String)].collect().toSet
    assert(keptAgg == keptWin, "d8 argmin diverged from the rank-window witness")
    // the hot span is kept exactly once, by the earliest carrier (doc 1, idx 0)
    assert(keptAgg.count(_._3 == hot) == 1)
    assert(keptAgg.contains((1L, 0, hot)))
    // d21 covered set: both shapes over the same sliding-window stream
    val wins = Tables.load(spark, dir, "documents")
      .select($"doc_id", lowerTokens($"text").as("t"))
      .select($"doc_id", slidingChunks($"t", 3).as(Seq("pos", "span")))
      .select($"doc_id", $"pos", md5($"span").as("wkey"))
    val covAgg = Dedup.exactSubstrCovered(wins)
      .as[(Long, Int)].collect().toSet
    val covWin = Dedup.exactSubstrCoveredRankWindow(wins)
      .as[(Long, Int)].collect().toSet
    assert(covAgg == covWin, "d21 argmin+join diverged from the rank-window witness")
    assert(covAgg.nonEmpty)
    // end-to-end d8 + d21 stay internally consistent on the fixture
    val d8 = Dedup.d8SpanDedup(spark, dir)
      .as[(Long, Long, Long, Long, String)].collect()
    assert(d8.length == 30 && d8.forall(r => r._3 + r._4 == r._2))
    val d21 = Dedup.exactSubstrAt(spark, dir, 3)
      .as[(Long, Long, Long, Long, String)].collect()
    // every hot doc except the earliest loses at least its hot spans
    d21.filter(r => r._1 % 3 != 0 && r._1 != 1L).foreach { r =>
      assert(r._4 >= 6L, s"doc ${r._1} should lose both hot spans: $r")
    }
    assert(d21.filter(_._1 % 3 == 0).forall(_._4 == 0L),
      "cold docs must keep everything")
  }

  test("d7 parity holds when embeddings.vec_id is NOT a subset of documents.doc_id") {
    // The oracle's `comp JOIN q USING (doc_id)` drops embedding-only ids
    // AFTER they participate in connected components; the Spark side must
    // do exactly the same — orphans bridge clusters but never appear in
    // the output, and cluster_size counts only document-backed members.
    // (Parity previously leaned on the driver-testdata invariant
    // vec_id ⊆ doc_id; this fixture breaks that invariant on purpose.)
    val dir = java.nio.file.Files.createTempDirectory("graft_d7_orphans").toString
    Seq(
      (1L, "alpha beta gamma delta", "en", "web", 22L),
      (2L, "epsilon zeta eta theta", "en", "web", 22L),
      (3L, "iota kappa lambda mu", "en", "web", 20L),
      (4L, "nu xi omicron pi rho", "en", "web", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq(
      // label 0: docs 1 and 2 are NOT a direct pair (cos=0) but orphan 100
      // is >=0.35-similar to both — it must bridge them into one cluster
      (1L, Array(1f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 0),
      (100L, Array(0.7f, 0.7f, 0f, 0f), 0),
      // label 1: orphan 101 pairs only with doc 3; orphan 0 pairs only
      // with doc 4 AND is the cluster minimum (canonical id = orphan id)
      (3L, Array(0f, 0f, 1f, 0f), 1),
      (4L, Array(0f, 0f, 0f, 1f), 1),
      (101L, Array(0f, 0f, 1f, 0.1f), 1),
      (0L, Array(0f, 0f, 0.1f, 1f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Dedup.d7SemanticDedup(spark, dir)
      .select($"doc_id", $"cluster_id", $"cluster_size", $"is_kept")
      .as[(Long, Long, Long, Boolean)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(out.map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
      s"output must be exactly the document-backed ids, got ${out.map(_._1).toSeq}")
    // orphan 100 bridged 1 and 2; size counts only document-backed members
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 1L, "orphan must bridge docs 1,2")
    assert(byId(1L)._3 == 2L && byId(2L)._3 == 2L,
      "cluster_size must exclude the orphan bridge")
    // canonical cluster id may BE an orphan id (min member), like the oracle
    assert(byId(4L)._2 == 0L, s"doc 4's canonical id must be orphan 0, got ${byId(4L)._2}")
    assert(byId(3L)._2 == 3L && byId(3L)._3 == 1L)
    // exactly one keeper per cluster
    out.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.count(_._4) == 1, s"cluster $cid keepers != 1")
    }
  }

  test("d12/d16 plans: band stages are equality joins; the only nested loops are d12's bounded stats frames") {
    // d12 is the board's slowest query, d16 the incremental-CC core: an
    // AQE or optimizer drift that degrades either to an all-pairs shape
    // must fail here, not in a bench read
    def finalPlan(q: org.apache.spark.sql.DataFrame): String = {
      q.collect() // finalize the adaptive plan before inspecting it
      q.queryExecution.executedPlan.toString
    }
    val p12 = finalPlan(Dedup.d12LshEval(spark, sfDir))
    assert(!p12.contains("CartesianProduct"), s"all-pairs stage in d12:\n$p12")
    assert(p12.contains("BroadcastHashJoin") || p12.contains("SortMergeJoin")
      || p12.contains("ShuffledHashJoin"), s"d12 lost its equality joins:\n$p12")
    // the nested loops are 1-row denominator/threshold stats frames
    // (bounded by construction); more means a corpus-sized loop crept in.
    // Count the FINAL adaptive plan only — the string repeats every node
    // under "== Initial Plan =="
    val p12Final = p12.split("== Initial Plan ==").head
    assert("BroadcastNestedLoopJoin".r.findAllIn(p12Final).size <= 3,
      s"unexpected nested-loop stage in d12:\n$p12")
    val p16 = finalPlan(Dedup.d16IncrementalComponents(spark, sfDir))
    assert(!p16.contains("CartesianProduct") &&
      !p16.contains("BroadcastNestedLoopJoin"),
      s"d16's asymmetric band join degraded to all-pairs:\n$p16")
    assert(p16.contains("BroadcastHashJoin") || p16.contains("SortMergeJoin")
      || p16.contains("ShuffledHashJoin"), s"d16 lost its equality joins:\n$p16")
  }

  test("d12 LSH eval: verified count equals d3's verified pairs; metrics recompute") {
    val Array((nt, nc, nc2, nv, nv2, recall, recall2, prec, prec2)) =
      Dedup.d12LshEval(spark, sfDir)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double)]
        .collect()
    val d3Pairs = Dedup.d3MinhashLsh(spark, sfDir).count()
    // d3 ships the >= 2-collision cut since round 11: its output IS
    // cand2 ∩ truth at the same 0.2 threshold
    assert(nv2 == d3Pairs, s"n_verified2 $nv2 != d3 $d3Pairs")
    // cut monotonicity: tightening collisions only removes candidates
    assert(nc >= nc2 && nv >= nv2 && nt >= nv && nc2 >= nv2 && nt > 0 && nc2 > 0)
    assert(recall == math.floor(nv.toDouble / nt * 1e4 + 0.5) / 1e4)
    assert(recall2 == math.floor(nv2.toDouble / nt * 1e4 + 0.5) / 1e4)
    assert(prec == math.floor(nv.toDouble / nc * 1e4 + 0.5) / 1e4)
    assert(prec2 == math.floor(nv2.toDouble / nc2 * 1e4 + 0.5) / 1e4)
    assert(recall2 > 0.0 && recall2 <= recall && recall <= 1.0)
    assert(prec > 0.0 && prec2 > 0.0 && prec <= 1.0 && prec2 <= 1.0)
    // on THIS corpus the tightened cut is certified lossless (what lets
    // d3 ship it): every truth pair collides in >= 2 bands
    assert(recall2 == recall, s"recall2 $recall2 < recall $recall")
  }

  test("d19 OPH slots: distributed densification equals a serial rotation replay; eval metrics recompute") {
    // hashed word-3gram shingle sets via the SAME expression the operator
    // uses, replayed through an in-memory OPH (bin minima + cyclic-right
    // rotation densification) and compared slot-for-slot
    val docsDf = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text")
    val sh = docsDf
      .select($"doc_id", graft.expressions.PortableHashExpressions
        .md5HashArray62(wordNgrams(lowerTokens($"text"), 3),
          distinctSorted = true).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    val expect = sh.toSeq.flatMap { case (id, hs) =>
      if (hs.isEmpty) Seq.empty
      else {
        val bins = Array.fill[Option[Long]](Dedup.OphBins)(None)
        hs.foreach { h =>
          val i = (h % Dedup.OphBins).toInt
          if (bins(i).forall(_ > h)) bins(i) = Some(h)
        }
        (0 until Dedup.OphBins).map { i =>
          bins(i) match {
            case Some(v) => (id, i.toLong, v)
            case None =>
              val dist = (1 until Dedup.OphBins)
                .find(j => bins((i + j) % Dedup.OphBins).isDefined).get
              (id, i.toLong,
                bins((i + dist) % Dedup.OphBins).get + dist * Dedup.OphC)
          }
        }
      }
    }.toSet
    val got = Dedup.ophSlots(docsDf).as[(Long, Long, Long)].collect().toSet
    assert(got == expect, "distributed OPH densification diverged from the serial replay")
    // every doc with shingles carries exactly 64 slots
    val perDoc = got.groupBy(_._1).view.mapValues(_.size)
    assert(perDoc.values.forall(_ == Dedup.OphBins))
    assert(perDoc.keySet == sh.filter(_._2.nonEmpty).keySet)

    // eval row: metrics recompute, and the sketch is certified usable on
    // this corpus (full recall at the >= 1-collision operating point)
    val Array((nt, nc, nc2, nv, nv2, recall, recall2, prec, prec2)) =
      Dedup.d19OphMinhash(spark, sfDir)
        .as[(Long, Long, Long, Long, Long, Double, Double, Double, Double)]
        .collect()
    assert(nc >= nc2 && nv >= nv2 && nt >= nv && nt > 0 && nc2 > 0)
    assert(recall == math.floor(nv.toDouble / nt * 1e4 + 0.5) / 1e4)
    assert(recall2 == math.floor(nv2.toDouble / nt * 1e4 + 0.5) / 1e4)
    assert(prec == math.floor(nv.toDouble / nc * 1e4 + 0.5) / 1e4)
    assert(prec2 == math.floor(nv2.toDouble / nc2 * 1e4 + 0.5) / 1e4)
    assert(recall == 1.0,
      s"OPH at 32x2 must keep full recall on this corpus, got $recall")
  }

  test("d2 band candidates: subset of brute-force char-3gram pairs, exact jaccard, full recall on word-similar pairs") {
    import spark.implicits._
    val texts = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def charGrams(t: String): Set[String] =
      (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
    def wordGrams(t: String): Set[String] = {
      val toks = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty[String]
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    val got = Dedup.d2NgramJaccard(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    // PRECISION + arithmetic: every emitted pair is a true brute-force
    // char-3gram near-dup with the bit-identical rounded jaccard (band
    // candidates only ever REMOVE pairs, never invent or rescore them)
    val byId = texts.toMap
    got.foreach { case (a, b, j) =>
      val bj = jac(charGrams(byId(a)), charGrams(byId(b)))
      assert(bj >= 0.5, s"($a,$b) fails brute verify: $bj")
      assert(j == math.floor(bj * 1e4 + 0.5) / 1e4, s"($a,$b) jaccard off")
    }
    // RECALL: every brute-force pair that clears BOTH the char verify and
    // a word-shingle similarity solidly inside the 32x2 band s-curve's
    // ~1.0 zone (P(all 32 bands miss at word-jac 0.5) < 1e-4, and the
    // perms + data are fixed, so this is deterministic) must be emitted.
    // Background pairs below word-jac 0.5 are deliberately out of scope:
    // excluding lexically-unrelated char-gram coincidences is the point
    // of content-based candidates.
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    val strong = for {
      (ia, ta) <- texts; (ib, tb) <- texts if ia < ib
      if jac(wordGrams(ta), wordGrams(tb)) >= 0.5
      if jac(charGrams(ta), charGrams(tb)) >= 0.5
    } yield (ia, ib)
    assert(strong.nonEmpty, "corpus must contain planted strong near-dups")
    strong.foreach(p => assert(gotPairs.contains(p), s"missed strong pair $p"))
  }

  test("d13 threshold sweep: monotone curve, agrees with d2 at 0.5, replays from the raw pairs") {
    import spark.implicits._
    val got = Dedup.d13ThresholdSweep(spark, sfDir)
      .as[(Double, Long, Long, Option[Double])].collect().toSeq
    assert(got.map(_._1) == (3 to 9).map(_ / 10.0))
    // the curve can only fall as the threshold rises
    got.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3, s"non-monotone: $lo -> $hi")
    }
    // the 0.5 row is exactly d2's pair count
    val d2n = Dedup.d2NgramJaccard(spark, sfDir).count()
    assert(got.find(_._1 == 0.5).get._2 == d2n)
    // full replay from the raw 0.3-floor pair set
    val raw = Dedup.ngramPairs(
      Tables.load(spark, sfDir, "documents"), minJac = 0.3)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) =>
        (a, b, math.floor(j * 1e4 + 0.5).toLong) }
    got.foreach { case (t, nPairs, nDocs, meanJ) =>
      val t4 = math.round(t * 1e4)
      val sel = raw.filter(_._3 >= t4)
      assert(nPairs == sel.length, s"t=$t pairs")
      assert(nDocs == sel.flatMap(p => Seq(p._1, p._2)).distinct.length,
        s"t=$t docs")
      if (sel.nonEmpty) {
        val exp = math.floor(
          sel.map(_._3).sum / (1e4 * sel.length) * 1e4 + 0.5) / 1e4
        assert(meanJ.contains(exp), s"t=$t mean")
      } else assert(meanJ.isEmpty)
    }
  }

  test("d15 boilerplate spans: per-source doc frequency flags shared spans, unique and cross-source spans stay") {
    import spark.implicits._
    // source s: span "common span x" occurs in 2 of 3 docs -> boilerplate
    // (df=2 >= 2 and 100*2 > 3); every other span is unique in its source.
    // source t: the SAME span occurs once -> NOT boilerplate there (the
    // frequency is per source, a span legit in one domain can be chrome
    // in another).
    val docs = Seq(
      (1L, "common span x unique one a", "en", "s", 26L),
      (2L, "common span x unique two b b", "en", "s", 28L),
      (3L, "solo three", "en", "s", 10L),
      (4L, "common span x", "en", "t", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_d15").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Dedup.d15BoilerplateLines(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5, x._6))).toMap
    // doc 1: spans ("common span x", "unique one a") — 1 of 2 flagged
    assert(r(1L) == ((2L, 1L, 6L, 3L, 0.5)))
    // doc 2: spans ("common span x", "unique two b", "b") — 1 of 3 flagged
    assert(r(2L) == ((3L, 1L, 7L, 4L, 0.3333)))
    assert(r(3L) == ((1L, 0L, 2L, 2L, 0.0)))
    assert(r(4L) == ((1L, 0L, 3L, 3L, 0.0)))
  }

  test("d15 boilerplate lines at sf: token conservation and bounded ratios") {
    val rows = Dedup.d15BoilerplateLines(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getLong(2) > 0), "planted dups must yield boilerplate")
    rows.foreach { x =>
      val (nl, nb, nt, ntc, ratio) = (x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4), x.getDouble(5))
      assert(nb <= nl && ntc <= nt)
      assert(ratio >= 0.0 && ratio <= 1.0)
      if (nb == 0) assert(ntc == nt, "no boilerplate -> nothing removed")
    }
  }

  test("d16 incremental components: bridge doc merges two standing clusters; equals full recompute") {
    // Two standing clusters A={0,1}, B={2,3} whose texts share a core S
    // small enough that jac(A,B) < 0.5, a standing singleton {4}, and an
    // incoming BRIDGE doc 100 built from half of A's and half of B's
    // extra vocabulary so it verifies >= 0.5 against BOTH — the delta
    // must fuse A and B through the contracted graph. Doc 101 is new
    // noise.
    val core = (1 to 20).map(i => s"corewd$i").mkString(" ")
    val aExtra = (1 to 20).map(i => s"alphaqx$i").mkString(" ")
    val bExtra = (1 to 20).map(i => s"omegazk$i").mkString(" ")
    val bridge = core + " " + (1 to 10).map(i => s"alphaqx$i").mkString(" ") +
      " " + (1 to 10).map(i => s"omegazk$i").mkString(" ")
    val docs = Seq(
      (0L, s"$core $aExtra", false),
      (1L, s"$core $aExtra trailingchange", false),
      (2L, s"$core $bExtra", false),
      (3L, s"$core $bExtra othertail", false),
      (4L, (1 to 25).map(i => s"lonewolf$i").mkString(" "), false),
      (100L, bridge, true),
      (101L, (1 to 25).map(i => s"freshdoc$i").mkString(" "), true))
      .toDF("doc_id", "text", "incoming")
    val r = Dedup.incrementalComponents(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(2), x.getBoolean(3)))).toMap
    // the bridge fuses everything sharing the core into cluster 0
    Seq(0L, 1L, 2L, 3L, 100L).foreach { id =>
      assert(r(id)._1 == 0L, s"doc $id not in the fused cluster: ${r(id)}")
    }
    // merged flags: 0/1 kept their label; 2/3 were relabeled 2 -> 0; the
    // bridge joined an existing cluster; isolates untouched
    assert(!r(0L)._2 && !r(1L)._2)
    assert(r(2L)._2 && r(3L)._2)
    assert(r(100L)._2)
    assert(r(4L) == ((4L, false)) && r(101L) == ((101L, false)))
    // incremental == full recompute over the union graph
    val full = Dedup.connectedComponents(
      docs.select($"doc_id"), Dedup.ngramPairs(docs.select($"doc_id", $"text")))
      .as[(Long, Long)].collect().toMap
    r.foreach { case (id, (cid, _)) =>
      assert(full(id) == cid, s"doc $id: incremental $cid != full ${full(id)}")
    }
  }

  test("d16 at sf: cluster ids are min members, existing labels only move downward") {
    val rows = Dedup.d16IncrementalComponents(spark, sfDir).collect()
      .map(x => (x.getLong(0), x.getBoolean(1), x.getLong(2), x.getBoolean(3)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._3)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid,
        s"cluster $cid is not its minimum member")
    }
    rows.foreach { case (id, _, cid, merged) =>
      assert(cid <= id)
      if (!merged) () // unmerged: label may be own id or an old label
    }
  }

  test("d17 plan: pair generation is a gram-equality join, never a cartesian") {
    val q = Dedup.d17SourceOverlap(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs stage crept into the self-join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equality join on the gram key:\n$plan")
  }

  test("d17 source overlap: planted pair exact; sf replay from the gram sets") {
    val dir = java.nio.file.Files.createTempDirectory("graft_d17").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "srcA", 46L),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota", "en", "srcB", 51L),
      (3L, "one two three four five six seven eight nine", "en", "srcC", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = Dedup.d17SourceOverlap(spark, dir)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSeq
    // srcA's single 8gram is contained in srcB (2 grams); srcC disjoint
    assert(planted == Seq(("srcA", "srcB", 1L, 2L, 1L, 0.5, 1.0)), planted.toString)

    // sf replay: rebuild per-source gram sets from the same fused hash
    // expression (audited in PortableHashSpec) and recompute every pair
    // in memory — validates the self-join, totals, and ratio arithmetic
    val sets = Tables.load(spark, sfDir, "documents")
      .select($"source", explode(graft.expressions.PortableHashExpressions
        .md5HashArray62(wordNgrams(lowerTokens($"text"), 8), distinctSorted = true)).as("g"))
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = sets.keys.toSeq.sorted.combinations(2).toSeq.flatMap { case Seq(a, b) =>
      val common = (sets(a) & sets(b)).size.toLong
      if (common == 0) None else Some((a, b, sets(a).size.toLong, sets(b).size.toLong,
        common,
        r6(common.toDouble / (sets(a).size + sets(b).size - common)),
        r6(common.toDouble / math.min(sets(a).size, sets(b).size))))
    }.sortBy(t => (t._1, t._2))
    val got = Dedup.d17SourceOverlap(spark, sfDir)
      .as[(String, String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == expect)
    assert(got.nonEmpty, "sf corpus must have at least one overlapping source pair")
  }

  test("d20 AllPairs: prefix-filtered join == naive inverted-index join, with fewer candidates") {
    val d = "/root/testdata/sf0.01" // sf0.001 has no >=0.2 shingle pairs
    // the exact answer from d20's prefix-filtered plan
    val got = Dedup.queries("d20_allpairs")(spark, d)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got.nonEmpty, "corpus must contain >=0.2 Jaccard pairs")
    // naive reference: full inverted-index self-join (what d19's truth
    // computes) — same shingle build, NO prefix pruning
    val docsDf = Tables.load(spark, d, "documents")
    val base = docsDf
      .select(col("doc_id"), lowerTokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), 3).as("ngrams"))
      .select(col("doc_id"), graft.expressions.PortableHashExpressions
        .md5HashArray62(col("ngrams"), distinctSorted = true).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    val inv = base.select(col("doc_id"), explode(col("sh")).as("h"))
    val naivePairs = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val naive = naivePairs
      .join(base.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .filter(col("inter") / (col("n_a") + col("n_b") - col("inter")) >= 0.2)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    // EXACTNESS: recall 1 and precision 1 on the final pair set
    assert(got.map(r => (r._1, r._2)).toSet == naive)
    // and the point of the algorithm: fewer verified candidates than the
    // naive join's pair-count stage touches
    val naiveCand = naivePairs.count()
    val prefixCand = {
      import org.apache.spark.sql.expressions.Window
      val i2 = base.select(col("doc_id"), col("n_sh"), explode(col("sh")).as("h"))
      val dfreq = i2.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
      val pre = i2.join(dfreq, "h")
        .withColumn("pos", row_number().over(w))
        .where(col("pos") <= col("n_sh") - expr("(n_sh + 4) DIV 5") + 1)
        .select(col("doc_id"), col("h"))
      pre.as("x").join(pre.as("y"),
          col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id"), col("y.doc_id")).distinct().count()
    }
    assert(prefixCand < naiveCand,
      s"prefix filter must prune: $prefixCand vs $naiveCand")
  }
}
