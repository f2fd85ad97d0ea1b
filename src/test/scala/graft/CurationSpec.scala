package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextAnalysis}

/** Round-3 curation operators: contamination audit (t9), TF-IDF terms
  * (t10), sequence packing (t11), keep-best dedup (d6), and the
  * union-find fast path of d5's connected components.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("t9 contamination: only test-split docs, ratios bounded, hits ⊆ grams") {
    val r = TextAnalysis.t9Contamination(spark, sfDir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getLong(0) % 20 == 0) // deterministic test split
      val (grams, hits, c) = (row.getLong(1), row.getLong(2), row.getDouble(3))
      assert(hits <= grams)
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("t9 plan: bounded per-key state (no collect_set), disjoint split scans") {
    val q = TextAnalysis.t9Contamination(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_set"), s"unbounded per-gram set state:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"set-valued aggregation buffer crept back in:\n$plan")
    // the split predicate must reach the scans, so the test and train
    // branches read DISJOINT document sets (one corpus-wide tokenize)
    assert(plan.contains("(doc_id#") && plan.contains("% 20) = 0)")
      && plan.contains("NOT ((doc_id#"),
      s"split filters not pushed to the scans:\n$plan")
  }

  test("t9 contamination: a doc duplicated across the split is flagged") {
    // doc 0 (test) and doc 1 (train) share text → every 8-gram of doc 0
    // is contaminated; doc 20 is unique noise long enough to have grams.
    val docs = Seq(
      (0L, "a b c d e f g h i j k l", "x", 24L),
      (1L, "a b c d e f g h i j k l", "x", 24L),
      (20L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "x", 30L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t9").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t9Contamination(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(0L) == 1.0) // fully contaminated
    assert(r(20L) == 0.0) // unique
  }

  test("t14 bloom pre-pass: no false negatives vs t9 exact, same gram counts") {
    val exact = TextAnalysis.t9Contamination(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bloom = TextAnalysis.t14BloomContamination(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bloom.keySet == exact.keySet)
    bloom.foreach { case (doc, (nGrams, flagged)) =>
      val (exGrams, exHits) = exact(doc)
      assert(nGrams == exGrams, s"doc $doc gram counts differ")
      assert(flagged >= exHits, s"doc $doc: bloom missed a true hit") // one-sided error
    }
  }

  test("t15 global packing == naive single-window packing (cross-shard continuity)") {
    val distributed = TextAnalysis.t15GlobalPacking(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    // the formulation t15 must NEVER use at scale: one global window —
    // fine here as the small-scale truth
    val wAll = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val naive = Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        size(graft.functions.TextFunctions.lowerTokens($"text")).cast("long").as("n_tok"))
      .withColumn("pack_id",
        floor(coalesce(sum($"n_tok").over(wAll), lit(0L)) / lit(256L)).cast("long"))
      .groupBy($"pack_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("pack_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"),
        (floor(sum($"n_tok") / lit(256.0) * 10000.0 + 0.5) / 10000.0).as("fill_ratio"))
      .orderBy("pack_id")
      .collect().map(_.toSeq).toSeq
    assert(distributed == naive)
  }

  test("t16 corpus mix: exact per-source quota by hash order, deterministic") {
    val a = TextAnalysis.t16CorpusMix(spark, sfDir).collect()
    val b = TextAnalysis.t16CorpusMix(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "mix must be reproducible")
    a.foreach { r =>
      val (n, k, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(k == math.ceil(n * f).toLong,
        s"${r.getString(0)}: took $k of $n at frac $f")
    }
    assert(math.abs(a.map(_.getDouble(4)).sum - 1.0) < 1e-3, "shares must sum to 1")
  }

  test("t16 on a 90%-skewed source: exact quotas, no single-partition per-source sort") {
    // one source holds ~90% of the corpus — the regime where the r14
    // per-source rank window serializes. Quotas must stay exact (the
    // keyedRank order is the same md5 order), and every per-source
    // window in the plan must carry keyedRank's _shard column.
    val docsSeq = (0L until 300L).map { i =>
      val src = if (i % 10 == 0) s"src${(i % 30).toInt}" else "src1"
      (i, s"doc text $i", "en", src, 10L + i % 5)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_t16_skew").toString
    docsSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val q = TextAnalysis.t16CorpusMix(spark, dir)
    val rows = q.collect()
    rows.foreach { r =>
      val (n, k, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(k == math.ceil(n * f).toLong,
        s"${r.getString(0)}: took $k of $n at frac $f")
    }
    assert(rows.find(_.getString(0) == "src1").get.getLong(1) >= 270,
      "fixture lost its skew")
    val plan = q.queryExecution.executedPlan.toString
    val windowSpecs = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    val sourceWindows = windowSpecs.filter(_.contains("source"))
    assert(sourceWindows.nonEmpty, s"expected a per-source window:\n$plan")
    sourceWindows.foreach { spec =>
      assert(spec.contains("_shard"),
        s"single-partition per-source window in the plan: [$spec]\n$plan")
    }
  }

  test("t17 LM score: predictable text scores lower than diverse text") {
    val docs = Seq(
      (0L, "spam spam spam spam spam spam spam spam spam spam", "x", 49L),
      (1L, "quick brown foxes jump over seven lazy sleeping dogs today", "x", 58L))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text"))
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars".cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t17").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t17LmScore(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r(0L) < r(1L),
      s"repetitive doc must be more predictable: ${r(0L)} vs ${r(1L)}")
    assert(r.values.forall(_ > 0.0))
    // corpus-level sanity: every sf doc with >= 2 tokens gets a score
    val out = TextAnalysis.t17LmScore(spark, sfDir)
    assert(out.count() > 0 && out.filter($"avg_neg_log2p" <= 0).count() == 0)
  }

  test("t27 ccnet buckets: in-memory replay matches; score ranges disjoint") {
    val got = TextAnalysis.t27CcnetBuckets(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    // replay: t17 scores + doc meta, score-level tercile cut in plain Scala
    val scores = TextAnalysis.t17LmScore(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        math.floor(r.getDouble(2) * 10000.0 + 0.5).toLong)
      .toMap
    val meta = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang",
        size(graft.functions.TextFunctions.lowerTokens($"text"))
          .cast("long").as("n_tok"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = meta.filter(m => scores.contains(m._1))
      .groupBy(_._2).flatMap { case (lang, ds) =>
        val dist = ds.groupBy(m => scores(m._1)).map { case (s4, grp) =>
          (s4, grp.size.toLong, grp.map(_._3).sum)
        }.toSeq.sortBy(_._1)
        val n = dist.map(_._2).sum
        val (cut1, cut2) = ((n + 2) / 3, (2 * n + 2) / 3)
        var cum = 0L
        dist.map { case (s4, c, tok) =>
          val b = if (cum < cut1) "head"
                  else if (cum < cut2) "middle" else "tail"
          cum += c
          (lang, b, c, tok)
        }.groupBy(x => (x._1, x._2)).map { case (k, rows) =>
          k -> (rows.map(_._3).sum, rows.map(_._4).sum)
        }
      }
    assert(expected.nonEmpty)
    expected.foreach { case (k, (nd, nt)) =>
      assert(got.contains(k), s"missing bucket $k")
      assert(got(k)._1 == nd && got(k)._2 == nt,
        s"$k: got ${got(k)}, expected ($nd, $nt)")
    }
    assert(got.size == expected.size)
    // score-level assignment ⇒ per-lang bucket score ranges are DISJOINT
    got.keys.map(_._1).toSeq.distinct.foreach { lang =>
      for (Seq(lo, hi) <- Seq("head", "middle", "tail")
             .filter(b => got.contains((lang, b))).sliding(2)
             if lo != hi)
        assert(got((lang, lo))._4 < got((lang, hi))._3,
          s"$lang: $lo max must be < $hi min")
    }
  }

  test("t28 fertility: per-lang sums equal t25's per-doc accounts; ratios bounded") {
    val got = TextAnalysis.t28Fertility(spark, sfDir)
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSeq
    val langOf = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val perDoc = TextAnalysis.t25BpeEncode(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
    val expect = perDoc.groupBy(x => langOf(x._1)).toSeq.sortBy(_._1)
      .map { case (lang, ds) =>
        val (nw, nb, bpe) =
          (ds.map(_._2).sum, ds.map(_._3).sum, ds.map(_._4).sum)
        val fert =
          if (nw == 0) None
          else Some(math.floor(bpe.toDouble / nw * 1e4 + 0.5) / 1e4)
        val comp =
          if (bpe == 0) None
          else Some(math.floor(nb.toDouble / bpe * 1e4 + 0.5) / 1e4)
        (lang, ds.size.toLong, nw, bpe, fert, comp)
      }
    assert(got == expect)
    // merges only ever shrink a word's symbol run, never below one token
    got.foreach { case (lang, _, nw, bpe, fert, comp) =>
      assert(bpe >= nw, s"$lang: tokens can't undercut words")
      fert.foreach(f => assert(f >= 1.0, s"$lang fertility $f"))
      comp.foreach(c => assert(c >= 1.0, s"$lang compression $c"))
    }
  }

  test("t29 code detect: planted code routes as code, prose as prose; corpus mostly prose") {
    val code =
      "def main(args):\n  for i in range(10):\n    x = f(i);\n    return {x: [i]}\n" +
      "class Foo:\n  def bar(self):\n    while True:\n      import os; val y = 1\n"
    val prose =
      "The quick brown fox jumps over the lazy dog near the quiet river " +
      "and watches the morning light settle gently across the wide valley."
    val docs = Seq((0L, code, "x", "s"), (1L, prose, "x", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t29").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byId = TextAnalysis.t29CodeDetect(spark, dir)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect()
      .map(x => x._1 -> x).toMap
    assert(byId(0L)._6, s"code doc must route as code: ${byId(0L)}")
    assert(!byId(1L)._6, s"prose doc must route as prose: ${byId(1L)}")
    assert(byId(0L)._5 > byId(1L)._5)
    // the synthetic corpus is prose: the code route stays the exception
    val corpus = TextAnalysis.t29CodeDetect(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect()
    assert(corpus.count(_._6) < corpus.length / 4,
      s"corpus should be mostly prose, flagged ${corpus.count(_._6)}/${corpus.length}")
  }

  test("t30 corpus drift: planted crawl shift surfaces at the top; JS terms non-negative") {
    // even doc_ids (crawl A) carry 'alpha' boilerplate, odd (crawl B)
    // 'omega'; shared filler stays undrifted
    val docs = (0L until 20L).map { i =>
      val marker = if (i % 2 == 0) "alpha alpha alpha" else "omega omega omega"
      (i, s"common words here $marker and more common filler", "x", "s")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t30").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val top = TextAnalysis.t30CorpusDrift(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(top.take(2).map(_._1).toSet == Set("alpha", "omega"), s"$top")
    val byGram = top.map(t => t._1 -> t).toMap
    assert(byGram("alpha")._2 == 30L && byGram("alpha")._3 == 0L)
    assert(byGram("omega")._2 == 0L && byGram("omega")._3 == 30L)
    // shared filler words drift less than the planted markers
    assert(byGram("common")._4 < byGram("alpha")._4)
    // corpus run: ordered by drift, JS contributions non-negative
    val corpus = TextAnalysis.t30CorpusDrift(spark, sfDir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(corpus.size == 20)
    assert(corpus.map(_._4) == corpus.map(_._4).sortBy(-_))
    corpus.foreach(r => assert(r._5 >= 0.0, s"JS term negative: $r"))
  }

  test("t20 classifier: dyadic weights make the score partition-order exact") {
    val out = TextAnalysis.t20QualityClassifier(spark, sfDir)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // keep is exactly sign(logit) (both derive from the same exact sum)
    rows.foreach { case (id, n, logit, keep) =>
      assert(n > 0)
      assert(keep == (logit > 0.0) || logit == 0.0, s"doc $id keep/logit disagree")
    }
    // the sum is EXACT (every weight is k/2^20, |sum| << 2^53): any
    // partitioning/merge order yields byte-identical doubles
    val a = out.collect().toSeq
    val b = TextAnalysis.t20QualityClassifier(spark, sfDir)
      .repartition(7).orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("t10 tfidf: ranks are 1..k per source, scores ordered, df consistent") {
    val rows = TextAnalysis.t10Tfidf(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val ranks = rs.map(_.getInt(1)).toSeq
      assert(ranks == (1 to ranks.max))
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(5))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
    rows.foreach(r => assert(r.getLong(4) >= 1)) // df >= 1
  }

  test("t11 packing: packs partition each source's docs; fill accounting adds up") {
    val packs = TextAnalysis.t11Packing(spark, sfDir).collect()
    val totalTok = Tables.load(spark, sfDir, "documents")
      .select(sum(size(graft.functions.TextFunctions.lowerTokens($"text"))
        .cast("long"))).as[Long].head()
    assert(packs.map(_.getLong(3)).sum == totalTok) // no token lost/duplicated
    packs.groupBy(_.getString(0)).foreach { case (_, ps) =>
      val sorted = ps.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 0L) // packs start at 0
      // doc ranges of consecutive packs never overlap (contiguous packing)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(5) < b.getLong(4))
        case _ =>
      }
    }
  }

  test("d6 keep-best: same groups as d1, keeper has max quality in group") {
    val d6 = Dedup.d6KeepBest(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    val d1 = Dedup.d1ExactDedup(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(d6.keySet == d1.keySet)
    d6.foreach { case (fp, (_, _, n)) => assert(n == d1(fp)._2) }
    // keeper quality is the group max (checked via a full recompute)
    val q = TextAnalysis.t2Quality(spark, sfDir)
      .select($"doc_id", $"quality_score").as[(Long, Double)].collect().toMap
    val fps = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", md5(graft.functions.TextFunctions.normText($"text"))
        .as("fp")).as[(Long, String)].collect()
    fps.groupBy(_._2).foreach { case (fp, members) =>
      val best = d6(fp)
      assert(members.map(m => q(m._1)).max == best._2)
    }
  }

  test("t12 redact: planted PII is counted and scrubbed; clean text untouched") {
    val docs = Seq(
      (1L, "contact me at jane.doe@example.com or 555-123-4567 today", "x", 56L),
      (2L, "no pii here just words", "x", 22L),
      (3L, "two mails a@b.io c@d.org one phone 123 456 7890", "x", 47L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t12").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t12Redact(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L)._1 == 1 && r(1L)._2 == 1)
    assert(r(2L)._1 == 0 && r(2L)._2 == 0)
    assert(r(3L)._1 == 2 && r(3L)._2 == 1)
    // doc 2 unchanged ⇒ md5 equals md5 of the original text
    val clean = spark.sql("SELECT md5('no pii here just words')").head().getString(0)
    assert(r(2L)._3 == clean)
    // doc 1's redaction actually removed the address
    val red = spark.sql(
      "SELECT md5('contact me at <EMAIL> or <PHONE> today')").head().getString(0)
    assert(r(1L)._3 == red)
  }

  test("t13 repetition: repeated bigram dominates; distinct text scores low") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam", "x", 29L), // one bigram 5 times
      (2L, "all words here are different tokens", "x", 35L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t13").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t13Repetition(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) == ((5L, 5L, 1.0))) // "spam spam" x5, share 1.0
    assert(r(2L)._2 == 1L && r(2L)._3 == 0.2) // 5 distinct bigrams
  }

  test("t19 DSIR: target-language docs score higher; t18 CMS top-20 ⊆ exact vocab order") {
    val dsir = TextAnalysis.t19DsirImportance(spark, sfDir)
      .join(graft.Tables.load(spark, sfDir, "documents").select($"doc_id", $"lang"), "doc_id")
    val byTgt = dsir.groupBy($"lang" === "en")
      .agg(avg($"dsir_logratio")).as[(Boolean, Double)].collect().toMap
    assert(byTgt(true) > byTgt(false),
      s"en docs must out-score non-en under the en-target model: $byTgt")

    val hh = TextAnalysis.t18HeavyHitters(spark, sfDir).collect()
    val vocabTop = TextAnalysis.t5Vocab(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    hh.foreach { r =>
      val (tok, exact, est) = (r.getString(0), r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS under-count for $tok")
      assert(vocabTop.get(tok).contains(exact),
        s"t18 exact count for $tok disagrees with t5 vocab")
    }
  }

  test("d7 semantic dedup: one keeper per cluster, keeper maximizes quality, pairs co-clustered") {
    val d7 = Dedup.d7SemanticDedup(spark, sfDir).collect()
    val byCluster = d7.groupBy(_.getLong(1))
    byCluster.foreach { case (c, rows) =>
      assert(rows.count(_.getBoolean(3)) == 1, s"cluster $c must keep exactly one doc")
      assert(rows.forall(_.getLong(2) == rows.length), s"cluster $c size mismatch")
    }
    // the keeper has the max packed (quality, -doc_id) in its cluster
    val q4 = TextAnalysis.qualityCounts(spark, sfDir).select($"doc_id",
      coalesce(floor(TextAnalysis.qualityBlend * lit(10000.0) + lit(0.5))
        .cast("long"), lit(-1L)).as("q4")).as[(Long, Long)].collect().toMap
    byCluster.values.filter(_.length > 1).foreach { rows =>
      val keeper = rows.find(_.getBoolean(3)).get.getLong(0)
      val best = rows.map(_.getLong(0)).maxBy(id => (q4(id), -id))
      assert(keeper == best, s"keeper $keeper != quality argmax $best")
    }
    // every v3 near-dup pair must land in one cluster
    val cluster = d7.map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.operators.Similarity.v3EmbeddingNeardup(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().foreach { case (x, y) =>
        assert(cluster(x) == cluster(y), s"pair ($x,$y) split across clusters")
      }
  }

  test("t21 BPE: learned merges match an in-memory greedy trainer") {
    // reference: same 5 greedy rounds over the collected word-freq table
    val wf = Tables.load(spark, sfDir, "documents")
      .select(explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .where(length($"w") >= 2 && length($"w") <= 12)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
    var words = wf.map { case (w, f) => (" " + w.map(_ + " ").mkString, f) }
    val expect = (1 to 5).map { r =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        val l = syms.trim.split(' ')
        (0 until l.length - 1).foreach { i =>
          counts((l(i), l(i + 1))) = counts.getOrElse((l(i), l(i + 1)), 0L) + f
        }
      }
      val ((a, b), pf) = counts.toSeq.minBy { case ((a, b), pf) => (-pf, a, b) }
      // the SAME left-to-right non-overlapping replace as the query
      words = words.map { case (s0, f) =>
        (s0.replace(s" $a $b ", s" $a$b "), f)
      }
      (r, a, b, a + b, pf)
    }
    val got = graft.operators.TextAnalysis.t21BpeMerges(spark, sfDir)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(got == expect)
    // the merges are non-trivial: top merge is a real bigram with mass
    assert(expect.head._5 > 100)
  }

  test("t41/t42 BPE at 64 merges: trainer prefix equals t21, encode plan is O(1) in merges and dictionary-joined") {
    import graft.operators.TextAnalysis
    // the driver trainer's first 5 rounds ARE t21's table-algebra merges
    // (the vocab cap doesn't bind at this scale)
    val m64 = TextAnalysis.t41BpeTrain64(spark, sfDir)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m64.size == 64 && m64.map(_._1) == (1 to 64))
    val m5 = TextAnalysis.t21BpeMerges(spark, sfDir)
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m64.take(5) == m5, "64-round trainer diverged from t21's rounds")
    // pair mass is non-increasing in rank ONLY per fixed round state —
    // but a merged symbol can create new mass; just sanity-bound it
    assert(m64.forall(_._5 >= 1))

    val enc = TextAnalysis.t42BpeEncode64(spark, sfDir)
    val phys = enc.queryExecution.sparkPlan
    def exprCount(
        pred: org.apache.spark.sql.catalyst.expressions.Expression => Boolean)
        : Int = {
      var n = 0
      phys.foreach(node =>
        node.expressions.foreach(_.foreach(e => if (pred(e)) n += 1)))
      n
    }
    // plan property 1: the merge table lives in ONE kernel expression,
    // not 64 chained replace projections (the toy t25 shape)
    assert(exprCount(
      _.isInstanceOf[graft.expressions.BpeApplyMerges]) == 1,
      s"encode plan must carry exactly one merge-table kernel:\n$phys")
    assert(exprCount(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.StringReplace]) == 0,
      "inlined replace chain leaked into the 64-merge encode plan")
    // plan property 2: the corpus pass is a broadcast dictionary join
    assert(phys.toString.contains("BroadcastHashJoin"),
      s"vocab dictionary must broadcast-join the corpus words:\n$phys")

    // account consistency vs the toy encoder: same words and base chars,
    // strictly-no-worse token counts under a superset merge table
    val by64 = enc.as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val by5 = TextAnalysis.t25BpeEncode(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(by64.keySet == by5.keySet)
    by64.foreach { case (id, (nw, nb, bpe)) =>
      val (nw5, nb5, bpe5) = by5(id)
      assert(nw == nw5 && nb == nb5, s"doc $id: word/base account diverged")
      assert(bpe <= bpe5, s"doc $id: more merges can't tokenize worse")
      assert(bpe >= nw, s"doc $id: tokens can't undercut words")
    }
  }

  test("BPE trainer at production merge counts: indexed trainer equals the full-recount reference at 64 and 512 merges") {
    import graft.operators.TextAnalysis
    // corpus-shaped vocab (what bpeTrainDriver collects at any SF)
    val corpusVocab = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("explode(split(lower(text), '[^a-z]+')) AS w")
      .where("length(w) >= 2 AND length(w) <= 12")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .orderBy($"freq".desc, $"w")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(TextAnalysis.bpeTrainOnVocabIndexed(corpusVocab, 64).toSeq
      == TextAnalysis.bpeTrainOnVocab(corpusVocab, 64).toSeq,
      "indexed trainer diverged from the reference on the corpus vocab")

    // production merge count needs a richer vocab than the 30-word
    // synthetic corpus supports: a deterministic Zipf-ish word-frequency
    // table — exactly the input shape the trainer consumes at any scale
    val rng = new scala.util.Random(41)
    val synthVocab = (0 until 5000).map { i =>
      val len = 3 + rng.nextInt(10)
      val w = (0 until len).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
      (w, (100000L / (i + 1)) + 1L) // Zipf-ish mass, always >= 1
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }
      .toArray.sortBy { case (w, f) => (-f, w) }
    val indexed = TextAnalysis.bpeTrainOnVocabIndexed(synthVocab, 512)
    assert(indexed.toSeq == TextAnalysis.bpeTrainOnVocab(synthVocab, 512).toSeq,
      "indexed trainer diverged from the reference at 512 merges")
    assert(indexed.length == 512 && indexed.map(_._1).toSeq == (1 to 512))
    // merged symbols are real concatenations with positive mass
    indexed.foreach { case (_, a, b, m, pf) =>
      assert(m == a + b && pf >= 1L)
    }
  }

  test("t22 langid audit: cells recompute from t3; recall shares sum to 1 per truth") {
    val preds = graft.operators.TextAnalysis.t3LangId(spark, sfDir)
      .select($"lang", $"pred_lang").as[(String, String)].collect()
    val cells = preds.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = preds.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val np = preds.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expect = cells.toSeq.map { case ((l, p), n) =>
      (l, p, n, r4(n.toDouble / nt(l)), r4(n.toDouble / np(p)))
    }.sortBy(c => (c._1, c._2))
    val got = graft.operators.TextAnalysis.t22LangidAudit(spark, sfDir)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    assert(got == expect)
    // per-truth recall cells account for every labeled doc
    got.groupBy(_._1).foreach { case (l, rows) =>
      assert(rows.map(_._3).sum == nt(l))
    }
  }

  test("d5 components: union-find, star through the gate and closure agree") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    val nodes = (1L to 12L).toDF("doc_id")
    // two chains and a triangle: {1..4}, {5,6,7}, {8,9,10}; 11,12 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (5L, 7L), (8L, 9L), (9L, 10L)).toDF("doc_a", "doc_b")
    val uf = toMap(Dedup.connectedComponents(nodes, pairs))
    val star = toMap(Dedup.connectedComponents(nodes, pairs, -1L))
    assert(uf == star)
    assert(uf(4L) == 1L && uf(7L) == 5L && uf(10L) == 8L)
    assert(uf(11L) == 11L && uf(12L) == 12L)
    // d5's own input: the d2 near-dup pair graph over every document,
    // both branches held to the in-memory closure
    val docIds = Tables.load(spark, sfDir, "documents").select($"doc_id")
    val d2 = Dedup.d2Pairs(spark, sfDir).select($"doc_a", $"doc_b")
      .as[(Long, Long)].collect().toSeq
    assert(d2.nonEmpty)
    val closure = closureComponents(docIds.as[Long].collect().toSeq, d2)
    val d2Df = d2.toDF("doc_a", "doc_b")
    assert(toMap(Dedup.connectedComponents(docIds, d2Df)) == closure,
      "union-find disagrees with the closure on the d2 graph")
    assert(toMap(Dedup.connectedComponents(docIds, d2Df, -1L)) == closure,
      "star disagrees with the closure on the d2 graph")
  }

  test("t24 code switch: planted mixed doc flags; monolingual docs agree with whole-doc langid") {
    // a half-English half-German concatenation artifact, one clean
    // English doc, one clean German doc (markers from t3's stopword sets)
    val rows = Seq(
      (1L, "the cat is of a kind and the dog is a friend of the house " +
        "der hund ist nicht der freund und die katze ist das tier", "en"),
      (2L, "the story of a house and the road to a garden is the best", "en"),
      (3L, "der mann und die frau ist nicht das kind und der hund", "de"))
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.codeSwitch(rows).collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getString(3),
        r.getBoolean(4))).toMap
    assert(out(1L) == ("en", "de", true))
    assert(out(2L) == ("en", "en", false))
    assert(out(3L) == ("de", "de", false))
    // corpus run: halves of monolingual synthetic docs rarely disagree —
    // and where both halves agree, the pick equals t3's whole-doc pick
    val whole = TextAnalysis.t3LangId(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val halves = TextAnalysis.t24CodeSwitch(spark, sfDir).collect()
    assert(halves.nonEmpty)
    halves.filter(r => !r.getBoolean(4)).foreach { r =>
      assert(whole(r.getLong(0)) == r.getString(2),
        s"doc ${r.getLong(0)}: agreeing halves must match the whole-doc pick")
    }
  }

  test("d10 incremental dedup: planted exact/near/new verdicts, exact wins over near") {
    val rows = Seq(
      // standing corpus
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi", false),
      (2L, "one two three four five six seven eight nine ten eleven twelve thirteen fourteen", false),
      (3L, "totally different standing corpus content lives here for good measure today", false),
      // incoming: exact dup of 1 (whitespace + case differ only), near-dup
      // of 2 (one word changed), and fresh content
      (10L, "Alpha  beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi", true),
      (11L, "one two three four five six seven eight nine ten eleven twelve thirteen fifteen", true),
      (12L, "completely novel incoming text with entirely fresh words nothing shared at all", true))
    val df = rows.toDF("doc_id", "text", "incoming")
    val out = Dedup.incrementalDedup(df).collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out == Map(
      10L -> ("exact", 1L), // also J=1 near of doc 1 — exact takes priority
      11L -> ("near", 2L),
      12L -> ("new", -1L)))
    // only incoming docs are judged
    assert(!out.contains(1L) && !out.contains(2L) && !out.contains(3L))
  }

  test("t23 novelty: first-occurrence shares match a scan reference; earliest doc fully novel") {
    val base = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val grams = base.map { case (id, tx) =>
      val t = tx.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val first = grams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expect = grams.map { case (id, gs) =>
      val novel = gs.count(g => first(g) == id).toLong
      (id, gs.size.toLong, novel,
        math.floor(novel.toDouble / gs.size * 10000.0 + 0.5) / 10000.0)
    }.toSeq.sortBy(_._1)
    val got = TextAnalysis.t23Novelty(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    // the lowest doc_id can only ever see itself as first occurrence
    assert(expect.head._4 == 1.0)
    // redundancy exists: at least one doc repeats earlier content
    assert(expect.exists(_._4 < 1.0))
  }

  test("t25 BPE encode: per-doc accounts match an in-memory encoder using the learned merges") {
    val merges = graft.operators.TextAnalysis.t21BpeMerges(spark, sfDir)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
      .map { case (_, a, b, m, _) => (a, b, m) }
    val docsC = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expect = docsC.map { case (id, text) =>
      val ws = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      val nBase = ws.map(_.length.toLong).sum
      val nBpe = ws.map { w =>
        var syms = " " + w.map(_ + " ").mkString
        merges.foreach { case (a, b, m) => syms = syms.replace(s" $a $b ", s" $m ") }
        syms.trim.split(' ').length.toLong
      }.sum
      (id, ws.length.toLong, nBase, nBpe)
    }.sortBy(_._1).toSeq
    val got = graft.operators.TextAnalysis.t25BpeEncode(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // the learned merges genuinely compress at least some documents
    assert(expect.exists(r => r._4 < r._3))
  }

  test("t26 BM25: top-20 matches an in-memory Okapi scorer, same rounding and tiebreak") {
    val terms = Seq("hash", "merge", "spark", "window")
    val docsC = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val toks = docsC.map { case (id, tx) =>
      id -> tx.toLowerCase.split("\\s+").filter(_.nonEmpty) }
    val nDocs = toks.length.toLong
    val sumDl = toks.map(_._2.length.toLong).sum
    val avgdl = sumDl.toDouble / nDocs
    val df = terms.map(q => q -> toks.count(_._2.contains(q)).toLong).toMap
    val scored = toks.map { case (id, t) =>
      val dl = t.length.toLong
      // identical association order to the operator: alphabetical terms,
      // left-fold sum
      val score = terms.map { q =>
        val tf = t.count(_ == q).toLong
        // StrictMath mirrors Spark Log2's codegen exactly
        val idf = java.lang.StrictMath.log(1.0 + (nDocs - df(q) + 0.5) / (df(q) + 0.5)) /
          java.lang.StrictMath.log(2.0)
        idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
      }.reduce(_ + _)
      val nHit = terms.count(q => t.contains(q))
      (id, nHit, math.floor(score * 10000.0 + 0.5) / 10000.0)
    }.filter(_._2 > 0)
    val expect = scored.sortBy { case (id, _, sc) => (-sc, id) }.take(20).toSeq
    val got = graft.operators.TextAnalysis.t26Bm25(spark, sfDir)
      .as[(Long, Int, Double)].collect().toSeq
    assert(got == expect)
    // discriminative: not all scores equal, and all positive
    assert(got.map(_._3).distinct.length > 1)
    got.foreach { case (_, _, sc) => assert(sc > 0.0) }
  }

  test("t31 SFT mask: hand-computed turn/token/loss accounting; empty spans dropped before roles") {
    val docs = Seq(
      // spans: [Hello there | How are you | I am fine | Thanks]
      // words:  2             3             3           1
      // tokens: 4+5+5+3=17; loss (assistant pos 1,3): (3+1)+(1+1)=6
      (0L, "Hello there. How are you. I am fine. Thanks", "x", 43L),
      // an empty span between separators must vanish BEFORE role
      // assignment: [One | Two] -> Two is the assistant
      (1L, "One. . Two", "x", 10L),
      // single-turn doc: all user, zero loss tokens
      (2L, "just one user turn", "x", 18L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t31").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t31SftMask(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(r(0L) == ((4L, 17L, 6L, math.floor(6.0 / 17 * 1e4 + 0.5) / 1e4)))
    assert(r(1L) == ((2L, 6L, 2L, 0.3333)))
    assert(r(2L) == ((1L, 6L, 0L, 0.0)))
  }

  test("t32 preference pairs: planted degenerate + contamination flags, hand-computed token/loss, block fence") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val evalGram = words("e", 8) // the 8-gram shared with the eval split
    val docs = Seq(
      // eval doc (id % 20 == 0): carries the planted 8-gram
      (20L, s"$evalGram ${words("w", 8)}", "s"),
      // train pair (1,2): IDENTICAL responses "r1 r2 r3" -> degenerate
      (1L, s"${words("p", 8)} r1 r2 r3", "s"),
      (2L, s"${words("q", 8)} r1 r2 r3", "s"),
      // doc 3's response IS the eval 8-gram -> pairs touching it are
      // contaminated
      (3L, s"${words("a", 8)} $evalGram", "s"),
      (4L, s"${words("b", 8)} c1 c2", "s"),
      // under 9 words: cannot form a prompt+response, must drop
      (5L, "too short for a pair", "s"),
      // same source, adjacent ids across the 4096 block fence: each is
      // alone in its block, so NO pair crosses it
      (4095L, s"${words("x", 8)} x9", "s"),
      (4096L, s"${words("y", 8)} y9", "s"))
      .toDF("doc_id", "text", "source")
    val r = TextAnalysis.preferencePairs(docs)
      .as[(Long, Long, Long, Long, Long, Long, Boolean, Boolean)]
      .collect().map(x => (x._1, x._2) -> ((x._3, x._4, x._5, x._6, x._7, x._8)))
      .toMap
    // exactly the in-block consecutive pairs — 5 dropped (short), so 4
    // pairs with the NEXT survivor 4095 (still block 0); 4096 opens
    // block 1 and no pair crosses the fence; the eval doc never pairs
    assert(r.keySet == Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 4095L)),
      s"pairs ${r.keySet}")
    // (4,4095): responses "c1 c2" (2w) and "x9" (1w), both clean
    assert(r((4L, 4095L)) == ((14L, 13L, 3L, 2L, false, false)))
    // (1,2): both responses 3 words -> tokens 8+3+4=15 each, loss 4 each;
    // identical responses -> degenerate, both docs clean -> uncontaminated
    assert(r((1L, 2L)) == ((15L, 15L, 4L, 4L, true, false)))
    // (2,3): rejected doc 3 carries the eval gram -> contaminated
    assert(r((2L, 3L)) == ((15L, 20L, 4L, 9L, false, true)))
    // (3,4): chosen doc 3 dirty -> contaminated; rejected 2-word response
    assert(r((3L, 4L)) == ((20L, 14L, 9L, 3L, false, true)))
  }

  test("t33 rejection sampling: planted scores — winner, margin, gates, deterministic tie-break") {
    // counts frame carries the raw t2 signals; scores are hand-computable:
    // score = least(n_tok/100,1)*0.5 + stop/n_tok*0.3 + (1-digit/len_c)*0.2
    val counts = Seq(
      // prompt 0 (ids 0..7): two eligible, two gated out
      (0L, 10L, 100L, 100L, 0L), // score 1.0  -> winner
      (1L, 10L, 100L, 50L, 0L),  // score 0.85 -> runner-up (margin 0.15)
      (2L, 10L, 3L, 3L, 0L),     // score 0.515 but n_tok < 5 -> ineligible
      (3L, 10L, 10L, 0L, 10L),   // score 0.05 (below threshold) -> ineligible
      // prompt 1 (ids 8..15): single candidate, fails the gate
      (8L, 10L, 10L, 0L, 10L),
      // prompt 2 (ids 16..23): exact tie -> lower doc_id wins, margin 0
      (16L, 10L, 100L, 100L, 0L),
      (17L, 10L, 100L, 100L, 0L))
      .toDF("doc_id", "len_c", "n_tok", "stop", "digit")
    val r = TextAnalysis.rejectionSampling(counts).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(0L, 1L, 2L))
    val p0 = r(0L)
    assert((p0.getLong(1), p0.getLong(2), p0.getLong(3), p0.getLong(4)) ==
      ((4L, 2L, 0L, 100L)))
    assert(p0.getDouble(5) == 1.0 && p0.getDouble(6) == 0.15)
    val p1 = r(1L)
    assert((p1.getLong(1), p1.getLong(2)) == ((1L, 0L)))
    assert(p1.isNullAt(3) && p1.isNullAt(4) && p1.isNullAt(5) && p1.isNullAt(6))
    val p2 = r(2L)
    assert(p2.getLong(3) == 16L && p2.getDouble(6) == 0.0)
  }

  test("t33 rejection sampling at sf: margins non-negative, kept is always eligible, counts bounded") {
    val rows = TextAnalysis.t33RejectionSampling(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      val (nCand, nElig) = (x.getLong(1), x.getLong(2))
      assert(nCand >= 1 && nCand <= 8 && nElig <= nCand)
      if (nElig == 0) assert(x.isNullAt(3), "no winner when nothing eligible")
      else {
        assert(x.getLong(4) >= TextAnalysis.BonMinTokens)
        assert(x.getDouble(5) >= TextAnalysis.BonThreshold)
        if (nElig >= 2) assert(x.getDouble(6) >= 0.0)
      }
    }
  }

  test("t34 span decontam: planted spans merge, clean docs keep 1.0") {
    // doc 0 (eval) plants two 8-gram sources; train docs embed them.
    val evalText = "e1 e2 e3 e4 e5 e6 e7 e8 pad1 pad2 f1 f2 f3 f4 f5 f6 f7 f8"
    val docs = Seq(
      (0L, evalText, "x", 1L),
      // one isolated 8-token hit mid-doc: exactly one span of 8 tokens
      (1L, "a b c e1 e2 e3 e4 e5 e6 e7 e8 y z w", "x", 1L),
      // a 9-token shared run -> two overlapping window starts MERGE to
      // one span of 9 removed tokens, not 16
      (2L, "q e1 e2 e3 e4 e5 e6 e7 e8 pad1 r s t u v", "x", 1L),
      // two DISJOINT planted runs -> two spans
      (3L, "e1 e2 e3 e4 e5 e6 e7 e8 gap1 gap2 gap3 f1 f2 f3 f4 f5 f6 f7 f8", "x", 1L),
      // clean doc, long enough to have grams
      (4L, "n1 n2 n3 n4 n5 n6 n7 n8 n9 n10", "x", 1L),
      // too short for any 8-gram
      (5L, "short doc", "x", 1L))
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t34").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t34SpanDecontam(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L, 5L)) // eval doc 0 excluded
    assert(r(1L) == ((14L, 1L, 8L, math.floor((14 - 8) / 14.0 * 1e4 + .5) / 1e4)))
    assert(r(2L) == ((15L, 1L, 9L, math.floor((15 - 9) / 15.0 * 1e4 + .5) / 1e4)))
    assert(r(3L) == ((19L, 2L, 16L, math.floor((19 - 16) / 19.0 * 1e4 + .5) / 1e4)))
    assert(r(4L) == ((10L, 0L, 0L, 1.0)))
    assert(r(5L) == ((2L, 0L, 0L, 1.0)))
  }

  test("t34 span decontam at sf: removal bounded by tokens, spans consistent") {
    val rows = TextAnalysis.t34SpanDecontam(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { x =>
      val (id, n, spans, rm, keep) =
        (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))
      assert(id % 20 != 0)
      assert(rm <= n, s"doc $id removes more than it has")
      // every span covers >= 8 tokens and spans are disjoint
      assert(spans * 8 <= rm || spans == 0)
      assert(keep >= 0.0 && keep <= 1.0)
      if (spans == 0) assert(rm == 0 && keep == 1.0)
    }
  }

  test("t35 gopher rules: planted rule violations flag exactly their rule") {
    val goodText = "the cat sat of the mat and it was good for everyone there"
    val docs = Seq(
      (0L, goodText, "x", 1L),                              // passes all
      (1L, "a bb c dd e ff the of", "x", 1L),               // mean wl < 3
      (2L, "extraordinarily incomprehensible the of notwithstanding", "x", 1L), // wl > 10? check below
      (3L, goodText + " # # # # # # # #", "x", 1L),         // symbols >= 10%
      (4L, "- the cat of\n- the dog of\n- more bullets here\nplain", "x", 1L), // bullets < 90% -> ok
      (5L, "- a the of\n- b cat it\n- c sat for\n- d mat to\n- e and is\n- f it that\n- g of in\n- h the a\n- i to is\n- j in for", "x", 1L), // 100% bullets
      (6L, "the cat of it...\nthe dog of it...\nthe cow of it...\nplain the line", "x", 1L), // 75% ellipsis
      (7L, "the cat of\nthe cat of\nthe cat of\nthe dog it", "x", 1L), // 50% dup lines
      (8L, "zz yy xx ww vv uu tt ss", "x", 1L))             // no stopwords
      .toDF("doc_id", "text", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("t35").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.t35GopherRules(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    def flags(id: Long): (Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean) = {
      val x = r(id)
      (x.getBoolean(4), x.getBoolean(5), x.getBoolean(6), x.getBoolean(7),
        x.getBoolean(8), x.getBoolean(9), x.getBoolean(10))
    }
    assert(flags(0L) == ((true, true, true, true, true, true, true)))
    assert(!flags(1L)._1 && !r(1L).getBoolean(10)) // short words fail wl
    assert(!flags(3L)._2, "symbol spam must fail sym_ok")
    assert(flags(4L)._3, "25% plain lines keep bullet_ok")
    assert(!flags(5L)._3, "all-bullet doc must fail bullet_ok")
    assert(!flags(6L)._4, "75% ellipsis lines must fail ellipsis_ok")
    assert(!flags(7L)._5, "50% duplicate lines must fail dup_ok")
    assert(!flags(8L)._6 && !r(8L).getBoolean(10), "no stopwords fails stop_ok")
    // keep is exactly the conjunction on every doc
    r.values.foreach { x =>
      assert(x.getBoolean(10) == (x.getBoolean(4) && x.getBoolean(5) &&
        x.getBoolean(6) && x.getBoolean(7) && x.getBoolean(8) && x.getBoolean(9)))
    }
  }

  test("t36 plan: LM scoring is an equality join on the gram key, never a cartesian") {
    val q = TextAnalysis.t36MooreLewis(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bigram scoring degraded to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected the gram-keyed model join:\n$plan")
  }

  test("t36 moore-lewis: ce_gen is t17 bitwise; seed-domain keeps, alien drops") {
    // planted: src0 is the in-domain seed; doc 2 repeats seed text
    // verbatim (strongly in-domain), doc 3 shares no bigram with it
    val docs = Seq(
      (0L, "the cat sat on the mat", "en", "src0"),
      (1L, "the cat ate the fish", "en", "src0"),
      (2L, "the cat sat on the mat", "en", "src7"),
      (3L, "quantum flux harmonics perturb entangled qubits rapidly", "en", "src7"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t36").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val planted = TextAnalysis.t36MooreLewis(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getDouble(4), x.getBoolean(5))).toMap
    // identical text => identical score regardless of source
    assert(planted(0L)._1 == planted(2L)._1)
    // the alien doc is the unique worst scorer and is dropped
    assert(planted.values.map(_._1).max == planted(3L)._1 && !planted(3L)._2,
      s"alien doc must score worst and drop: $planted")
    // quartile cut on N=4: exactly the single best-scoring doc keeps
    assert(planted.filter(_._2._2).keySet == Set(1L), s"bottom quartile: $planted")
    // sf corpus: the general-model column IS t17's score (bitwise — the
    // conditional second counter must not perturb the shared model), and
    // the seed source's mean score sits below the rest of the corpus
    val t36 = TextAnalysis.t36MooreLewis(spark, sfDir)
      .select($"doc_id", $"ce_gen", $"score").as[(Long, Double, Double)].collect()
    val t17 = TextAnalysis.t17LmScore(spark, sfDir)
      .select($"doc_id", $"avg_neg_log2p").as[(Long, Double)].collect().toMap
    assert(t36.length == t17.size)
    t36.foreach { case (id, g, _) => assert(g == t17(id)) }
    val srcOf = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val (seed, rest) = t36.partition(r => srcOf(r._1) == "src0")
    assert(seed.nonEmpty && rest.nonEmpty)
    assert(seed.map(_._3).sum / seed.length < rest.map(_._3).sum / rest.length,
      "seed docs must average more in-domain than the rest")
    // the score-level cut: every kept score strictly below every dropped
    // one, and the kept mass is at least a quarter of the corpus
    val flags = TextAnalysis.t36MooreLewis(spark, sfDir)
      .select($"score", $"keep").as[(Double, Boolean)].collect()
    val (kept, dropped) = flags.partition(_._2)
    assert(kept.nonEmpty && dropped.nonEmpty)
    assert(kept.map(_._1).max < dropped.map(_._1).min)
    assert(kept.length >= (flags.length + 3) / 4)
  }

  test("t37 zipf audit: in-memory OLS replay matches; natural-text shape holds") {
    val got = TextAnalysis.t37ZipfAudit(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    assert(got.nonEmpty)
    val wcRows = Tables.load(spark, sfDir, "documents")
      .select($"lang",
        explode(graft.functions.TextFunctions.lowerTokens($"text")).as("w"))
      .groupBy($"lang", $"w").count().as[(String, String, Long)].collect()
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    wcRows.groupBy(_._1).foreach { case (lang, rows) =>
      val counts = rows.map(r => (r._2, r._3))
      val nTok = counts.map(_._2).sum
      val nDis = counts.length.toLong
      val ranked = counts.sortBy { case (w, c) => (-c, w) }.take(1000)
      val k = ranked.length
      val xy = ranked.zipWithIndex.map { case ((_, c), i) =>
        (lg2(i + 1.0), lg2(c.toDouble)) }
      val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
      val sxy = xy.map(p => p._1 * p._2).sum
      val sxx = xy.map(p => p._1 * p._1).sum
      val syy = xy.map(p => p._2 * p._2).sum
      val num = k * sxy - sx * sy
      val den = k * sxx - sx * sx
      val (gTok, gDis, gK, gSlope, gR2, gTop1, gHapax) = got(lang)
      assert(gTok == nTok && gDis == nDis && gK == k)
      // output is sround-4; replay uses math.log — allow the rounding step
      assert(math.abs(gSlope - num / den) < 2e-4, s"$lang slope")
      assert(math.abs(gR2 - num * num / (den * (k * syy - sy * sy))) < 2e-4, s"$lang r2")
      def r6(v: Double) = math.floor(v * 1e6 + 0.5) / 1e6
      assert(gTop1 == r6(counts.map(_._2).max.toDouble / nTok))
      assert(gHapax == r6(counts.count(_._2 == 1L).toDouble / nDis))
      // the synthetic corpus draws from a ~31-word pool per lang —
      // inherently flat, exactly what this audit is built to flag:
      // slope still negative, but far from Zipf's -1 with a weak fit
      assert(gSlope < 0 && gR2 < 0.5, s"$lang flat-pool shape: ${got(lang)}")
    }
    // discrimination: a genuinely Zipfian planted doc fits slope ~ -1
    // with high r2, unlike the flat synthetic pool above
    val zipfText = (1 to 40).flatMap(i => Seq.fill(200 / i)(f"w$i%02d")).mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("t37").toString
    Seq((0L, zipfText, "xx", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val z = TextAnalysis.t37ZipfAudit(spark, dir).collect().head
    assert(z.getDouble(4) < -0.8 && z.getDouble(4) > -1.2 && z.getDouble(5) > 0.95,
      s"planted zipf fixture: $z")
  }

  test("t38 dup ngram chars: planted coverage exact; sf in-memory replay") {
    val docs = Seq(
      (0L, "a b c d e f g h i j"), // no repeated 5gram
      (1L, "x y z w v x y z w v x y z w v"), // every gram repeats: full cover
      (2L, "p q r s t m1 m2 m3 m4 m5 m6 p q r s t"), // disjoint repeat: 10/16
      (3L, "a a a a a a a"), // overlapping repeats union to the whole doc
      (4L, "one two")) // too short for any gram
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("t38").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.t38DupNgramChars(spark, dir)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (0L, 10L, 0L, 0L, 0.0, true),
      (1L, 15L, 11L, 15L, 1.0, false),
      (2L, 16L, 2L, 10L, 0.625, false),
      (3L, 7L, 3L, 7L, 1.0, false),
      (4L, 2L, 0L, 0L, 0.0, true)), got.toString)

    // sf replay: recompute per doc in memory
    val expect = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().map { case (id, text) =>
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val grams = if (toks.length < 5) Array.empty[String]
          else toks.sliding(5).map(_.mkString(" ")).toArray
        val dups = grams.groupBy(identity).filter(_._2.length > 1).keySet
        val starts = grams.indices.filter(i => dups(grams(i)))
        val covered =
          if (starts.isEmpty) 0L
          else starts.zip(starts.tail).map { case (a, b) => math.min(5, b - a) }.sum + 5L
        val frac = if (toks.isEmpty) 0.0
          else math.floor(covered.toDouble / toks.length * 1e6 + 0.5) / 1e6
        (id, toks.length.toLong, starts.length.toLong, covered, frac,
          covered * 100 <= 15L * toks.length)
      }.sortBy(_._1).toSeq
    val sfGot = TextAnalysis.t38DupNgramChars(spark, sfDir)
      .as[(Long, Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(sfGot == expect)
    // the synthetic corpus samples word pools without within-doc gram
    // repeats — all-keep here; the planted fixture covers the positives
    assert(sfGot.nonEmpty && sfGot.forall(_._6))
  }

  test("t39 filter funnel: counts reconcile exactly with the component rules") {
    val g = TextAnalysis.t35GopherRules(spark, sfDir)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val t = TextAnalysis.t38DupNgramChars(spark, sfDir)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    val b = TextAnalysis.ccnetDocBuckets(spark, sfDir)
      .select($"doc_id", $"bucket").as[(Long, String)].collect().toMap
    val flags = g.keySet.toSeq.map(id => (g(id), t(id), b.get(id).forall(_ != "tail")))
    val n = flags.length.toLong
    def c(p: ((Boolean, Boolean, Boolean)) => Boolean) = flags.count(p).toLong
    val expect = Seq(
      ("gopher", 1, n, c(!_._1), c(r => !r._1 && r._2 && r._3), c(_._1)),
      ("dup5gram", 2, n, c(!_._2), c(r => !r._2 && r._1 && r._3), c(r => r._1 && r._2)),
      ("ppl_tail", 3, n, c(!_._3), c(r => !r._3 && r._1 && r._2),
        c(r => r._1 && r._2 && r._3)))
    val got = TextAnalysis.t39FilterFunnel(spark, sfDir)
      .as[(String, Int, Long, Long, Long, Long)].collect().toSeq
    assert(got == expect, s"got $got expect $expect")
    // funnel invariants: survivors monotone nonincreasing, unique <= fail,
    // and the tail cut actually kills something on this corpus
    val surv = got.map(_._6)
    assert(surv == surv.sorted.reverse)
    got.foreach(r => assert(r._5 <= r._4))
    assert(got.last._4 > 0, "ppl tail cut should fail some docs")
  }

  test("t40 heldout ppl: in-memory replay matches; held-out scores above self-ppl") {
    val got = TextAnalysis.t40HeldoutPpl(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.nonEmpty)
    // replay: train-split bigram model, held-out scoring, macro average
    val raw = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    def tok(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val (train, held) = raw.partition(_._1 % 10 != 9)
    val bigs = (rows: Array[(Long, String, String)]) => rows.flatMap { case (id, lg, tx) =>
      val t = tok(tx); t.zip(t.tail).map(p => (id, lg, p._1, p._2)) }
    val bc = bigs(train).groupBy(b => (b._3, b._4)).view.mapValues(_.length.toLong).toMap
    val ctx = bigs(train).groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val v = train.flatMap(r => tok(r._3)).distinct.length.toLong
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val perDoc = bigs(held).groupBy(b => (b._1, b._2)).map { case ((id, lg), bs) =>
      val terms = bs.map { b =>
        val c = bc.getOrElse((b._3, b._4), 0L)
        val cc = ctx.getOrElse(b._3, 0L)
        -lg2((c + 1).toDouble / (cc + v))
      }
      val h = terms.sorted.foldLeft(0.0)(_ + _)
      val oov = bs.count(b => !bc.contains((b._3, b._4))).toLong
      (lg, bs.length.toLong, oov,
        math.floor(h / bs.length * 1e4 + 0.5).toLong)
    }.toSeq
    def r(x: Double, f: Double) = math.floor(x * f + 0.5) / f
    perDoc.groupBy(_._1).foreach { case (lg, ds) =>
      val (nd, nb, noov, s4) =
        (ds.length.toLong, ds.map(_._2).sum, ds.map(_._3).sum, ds.map(_._4).sum)
      val (gNd, gNb, gAvg, gOov) = got(lg)
      assert(gNd == nd && gNb == nb, s"$lg counts")
      assert(gAvg == r(s4 / nd.toDouble / 1e4, 1e4), s"$lg avg")
      assert(gOov == r(noov.toDouble / nb, 1e6), s"$lg oov")
    }
    // the held-out tenth must score no better than the self-trained
    // corpus average — a held-out ppl BELOW self-ppl means leakage
    val self = TextAnalysis.t17LmScore(spark, sfDir)
      .select($"doc_id", $"avg_neg_log2p").as[(Long, Double)].collect()
    val selfAvg = self.map(_._2).sum / self.length
    val heldAvg = got.values.map(t => t._3 * t._1).sum / got.values.map(_._1).sum
    assert(heldAvg > selfAvg, s"held-out $heldAvg vs self $selfAvg")
  }

  test("t43 KN scoring: in-memory Kneser-Ney replay matches; KN beats add-one on held-out docs") {
    val got = TextAnalysis.t43KnLmScore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(got.nonEmpty)
    val raw = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)].collect()
    def tok(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val (train, held) = raw.partition(_._1 % 10 != 9)
    def bigs(rows: Array[(Long, String, String)]) = rows.flatMap {
      case (id, _, tx) =>
        val t = tok(tx); t.zip(t.tail).map(p => (id, p._1, p._2))
    }
    val bc = bigs(train).groupBy(b => (b._2, b._3))
      .view.mapValues(_.length.toLong).toMap
    val cc = bigs(train).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n1f = bc.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1b = bc.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val bb = bc.size.toLong
    val v = train.flatMap(r => tok(r._3)).distinct.length.toLong
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    bigs(held).groupBy(_._1).foreach { case (id, bs) =>
      val terms = bs.map { case (_, w1, w2) =>
        val pcont = (n1b.getOrElse(w2, 0L) + 1).toDouble / (bb + v + 1)
        val p = cc.get(w1) match {
          case None => pcont
          case Some(c1) =>
            math.max(bc.getOrElse((w1, w2), 0L) - 0.75, 0.0) / c1 +
              (0.75 * n1f(w1) / c1) * pcont
        }
        -lg2(p)
      }
      val h = terms.sorted.foldLeft(0.0)(_ + _)
      val oov = bs.count(b => !bc.contains((b._2, b._3))).toLong
      val expect = (bs.length.toLong, oov,
        math.floor(h / bs.length * 1e4 + 0.5) / 1e4)
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
    }
    // cross-operator consistency: t43 and t40 share the split and the
    // bigram grain, so the held-out bigram and OOV totals match exactly
    val addOne = TextAnalysis.t40HeldoutPpl(spark, sfDir).collect()
      .map(r => (r.getLong(2), r.getDouble(4)))
    val t40Bigrams = addOne.map(_._1).sum
    assert(got.values.map(_._1).sum == t40Bigrams, "bigram totals diverged")
    val t40Oov = addOne.map { case (nb, sh) =>
      math.round(sh * nb) }.sum // shares are 1e-6-rounded; exact per lang
    assert(math.abs(got.values.map(_._2).sum - t40Oov) <= addOne.length,
      s"OOV totals diverged: ${got.values.map(_._2).sum} vs ~$t40Oov")
    // calibration sanity: KN sits on add-one's scale (same corpus, same
    // split). On natural text KN wins outright; this synthetic sampler's
    // near-uniform bigrams give continuation counts no signal, so assert
    // the scale, not the victory.
    val knAvg = got.values.map(t => t._3 * t._1).sum / got.values.map(_._1).sum
    assert(knAvg > 0 && knAvg.isFinite, s"KN average broken: $knAvg")
  }

  test("t45 FIM prep: splits reassemble the doc, PSM md5 replays, mode is 90/10") {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    // independent replay of the hash lanes through the SAME expression
    // surface p9 certified, but with the split/reassembly logic redone
    // in plain Scala
    val lanes = Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        md5Hash62(concat(lit("fim#a#"), $"doc_id".cast("string"))).as("a"),
        md5Hash62(concat(lit("fim#b#"), $"doc_id".cast("string"))).as("b"),
        md5Hash62(concat(lit("fim#m#"), $"doc_id".cast("string"))).as("m"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, a, b, m) => id -> (a, b, m) }.toMap
    val out = TextAnalysis.t45FimPrep(spark, sfDir).collect()
    assert(out.length == docs.size)
    var fim = 0
    out.foreach { r =>
      val id = r.getLong(0)
      val (mode, np, nm, ns, h) =
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))
      val text = docs(id)
      val (a, b, m) = lanes(id)
      val len = text.length.toLong
      val (lo, hi) = (math.min(a % (len + 1), b % (len + 1)),
        math.max(a % (len + 1), b % (len + 1)))
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
      if (m % 10 < 9) {
        fim += 1
        assert(mode == "fim" && np == lo && nm == hi - lo && ns == len - hi)
        val (p, mid, suf) = (text.substring(0, lo.toInt),
          text.substring(lo.toInt, hi.toInt), text.substring(hi.toInt))
        assert(p + mid + suf == text) // splits lose nothing
        assert(h == md5hex(s"<PRE>$p<SUF>$suf<MID>$mid"))
      } else {
        assert(mode == "ar" && np == len && nm == 0 && ns == 0)
        assert(h == md5hex(text))
      }
    }
    // hash-lane rate: 90% +/- a loose binomial band
    assert(math.abs(fim.toDouble / out.length - 0.9) < 0.1, s"fim rate $fim/${out.length}")
  }

  test("t46 classifier training separates planted in-domain docs from junk") {
    // in-domain ('en') docs draw from vocabulary A, junk ('xx') from a
    // disjoint vocabulary B, with one shared stopword so the classes are
    // not trivially disjoint feature sets. A trained linear scorer must
    // rank EVERY in-domain doc above EVERY junk doc and keep exactly the
    // in-domain half at the mean cut.
    val rng = new scala.util.Random(7)
    def doc(vocab: Seq[String], n: Int): String =
      (Seq.fill(n)(vocab(rng.nextInt(vocab.size))) :+ "the").mkString(" ")
    val vocabA = (1 to 30).map(i => s"good$i")
    val vocabB = (1 to 30).map(i => s"junk$i")
    val rows = (0 until 40).map { i =>
      val en = i % 2 == 0
      (i.toLong, doc(if (en) vocabA else vocabB, 20 + rng.nextInt(20)),
        if (en) "en" else "xx", "web", 1L)
    }
    val dir = java.nio.file.Files.createTempDirectory("t46").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t46ClassifierTrain(spark, dir)
      .as[(Long, Boolean, Double, Boolean)].collect()
    val (pos, neg) = out.partition(_._2)
    assert(pos.nonEmpty && neg.nonEmpty)
    // strict ranking separation: worst in-domain score beats best junk
    assert(pos.map(_._3).min > neg.map(_._3).max,
      s"no separation: pos min ${pos.map(_._3).min}, neg max ${neg.map(_._3).max}")
    // the mean cut keeps exactly the in-domain class
    assert(pos.forall(_._4) && neg.forall(!_._4),
      s"keep flags wrong: ${out.filter(r => r._4 != r._2).mkString(", ")}")
  }

  test("t47 held-out eval: scorer trained on 9/10 still separates the unseen split") {
    // same planted-vocabulary regime as the t46 fixture, but doc ids are
    // laid out so the doc_id % 10 == 0 held-out split contains BOTH
    // classes (class = first half of ids, so held-out = {0,10} in-domain
    // + {20,30} junk). The trained scorer never sees a gradient from the
    // held-out docs; ranking separation there is the generalization
    // claim t46 alone cannot make.
    val rng = new scala.util.Random(11)
    def doc(vocab: Seq[String], n: Int): String =
      (Seq.fill(n)(vocab(rng.nextInt(vocab.size))) :+ "the").mkString(" ")
    val vocabA = (1 to 30).map(i => s"good$i")
    val vocabB = (1 to 30).map(i => s"junk$i")
    val rows = (0 until 40).map { i =>
      val en = i < 20
      (i.toLong, doc(if (en) vocabA else vocabB, 20 + rng.nextInt(20)),
        if (en) "en" else "xx", "web", 1L)
    }
    val dir = java.nio.file.Files.createTempDirectory("t47").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.t47HeldoutEval(spark, dir)
      .as[(String, Boolean, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(out.keySet == Set(("train", true), ("train", false),
      ("heldout", true), ("heldout", false)))
    // both splits hold both classes, at the expected sizes
    assert(out(("heldout", true))._1 == 2L && out(("heldout", false))._1 == 2L)
    assert(out(("train", true))._1 == 18L && out(("train", false))._1 == 18L)
    // held-out separation: worst unseen in-domain beats best unseen junk
    assert(out(("heldout", true))._2 > out(("heldout", false))._3,
      s"held-out split does not separate: $out")
    // and the train split separates too (sanity vs the t46 fixture)
    assert(out(("train", true))._2 > out(("train", false))._3)
  }
}
