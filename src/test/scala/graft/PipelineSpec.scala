package graft

import org.apache.spark.sql.functions._
import graft.pipeline.CorpusPipeline

/** Corpus-pipeline invariants beyond the oracle-checked funnel. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("funnel only ever shrinks the doc set; every stage is usable output") {
    val st = CorpusPipeline.stages(spark, sfDir)
    val counts = st.map { case (n, df) => n -> df.count() }
    counts.sliding(2).foreach {
      case Seq((a, ca), (b, cb)) =>
        assert(cb <= ca, s"$b ($cb) must not exceed $a ($ca)")
      case _ =>
    }
    assert(counts.last._2 > 0)
    // survivors carry the full document columns
    val cols = st.last._2.columns.toSet
    assert(Set("doc_id", "text", "source", "n_chars").subsetOf(cols))
  }

  test("p2 training prep: monotone funnel, holdout never trains, decontaminated is clean") {
    val funnel = CorpusPipeline.p2TrainingPrep(spark, sfDir)
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(funnel.keySet ==
      Set("quality", "exact_dedup", "holdout_split", "decontaminate", "packing"))
    // chained: each stage's input is the previous stage's output
    assert(funnel("exact_dedup")._1 == funnel("quality")._2)
    assert(funnel("holdout_split")._1 == funnel("exact_dedup")._2)
    assert(funnel("decontaminate")._1 == funnel("holdout_split")._2)
    assert(funnel("packing")._1 == funnel("decontaminate")._2)
    // doc stages only shrink; something must survive to be packed
    Seq("quality", "exact_dedup", "holdout_split", "decontaminate").foreach { s =>
      assert(funnel(s)._2 <= funnel(s)._1, s"$s grew")
    }
    assert(funnel("packing")._2 > 0)
    // the fixture plants exact cross-split duplicates, so decontamination
    // must actually remove something (a no-op filter would be a bug)
    assert(funnel("decontaminate")._2 < funnel("decontaminate")._1)
  }

  test("export: manifest certifies the files on disk (counts, buckets, signature)") {
    import graft.pipeline.Export
    val out = java.nio.file.Files.createTempDirectory("export").toString
    val m = Export.writeTrainingSet(spark, sfDir, out, nBuckets = 8)
    // the shipped doc count is exactly the decontaminate stage's output
    assert(m.nDocs == m.funnel.find(_._1 == "decontaminate").get._3)
    assert(m.nPacks == m.funnel.find(_._1 == "packing").get._3)
    val back = spark.read.parquet(s"$out/docs")
    assert(back.count() == m.nDocs)
    assert(back.filter(
      pmod($"pack_id", lit(8)).cast("int") =!= $"pack_bucket").count() == 0)
    // the signature re-derives from the shipped text alone — an auditor
    // needs no pipeline, only md5
    val sig = back.agg(sum(
      graft.expressions.PortableHashExpressions.md5Hash62($"text")))
      .head().getLong(0)
    assert(sig == m.signature)
    val txt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_manifest.json"))
    assert(txt.contains(s""""n_docs":${m.nDocs}"""))
    assert(txt.contains(s""""signature":${m.signature}"""))
  }

  test("near-dup stage drops exactly the non-canonical cluster members") {
    val st = CorpusPipeline.stages(spark, sfDir).toMap
    val keepers = st("exact_dedup")
    val canon = st("neardup_dedup").select($"doc_id").as[Long].collect().toSet
    val comps = graft.operators.Dedup.connectedComponents(
      keepers.select($"doc_id"), graft.operators.Dedup.ngramPairs(keepers))
      .as[(Long, Long)].collect()
    comps.foreach { case (docId, cluster) =>
      assert(canon.contains(docId) == (docId == cluster))
    }
  }

  test("chunks cover every surviving document") {
    val st = CorpusPipeline.stages(spark, sfDir)
    val survivors = st.last._2
    val chunked = CorpusPipeline.chunks(survivors)
    assert(chunked.select($"doc_id").distinct().count() == survivors.count())
    assert(chunked.groupBy($"doc_id").count().filter($"count" < 1).count() == 0)
  }

  test("p3 dataset card: per-source volumes, dup rate, mean quality, and lang profile replay in memory") {
    import graft.pipeline.CorpusPipeline
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang", $"source")
      .as[(Long, String, String, String)].collect()
    val quality = graft.operators.TextAnalysis.t2Quality(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"quality_score")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val expect = docs.groupBy(_._4).toSeq.sortBy(_._1).map { case (src, rows) =>
      val fps = rows.map(r =>
        r._2.toLowerCase.replaceAll("\\s+", " ").trim).distinct.size
      val qs = rows.map(r => quality(r._1)._2).sorted
      val meanQ = math.floor(qs.sum / rows.size * 1e4 + 0.5) / 1e4
      val dup = math.floor((1.0 - fps.toDouble / rows.size) * 1e4 + 0.5) / 1e4
      val langCnt = rows.groupBy(_._3).view.mapValues(_.size).toMap
      val top = langCnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      (src, rows.size.toLong, rows.map(r => quality(r._1)._1).sum,
        dup, meanQ, langCnt.size.toLong, top)
    }
    val got = CorpusPipeline.p3DatasetCard(spark, sfDir)
      .as[(String, Long, Long, Double, Double, Long, String)].collect().toSeq
    assert(got == expect)
    // the card covers every source exactly once
    assert(got.map(_._1).distinct.size == got.size && got.nonEmpty)
  }

  test("p4 mixture schedule: anneal endpoints, quota conservation, quality monotonicity") {
    import graft.pipeline.CorpusPipeline
    val rows = CorpusPipeline.p4MixtureSchedule(spark, sfDir)
      .as[(Long, String, Double, Double, Double, Long, Double)].collect()
    val nSrc = rows.map(_._2).distinct.size
    assert(rows.length == 4 * nSrc && nSrc > 1)
    // epoch 1 samples the natural mix; the final epoch samples the target
    rows.filter(_._1 == 1L).foreach(r => assert(r._5 == r._3, s"e1 $r"))
    rows.filter(_._1 == 4L).foreach(r => assert(r._5 == r._4, s"e4 $r"))
    // each epoch's mix shares sum to ~1 and quotas fill the budget
    // (floor loses < 1 token per source; shares lose < 1e-6 each)
    val perEpoch = rows.groupBy(_._1)
    perEpoch.values.foreach { es =>
      val mixSum = es.map(_._5).sum
      assert(math.abs(mixSum - 1.0) < 1e-4, s"mix sum $mixSum")
    }
    val budgets = perEpoch.view.mapValues(_.map(_._6).sum).toMap
    // all epochs share one budget: totals are within nSrc floor-losses
    assert(budgets.values.max - budgets.values.min <= nSrc)
    // annealing is monotone per source: mix moves from nat toward tgt
    rows.groupBy(_._2).values.foreach { sr =>
      val byEpoch = sr.sortBy(_._1).map(_._5)
      val (nat, tgt) = (sr.head._3, sr.head._4)
      if (tgt > nat) assert(byEpoch.sameElements(byEpoch.sorted), s"up $sr")
      else assert(byEpoch.sameElements(byEpoch.sorted.reverse), s"down $sr")
    }
    // quality reweighting: the highest-mean-quality source gains share,
    // relative to natural, by the final epoch (and the lowest loses)
    val q = graft.operators.TextAnalysis.t2Quality(spark, sfDir)
      .select($"doc_id", $"quality_score")
      .as[(Long, Double)].collect().toMap
    val srcOf = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect()
    val meanQ = srcOf.groupBy(_._2).view
      .mapValues(ds => ds.map(x => q(x._1)).sum / ds.size).toMap
    val hi = meanQ.maxBy { case (s0, m) => (m, s0) }._1
    val lo = meanQ.minBy { case (s0, m) => (m, s0) }._1
    val e4 = rows.filter(_._1 == 4L).map(r => r._2 -> (r._3, r._4)).toMap
    assert(e4(hi)._2 > e4(hi)._1, s"high-quality source $hi must gain share")
    assert(e4(lo)._2 < e4(lo)._1, s"low-quality source $lo must lose share")
  }

  test("p5 epoch materialize: two-phase keyed prefix equals an in-memory greedy fill") {
    import graft.pipeline.CorpusPipeline
    val got = CorpusPipeline.p5EpochMaterialize(spark, sfDir)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    val quotas = CorpusPipeline.p4MixtureSchedule(spark, sfDir)
      .filter($"epoch" === 4).select($"source", $"token_quota")
      .as[(String, Long)].collect().toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        size(graft.functions.TextFunctions.lowerTokens($"text"))
          .cast("long").as("n_tok"),
        graft.expressions.PortableHashExpressions
          .md5Hash62($"doc_id".cast("string")).as("h"))
      .as[(Long, String, Long, Long)].collect()
    val expect = quotas.keys.toSeq.sorted.map { src =>
      val ordered = docs.filter(_._2 == src).sortBy(d => (d._4, d._1))
      var cum = 0L
      val sel = ordered.takeWhile { d =>
        val in = cum < quotas(src); cum += d._3; in
      }
      // takeWhile stops at the first excluded doc — correct because
      // prefix-before is monotone along the order
      val tok = sel.map(_._3).sum
      val fill =
        if (quotas(src) == 0) None
        else Some(math.floor(tok.toDouble / quotas(src) * 1e4 + 0.5) / 1e4)
      (src, sel.size.toLong, tok, quotas(src), fill)
    }
    assert(got == expect)
    // greedy-fill contract: stop only once the quota is met (last doc may
    // overshoot), or exhaust the source's supply entirely
    got.foreach { case (src, n, tok, q, _) =>
      val supply = docs.filter(_._2 == src)
      if (n < supply.size) assert(tok >= q, s"$src stopped under quota")
      else assert(n == supply.size.toLong, s"$src selection overran supply")
    }
    // every fill lands at or just past its quota (greedy overshoot is
    // bounded by one document), since no source undersupplies at this SF
    got.foreach { case (src, _, tok, q, _) =>
      val maxDoc = docs.filter(_._2 == src).map(_._3).max
      assert(tok < q + maxDoc, s"$src overshot by more than one doc")
    }
  }

  test("resumable prep: crash after two stages, resume; completed stages untouched, result equals single-shot p2") {
    import graft.pipeline.{CorpusPipeline, Resumable}
    import graft.sources.Snapshots
    val table = java.nio.file.Files
      .createTempDirectory("resume_prep").toString + "/prep"
    // crash simulation: only the first two stages run
    val first = Resumable.run(spark, sfDir, table, stopAfter = 2)
    assert(first.map(x => (x._1, x._3)) ==
      Seq(("quality", false), ("exact_dedup", false)))
    assert(Snapshots.currentVersion(spark, table) == 2)
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtimes(v: Int) = Snapshots.files(spark, table, v)
      .map(p => p -> fs.getFileStatus(new org.apache.hadoop.fs.Path(p))
        .getModificationTime).toMap
    val (m1, m2) = (mtimes(1), mtimes(2))

    // resume: stages 1-2 are read back, 3-5 computed and committed
    val resumed = Resumable.run(spark, sfDir, table)
    assert(resumed.map(x => (x._1, x._3)) == Seq(
      ("quality", true), ("exact_dedup", true), ("holdout_split", false),
      ("decontaminate", false), ("packing", false)))
    assert(Snapshots.currentVersion(spark, table) == 5)
    assert(mtimes(1) == m1 && mtimes(2) == m2,
      "resume must not rewrite completed stages' files")

    // the resumed pipeline's final state equals the single-shot p2 run
    val (funnel, decon, packedDocs) = CorpusPipeline.p2Frames(spark, sfDir)
    val deconIds = Snapshots.readVersion(spark, table, Some(4))
      .select($"doc_id").as[Long].collect().toSet
    assert(deconIds == decon.select($"doc_id").as[Long].collect().toSet)
    val packs = Snapshots.readVersion(spark, table, Some(5))
      .as[(Long, Long, Long)].collect().toSet
    assert(packs == packedDocs.as[(Long, Long, Long)].collect().toSet)
    // funnel counts agree stage by stage with what p2 reports
    val byStage = resumed.map(x => x._1 -> x._2).toMap
    funnel.foreach { case (stage, _, out) =>
      if (stage != "packing") // packing row counts docs; p2 counts packs
        assert(byStage(stage) == out, s"$stage: ${byStage(stage)} vs $out")
    }
    // a foreign table refuses to resume (loud, not silent corruption)
    val foreign = java.nio.file.Files
      .createTempDirectory("resume_foreign").toString + "/t"
    Snapshots.commitOverwrite(Seq((1L, "x")).toDF("doc_id", "text"),
      foreign, "unrelated note")
    val ex = intercept[IllegalArgumentException] {
      Resumable.run(spark, sfDir, foreign)
    }
    assert(ex.getMessage.contains("foreign"))
  }

  test("p6 epoch shuffle: manifest replays from an in-memory permutation; shards tile the position space") {
    import graft.pipeline.CorpusPipeline
    val got = CorpusPipeline.p6EpochShuffle(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        graft.expressions.PortableHashExpressions
          .md5Hash62(concat(lit("1#"), $"doc_id".cast("string"))).as("h"),
        graft.expressions.PortableHashExpressions.md5Hash62($"text")
          .bitwiseAND(lit(1099511627775L)).as("sig"))
      .as[(Long, Long, Long)].collect()
    val perm = docs.sortBy(d => (d._2, d._1)).zipWithIndex
    val expect = perm.groupBy(_._2 / 256).toSeq.sortBy(_._1).map {
      case (sh, rows) =>
        (sh.toLong, rows.size.toLong, rows.map(_._2).min.toLong,
          rows.map(_._2).max.toLong, rows.map(_._1._3).sum)
    }
    assert(got == expect && got.nonEmpty)
    // shards tile 0..N-1 contiguously; all but the last are full
    assert(got.map(_._2).sum == docs.length)
    got.init.foreach(s => assert(s._2 == 256L, s"non-full shard $s"))
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a._4 + 1 == b._3, s"gap between $a and $b")
    }
    assert(got.head._3 == 0L)
    // it is a genuine shuffle: hash order differs from id order
    val idOrder = docs.sortBy(_._1).map(_._1).toSeq
    val hashOrder = perm.map(_._1._1).toSeq
    assert(idOrder != hashOrder, "permutation degenerated to id order")
  }

  test("p7 SFT packing reconciles with t31 per-doc accounting under an in-memory prefix replay") {
    val perDoc = graft.operators.TextAnalysis.t31SftMask(spark, sfDir)
      .select($"doc_id", $"n_tokens", $"n_loss_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // in-memory replay of the strict global prefix packing at budget 256
    var prefix = 0L
    val model = perDoc.map { case (id, tok, loss) =>
      val pid = prefix / CorpusPipeline.PackBudget
      prefix += tok
      (pid, id, tok, loss)
    }.groupBy(_._1).map { case (pid, rs) =>
      val (tok, loss) = (rs.map(_._3).sum, rs.map(_._4).sum)
      pid -> ((rs.size.toLong, tok, loss,
        math.floor(loss.toDouble / tok * 1e4 + 0.5) / 1e4))
    }
    val got = CorpusPipeline.p7SftPacking(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == model, "pack rollup must equal the prefix replay")
    // conservation: nothing lost between the per-doc and per-pack views
    assert(got.values.map(_._2).sum == perDoc.map(_._2).sum)
    assert(got.values.map(_._3).sum == perDoc.map(_._3).sum)
  }

  test("p8 DPO batches reconcile with t32 clean pairs under an in-memory prefix replay") {
    val pairs = graft.operators.TextAnalysis.t32PreferencePairs(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Boolean, Boolean)].collect()
    val clean = pairs.filter(p => !p._7 && !p._8)
      .map(p => (p._1, p._3 + p._4, p._5 + p._6)).sortBy(_._1)
    assert(clean.length < pairs.length,
      "fixture must contain at least one dirty pair for the gate to matter")
    // in-memory replay of the prefix packing at the 2x DPO budget
    var prefix = 0L
    val model = clean.map { case (id, tok, loss) =>
      val bid = prefix / CorpusPipeline.DpoBudget
      prefix += tok
      (bid, id, tok, loss)
    }.groupBy(_._1).map { case (bid, rs) =>
      bid -> ((rs.size.toLong, rs.map(_._3).sum, rs.map(_._4).sum,
        math.floor(rs.map(_._4).sum.toDouble / rs.map(_._3).sum * 1e4 + 0.5) / 1e4))
    }
    val got = CorpusPipeline.p8DpoBatches(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == model, "batch rollup must equal the prefix replay")
    // conservation over the CLEAN subset only — dirty pairs must be gone
    assert(got.values.map(_._1).sum == clean.length.toLong)
    assert(got.values.map(_._2).sum == clean.map(_._2).sum)
  }

  test("p9 leak-safe split: sides partition the corpus, counterfactual leak matches a hash replay") {
    import org.apache.spark.unsafe.types.UTF8String
    def evalSide(id: Long): Boolean =
      graft.expressions.PortableHash
        .md5Lower62(UTF8String.fromString(s"split#$id")) % 10 == 0
    val rows = CorpusPipeline.p9LeakSafeSplit(spark, sfDir)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    val audit = rows("~audit")
    val sides = rows - "~audit"
    assert(sides.keySet.subsetOf(Set("train", "eval")) && sides.contains("train"))
    // the sides partition the corpus exactly (docs, clusters, chars)
    assert(sides.values.map(_._1).sum == audit._1)
    assert(sides.values.map(_._2).sum == audit._2)
    assert(sides.values.map(_._3).sum == audit._3)
    assert(audit._1 == Tables.load(spark, sfDir, "documents").count())
    // per-side rows report zero leakage (structural: assignment is
    // cluster-keyed, a near-dup pair can't straddle)
    assert(sides.values.forall(_._4 == 0L))
    // the counterfactual: naive per-doc hashing of the SAME pairs
    val pairs = graft.operators.Dedup.d2Pairs(spark, sfDir)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect()
    val naive = pairs.count { case (a, b) => evalSide(a) != evalSide(b) }
    assert(audit._4 == naive.toLong, s"audit=${audit._4} replay=$naive")
    assert(naive > 0, "fixture must demonstrate the leak the op prevents")
  }

  test("p10 curriculum: stage-major permutation, per-lang tercile balance, hash order within stage") {
    val rows = CorpusPipeline.p10Curriculum(spark, sfDir)
      .as[(Long, String, String, Int, Long)].collect().toSeq
    assert(rows.nonEmpty)
    // ranks are a permutation of 0..N-1
    assert(rows.map(_._5).sorted == (0L until rows.size).toSeq)
    // stage-major: rank ranges of stages 0/1/2 are disjoint and ordered
    val byStage = rows.groupBy(_._4)
    (0 to 1).foreach { st =>
      if (byStage.contains(st) && byStage.contains(st + 1))
        assert(byStage(st).map(_._5).max < byStage(st + 1).map(_._5).min,
          s"stage $st ranks overlap stage ${st + 1}")
    }
    // per-LANG terciles: stage sizes within a language differ by <= 1
    rows.groupBy(_._2).foreach { case (lang, ls) =>
      val sizes = ls.groupBy(_._4).view.mapValues(_.size).values.toSeq
      assert(sizes.max - sizes.min <= 1 || sizes.size < 3,
        s"$lang stages unbalanced: $sizes")
    }
    // within a stage the order IS the md5 permutation (hash asc, id tie)
    import graft.expressions.PortableHashExpressions.md5Hash62
    val hashes = spark.range(0, 1).sparkSession.createDataFrame(
      rows.map(r => (r._1, r._5, r._4))).toDF("doc_id", "rank", "stage")
      .withColumn("h", md5Hash62(concat(lit("curr#"), $"doc_id".cast("string"))))
      .as[(Long, Long, Int, Long)].collect()
    hashes.groupBy(_._3).foreach { case (_, st) =>
      val inRankOrder = st.sortBy(_._2).map(r => (r._4, r._1)).toSeq
      assert(inRankOrder == inRankOrder.sorted, "within-stage order is not the hash permutation")
    }
    // domain: only scored docs (>= 2 tokens) appear
    val short = Tables.load(spark, sfDir, "documents")
      .filter(size(split(lower($"text"), "\\s+")) < 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(rows.forall(r => !short.contains(r._1)))
  }

  test("p11 doremi: weights replay the 5-round ascent exactly; weight is monotone in loss") {
    val rows = CorpusPipeline.p11DoremiMixture(spark, sfDir)
      .as[(String, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.length > 1)
    // replay: per-source integer score sums from t17's own output
    val s4 = graft.operators.TextAnalysis.t17LmScore(spark, sfDir)
      .select($"doc_id", floor($"avg_neg_log2p" * 10000.0 + lit(0.5)).cast("long"))
      .as[(Long, Long)].collect().toMap
    val srcOf = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"source").as[(Long, String)].collect().toMap
    val perSrc = s4.toSeq.groupBy(kv => srcOf(kv._1)).view.mapValues { ds =>
      (ds.size.toLong, ds.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    val nd = perSrc.size.toDouble
    val l = perSrc.map { case (_, (n, sum)) => sum / n.toDouble / 10000.0 }.toArray
    var w = Array.fill(perSrc.size)(1.0 / nd)
    def fold(xs: Array[Double]): Double = xs.sorted.foldLeft(0.0)(_ + _)
    (1 to 5).foreach { _ =>
      val b = fold(l.indices.map(i => w(i) * l(i)).toArray)
      val wn = l.indices.map(i => w(i) * (1.0 + 0.1 * math.max(l(i) - b, 0.0))).toArray
      val sw = fold(wn)
      w = wn.map(x => (x / sw) * 0.99 + 0.01 / nd)
    }
    def r(x: Double, f: Double): Double = math.floor(x * f + 0.5) / f
    val expect = perSrc.zipWithIndex.map { case ((src, (n, _)), i) =>
      (src, n, r(l(i), 1e6), r(w(i), 1e6), r(w(i) * nd, 1e4))
    }
    assert(rows.toSeq == expect)
    // weights form a distribution and never fall below the smoothing floor
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    rows.foreach(r5 => assert(r5._4 >= 0.01 / nd - 1e-9))
    // the linear MW update from a uniform start never lets a lower-loss
    // domain overtake a higher-loss one
    rows.sortBy(_._3).map(_._4).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b + 1e-9); case _ =>
    }
  }

  test("p12 UniMax water-filling laws: budget exhausted, caps respected, uniform residual") {
    val d = "/root/testdata/sf0.01" // sf0.001's lang frame is too sparse to cap
    val rows = CorpusPipeline.p12UnimaxMixture(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    val totalAvail = rows.map(_._2).sum
    val budget = 3L * totalAvail / 2L
    // every alloc within its cap; capped langs sit exactly ON the cap
    rows.foreach { case (lang, avail, cap, alloc, epochs, capped) =>
      assert(cap == 2L * avail)
      assert(alloc <= cap + 1e-6, s"$lang over cap")
      if (capped) assert(alloc == cap.toDouble, s"$lang capped but alloc != cap")
      assert(math.abs(epochs - alloc / avail) < 2e-4, s"$lang epochs drifted")
    }
    // uncapped languages share ONE water level, >= every capped cap
    val unc = rows.filterNot(_._6).map(_._4)
    assert(unc.nonEmpty, "fixture must exercise the uncapped branch")
    assert(unc.distinct.length == 1, s"residual not uniform: ${unc.toSeq}")
    val capsOfCapped = rows.filter(_._6).map(_._3.toDouble)
    assert(capsOfCapped.nonEmpty, "fixture must exercise the capped branch")
    assert(capsOfCapped.forall(_ <= unc.head + 1e-6),
      "a capped language exceeds the water level")
    // the budget is exhausted exactly (up to the 1e-4 presentation round)
    val spent = rows.map(_._4).sum
    assert(math.abs(spent - budget.toDouble) < 1e-3 * budget,
      s"spent $spent vs budget $budget")
  }
  test("p13 source cap keeps exactly each source's quality top-k, tie-broken by doc_id") {
    val k = CorpusPipeline.P13Cap
    val out = CorpusPipeline.p13SourceCap(spark, sfDir)
      .as[(Long, String, Int, Double, Boolean)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (src, rows) =>
      // ranks are a 1..n permutation within the source
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
      // the kept set is exactly the in-memory top-k by (score desc, id)
      val expectKept = rows.sortBy(r => (-r._4, r._1)).take(k).map(_._1).toSet
      val gotKept = rows.filter(_._5).map(_._1).toSet
      assert(gotKept == expectKept, s"source $src kept mismatch")
      assert(gotKept.size == math.min(k, rows.length))
    }
  }

  test("p13 on a 90%-skewed source: exact ranks, and no single-partition per-source sort in the plan") {
    // one giant domain holds ~90% of the corpus — the regime where the
    // round-14 Window.partitionBy(source) shape serializes. Ranks must
    // still be the exact naive-window answer, and every Window node that
    // partitions by source must also carry keyedRank's _shard column.
    val docsSeq = (0L until 200L).map { i =>
      val src = if (i % 10 == 0) s"small${i % 30}" else "giantdomain"
      // vary text so t2's quality score spreads (with duplicates)
      val t = (1 to (3 + (i % 7)).toInt).map(j => s"word${i % 13}_$j")
        .mkString(" ") + (if (i % 2 == 0) " 42 99" else "")
      (i, t, "en", src, t.length.toLong)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_p13_skew").toString
    docsSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val q = CorpusPipeline.p13SourceCap(spark, dir)
    val got = q.as[(Long, String, Int, Double, Boolean)].collect()
    // naive replay in memory
    val byId = got.map(r => r._1 -> r).toMap
    got.groupBy(_._2).foreach { case (src, rows) =>
      val ordered = rows.sortBy(r => (-r._4, r._1))
      ordered.zipWithIndex.foreach { case (r, i) =>
        assert(byId(r._1)._3 == i + 1,
          s"source $src doc ${r._1}: rank ${byId(r._1)._3} != ${i + 1}")
      }
    }
    assert(got.count(_._2 == "giantdomain") >= 170, "fixture lost its skew")
    // plan shape: no Window partitioned by source alone
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

  test("exactDedupStage on a hot fingerprint: agg+semi-join winners, window-free plan") {
    // 150 of 200 docs share one normalized text — the million-fold
    // boilerplate-page regime exact dedup exists for. The r14 shape
    // (min over Window.partitionBy(fp)) would funnel all 150 through one
    // task; the agg+semi-join must keep the same winners with NO window.
    val docs = (0L until 200L).map { i =>
      val t = if (i % 4 != 0) "  The   SAME boilerplate\tPAGE  "
              else s"unique content number $i"
      (i, t, s"src${i % 3}", t.length.toLong)
    }.toDF("doc_id", "text", "source", "n_chars")
    val out = CorpusPipeline.exactDedupStage(docs)
    val got = out.select($"doc_id").as[Long].collect().toSet
    // naive replay: min doc_id per normalized text
    val want = docs.collect().map(r =>
        (r.getString(1).toLowerCase.trim.replaceAll("\\s+", " "), r.getLong(0)))
      .groupBy(_._1).map(_._2.map(_._2).min).toSet
    assert(got == want, s"winners diverge: ${got.diff(want)} / ${want.diff(got)}")
    assert(got.size == 51, "150 boilerplate copies must collapse to 1 winner")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"exact dedup winner selection must not use a window:\n$plan")
  }
}
