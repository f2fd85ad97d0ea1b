package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.operators.Similarity
import graft.multimodal.Multimodal

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine: known vectors") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val d = df.select(dot($"a", $"b")).as[Double].head()
    assert(d == 32.0)
    val c = df.select(cosine($"a", $"a")).as[Double].head()
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("v1 exact knn returns K neighbors per query, sims descending") {
    val out = Similarity.v1KnnBrute(spark, sfDir).collect()
    val perQuery = out.groupBy(_.getLong(0))
    assert(perQuery.size == 8)
    perQuery.foreach { case (_, rows) =>
      assert(rows.length == 10)
      val sims = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("v15 diversified retrieval: per-cell cap holds, rank-1 matches v1, scores never beat v1") {
    val v15 = Similarity.v15DiverseAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
    val v1 = Similarity.v1KnnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQ15 = v15.groupBy(_._1)
    val byQ1 = v1.groupBy(_._1)
    assert(byQ15.keySet == byQ1.keySet)
    byQ15.foreach { case (q, rows) =>
      // the diversity contract: never more than DivCap results per cell
      rows.groupBy(_._4).foreach { case (_, cellRows) =>
        assert(cellRows.length <= Similarity.DivCap,
          s"q=$q cell over cap: $cellRows")
      }
      // rank 1 is the global best — it is also the best of its own cell,
      // so capping can never evict it: must equal v1's rank 1
      val best15 = rows.minBy(_._2)
      val best1 = byQ1(q).minBy(_._2)
      assert(best15._3 == best1._3 && best15._5 == best1._4)
      // capping only removes candidates: at every rank the diversified
      // score is <= the unconstrained score
      val s15 = rows.sortBy(_._2).map(_._5)
      val s1 = byQ1(q).sortBy(_._2).map(_._4)
      s15.zip(s1).foreach { case (a, b) => assert(a <= b + 1e-9) }
    }
  }

  test("v7 MIPS: augmented-LSH recall vs exact inner-product top-10") {
    // exact MIPS reference from collected vectors (sf0.001 corpus is small)
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def dotd(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val queries = vecs.filter(_._1 < 8)
    val exact = queries.flatMap { case (qid, q) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, v) => (qid, nid, dotd(q, v)) }
        .sortBy { case (_, nid, s) => (-s, nid) }.take(10)
        .map { case (_, nid, _) => (qid, nid) }
    }.toSet
    val approx = Similarity.v7Mips(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"MIPS recall too low: $recall")
    // determinism
    val again = Similarity.v7Mips(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(approx == again)
    // note: this synthetic corpus has near-uniform norms, so MIPS and
    // cosine top-k largely coincide here — the augmentation's value shows
    // on norm-skewed corpora; the invariant tested is that the augmented
    // bucketing still retrieves the exact-DOT ranking, which is what the
    // oracle hash-checks too
  }

  test("v2 LSH recall@10 against v1 exact is substantial") {
    val exact = Similarity.v1KnnBrute(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.v2AnnLsh(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall too low: $recall")
    // and every approx hit must be a real corpus vector with sane sim
    assert(approx.nonEmpty)
  }

  test("v4 IVF probes beat random-subset recall and stay deterministic") {
    val exact = Similarity.v1KnnBrute(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val a = Similarity.v4IvfAnn(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = Similarity.v4IvfAnn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a == b, "IVF output must be deterministic across runs")
    val approx = a.map(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Long])).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // probing 4/16 cells = 25% of an unclustered corpus; IVF must do
    // meaningfully better than the 25% a random subset would give
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("v5 int8 quantized recall@10 is near-exact; scores stay in [-1,1]") {
    val exact = Similarity.v1KnnBrute(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.v5Int8Ann(spark, sfDir).collect()
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    // int8 on 64 dims loses ~0.4% of cosine precision — recall should be
    // nearly exact, far above any bucketed ANN
    assert(recall >= 0.8, s"int8 recall too low: $recall")
    rows.foreach(r => assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("multimodal stub decoder: histogram is exact and deterministic") {
    val feat = Multimodal.StubDecoder.decode(7L, "aab".getBytes("UTF-8"))
    assert(feat.byte_len == 3)
    // 'a'=0x61, 'b'=0x62 → all in bin 6
    assert(feat.feature(6) == 1.0f)
    assert(feat.feature.sum == 1.0f)
    val again = Multimodal.StubDecoder.decode(7L, "aab".getBytes("UTF-8"))
    assert(feat.feature.toSeq == again.feature.toSeq)
  }

  test("v6 PQ beats random-subset recall and is deterministic") {
    val exact = Similarity.v1KnnBrute(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val a = Similarity.v6PqAnn(spark, sfDir).collect().map(_.toSeq).toSeq
    val b = Similarity.v6PqAnn(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(a == b, "PQ build+search must be run-to-run deterministic")
    val approx = a.groupBy(_.head.asInstanceOf[Long])
      .map { case (q, rs) => q -> rs.map(_(2).asInstanceOf[Long]).toSet }
    val recalls = exact.map { case (q, truth) =>
      approx.get(q).map(f => truth.intersect(f).size.toDouble / truth.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // 8-byte codes over near-uniform random vectors quantize coarsely —
    // the bar is "far better than chance" (random 10-of-corpus ≈ 0.005),
    // not exact-search parity
    assert(mean > 0.05, s"PQ mean recall@10 too low: $mean")
  }

  test("v6/v4 degrade gracefully when seed vec_ids are sparse (< 16 present)") {
    // a corpus where only 4 of the ids below 16 exist: the codebooks must
    // derive their cell count from the seeds actually present (the
    // oracle's row_number()-1 renumbering), not index 0..15 positionally
    val rnd = new scala.util.Random(7)
    val ids = Seq(0L, 3L, 7L, 11L) ++ (16L until 40L)
    val rows = ids.map(id => (id, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val dir = java.nio.file.Files.createTempDirectory("graft_sparse_emb").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val pq = Similarity.v6PqAnn(spark, dir).collect()
    assert(pq.nonEmpty, "sparse-seed PQ must still produce ranked neighbors")
    val ivf = Similarity.v4IvfAnn(spark, dir).collect()
    assert(ivf.nonEmpty, "sparse-seed IVF must still produce ranked neighbors")
  }

  test("ImageIoDecoder decodes real PNG bytes into the feature pipeline") {
    import graft.multimodal.Multimodal
    // render real images and PNG-encode them — actual codec bytes, no fake
    def png(rgb: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val media = Seq(
      Multimodal.MediaIn(1L, png(0x000000, 8, 6)),  // black
      Multimodal.MediaIn(2L, png(0x000000, 8, 6)),  // identical black
      Multimodal.MediaIn(3L, png(0xFFFFFF, 8, 6)))  // white
      .toDS()
    val feats = Multimodal
      .decodeFeaturesWith(media, Multimodal.ImageIoDecoder.decode)
      .collect().map(f => f.doc_id -> f).toMap
    // real decode: true pixel dimensions, normalized luminance histogram
    assert(feats(1L).width == 8 && feats(1L).height == 6)
    assert(feats(1L).feature(0) == 1.0f)  // all-black → lum bin 0
    assert(feats(3L).feature(15) == 1.0f) // all-white → lum bin 15
    // and the features feed the existing similarity operators unchanged
    val fdf = feats.values.toSeq.map(f => (f.doc_id, f.feature.toSeq)).toDF("id", "feature")
    val sims = fdf.as("a").join(fdf.as("b"), $"a.id" < $"b.id")
      .select($"a.id", $"b.id",
        cosine($"a.feature", $"b.feature").as("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, s) => (a, b) -> s }.toMap
    assert(sims((1L, 2L)) == 1.0)      // identical images
    assert(sims((1L, 3L)) == 0.0)      // orthogonal histograms
  }

  test("mm10 cross-modal audit: identical images with divergent captions flag, true duplicates don't") {
    import graft.multimodal.Multimodal
    // Three 2240-char payloads with IDENTICAL bytes at every sampled
    // position (stride 2240/56 = 40; caption samples are offsets 0 and 40,
    // pinned to the shared words w01/w11), so all three pair up at
    // hamming 0. Captions (first 12 words, 3 chars each + space = 48
    // chars): doc 1 == doc 3 verbatim; doc 2 shares only w01 and w11.
    val capA = (1 to 12).map(i => f"a$i%02d").updated(0, "w01").updated(10, "w11")
      .mkString("", " ", " ")
    val capB = (1 to 12).map(i => f"b$i%02d").updated(0, "w01").updated(10, "w11")
      .mkString("", " ", " ")
    assert(capA.length == 48 && capB.length == 48)
    assert(capA(40) == capB(40) && capA(0) == capB(0))
    val tail = "z" * (2240 - 48)
    val docs = Seq(
      (1L, capA + tail, "s", "en", 2240L),
      (2L, capB + tail, "s", "en", 2240L),
      (3L, capA + tail, "s", "en", 2240L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("mm10").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = Multimodal.mm10CrossmodalAudit(spark, dir)
      .as[(Long, Long, Int, Double, Boolean)].collect()
      .map(x => (x._1, x._2) -> ((x._3, x._4, x._5))).toMap
    assert(r.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // true duplicate: same image, same caption — clean
    assert(r((1L, 3L)) == ((0, 1.0, false)))
    // same image, captions share 2 of 22 distinct words — label noise
    val j = math.floor(2.0 / 22 * 1e4 + 0.5) / 1e4
    assert(r((1L, 2L)) == ((0, j, true)))
    assert(r((2L, 3L)) == ((0, j, true)))
  }

  test("mm4 perceptual hash: chunk blocking finds every close pair; real-image aHash ranks perturbation under replacement") {
    import graft.multimodal.Multimodal
    // stub path: the query's blocked pairs must equal brute force over all
    // pairs of hashes (pigeonhole: hamming<=3 with 4 chunks is complete)
    val pairs = Multimodal.mm4Phash(spark, sfDir)
      .as[(Long, Long, Int)].collect().toSet
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def phash(text: String): Long = {
      val b = text.getBytes("UTF-8")
      val stride = math.max(b.length / 56, 1)
      val samples = (0 until 56).map(k => b(math.min(k * stride, b.length - 1)) & 0xFF)
      val mean = samples.map(_.toLong).sum / 56
      samples.zipWithIndex.foldLeft(0L) { case (acc, (v, k)) =>
        if (v > mean) acc | (1L << k) else acc
      }
    }
    val hs = docs.map { case (id, t) => id -> phash(t) }
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      hd = java.lang.Long.bitCount(ha ^ hb) if hd <= 3
    } yield (a, b, hd)).toSet
    assert(pairs == brute, s"blocked=${pairs.size} brute=${brute.size}")

    // real-image path: a 2-pixel perturbation of a gradient stays within a
    // small aHash distance; a structurally different image lands far away
    def grad(flip: Int, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        32, 28, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 28; x <- 0 until 32) {
        val v0 = (x * 255) / 31
        val v = if (invert) 255 - v0 else v0
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      (0 until flip).foreach(i => img.setRGB(i, 0, 0xFF0000))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def hashOf(bytes: Array[Byte]): Long = Multimodal.aHash56(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    val base = hashOf(grad(0, invert = false))
    val near = hashOf(grad(2, invert = false))
    val far = hashOf(grad(0, invert = true))
    val dNear = java.lang.Long.bitCount(base ^ near)
    val dFar = java.lang.Long.bitCount(base ^ far)
    assert(dNear <= 3, s"perturbed image drifted $dNear bits")
    assert(dFar > 20, s"inverted image only $dFar bits away")
  }

  test("mm1 runs distributed and yields one feature row per document") {
    val out = Multimodal.mm1DecodeStub(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents").count()
    assert(out.count() == docs)
    assert(out.select($"feature_dim").distinct().as[Int].head() == 16)
    // the full feature vector stays available on the typed pipeline
    val media = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text".cast("binary").as("payload"))
      .as[Multimodal.MediaIn]
    val f = Multimodal.decodeFeatures(media).head()
    assert(f.feature.length == 16 && math.abs(f.feature.sum - 1.0f) < 1e-5)
  }

  test("mm2 sampled frames feed the decoder; full frames are exactly 128B") {
    val frames = Multimodal.mm2FrameSample(spark, sfDir)
    assert(frames.filter($"frame_idx" > 0).count() > 0, "needs multi-frame docs")
    // every non-final frame is exactly frameLen; finals are the remainder
    val bad = frames.filter($"frame_idx" < $"n_frames" - 1 && $"frame_len" =!= 128)
    assert(bad.count() == 0)
    // a sampled frame slice decodes like any payload (plumbing composes)
    val media = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text".cast("binary").substr(1, 128).as("payload"))
      .as[Multimodal.MediaIn]
    val f = Multimodal.decodeFeatures(media).head()
    assert(f.byte_len <= 128 && math.abs(f.feature.sum - 1.0f) < 1e-5)
  }

  test("mm3 window energies are exact byte sums; framing covers every byte") {
    // hand-computed windows on a known payload: 300 bytes of value pattern
    val bytes = Array.tabulate(300)(i => (32 + (i % 64)).toByte)
    val media = Seq(Multimodal.MediaIn(7L, bytes)).toDS()
    val wins = Multimodal.audioWindows(media).collect().sortBy(_.win_idx)
    assert(wins.map(_.win_idx).toSeq == Seq(0, 1, 2))
    assert(wins.map(_.win_len).toSeq == Seq(256, 172, 44))
    def ref(start: Int, end: Int) =
      (start until end).map(i => (bytes(i) & 0xFF).toLong).sum
    assert(wins(0).energy == ref(0, 256))
    assert(wins(1).energy == ref(128, 300))
    assert(wins(2).energy == ref(256, 300))
    // oracle precondition: the corpus is ASCII (byte == code point)
    val nonAscii = Tables.load(spark, sfDir, "documents")
      .filter(octet_length($"text") =!= length($"text")).count()
    assert(nonAscii == 0, "mm3 oracle assumes an ASCII corpus")
    // per-doc aggregate: peak is the argmax window, earliest on ties
    val out = Multimodal.mm3AudioEnergy(spark, sfDir)
    val r = out.head()
    assert(r.getLong(1) >= 1 && r.getLong(2) >= r.getLong(4))
  }

  test("mm5 shot boundaries match a per-doc scan over frame energies") {
    val frames = Multimodal.audioWindows(
      Tables.load(spark, sfDir, "documents")
        .select($"doc_id", $"text".cast("binary").as("payload"))
        .as[Multimodal.MediaIn],
      win = 128, hop = 128).collect()
    val expect = frames.groupBy(_.doc_id).map { case (id, ws) =>
      val es = ws.sortBy(_.win_idx).map(_.energy)
      val cuts = es.indices.drop(1).filter(i => math.abs(es(i) - es(i - 1)) > 1500L)
      (id, es.length.toLong, cuts.length + 1L,
        cuts.headOption.map(_.toLong).getOrElse(-1L))
    }.toSeq.sortBy(_._1)
    val got = Multimodal.mm5ShotBoundary(spark, sfDir)
      .select($"doc_id", $"n_frames", $"n_shots",
        coalesce($"first_cut".cast("long"), lit(-1L)))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // at least one doc has a real cut and one has none (the detector
    // separates, rather than firing on everything or nothing)
    assert(expect.exists(_._3 > 1) && expect.exists(_._3 == 1))
  }

  test("mm6 VAD islands match a per-doc scan reference") {
    val frames = Multimodal.audioWindows(
      Tables.load(spark, sfDir, "documents")
        .select($"doc_id", $"text".cast("binary").as("payload"))
        .as[Multimodal.MediaIn],
      win = 128, hop = 128).collect()
    val expect = frames.groupBy(_.doc_id).map { case (id, ws) =>
      val es = ws.sortBy(_.win_idx).map(_.energy)
      val (nw, tot) = (es.length.toLong, es.sum)
      val silent = es.map(e => e * nw * 8L < tot * 7L)
      val runs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cur = 0
      silent.foreach { s0 =>
        if (s0) cur += 1
        else { if (cur > 0) runs += cur; cur = 0 }
      }
      if (cur > 0) runs += cur
      (id, nw, silent.count(identity).toLong, runs.length.toLong,
        if (runs.isEmpty) 0L else runs.max.toLong)
    }.toSeq.sortBy(_._1)
    val got = Multimodal.mm6Vad(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // detector separates: some doc has silence, no doc is all-silence
    assert(expect.exists(_._4 > 0) && expect.forall(r => r._3 < r._2))
  }

  test("v8 filtered search returns only in-predicate neighbors, ranked like v1 on the subset") {
    val en = Tables.load(spark, sfDir, "documents")
      .filter($"lang" === "en").select($"doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(en.nonEmpty && en.size < 500, "filter must be selective")
    val v8 = Similarity.v8FilteredAnn(spark, sfDir).collect()
    assert(v8.forall(r => en.contains(r.getLong(2))),
      "every neighbor must satisfy the metadata predicate")
    // per query: ranks contiguous from 1, sims non-increasing
    v8.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length).toSeq)
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse, s"query $q sims not descending")
    }
    // agreement with v1 on queries where v1's top-k is entirely English:
    // there the filter is a no-op and the two rankings must coincide
    val v1 = Similarity.v1KnnBrute(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    v1.foreach { case (q, rows) =>
      if (rows.forall(r => en.contains(r.getLong(2)))) {
        val a = rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(3))).toSeq
        val b = v8.filter(_.getLong(0) == q).sortBy(_.getInt(1))
          .map(r => (r.getLong(2), r.getDouble(3))).toSeq
        assert(a == b, s"query $q: filtered ranking diverged on all-English top-k")
      }
    }
  }

  test("v9 rerank: recall >= coarse-only v5; sims agree with v1 on shared pairs; stage 2 reorders") {
    def topSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val exactDf = Similarity.v1KnnBrute(spark, sfDir)
    val exact = topSet(exactDf)
    val coarse = topSet(Similarity.v5Int8Ann(spark, sfDir))
    val v9df = Similarity.v9Rerank(spark, sfDir)
    val v9rows = v9df.collect()
    val v9 = v9rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val r5 = exact.intersect(coarse).size.toDouble / exact.size
    val r9 = exact.intersect(v9).size.toDouble / exact.size
    assert(r9 >= r5, s"rerank recall $r9 fell below coarse-only $r5")
    assert(r9 >= 0.9, s"two-stage recall too low: $r9")
    // shared (q, n) pairs carry v1's exact sim — the rerank scores with
    // the identical float spelling, not the quantized approximation
    val v1Sims = exactDf.collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(v9rows.forall { r =>
      v1Sims.get((r.getLong(0), r.getLong(2))).forall(_ == r.getDouble(3)) })
    // the second stage is load-bearing: some kept row moved rank
    assert(v9rows.exists(r => r.getInt(1) != r.getInt(4)))
  }

  test("mm7 resize: stride picks, both checksums and the payload md5 match a scan reference") {
    val base = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val expect = base.flatMap { case (id, tx) =>
      val b = tx.getBytes("UTF-8")
      val inH = b.length / 32
      if (inH < 2) None
      else {
        val outH = inH / 2
        val out = Array.tabulate(outH * 16)(p => b((p / 16) * 64 + (p % 16) * 2))
        val bsum = out.map(x => (x & 0xFF).toLong).sum
        val wsum = out.zipWithIndex
          .map { case (px, i) => (i + 1).toLong * (px & 0xFF) }.sum
        val md = java.security.MessageDigest.getInstance("MD5").digest(out)
          .map("%02x".format(_)).mkString
        Some((id, inH.toLong, outH.toLong, 16L, outH * 16L, bsum, wsum, md))
      }
    }.toSeq.sortBy(_._1)
    val got = Multimodal.mm7Resize(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Long, Long, String)].collect().toSeq
    assert(got == expect)
    // the payload genuinely shrinks 4x: out bytes vs full-row in bytes
    assert(expect.nonEmpty && expect.forall(r => r._5 * 4 <= r._2 * 32))
  }

  test("v10 k-means: full Lloyd loop matches an in-memory replay; balanced sample is the hash-order top-quota per cluster") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    def dotd(c: Array[Double], v: Seq[Float]): Double =
      c.indices.foldLeft(0.0)((acc, i) => acc + v(i).toDouble * c(i))
    def assign(cents: Array[Array[Double]]): Map[Long, Int] =
      vecs.map { case (id, v) =>
        val scores = cents.map(c => dotd(c, v))
        id -> scores.indexOf(scores.max) // first max = lowest cell, Spark's array_position tie rule
      }.toMap

    // in-memory replay of the EXACT training recipe: normalized lowest-id
    // seeds, 3 assign/mean rounds, 4-decimal floor-rounding, empty-cell carry
    var cents = vecs.filter(_._1 < 8).sortBy(_._1).map { case (_, v) =>
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      v.map(x => if (n == 0) 0.0 else x.toDouble / n).toArray
    }
    for (_ <- 1 to 3) {
      val byCell = vecs.groupBy { case (id, _) => assign(cents)(id) }
      cents = Array.tabulate(8) { cell =>
        byCell.get(cell) match {
          case None => cents(cell)
          case Some(members) =>
            Array.tabulate(64) { pos =>
              val m = members.map(_._2(pos).toDouble).sum / members.length
              math.floor(m * 1e4 + 0.5) / 1e4
            }
        }
      }
    }
    val got = graft.operators.Similarity.kmeansCentroids(spark, sfDir)
    assert(got.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)

    // expected output: final assignment -> sizes -> md5-ordered top-25/cluster
    val fin = assign(cents)
    val sizes = fin.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = fin.toSeq.groupBy(_._2).toSeq.flatMap { case (cluster, members) =>
      members.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(25)
        .zipWithIndex.map { case (id, i) =>
          (cluster, sizes(cluster), i + 1, id)
        }
    }.sortBy(r => (r._1, r._3))
    val out = graft.operators.Similarity.v10Kmeans(spark, sfDir)
      .as[(Int, Long, Int, Long)].collect().toSeq
    assert(out == expect)
    assert(sizes.values.sum == vecs.length) // clusters partition the corpus
    // determinism across invocations
    val again = graft.operators.Similarity.v10Kmeans(spark, sfDir)
      .as[(Int, Long, Int, Long)].collect().toSeq
    assert(out == again)
  }

  test("v11 recall eval: per-query overlap equals the v1/v2 set intersection") {
    val exact = graft.operators.Similarity.v1KnnBrute(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = graft.operators.Similarity.v2AnnLsh(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = exact.keys.toSeq.sorted.map { q =>
      val ov = exact(q).intersect(approx.getOrElse(q, Set.empty)).size.toLong
      (q, exact(q).size.toLong, approx.getOrElse(q, Set.empty).size.toLong,
        ov, math.floor(ov / 10.0 * 10000.0 + 0.5) / 10000.0)
    }
    val got = graft.operators.Similarity.v11RecallEval(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    // the index is useful on this corpus: macro recall meaningfully > 0,
    // and recall is a genuine measurement (not all 1.0 — approximate)
    val macroRecall = got.map(_._5).sum / got.length
    assert(macroRecall > 0.3, s"macro recall $macroRecall")
    assert(got.exists(_._5 < 1.0) || got.forall(_._3 == 10L))
  }

  test("v12 IVF append: frozen-index assignment and drift match an in-memory replay") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.sortBy(_._1)
    val split = 400L
    val ex = vecs.filter(_._1 < split)
    val inc = vecs.filter(_._1 >= split)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val seeds = ex.filter(_._1 < 16).map(_._2).map { v =>
      val n = math.sqrt(dot(v, v))
      v.map(x => if (n == 0) 0.0 else x / n)
    }
    def argmax(scores: Seq[Double]) = scores.indexOf(scores.max)
    val a0 = ex.map { case (_, v) => (argmax(seeds.map(dot(v, _)).toSeq), v) }
    val refined = a0.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, m) =>
      val dims = m.head._2.indices.map { i =>
        math.floor(m.map(_._2(i)).sum / m.size * 1e4 + 0.5) / 1e4
      }.toArray
      dims
    }.toArray
    val exCells = ex.map { case (_, v) => argmax(refined.map(dot(v, _)).toSeq) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val incAssign = inc.map { case (_, v) =>
      val scores = refined.map(dot(v, _)).toSeq
      val c = argmax(scores)
      val csim = scores(c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(refined(c), refined(c))))
      (c, csim)
    }
    val expect = exCells.keys.toSeq.sorted.map { c =>
      val ins = incAssign.filter(_._1 == c).map(_._2)
      val drift =
        if (ins.isEmpty) None
        else Some(math.floor(ins.sorted.sum / ins.size * 1e4 + 0.5) / 1e4)
      (c, exCells(c), ins.size.toLong, drift)
    }
    val got = graft.operators.Similarity.v12IvfAppend(spark, sfDir)
      .as[(Int, Long, Long, Option[Double])].collect().toSeq
    assert(got == expect)
    // the index genuinely partitions both sides and drift is a cosine
    assert(got.map(_._2).sum == ex.length && got.map(_._3).sum == inc.length)
    got.flatMap(_._4).foreach(dr => assert(dr >= -1.0 && dr <= 1.0))
  }

  test("mm8 shard export: manifest re-derives exactly from the bytes written to disk") {
    import graft.multimodal.Multimodal
    val out = java.nio.file.Files.createTempDirectory("mm8_shards").toString + "/set"
    val manifest = Multimodal.writeShards(spark, sfDir, out)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // re-derive the manifest from the parquet actually written
    val rederived = spark.read.parquet(out)
      .select($"shard_id".cast("long"), $"doc_id", $"payload")
      .as[(Long, Long, Array[Byte])].collect()
      .groupBy(_._1).toSeq.map { case (shard, rows) =>
        val sig = rows.map { case (_, _, p) =>
          graft.expressions.PortableHash.md5Lower62(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(p)) & 1099511627775L
        }.sum
        (shard, rows.length.toLong, rows.map(_._3.length.toLong).sum,
          rows.map(_._2).min, rows.map(_._2).max, sig)
      }.sortBy(_._1)
    assert(manifest == rederived)
    // packing invariant (the sequential-packer rule): shard ids are
    // consecutive from 0, and every non-final shard's cumulative byte
    // total crosses its boundary — shard k only closes once (k+1)*B is
    // reached (the straddling sample stays with shard k)
    assert(manifest.map(_._1) == manifest.indices.map(_.toLong))
    val cums = manifest.map(_._3).scanLeft(0L)(_ + _).tail
    cums.init.zipWithIndex.foreach { case (c, k) =>
      assert(c >= (k + 1) * Multimodal.ShardBytes, s"shard $k closed early at $c")
    }
    assert(manifest.map(_._2).sum == spark.read.parquet(out).count())
  }

  test("v14 IVF+PQ: neighbors come only from probed cells; sims agree with v6 on shared pairs; recall reasonable") {
    val got = graft.operators.Similarity.v14IvfPq(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    // in-memory replay of the coarse quantizer (v4's recipe: normalized
    // seeds, one Lloyd step, 4-decimal rounding) to recover cell routing
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    val seeds = vecs.filter(_._1 < 16).map(_._2).map { v =>
      val n = math.sqrt(dot(v, v))
      v.map(x => if (n == 0) 0.0 else x / n)
    }
    def argmax(scores: Seq[Double]) = scores.indexOf(scores.max)
    val a0 = vecs.map { case (_, v) => (argmax(seeds.map(dot(v, _)).toSeq), v) }
    val refined = a0.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, m) =>
      m.head._2.indices.map { i =>
        math.floor(m.map(_._2(i)).sum / m.size * 1e4 + 0.5) / 1e4
      }.toArray
    }.toArray
    def cellOf(v: Array[Double]) = argmax(refined.map(dot(v, _)).toSeq)
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    def probes(v: Array[Double]): Set[Int] =
      refined.indices.map(c => (-dot(v, refined(c)), c)).sorted.take(4)
        .map(_._2).toSet
    val vecOf = vecs.toMap
    got.foreach { case (q, _, n, _) =>
      assert(probes(vecOf(q)).contains(cells(n)),
        s"neighbor $n of query $q not in a probed cell")
    }
    // ADC sims are v6's math: shared (q, n) pairs carry identical sims
    val v6sims = graft.operators.Similarity.v6PqAnn(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val shared = got.filter(r => v6sims.contains((r._1, r._3)))
    assert(shared.nonEmpty)
    shared.foreach(r => assert(r._4 == v6sims((r._1, r._3)), s"sim drift $r"))
    // the composed index still finds a useful share of the exact top-10
    val exact = graft.operators.Similarity.v1KnnBrute(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val rec = got.groupBy(_._1).map { case (q, rows) =>
      rows.map(_._3).toSet.intersect(exact(q)).size / 10.0
    }
    assert(rec.sum / rec.size > 0.15,
      s"mean recall collapsed: ${rec.sum / rec.size}")
  }

  test("v13 truncation eval: overlaps match an in-memory prefix replay; full-width recall is 1") {
    val got = graft.operators.Similarity.v13TruncationEval(spark, sfDir)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble) }.sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double], dm: Int) =
      (0 until dm).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def topK(dm: Int): Map[Long, Set[Long]] =
      vecs.filter(_._1 < 8).map { case (q, qv) =>
        q -> vecs.filter(_._1 != q).map { case (n, nv) =>
          val sim = dot(qv, nv, dm) /
            (math.sqrt(dot(qv, qv, dm)) * math.sqrt(dot(nv, nv, dm)))
          (n, sim)
        }.sortBy { case (n, sim) => (-sim, n) }.take(10).map(_._1).toSet
      }.toMap
    val full = topK(64)
    val expect = Seq(8, 16, 32).flatMap { dm =>
      val t = topK(dm)
      full.keys.toSeq.sorted.map { q =>
        val ov = (t(q) & full(q)).size.toLong
        (dm.toLong, q, ov, math.floor(ov / 10.0 * 1e4 + 0.5) / 1e4)
      }
    }
    assert(got == expect)
    // sanity: a 64-dim truncation would be the identity (recall 1.0) and
    // mean recall must improve substantially from 8 to 32 dims
    def mean(dm: Long) = {
      val rs = got.filter(_._1 == dm).map(_._4); rs.sum / rs.size
    }
    assert(mean(32L) > mean(8L),
      s"recall must grow with prefix width: ${mean(8L)} vs ${mean(32L)}")
  }

  test("mm9 pair audit: planted orphans, unpaired docs, and bad dims are all counted") {
    // fixture: 2 sources; doc 3 has no vector; vec 99 has no doc; doc 2's
    // vector has the wrong dimensionality (paired but untrainable)
    val dir = java.nio.file.Files.createTempDirectory("mm9_fix").toString
    Seq((1L, "a", "s1", "x", 1L), (2L, "b", "s1", "x", 1L),
      (3L, "c", "s2", "x", 1L))
      .toDF("doc_id", "text", "source", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((1L, Seq.fill(64)(0.5f), 0), (2L, Seq.fill(32)(0.5f), 0),
      (99L, Seq.fill(64)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Multimodal.mm9PairAudit(spark, dir)
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    assert(got == Seq(
      ("s1", 2L, 2L, 1.0, 1L),      // both paired, one to a 32-dim vec
      ("s2", 1L, 0L, 0.0, 0L),      // doc 3 unpaired
      ("~vectors", 3L, 2L, 0.6667, 1L))) // vec 99 orphaned, vec 2 bad dim
    // corpus run: the ~vectors row exists and every rate is in [0, 1]
    val corpus = Multimodal.mm9PairAudit(spark, sfDir)
      .as[(String, Long, Long, Double, Long)].collect().toSeq
    assert(corpus.exists(_._1 == "~vectors"))
    assert(corpus.forall(r => r._4 >= 0.0 && r._4 <= 1.0))
    assert(corpus.forall(r => r._3 <= r._2))
  }

  test("mm11 plan: the frame-hash inverted index joins by equality, never a cartesian") {
    val q = graft.multimodal.Multimodal.mm11VideoNeardup(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"frame-pair stage degraded to all-pairs:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"),
      s"expected the hash-bucket equality join:\n$plan")
  }

  test("mm11 video near-dup: shared sampled frames match, ubiquitous frames never block") {
    // deterministic 128-char "frames" with varied content (a constant
    // frame would aHash to 0 and alias every other constant frame)
    def blk(s: Int): String =
      (0 until 128).map(i => ('a' + ((i * s + s) % 26)).toChar).mkString
    val mk = (frames: Seq[Int]) => frames.map(blk).mkString
    val planted = Seq(
      (0L, mk(Seq(1, 2, 3, 4))),  // sampled frames: blk1, blk3
      (1L, mk(Seq(1, 2, 3, 4))),  // identical -> overlap 1.0 with 0
      (2L, mk(Seq(1, 2, 9, 10))), // shares blk1 only -> overlap 0.5
      (3L, mk(Seq(5, 6, 7, 8))))  // disjoint -> no pair
    // 25 videos all opening with the SAME frame: its df (25) exceeds the
    // blocking cap, so none of the C(25,2) pairs may surface
    val common = (0 until 25).map(i => (100L + i, mk(Seq(20, 21 + i % 3))))
    val dir = java.nio.file.Files.createTempDirectory("mm11").toString
    (planted ++ common).map { case (id, t) => (id, t, "x", 1L) }
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.mm11VideoNeardup(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    assert(byPair((0L, 1L))._3 == 2L && byPair((0L, 1L))._6 == 1.0)
    assert(byPair((0L, 2L))._3 == 1L && byPair((0L, 2L))._6 == 0.5)
    assert(byPair((1L, 2L))._6 == 0.5)
    assert(!got.exists(r => r._1 == 3L || r._2 == 3L), "disjoint video paired")
    assert(!got.exists(r => r._1 >= 100L && r._2 >= 100L),
      s"df-capped common frame produced pairs: $got")
    // corpus run: overlap within (0, 1], shared bounded by the smaller set
    val corpus = Multimodal.mm11VideoNeardup(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    corpus.foreach { r =>
      assert(r._3 <= math.min(r._4, r._5) && r._6 > 0.0 && r._6 <= 1.0)
      assert(2 * r._3 >= math.min(r._4, r._5))
    }
  }

  test("v16 knn join matches a full in-memory IVF + kNN replay") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    // v4's build: normalized low-id seeds, one Lloyd step, 4-dec means
    val seeds = vecs.filter(_._1 < 16).map(_._2).map { v =>
      val n = math.sqrt(dotd(v, v)); v.map(x => if (n == 0) 0.0 else x / n)
    }
    def argmaxCell(cents: Array[Array[Double]], v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) => (dotd(v, c), i) }
        .maxBy { case (sc, i) => (sc, -i) }._2
    val a0 = vecs.map { case (id, v) => (id, v, argmaxCell(seeds, v)) }
    val refined = a0.groupBy(_._3).map { case (cell, members) =>
      cell -> Array.tabulate(vecs.head._2.length) { p =>
        val m = members.map(_._2(p)).sum / members.size
        math.floor(m * 1e4 + 0.5) / 1e4
      }
    }.toArray.sortBy(_._1).map(_._2)
    val assigned = vecs.map { case (id, v) => (id, v, argmaxCell(refined, v)) }
    val expect = assigned.flatMap { case (id, v, cell) =>
      val nsq = dotd(v, v)
      assigned.filter(o => o._3 == cell && o._1 != id)
        .map { case (oid, ov, _) =>
          (oid, dotd(v, ov) / (math.sqrt(nsq) * math.sqrt(dotd(ov, ov)))) }
        .sortBy { case (oid, sim) => (-sim, oid) }.take(3).zipWithIndex
        .map { case ((oid, sim), i) =>
          (id, i + 1, oid, math.floor(sim * 1e4 + 0.5) / 1e4) }
    }.sortBy(r => (r._1, r._2)).toSeq
    val got = Similarity.v16KnnJoin(spark, sfDir)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got == expect)
  }

  test("v17 hard negatives: cross-label only, consistent margins, v4-prefix agreement") {
    val labels = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    val rows = Similarity.v17HardNegatives(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      // every negative's label differs from the query's, and the stored
      // n_label is the base table's
      rs.foreach { case (_, _, nId, nLabel, _, _) =>
        assert(nLabel == labels(nId) && nLabel != labels(q))
      }
      // ranks dense from 1, sims descending
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to rs.length))
      val sims = sorted.map(_._5)
      sims.zip(sims.tail).foreach { case (a, b) => assert(a >= b) }
      // margin + sim reconstructs ONE pos_sim per query (all rows agree
      // to rounding), and all margins share null-ness
      val recon = sorted.flatMap { case (_, _, _, _, sim, m) => m.map(_ + sim) }
      assert(recon.isEmpty || recon.length == rs.length)
      recon.zip(recon.tail).foreach { case (a, b) => assert(math.abs(a - b) < 2e-4) }
    }
    // differential vs v4: among v4's top-10 (same probe set, same ranking)
    // the cross-label rows in rank order must be a prefix of v17's negatives
    val v4 = Similarity.v4IvfAnn(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val v4Negs = v4.filter(_._1 == q).sortBy(_._2)
        .filter(r => labels(r._3) != labels(q)).map(r => (r._3, r._4))
      val mine = rs.sortBy(_._2).map(r => (r._3, r._5))
      v4Negs.take(mine.length).zip(mine).foreach { case (a, b) => assert(a == b) }
    }
  }

  test("v19 nprobe sweep: monotone curve; nprobe=4 row agrees with v4/v1 overlap") {
    val rows = Similarity.v19NprobeSweep(spark, sfDir)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(rows.map(_._1) == Seq(1, 2, 4, 8))
    // more probes never scan fewer candidates or find fewer true neighbors
    rows.sliding(2).foreach { case Seq(a, b) =>
      assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4, s"$a vs $b")
    case _ => }
    // the nprobe=4 operating point must reproduce v4-vs-v1 overlap exactly
    val v4 = Similarity.v4IvfAnn(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val v1 = Similarity.v1KnnBrute(spark, sfDir)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val overlap4 = (v4 & v1).size.toLong
    assert(rows.find(_._1 == 4).get._3 == overlap4)
    assert(rows.last._4 > 0.5, s"nprobe=8 recall suspiciously low: ${rows.last}")
  }

  test("v17 plan: candidates come from a broadcast cell-equality join, never a cartesian") {
    val q = Similarity.v17HardNegatives(spark, sfDir)
    q.collect() // finalize the adaptive plan before inspecting it
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set must broadcast to the corpus cells:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus-wide pair stage crept in:\n$plan")
  }

  test("v18 prototypicality matches a full in-memory replay of the build + rank + cutoff") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val seeds = vecs.filter(_._1 < 16).map(_._2).map { v =>
      val n = math.sqrt(dotd(v, v)); v.map(x => if (n == 0) 0.0 else x / n)
    }
    def argmaxCell(cents: Array[Array[Double]], v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) => (dotd(v, c), i) }
        .maxBy { case (sc, i) => (sc, -i) }._2
    val a0 = vecs.map { case (id, v) => (id, v, argmaxCell(seeds, v)) }
    val refined = a0.groupBy(_._3).map { case (cell, members) =>
      cell -> Array.tabulate(vecs.head._2.length) { p =>
        val m = members.map(_._2(p)).sum / members.size
        math.floor(m * 1e4 + 0.5) / 1e4
      }
    }.toArray.sortBy(_._1).map(_._2)
    val assigned = vecs.map { case (id, v) => (id, v, argmaxCell(refined, v)) }
    val expect = assigned.groupBy(_._3).toSeq.flatMap { case (cell, members) =>
      val scored = members.map { case (id, v, _) =>
        val c = refined(cell)
        (id, dotd(v, c) / (math.sqrt(dotd(v, v)) * math.sqrt(dotd(c, c))))
      }.sortBy { case (id, p) => (-p, id) }
      val cnt = scored.length
      scored.zipWithIndex.map { case ((id, p), i) =>
        (id, cell, math.floor(p * 1e4 + 0.5) / 1e4, i + 1, (i + 1) > (cnt + 4) / 5)
      }
    }.sortBy(_._1)
    val got = Similarity.v18Prototypicality(spark, sfDir)
      .as[(Long, Int, Double, Int, Boolean)].collect().toSeq
    assert(got == expect)
    // the pruning contract: every cell keeps strictly less than it had,
    // and what is pruned is exactly the ceil(cnt/5) most prototypical
    got.groupBy(_._2).foreach { case (_, cellRows) =>
      val pruned = cellRows.filter(!_._5)
      assert(pruned.size == (cellRows.size + 4) / 5)
      assert(pruned.map(_._4).max == pruned.size)
    }
  }

  test("v20 bitext mining matches a full in-memory build + margin replay") {
    val langs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
      .map { case (id, e) => id -> e.map(_.toDouble).toArray }
    def dotd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val seeds = vecs.filter(_._1 < 16).map(_._2).map { v =>
      val n = math.sqrt(dotd(v, v)); v.map(x => if (n == 0) 0.0 else x / n)
    }
    def argmaxCell(cents: Array[Array[Double]], v: Array[Double]): Int =
      cents.zipWithIndex.map { case (c, i) => (dotd(v, c), i) }
        .maxBy { case (sc, i) => (sc, -i) }._2
    val a0 = vecs.map { case (id, v) => (id, v, argmaxCell(seeds, v)) }
    val refined = a0.groupBy(_._3).map { case (cell, members) =>
      cell -> Array.tabulate(vecs.head._2.length) { p =>
        val m = members.map(_._2(p)).sum / members.size
        math.floor(m * 1e4 + 0.5) / 1e4
      }
    }.toArray.sortBy(_._1).map(_._2)
    val assigned = vecs.map { case (id, v) => (id, v, argmaxCell(refined, v)) }
    // bipartite per-cell pair sims
    val pairs: Seq[(Long, Long, Double)] =
      assigned.groupBy(_._3).values.toSeq.flatMap { members =>
        val xs = members.filter(m => langs(m._1) != "en")
        val ys = members.filter(m => langs(m._1) == "en")
        for ((xid, xv, _) <- xs.toSeq; (yid, yv, _) <- ys.toSeq) yield
          (xid, yid,
            dotd(xv, yv) / (math.sqrt(dotd(xv, xv)) * math.sqrt(dotd(yv, yv))))
      }
    // sorted-fold k-NN means (ascending sum, the engine's fold order)
    def meanK(top: Seq[Double]): Double =
      top.sorted.foldLeft(0.0)(_ + _) / top.size
    val mx: Map[Long, Double] = pairs.groupBy(_._1).map { case (x, ps) =>
      x -> meanK(ps.sortBy(p => (-p._3, p._2)).take(4).map(_._3)) }
    val my: Map[Long, Double] = pairs.groupBy(_._2).map { case (y, ps) =>
      y -> meanK(ps.sortBy(p => (-p._3, p._1)).take(4).map(_._3)) }
    def sr(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4
    val expect: Seq[(Long, Long, Double, Double)] =
      pairs.groupBy(_._1).map { case (x, ps) =>
        val scored: Seq[(Long, Double, Double)] =
          ps.map { case (_, y, s) => (y, s, 2.0 * s / (mx(x) + my(y))) }
        val (y, s, m) = scored.minBy { case (yid, _, mg) => (-mg, yid) }
        (x, y, sr(s), sr(m))
      }.toSeq.sortBy(_._1)
    val got = Similarity.v20BitextMining(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(got.nonEmpty && got == expect)
    // hubness sanity: every reported margin is the x's maximum
    assert(got.map(_._4).forall(m => m > 0))
  }

  test("v21 hybrid RRF: dense side is v1 verbatim, BM25 side matches an in-memory replay, fusion recomputes") {
    val out = Similarity.v21HybridRrf(spark, sfDir).collect()
    assert(out.nonEmpty)
    // dense ranks agree with v1's top-10 exactly
    val v1 = Similarity.v1KnnBrute(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val rd = if (r.isNullAt(3)) None else Some(r.getInt(3))
      assert(rd == v1.get(key), s"dense rank mismatch at $key: $rd vs ${v1.get(key)}")
    }
    // rrf recomputes from the rank columns, and every fused row came
    // from at least one ranker
    out.foreach { r =>
      val rd = if (r.isNullAt(3)) None else Some(r.getInt(3))
      val rb = if (r.isNullAt(4)) None else Some(r.getInt(4))
      assert(rd.nonEmpty || rb.nonEmpty)
      val expect = rd.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        rb.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(r.getDouble(5) == math.floor(expect * 1e6 + 0.5) / 1e6,
        s"rrf mismatch at ${(r.getLong(0), r.getLong(2))}")
    }
    // BM25 side matches a full in-memory replay (tf, df, dl, avgdl, the
    // t26 term expression, top-10 per query by (score desc, id asc))
    val toks = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.lowerTokens($"text"))
      .as[(Long, Seq[String])].collect()
    val dl = toks.map { case (id, t) => id -> t.length.toLong }.toMap
    val nDocs = toks.length.toLong
    val avgdl = dl.values.sum.toDouble / nDocs
    val tf: Map[(Long, String), Long] = toks.flatMap { case (id, t) =>
      t.groupBy(identity).map { case (w, g) => (id, w) -> g.length.toLong }
    }.toMap
    val df: Map[String, Long] = tf.keys.groupBy(_._2).map { case (w, g) => w -> g.size.toLong }
    def bm25(qTokens: Set[String], id: Long): Double = {
      val terms = qTokens.toSeq.flatMap { w =>
        tf.get((id, w)).map { f =>
          math.log(1.0 + (nDocs - df(w) + 0.5) / (df(w) + 0.5)) / math.log(2.0) *
            ((f * 2.2) / (f + 1.2 * (0.25 + 0.75 * (dl(id) / avgdl))))
        }
      }
      terms.sorted.sum
    }
    val expectB: Map[(Long, Long), Int] = toks.filter(_._1 < 8).flatMap { case (qid, qt) =>
      val scores = toks.filter(_._1 != qid)
        .map { case (id, _) => id -> bm25(qt.toSet, id) }
        .filter(_._2 > 0.0)
      scores.sortBy { case (id, sc) => (-sc, id) }.take(10).zipWithIndex
        .map { case ((id, _), i) => (qid, id) -> (i + 1) }
    }.toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      val rb = if (r.isNullAt(4)) None else Some(r.getInt(4))
      assert(rb == expectB.get(key), s"bm25 rank mismatch at $key: $rb vs ${expectB.get(key)}")
    }
    // a doc ranked first by BOTH rankers must fuse to rank 1
    out.filter(r => !r.isNullAt(3) && !r.isNullAt(4) &&
        r.getInt(3) == 1 && r.getInt(4) == 1)
      .foreach(r => assert(r.getInt(1) == 1))
  }

  test("v22 hybrid eval: recall recomputes, ground truth equals a naive full-rank fusion replay") {
    import org.apache.spark.sql.expressions.Window
    val out = Similarity.v22HybridEval(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.length == 8)
    out.foreach { case (q, nt, na, no, r) =>
      assert(nt == 3L && na <= 3L && no <= math.min(nt, na), s"q$q bounds")
      assert(r == math.floor(no.toDouble / 3 * 1e4 + 0.5) / 1e4, s"q$q recall")
    }
    // ground truth replayed with NAIVE per-query windows (full ranks, no
    // keyedRank) and fused; overlap counts must match the operator's
    def naiveRank(df: org.apache.spark.sql.DataFrame, ord: String,
        rc: String) =
      df.withColumn(rc, row_number().over(Window.partitionBy($"q_id")
        .orderBy(col(ord).desc, $"doc_id".asc)))
        .select($"q_id", $"doc_id", col(rc))
    val fusedTruth = naiveRank(Similarity.v21DenseSims(spark, sfDir), "sim", "rd")
      .join(naiveRank(Similarity.v21Bm25Scores(spark, sfDir), "score", "rb"),
        Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + $"rd"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + $"rb"), lit(0.0)))
      .withColumn("rt", row_number().over(Window.partitionBy($"q_id")
        .orderBy($"rrf".desc, $"doc_id".asc)))
      .filter($"rt" <= 3)
      .select($"q_id", $"doc_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.v21HybridRrf(spark, sfDir)
      .select($"q_id", $"doc_id").as[(Long, Long)].collect().toSet
    val expectOverlap = fusedTruth.groupBy(_._1).view
      .mapValues(_.count(approx.contains)).toMap
    out.foreach { case (q, _, _, no, _) =>
      assert(no == expectOverlap(q).toLong,
        s"q$q overlap $no != replay ${expectOverlap(q)}")
    }
  }

  test("mm12 audio near-dup: exact copies pair at 1.0 and fingerprints are gain-invariant") {
    import graft.multimodal.Multimodal
    // pseudo-audio: byte streams long enough for 16-delta shingles at
    // the 16/8 framing (>= 26 windows -> >= 200 bytes), content varied
    // so energies actually move between windows
    def wave(seed: Int, n: Int): String =
      (0 until n).map(i => ('a' + ((i * i + seed * (i + 3)) % 26)).toChar).mkString
    // gain shift: every byte +1 (stays ASCII) — all window energies move
    // by the window length, delta SIGNS are preserved where window
    // lengths match, so the full-window fingerprints survive
    def gain(s: String): String = s.map(c => (c + 1).toChar)
    val a = wave(1, 400)
    val planted = Seq(
      (0L, a),           // base
      (1L, a),           // exact copy -> overlap 1.0 with 0
      (2L, gain(a)),     // gain-shifted copy -> shares the full-window fps
      (3L, wave(9, 400)))// unrelated -> no pair with 0
    val dir = java.nio.file.Files.createTempDirectory("mm12").toString
    planted.map { case (id, t) => (id, t, "x", 1L) }
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.mm12AudioNeardup(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    assert(byPair((0L, 1L))._6 == 1.0, s"exact copy must overlap 1.0: $got")
    // the gain-shifted copy keeps >= half of the base's fingerprints
    // (only the trailing PARTIAL window's energy moves differently)
    assert(byPair.contains((0L, 2L)), s"gain-shifted copy not paired: $got")
    assert(byPair((0L, 2L))._6 >= 0.5)
    assert(!got.exists(r => r._1 == 3L || r._2 == 3L), "unrelated stream paired")
    // serial replay of the fingerprint pipeline on the base stream
    val bytes = a.getBytes("UTF-8")
    val nw = math.max(1, math.ceil(bytes.length / 8.0).toInt)
    val energies = (0 until nw).map { i =>
      bytes.slice(i * 8, math.min(i * 8 + 16, bytes.length))
        .map(b => (b & 0xff).toLong).sum
    }
    val sgn = energies.sliding(2).map(p => if (p(1) > p(0)) 1L else 0L).toSeq
    val fps = sgn.sliding(16).filter(_.size == 16)
      .map(s => s.zipWithIndex.map { case (b, k) => b << k }.sum).toSet
    assert(byPair((0L, 1L))._4 == fps.size.toLong,
      "Spark per-doc fp set size != serial replay")
  }

  test("v23 cell shard: hard cap holds, shard counts exact, hot cell splits") {
    import spark.implicits._
    def capFor(n: Long) = (5L * n + 63L) / 64L
    // the real corpus: every cell's max shard is provably <= cap and the
    // shard count is exactly ceil(size / cap)
    val e = Tables.load(spark, sfDir, "embeddings")
    val cap = capFor(e.count())
    val rows = Similarity.v23CellShard(spark, sfDir)
      .as[(Int, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (cell, nBefore, nShards, shardMax, c) =>
      assert(c == cap, s"cell $cell cap $c != $cap")
      assert(shardMax <= cap, s"cell $cell shard_max $shardMax > cap $cap")
      assert(nShards == (nBefore + cap - 1) / cap,
        s"cell $cell: $nShards shards for $nBefore rows at cap $cap")
    }
    // planted degenerate clustering: 200 identical vectors (plus the 16
    // distinct seeds the quantizer needs) — one cell swallows the mass
    // and MUST split into capped shards instead of staying one hot key
    val rnd = new scala.util.Random(11)
    val seeds = (0L until 16L).map(i =>
      (i, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
    val hot = Seq.fill(64)(rnd.nextFloat() * 2f - 1f)
    val mass = (16L until 216L).map(i => (i, hot))
    val dir = java.nio.file.Files.createTempDirectory("graft_v23_skew").toString
    (seeds ++ mass).toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val skew = Similarity.v23CellShard(spark, dir)
      .as[(Int, Long, Long, Long, Long)].collect()
    val scap = capFor(216L)
    val hotCell = skew.maxBy(_._2)
    assert(hotCell._2 >= 200L, "fixture lost its skew")
    assert(hotCell._3 == (hotCell._2 + scap - 1) / scap && hotCell._3 > 1,
      s"hot cell must split: ${hotCell._3} shards for ${hotCell._2} at cap $scap")
    assert(skew.forall(_._4 <= scap), "cap violated on the skewed corpus")
  }

  test("v24 ann hybrid: recall bounds hold, and probing ALL cells reproduces v22 exactly") {
    val out = Similarity.v24AnnHybrid(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(out.length == 8)
    out.foreach { case (q, nt, na, no, r) =>
      assert(nt == 3L && na <= 3L && no <= math.min(nt, na), s"q$q bounds")
      assert(r == math.floor(no.toDouble / 3 * 1e4 + 0.5) / 1e4, s"q$q recall")
    }
    // the differential proof that the ONLY approximation is the probe
    // budget: with nprobe = k (all 16 cells probed) the ANN shortlist IS
    // the brute dense top-K, so the harness must reproduce v22's output
    // bit-for-bit — same truth, same fusion, same recall
    val full = Similarity.v24AnnHybridEval(spark, sfDir, nprobe = 16)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val v22 = Similarity.v22HybridEval(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(full == v22, "v24(nprobe=all) != v22 brute hybrid eval")
  }

  test("v25 hybrid serve: no corpus-sized rank list in the plan; probing ALL cells reproduces v21") {
    val out = Similarity.v25HybridServe(spark, sfDir)
      .as[(Long, Int, Long, Option[Int], Option[Int], Double)].collect()
    assert(out.map(_._1).distinct.length == 8)
    out.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length), s"q$q ranks")
      assert(rows.length <= 3, s"q$q fused list size")
    }
    // the serving guarantee: with every cell probed the ANN shortlist IS
    // the brute dense top-K, so the served list must equal v21's
    // brute-fused list bit-for-bit — the only approximation is nprobe
    val full = Similarity.v25HybridServeAt(spark, sfDir, nprobe = 16)
      .as[(Long, Int, Long, Option[Int], Option[Int], Double)].collect().toSeq
    val v21 = Similarity.v21HybridRrf(spark, sfDir)
      .as[(Long, Int, Long, Option[Int], Option[Int], Double)].collect().toSeq
    assert(full == v21, "v25(nprobe=all) != v21 brute hybrid list")
  }

  test("v25 plan assert: no keyedRank full-rank subtree; every window is a local-slice rank or literally K-cut") {
    // the serving-path guarantee as a STRUCTURAL plan test (VERDICT r16
    // item 4): v25 must never compute a corpus-sized rank list — no
    // keyedRank `_shard` window anywhere, and every WindowExec has a
    // bounding literal filter on its (possibly aliased/offset) rank output.
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.expressions._
    val q = Similarity.v25HybridServe(spark, sfDir)
    val plan: SparkPlan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the bounded fused-frame windows")
    def keyNames(w: WindowExec): Set[String] =
      w.partitionSpec.flatMap(_.references.map(_.name)).toSet
    assert(!windows.exists(w => keyNames(w).exists(_.startsWith("_shard"))),
      "v25 carries a keyedRank full-rank (_shard) window")
    // alias closure: the filtered rank is usually alias(cast(we + off))
    def closure(seed: Set[Long]): Set[Long] = {
      var ids = seed; var changed = true
      while (changed) {
        changed = false
        plan.foreach(_.expressions.foreach(_.foreach {
          case a: Alias if !ids(a.exprId.id) &&
              a.references.exists(r => ids(r.exprId.id)) =>
            ids += a.exprId.id; changed = true
          case _ => ()
        }))
      }
      ids
    }
    def bounds(e: Expression, ids: Set[Long]): Boolean = {
      def refs(x: Expression) = x.references.exists(r => ids(r.exprId.id))
      e match {
        case LessThan(l, r) if r.foldable && refs(l) => true
        case LessThanOrEqual(l, r) if r.foldable && refs(l) => true
        case GreaterThan(l, r) if l.foldable && refs(r) => true
        case GreaterThanOrEqual(l, r) if l.foldable && refs(r) => true
        case EqualTo(l, r) if (r.foldable && refs(l)) || (l.foldable && refs(r)) => true
        case other => other.children.exists(bounds(_, ids))
      }
    }
    val filters = plan.collect { case f: FilterExec => f }
    windows.foreach { w =>
      val ids = closure(w.windowExpression.map(_.toAttribute.exprId.id).toSet)
      assert(filters.exists(f => bounds(f.condition, ids)),
        s"un-cut corpus-frame window over keys ${keyNames(w)}:\n$w")
    }
  }
}
