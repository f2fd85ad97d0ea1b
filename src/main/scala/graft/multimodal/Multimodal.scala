package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import graft.{Query, Tables}

/** Multimodal column plumbing: media as opaque `binary` payloads with typed
  * metadata, decoded/feature-extracted via a per-partition pipeline.
  *
  * The Spark-side shape is real and tested — schema (binary + struct
  * metadata), partition-parallel processing with one decoder instance per
  * partition (the `mapPartitions` below is the Scala analog of a Pandas
  * `mapInPandas` batch UDF: amortize decoder setup per partition, stream
  * rows), columnar output with an `array<float>` feature vector that feeds
  * straight into graft.operators.Similarity.
  *
  * Two codecs sit behind the seam: `ImageIoDecoder` is a REAL image
  * decoder (JDK javax.imageio — PNG/BMP/GIF/JPEG, no external
  * dependencies) producing a luminance-histogram feature from actual
  * pixels; `StubDecoder` derives deterministic pseudo-metadata and a
  * 16-bin byte histogram, and remains the driver-facing path because the
  * synthetic corpus's binary payloads are text bytes, not images. The
  * plumbing (`decodeFeaturesWith`) is decoder-agnostic — an audio/video
  * codec drops in as another `(id, bytes) => MediaFeat`.
  */
object Multimodal {

  /** Input record: id + raw media bytes (here: UTF-8 payload of `text`
    * standing in for image bytes).
    */
  final case class MediaIn(doc_id: Long, payload: Array[Byte])

  /** Decoded record: metadata + extracted feature vector. */
  final case class MediaFeat(
      doc_id: Long,
      byte_len: Int,
      width: Int,
      height: Int,
      feature: Array[Float])

  /** Deterministic stand-in for an image decoder. A real implementation
    * would decode `payload` (JPEG/PNG/...) and run feature extraction; it
    * must remain a pure function of the bytes for replayability.
    */
  object StubDecoder {
    def decode(id: Long, bytes: Array[Byte]): MediaFeat = {
      val hist = new Array[Float](16)
      bytes.foreach(b => hist((b & 0xFF) >> 4) += 1f)
      val n = math.max(bytes.length, 1)
      var i = 0
      while (i < 16) { hist(i) /= n; i += 1 }
      // pseudo-dimensions derived from content so downstream resize logic
      // has non-constant inputs to exercise
      MediaFeat(id, bytes.length, 64 + (bytes.length % 64), 64, hist)
    }
  }

  /** REAL pure-JVM image decoder behind the same seam: javax.imageio ships
    * with the JDK (PNG/BMP/GIF/JPEG readers, zero dependencies). The
    * feature is a 16-bin LUMINANCE histogram (integer Rec.601 weights —
    * deterministic, no float rounding in the binning) normalized by pixel
    * count, so identical images give identical vectors and the output
    * feeds graft.operators.Similarity unchanged. StubDecoder remains the
    * driver-oracle path (the synthetic corpus's payloads are text bytes,
    * not images); SimilaritySpec decodes REAL PNG bytes through this one.
    */
  object ImageIoDecoder {
    def decode(id: Long, bytes: Array[Byte]): MediaFeat = {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"payload of doc $id is not a decodable image")
      val hist = new Array[Float](16)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist(lum >> 4) += 1f
          x += 1
        }
        y += 1
      }
      val n = math.max(w * h, 1)
      var i = 0
      while (i < 16) { hist(i) /= n; i += 1 }
      MediaFeat(id, bytes.length, w, h, hist)
    }
  }

  /** Decode a binary-payload Dataset partition-parallel with an arbitrary
    * codec — the decoder is instantiated per PARTITION, not per row (the
    * Scala analog of a Pandas-batch UDF's per-batch setup).
    */
  def decodeFeaturesWith(
      media: Dataset[MediaIn],
      decode: (Long, Array[Byte]) => MediaFeat): Dataset[MediaFeat] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder setup would go here (load codec, model, ...)
      it.map(m => decode(m.doc_id, m.payload))
    }
  }

  /** The driver-oracle decode path (stub codec over text-as-bytes). */
  def decodeFeatures(media: Dataset[MediaIn]): Dataset[MediaFeat] =
    decodeFeaturesWith(media, StubDecoder.decode)

  /** Driver-facing query: documents → binary payloads → decoded features.
    * Output is the decoded METADATA (scalar columns — the driver's pandas
    * compare cannot sort array columns), oracle-checked against DuckDB on
    * byte arithmetic. The feature vector itself (not expressible in
    * portable SQL) is asserted exactly against hand-computed histograms in
    * ScalaTest (SparkSpec multimodal test).
    */
  def mm1DecodeStub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    decodeFeatures(media)
      .select(col("doc_id"), col("byte_len"), col("width"), col("height"),
        size(col("feature")).as("feature_dim"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ mm2_frame_sample
  /** Frame-sampling plumbing for "video"-shaped payloads: the binary is a
    * sequence of fixed 128-byte frames; keep every 2nd (the standard
    * keyframe-subsample shape). The slice itself happens columnar
    * (substring on binary — no row-level decode), each sampled frame then
    * feeds the same per-partition decoder as mm1. Driver-facing output is
    * scalar frame metadata (oracle-checked arithmetic); the decoded
    * per-frame histogram path is asserted in ScalaTest.
    */
  def mm2FrameSample(s: SparkSession, d: String): DataFrame = {
    val frameLen = 128
    val stride = 2
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("n_frames",
        ceil(length(col("payload")) / lit(frameLen.toDouble)).cast("int"))
      .select(col("doc_id"), col("payload"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .as("frame_idx"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        length(col("payload")
          .substr(col("frame_idx") * frameLen + 1, lit(frameLen)))
          .as("frame_len"))
      .orderBy("doc_id", "frame_idx")
  }

  // ----------------------------------------------------- mm3_audio_energy
  /** Sliding-window ENERGY extraction for audio-shaped payloads: the binary
    * is treated as a PCM-ish sample stream, framed into 256-byte windows at
    * a 128-byte hop (the standard 50%-overlap STFT framing), each window
    * reduced to its unsigned-byte energy sum — the loudness/VAD front-end
    * shape. Framing + reduction run in the SAME per-partition seam as the
    * mm1 decoder (one codec instance per partition, streamed rows); the
    * per-doc peak window is a packed-long argmax (d6's trick — primitive
    * max, no struct compare, ties break to the EARLIEST window).
    *
    * Energies are exact integer sums, so the oracle replays them with
    * ord()-sums over character positions (the corpus is ASCII: byte ==
    * code point, asserted in the spec) and every column hash-checks.
    */
  final case class AudioWin(doc_id: Long, win_idx: Int, win_len: Int, energy: Long)

  /** Frame a binary payload stream into (win, hop) windows with per-window
    * energy — per-partition streamed, trailing partial windows included.
    *
    * Invariant shared with every DuckDB twin (mm3/mm5/mm6/mm12 all replay
    * framing as `range(ceil(blen/hop))`): an EMPTY payload emits ZERO
    * windows — empty docs simply vanish from window-grain outputs. Do not
    * re-introduce a one-zero-window floor here without changing all four
    * twins in lockstep; the mismatch is invisible until a gated query
    * surfaces per-doc window counts over an empty doc.
    */
  def audioWindows(media: Dataset[MediaIn], win: Int = 256, hop: Int = 128)
      : Dataset[AudioWin] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val b = m.payload
      val n = math.ceil(b.length / hop.toDouble).toInt
      (0 until n).iterator.map { i =>
        val start = i * hop
        val end = math.min(start + win, b.length)
        var e = 0L
        var j = start
        while (j < end) { e += (b(j) & 0xFF); j += 1 }
        AudioWin(m.doc_id, i, end - start, e)
      }
    }
  }

  def mm3AudioEnergy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    audioWindows(media)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(col("energy")).as("total_energy"),
        max(col("energy") * lit(1048576L) + (lit(1048575L) - col("win_idx")))
          .as("key"))
      .select(col("doc_id"), col("n_windows"), col("total_energy"),
        (lit(1048575L) - col("key").bitwiseAND(lit(1048575L))).cast("int")
          .as("peak_idx"),
        shiftright(col("key"), 20).as("peak_energy"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- mm4_phash
  /** Perceptual-hash near-duplicate detection — the IMAGE analog of d4's
    * SimHash: each payload reduces to a 56-bit average-hash (aHash), and
    * near-dup candidates come from 14-bit CHUNK BLOCKING (two hashes
    * within Hamming distance 3 must share one of the four chunks —
    * pigeonhole), verified by exact `bit_count(xor)`. On the synthetic
    * corpus the "thumbnail" is a deterministic 56-point byte downsample
    * of the payload (stride = len/56, tail-clamped) — with a real image
    * codec the same pipeline hashes an 8×7 luminance grid from the
    * decoder seam ([[aHash56]] over ImageIoDecoder output, exercised in
    * ScalaTest).
    *
    * Scale shape: hashing is one narrow scan; candidate generation is an
    * equality join on (chunk_idx, chunk) — never all-pairs; verification
    * is O(candidates). 56 bits (not 64) keeps every engine's BIGINT
    * arithmetic signed-overflow-free.
    */
  /** mm4's hash + chunk-blocked near-dup pair kernel, shared with mm10's
    * cross-modal audit (same hash, same blocking, one spelling).
    */
  private[graft] def phashPairs(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.load(s, d, "documents")
      .selectExpr("doc_id", "text", "octet_length(text) AS blen")
      .selectExpr("doc_id",
        // 56 byte samples at fixed stride, tail positions clamped
        """transform(sequence(0, 55), k -> ascii(substring(text,
           CAST(least(k * greatest(blen DIV 56, 1), blen - 1) AS INT) + 1,
           1))) AS samples""")
      .selectExpr("doc_id", "samples",
        "aggregate(samples, 0L, (a, x) -> a + x) DIV 56 AS mean")
      .selectExpr("doc_id",
        """aggregate(sequence(0, 55), 0L, (a, k) ->
           a + IF(element_at(samples, k + 1) > mean, shiftleft(1L, k), 0L))
           AS phash""")
      .materialize() // consumed by 4 chunk projections + 2 join sides
    val chunks = hashed.selectExpr("doc_id", "phash",
      "explode(sequence(0, 3)) AS ci")
      .selectExpr("doc_id", "phash", "ci",
        "shiftright(phash, ci * 14) & 16383 AS chunk")
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.ci") === col("b.ci") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
    pairs
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= 3)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  def mm4Phash(s: SparkSession, d: String): DataFrame =
    phashPairs(s, d).orderBy("id_a", "id_b")

  // ------------------------------------------- mm10_crossmodal_audit
  /** Cross-modal consistency audit over image near-dup pairs — the
    * LAION-style label-noise detector: when two IMAGES are perceptual
    * near-duplicates (mm4's chunk-blocked aHash pairs), their CAPTIONS
    * should agree; a near-identical image carrying a very different
    * caption is a mislabeled (or re-captioned) training pair that
    * poisons contrastive/caption models. Captions here are the
    * deterministic caption stand-in for the synthetic corpus: the first
    * 12 words, lowercased, as a distinct token SET; agreement is set
    * Jaccard. `mismatch` flags strong image dups (hamming <= 1) whose
    * captions share under half their vocabulary — the rows a curator
    * reviews.
    *
    * Scale shape: pairs come from mm4's bounded chunk-equality blocking
    * (never all-pairs); the caption join is two hash joins on doc_id;
    * the Jaccard is computed on <= 12-element arrays per pair. The flag
    * compares integers (2*inter < union), not rounded doubles, so the
    * cut is engine-exact.
    */
  def mm10CrossmodalAudit(s: SparkSession, d: String): DataFrame = {
    val caps = Tables.load(s, d, "documents").select(col("doc_id"),
      array_sort(array_distinct(slice(
        graft.functions.TextFunctions.tokens(lower(col("text"))), 1, 12)))
        .as("cap"))
    phashPairs(s, d)
      .join(caps.select(col("doc_id").as("id_a"), col("cap").as("cap_a")), "id_a")
      .join(caps.select(col("doc_id").as("id_b"), col("cap").as("cap_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("cap_a"), col("cap_b"))))
      .withColumn("un", size(array_union(col("cap_a"), col("cap_b"))))
      .select(col("id_a"), col("id_b"), col("hamming"),
        graft.functions.TextFunctions.sround(
          col("inter") / nullif(col("un"), lit(0)), 4).as("cap_jaccard"),
        (col("hamming") <= 1 && col("inter") * 2 < col("un")).as("mismatch"))
      .orderBy("id_a", "id_b")
  }

  /** 56-bit average-hash of a decoded image: 8×7 luminance grid from the
    * ImageIoDecoder pixel path — the real-codec twin of mm4's byte-stub
    * hash, sharing the threshold-against-mean bit layout.
    */
  def aHash56(img: java.awt.image.BufferedImage): Long = {
    val (gw, gh) = (8, 7)
    val cells = new Array[Long](gw * gh)
    val (w, h) = (img.getWidth, img.getHeight)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        // average luminance of the cell's pixel block
        val (x0, x1) = (gx * w / gw, math.max((gx + 1) * w / gw, gx * w / gw + 1))
        val (y0, y1) = (gy * h / gh, math.max((gy + 1) * h / gh, gy * h / gh + 1))
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            x += 1
          }
          y += 1
        }
        cells(gy * gw + gx) = sum / ((x1 - x0).toLong * (y1 - y0))
        gx += 1
      }
      gy += 1
    }
    val mean = cells.sum / cells.length
    cells.zipWithIndex.foldLeft(0L) { case (acc, (c, k)) =>
      if (c > mean) acc | (1L << k) else acc
    }
  }

  // --------------------------------------------------- mm5_shot_boundary
  /** Shot-boundary detection for video-shaped payloads: frame the binary
    * into non-overlapping 128-byte "frames" (mm2's keyframe geometry, via
    * mm3's per-partition framing seam with hop == win), reduce each to its
    * exact integer energy, then flag a CUT wherever consecutive frame
    * energies jump by more than the threshold — the standard
    * histogram-difference shot detector with the codec stubbed to byte
    * energy. The temporal compare is ONE lag window PARTITIONED BY doc
    * (each document's frames sort within its own partition group — no
    * global sort), and the rollup reuses the same grouping key, so the
    * whole query is one Exchange on doc_id. Energies and deltas are exact
    * integers; the oracle replays them as ord()-sums plus the identical
    * lag window, so every column hash-checks.
    */
  def mm5ShotBoundary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    val w = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
    val cut = col("prev_e").isNotNull &&
      abs(col("energy") - col("prev_e")) > lit(1500L)
    audioWindows(media, win = 128, hop = 128).toDF()
      .withColumn("prev_e", lag(col("energy"), 1).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        (sum(when(cut, lit(1L)).otherwise(lit(0L))) + lit(1L)).as("n_shots"),
        min(when(cut, col("win_idx"))).as("first_cut"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ mm6_vad
  /** Voice-activity segmentation: group consecutive LOW-energy audio
    * windows (mm3's framing, hop == win) into silence ISLANDS via the
    * island-numbering trick (q20's sessionize shape — a window boundary
    * flag, a running sum for island ids, then per-island extents). The
    * silence threshold is each doc's mean window energy scaled by 7/8 in
    * INTEGER arithmetic (energy * 8 < total * 7 / n_wins... spelled as
    * exact integer compares), so no float enters any predicate. Output
    * per doc: window count, silent-window count, island count, and the
    * longest silent run — the VAD summary a speech pipeline computes
    * before chunking. One doc-keyed exchange serves the mean, the lag
    * window, and the rollup.
    */
  def mm6Vad(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    val wins = audioWindows(media, win = 128, hop = 128).toDF()
    val byDoc = Window.partitionBy(col("doc_id"))
    val w = byDoc.orderBy(col("win_idx"))
    // silent iff energy * n_windows * 8 < total_energy * 7 — the integer
    // spelling of energy < mean * 7/8 (cross-multiplied, overflow-safe:
    // energy ≤ 255*128 < 2^15, totals < 2^25, n < 2^10). No float enters
    // any predicate.
    val flagged = wins
      .withColumn("nw", count(lit(1)).over(byDoc))
      .withColumn("tot", sum(col("energy")).over(byDoc))
      .withColumn("is_silent",
        col("energy") * col("nw") * lit(8L) < col("tot") * lit(7L))
      .withColumn("boundary",
        when(col("is_silent") &&
          !coalesce(lag(col("is_silent"), 1).over(w), lit(false)), 1L)
          .otherwise(0L))
      .withColumn("island",
        when(col("is_silent"), sum(col("boundary")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .materialize() // feeds the island rollup AND the doc rollup
    // island lengths, then per-doc — both group on doc_id(+island), so the
    // window's doc-keyed exchange satisfies every downstream clustering
    val runStats = flagged.where(col("is_silent"))
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("run_len")).as("longest_run"))
    flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("is_silent"), 1L).otherwise(0L)).as("n_silent"))
      .join(runStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_silent"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ mm7_resize
  /** Nearest-neighbor RESIZE for image-shaped payloads — the one step of
    * the decode / feature-extract / resize / frame-sample quartet the
    * engine had not yet materialized as an operator. The binary is an
    * in_h x 32 byte grid (full rows only); a 2x2 stride keeps the
    * top-left byte of each block, producing an out_h x 16 payload —
    * actual resized BYTES, not just stats, built in the same
    * per-partition codec seam as mm1/mm3 (a real image codec would swap
    * into the same loop; the grid arithmetic, batch shape, and output
    * schema would not change). Verification carries three independent
    * integer/exact witnesses per doc: the byte sum, a position-WEIGHTED
    * sum (pins byte ORDER, which a plain sum cannot), and the md5 of the
    * resized payload itself (the corpus is ASCII, so the oracle rebuilds
    * the identical string from substr picks and md5s it).
    */
  final case class Resized(
      doc_id: Long, in_h: Long, out_h: Long, payload: Array[Byte],
      bsum: Long, wsum: Long)

  /** Stride-f nearest-neighbor downsample of an inW-wide byte grid —
    * per-partition streamed; docs with fewer than f full rows drop.
    */
  def resizeNearest(media: Dataset[MediaIn], inW: Int = 32, f: Int = 2)
      : Dataset[Resized] = {
    import media.sparkSession.implicits._
    media.flatMap { m =>
      val b = m.payload
      val inH = b.length / inW
      if (inH < f) Iterator.empty
      else {
        val outH = inH / f
        val outW = inW / f
        val out = new Array[Byte](outH * outW)
        var bsum = 0L
        var wsum = 0L
        var r = 0
        while (r < outH) {
          var c = 0
          while (c < outW) {
            val px = b(r * f * inW + c * f)
            val i = r * outW + c
            out(i) = px
            bsum += (px & 0xFF)
            wsum += (i + 1).toLong * (px & 0xFF)
            c += 1
          }
          r += 1
        }
        Iterator.single(Resized(m.doc_id, inH.toLong, outH.toLong, out, bsum, wsum))
      }
    }
  }

  def mm7Resize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    resizeNearest(media)
      .select(col("doc_id"), col("in_h"), col("out_h"), lit(16L).as("out_w"),
        (col("out_h") * lit(16L)).as("out_len"), col("bsum"), col("wsum"),
        md5(col("payload")).as("out_md5"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------- mm8_shard_export
  /** WebDataset-style sample-shard packing — how multimodal training sets
    * actually ship: samples (opaque payload + caption/meta) are packed in
    * a stable global order into ~`ShardBytes`-bounded shards, and each
    * shard carries a manifest row (sample count, byte size, id range,
    * content signature) a loader or auditor can trust without opening
    * the shard. Payload here is the document's UTF-8 bytes standing in
    * for media bytes (the mm1 convention).
    *
    * Distributed shape: shard assignment is t15's two-phase distributed
    * prefix sum over byte lengths (NO single-partition window — the
    * boundary placement is exactly a sequential packer's); the manifest
    * is one shard-keyed agg. Signature = sum of per-payload md5-62
    * hashes masked to 40 bits — order-independent (commutative sum) and
    * overflow-free in both engines, so the oracle replays it exactly.
    * `writeShards` is the physical half: one directory per shard, docs
    * co-located, SimilaritySpec re-derives the manifest from the bytes
    * actually written.
    */
  val ShardBytes = 4096L
  private val SigMask = 1099511627775L // 2^40 - 1

  def mm8ShardExport(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val docs = Tables.load(s, d, "documents")
    val counted = docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_tok"))
    val assign = graft.operators.TextAnalysis
      .globalPackingDocs(counted, ShardBytes)
      .select(col("doc_id"), col("n_tok").as("n_bytes"),
        col("pack_id").as("shard_id"))
    val sig = docs.select(col("doc_id"),
      md5Hash62(col("text")).bitwiseAND(lit(SigMask)).as("h"))
    assign.join(sig, "doc_id")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"),
        sum(col("h")).as("signature"))
      .orderBy("shard_id")
  }

  /** Physical shard write: payload+caption rows land under
    * shard_id=N/ directories; returns the manifest frame (same shape as
    * mm8ShardExport, computed from the assignment actually written).
    */
  def writeShards(s: SparkSession, d: String, outDir: String): DataFrame = {
    import graft.expressions.PortableHashExpressions.md5Hash62
    val docs = Tables.load(s, d, "documents")
    val counted = docs.select(col("doc_id"),
      octet_length(col("text")).cast("long").as("n_tok"))
    val assign = graft.operators.TextAnalysis
      .globalPackingDocs(counted, ShardBytes)
      .select(col("doc_id"), col("n_tok").as("n_bytes"),
        col("pack_id").as("shard_id"))
    val joined = docs.join(assign, "doc_id")
      .materialize() // ONE packing pass feeds the write AND manifest
    joined
      .select(col("doc_id"), col("shard_id"),
        col("text").cast("binary").as("payload"), col("text").as("caption"),
        col("lang"), col("source"))
      .write.mode("overwrite").partitionBy("shard_id").parquet(outDir)
    // manifest from the SAME assignment the write used — no recompute
    joined
      .select(col("doc_id"), col("shard_id"), col("n_bytes"),
        md5Hash62(col("text")).bitwiseAND(lit(SigMask)).as("h"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("first_id"),
        max(col("doc_id")).as("last_id"),
        sum(col("h")).as("signature"))
      .orderBy("shard_id")
  }

  // ------------------------------------------------- mm9_pair_audit
  /** Paired-modality integrity audit — the coverage report a multimodal
    * training set needs BEFORE pairing text with embeddings (or images,
    * audio): per source, how many documents actually have a vector, and
    * from the other side, how many vectors have a document (orphans) or
    * the wrong dimensionality (undecodable). Training on the inner join
    * silently drops the difference; this op makes the difference a
    * number someone must sign off on.
    *
    * Output grain: one row per document source + one `~vectors` row for
    * the embedding side (the `~` sorts it after the sources).
    * `n_bad_dim` on a source row counts docs PAIRED TO a wrong-dim
    * vector (they'd fail in the feeding pipeline); on the vector row it
    * counts wrong-dim vectors outright.
    *
    * Scale shape: two doc_id-keyed joins (co-partitioned corpus joins —
    * at 100 TB both sides pre-partition on the id) + two aggs; no
    * all-pairs anything. The `dim` column is size(embedding) — computed
    * in the scan projection, the 64-float array itself never shuffles.
    */
  val EmbeddingDim = 64

  def mm9PairAudit(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"))
    val vecs = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), size(col("embedding")).as("dim"))
    val docSide = docs
      .join(vecs.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        count(col("dim")).as("n_paired"),
        sum(when(col("dim").isNotNull && col("dim") =!= EmbeddingDim, 1L)
          .otherwise(0L)).as("n_bad_dim"))
      .withColumnRenamed("source", "part")
    val vecSide = vecs
      .join(docs.select(col("doc_id").as("vec_id"), lit(1L).as("hd")),
        Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_total"), count(col("hd")).as("n_paired"),
        sum(when(col("dim") =!= EmbeddingDim, 1L).otherwise(0L))
          .as("n_bad_dim"))
      .select(lit("~vectors").as("part"), col("n_total"), col("n_paired"),
        col("n_bad_dim"))
    docSide.unionByName(vecSide)
      .select(col("part"), col("n_total"), col("n_paired"),
        graft.functions.TextFunctions.sround(
          col("n_paired") / col("n_total").cast("double"), 4).as("pair_rate"),
        col("n_bad_dim"))
      .orderBy("part")
  }

  val mm9PairAuditSql: String =
    """WITH vdim AS (
      |  SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim
      |  FROM embeddings),
      |doc_side AS (
      |  SELECT d.source AS part, count(*) AS n_total,
      |    count(v.dim) AS n_paired,
      |    CAST(sum(CASE WHEN v.dim IS NOT NULL AND v.dim != 64
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim
      |  FROM documents d LEFT JOIN vdim v ON d.doc_id = v.vec_id
      |  GROUP BY d.source),
      |vec_side AS (
      |  SELECT '~vectors' AS part, count(*) AS n_total,
      |    count(dd.doc_id) AS n_paired,
      |    CAST(sum(CASE WHEN v.dim != 64 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_bad_dim
      |  FROM vdim v LEFT JOIN (SELECT doc_id FROM documents) dd
      |    ON v.vec_id = dd.doc_id)
      |SELECT part, CAST(n_total AS BIGINT) AS n_total,
      |  CAST(n_paired AS BIGINT) AS n_paired,
      |  floor(n_paired / CAST(n_total AS DOUBLE) * 10000.0 + 0.5) / 10000.0
      |    AS pair_rate,
      |  n_bad_dim
      |FROM (SELECT * FROM doc_side UNION ALL SELECT * FROM vec_side)
      |ORDER BY part""".stripMargin

  // ------------------------------------------- mm11_video_neardup
  /** Video-level near-duplicate detection — the content-id shape: a video
    * pair is a near-dup when its sampled KEYFRAMES match, regardless of
    * trims or re-containering that shift total length. Composition of the
    * family's audited pieces: mm2's frame geometry (non-overlapping
    * 128-byte frames, every 2nd sampled) + mm4's 56-bit aHash per FRAME
    * (not per payload) → per-video distinct frame-hash set → candidates
    * from an exact frame-hash inverted index, df ∈ [2, 20] (d9's rare-key
    * blocking: a ubiquitous frame — black screens, silence — must not
    * fan out C(df,2) pairs) → EXACT set-overlap verify on the candidate
    * pairs only (d2's zero-allocation merge-walk intersect). Flagged when
    * the shared hashes cover ≥ half the smaller video's sampled frames
    * (integer cross-multiply, no float predicate).
    *
    * Scale shape: frame hashing is one narrow columnar pass (explode
    * fan-out = frames per doc); the index join is key-equality on rare
    * hashes; the verify ships per-video hash sets (≤ sampled-frame count
    * longs) to candidate pairs only. Nothing is ever corpus².
    */
  def mm11VideoNeardup(s: SparkSession, d: String): DataFrame = {
    val fhh = Tables.load(s, d, "documents")
      .selectExpr("doc_id", "text",
        "CAST(ceil(length(text) / 128.0) AS INT) AS n_frames")
      .where(col("n_frames") > 0)
      .selectExpr("doc_id",
        "explode(sequence(0, n_frames - 1, 2)) AS fi", "text")
      .selectExpr("doc_id", "substring(text, fi * 128 + 1, 128) AS fb")
      .selectExpr("doc_id", "fb", "length(fb) AS blen")
      .selectExpr("doc_id",
        """transform(sequence(0, 55), k -> ascii(substring(fb,
           CAST(least(k * greatest(blen DIV 56, 1), blen - 1) AS INT) + 1,
           1))) AS samples""")
      .selectExpr("doc_id", "samples",
        "aggregate(samples, 0L, (a, x) -> a + x) DIV 56 AS mean")
      .selectExpr("doc_id",
        """aggregate(sequence(0, 55), 0L, (a, k) ->
           a + IF(element_at(samples, k + 1) > mean, shiftleft(1L, k), 0L))
           AS fh""")
    val dfh = fhh.select(col("doc_id"), col("fh")).distinct().materialize()
    val sets = dfh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("fh"))).as("set"),
        count(lit(1)).as("n"))
      .materialize() // both verify sides
    // ONE pass over the (doc, frame-hash) stream (r18, guide §2.3/§2.4):
    // d9's rareKeyPairs reshape — the old df-agg + semi-join + self-join
    // shuffled the distinct fingerprint stream TWICE and sorted it for
    // the merge join; the shared bounded aggregate (count + MinKValues at
    // k = 21) collects each in-cap hash's COMPLETE sorted member list in
    // one fh-keyed shuffle, and the pair explode is row-identical to the
    // a.doc_id < b.doc_id self-join (JoinOpsSpec asserts set equality).
    val cand = graft.operators.JoinOps.rareKeyPairs(dfh,
      col("fh"), col("doc_id"), dfMin = 2, dfMax = 20,
      outA = "id_a", outB = "id_b")
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("set").as("set_a"),
        col("n").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("set").as("set_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("n_shared", graft.expressions.SetSketchExpressions
        .sortedIntersectSize(col("set_a"), col("set_b")).cast("long"))
      .where(lit(2) * col("n_shared") >= least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        graft.functions.TextFunctions.sround(
          col("n_shared") / least(col("n_a"), col("n_b")), 4).as("overlap"))
      .orderBy("id_a", "id_b")
  }

  /** DuckDB twin: mm2's frame geometry + mm4's aHash arithmetic applied
    * per frame, the same rare-hash index and integer-cross-multiply cut.
    */
  val mm11VideoNeardupSql: String =
    """WITH f AS (
      |  SELECT doc_id, text,
      |    CAST(ceil(length(text) / 128.0) AS INTEGER) AS n_frames
      |  FROM documents WHERE length(text) > 0),
      |fr AS (
      |  SELECT doc_id,
      |    substring(text, CAST(fi AS INT) * 128 + 1, 128) AS fb
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(0, n_frames - 1, 2)) AS fi
      |        FROM f)),
      |sm AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 56), k -> ord(substr(fb,
      |      CAST(least(k * greatest(length(fb) // 56, 1),
      |                 length(fb) - 1) AS INT) + 1, 1))) AS samples
      |  FROM fr),
      |mn AS (SELECT doc_id, samples,
      |    CAST(list_aggregate(samples, 'sum') AS BIGINT) // 56 AS mean
      |  FROM sm),
      |fhh AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 56),
      |      k -> CASE WHEN samples[CAST(k AS INT) + 1] > mean
      |           THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END))
      |      AS BIGINT) AS fh
      |  FROM mn),
      |dfh AS (SELECT DISTINCT doc_id, fh FROM fhh),
      |sets AS (SELECT doc_id, count(*) AS n FROM dfh GROUP BY doc_id),
      |rare AS (SELECT fh FROM dfh GROUP BY fh
      |  HAVING count(*) BETWEEN 2 AND 20),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM dfh a JOIN dfh b ON a.fh = b.fh AND a.doc_id < b.doc_id
      |  WHERE a.fh IN (SELECT fh FROM rare)),
      |inter AS (
      |  SELECT c.id_a, c.id_b, count(*) AS n_shared
      |  FROM cand c
      |  JOIN dfh x ON x.doc_id = c.id_a
      |  JOIN dfh y ON y.doc_id = c.id_b AND y.fh = x.fh
      |  GROUP BY c.id_a, c.id_b)
      |SELECT i.id_a, i.id_b, CAST(i.n_shared AS BIGINT) AS n_shared,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  floor(i.n_shared / least(sa.n, sb.n) * 10000.0 + 0.5) / 10000.0
      |    AS overlap
      |FROM inter i
      |JOIN sets sa ON sa.doc_id = i.id_a
      |JOIN sets sb ON sb.doc_id = i.id_b
      |WHERE 2 * i.n_shared >= least(sa.n, sb.n)
      |ORDER BY id_a, id_b""".stripMargin

  // -------------------------------------------- mm12_audio_neardup
  /** Audio near-duplicate detection via delta-sign fingerprints — the
    * Haitsma–Kalker (2002) audio content-id shape adapted to the
    * decode-stub world: 16-byte energy windows at an 8-byte hop (finer
    * than mm3's loudness framing — fingerprinting needs temporal
    * resolution), then each run of 16 consecutive energy DELTAS packs
    * sign(e[i+k+1] > e[i+k]) into bit k of a 16-bit sub-fingerprint.
    * Sign-of-delta is invariant to constant gain offsets — adding a
    * constant to every sample shifts every window energy equally and no
    * sign flips — the robustness class mm11's absolute aHash cannot give
    * (asserted in the spec). Downstream is mm11's audited machinery
    * verbatim: per-doc DISTINCT sub-fp sets, rare-df [2,20] inverted
    * index, merge-walk overlap verify, integer cross-multiply cut at
    * half the smaller set.
    *
    * Scale shape: window energies stream per-partition (the mm1 codec
    * seam); the sub-fp fold is SIXTEEN lead() terms over ONE window spec
    * — one Exchange + one Sort per doc-partition, no derived-array HOF
    * chains (each lead is a frame offset, not an array index), nulls
    * propagate through + so only complete shingles survive the filter.
    * Nothing is ever corpus²: candidates come from the rare-fp index.
    */
  def mm12AudioNeardup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val media = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaIn]
    val w = Window.partitionBy(col("doc_id")).orderBy(col("win_idx"))
    // delta sign per window: null at the last window (no next energy)
    val signed = audioWindows(media, win = 16, hop = 8).toDF()
      .withColumn("sgn", when(lead(col("energy"), 1).over(w).isNotNull,
        when(lead(col("energy"), 1).over(w) > col("energy"), 1L)
          .otherwise(0L)))
    // 16-delta shingle: bit k = sgn at offset k; any missing term nulls
    // the sum, so trailing incomplete shingles drop in one filter
    val fpCol = (1 until 16).foldLeft(col("sgn")) { (acc, k) =>
      acc + (lead(col("sgn"), k).over(w) * lit(1L << k))
    }
    val dfh = signed
      .withColumn("fp", fpCol)
      .where(col("fp").isNotNull)
      .select(col("doc_id"), col("fp")).distinct()
      .materialize() // index, sets, and candidate sides
    val sets = dfh.groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("fp"))).as("set"),
        count(lit(1)).as("n"))
      .materialize()
    // same rareKeyPairs reshape as mm11 (the index machinery is shared
    // by doc contract): one fp-keyed shuffle instead of two, pair set
    // row-identical to the a.doc_id < b.doc_id self-join
    val cand = graft.operators.JoinOps.rareKeyPairs(dfh,
      col("fp"), col("doc_id"), dfMin = 2, dfMax = 20,
      outA = "id_a", outB = "id_b")
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("set").as("set_a"),
        col("n").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("set").as("set_b"),
        col("n").as("n_b")), "id_b")
      .withColumn("n_shared", graft.expressions.SetSketchExpressions
        .sortedIntersectSize(col("set_a"), col("set_b")).cast("long"))
      .where(lit(2) * col("n_shared") >= least(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        graft.functions.TextFunctions.sround(
          col("n_shared") / least(col("n_a"), col("n_b")), 4).as("overlap"))
      .orderBy("id_a", "id_b")
  }

  /** DuckDB twin: mm3's ord()-sum energy replay at the 16/8 framing, the
    * same lead()-folded 16-bit delta-sign shingle, then mm11's index +
    * overlap chain on the fp sets.
    */
  val mm12AudioNeardupSql: String =
    """WITH wins AS (
      |  SELECT doc_id, CAST(i AS INT) AS win_idx,
      |    CAST(list_aggregate(list_transform(
      |      range(i * 8 + 1, least(i * 8 + 16, blen) + 1),
      |      p -> ord(substr(text, CAST(p AS INT), 1))), 'sum') AS BIGINT)
      |      AS energy
      |  FROM (SELECT doc_id, text, octet_length(encode(text)) AS blen,
      |          unnest(range(CAST(ceil(octet_length(encode(text)) / 8.0)
      |            AS BIGINT))) AS i
      |        FROM documents)),
      |sgns AS (
      |  SELECT doc_id, win_idx,
      |    CASE WHEN lead(energy) OVER dw IS NOT NULL
      |         THEN CASE WHEN lead(energy) OVER dw > energy
      |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
      |    END AS sgn
      |  FROM wins
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY win_idx)),
      |fps AS (
      |  SELECT doc_id,
      |    sgn
      |      + lead(sgn, 1) OVER dw * 2 + lead(sgn, 2) OVER dw * 4
      |      + lead(sgn, 3) OVER dw * 8 + lead(sgn, 4) OVER dw * 16
      |      + lead(sgn, 5) OVER dw * 32 + lead(sgn, 6) OVER dw * 64
      |      + lead(sgn, 7) OVER dw * 128 + lead(sgn, 8) OVER dw * 256
      |      + lead(sgn, 9) OVER dw * 512 + lead(sgn, 10) OVER dw * 1024
      |      + lead(sgn, 11) OVER dw * 2048 + lead(sgn, 12) OVER dw * 4096
      |      + lead(sgn, 13) OVER dw * 8192 + lead(sgn, 14) OVER dw * 16384
      |      + lead(sgn, 15) OVER dw * 32768 AS fp
      |  FROM sgns
      |  WINDOW dw AS (PARTITION BY doc_id ORDER BY win_idx)),
      |dfh AS (SELECT DISTINCT doc_id, fp FROM fps WHERE fp IS NOT NULL),
      |sets AS (SELECT doc_id, count(*) AS n FROM dfh GROUP BY doc_id),
      |rare AS (SELECT fp FROM dfh GROUP BY fp
      |  HAVING count(*) BETWEEN 2 AND 20),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM dfh a JOIN dfh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  WHERE a.fp IN (SELECT fp FROM rare)),
      |inter AS (
      |  SELECT c.id_a, c.id_b, count(*) AS n_shared
      |  FROM cand c
      |  JOIN dfh x ON x.doc_id = c.id_a
      |  JOIN dfh y ON y.doc_id = c.id_b AND y.fp = x.fp
      |  GROUP BY c.id_a, c.id_b)
      |SELECT i.id_a, i.id_b, CAST(i.n_shared AS BIGINT) AS n_shared,
      |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
      |  floor(i.n_shared / least(sa.n, sb.n) * 10000.0 + 0.5) / 10000.0
      |    AS overlap
      |FROM inter i
      |JOIN sets sa ON sa.doc_id = i.id_a
      |JOIN sets sb ON sb.doc_id = i.id_b
      |WHERE 2 * i.n_shared >= least(sa.n, sb.n)
      |ORDER BY id_a, id_b""".stripMargin

  /** mm4's hash/blocking/verify as a reusable CTE chain ending in `dup`
    * (id_a, id_b, hamming) — shared by mm4's and mm10's oracles, the SQL
    * twin of [[phashPairs]].
    */
  private val phashPairsCtes: String =
    """h AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 56), k -> ord(substr(text,
      |      CAST(least(k * greatest(octet_length(encode(text)) // 56, 1),
      |                 octet_length(encode(text)) - 1) AS INT) + 1, 1)))
      |      AS samples
      |  FROM documents),
      |m AS (SELECT doc_id, samples,
      |    CAST(list_aggregate(samples, 'sum') AS BIGINT) // 56 AS mean
      |  FROM h),
      |ph AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0, 56),
      |      k -> CASE WHEN samples[CAST(k AS INT) + 1] > mean
      |           THEN (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END))
      |      AS BIGINT) AS phash
      |  FROM m),
      |chunks AS (
      |  SELECT doc_id, phash, ci, (phash >> CAST(ci * 14 AS INT)) & 16383
      |      AS chunk
      |  FROM (SELECT doc_id, phash, unnest(range(0, 4)) AS ci FROM ph)),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.phash AS ha, b.phash AS hb
      |  FROM chunks a JOIN chunks b
      |    ON a.ci = b.ci AND a.chunk = b.chunk AND a.doc_id < b.doc_id),
      |dup AS (
      |  SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
      |  FROM pairs WHERE bit_count(xor(ha, hb)) <= 3)""".stripMargin

  /** Declared after [[phashPairsCtes]]: mm4's and mm10's oracles
    * interpolate it, and an object's vals initialise in source order.
    */
  val registry: Seq[Query] = Seq(
    // byte_len is the UTF-8 byte count of `text`, pseudo-dims derive
    // from it, feature_dim is the fixed histogram width
    Query("mm1_decode_stub", mm1DecodeStub,
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  CAST(64 + octet_length(encode(text)) % 64 AS INTEGER) AS width,
        |  CAST(64 AS INTEGER) AS height,
        |  CAST(16 AS INTEGER) AS feature_dim
        |FROM documents""".stripMargin),
    Query("mm2_frame_sample", mm2FrameSample,
      """WITH f AS (
        |  SELECT doc_id, octet_length(encode(text)) AS blen,
        |    CAST(ceil(octet_length(encode(text)) / 128.0) AS INTEGER) AS n_frames
        |  FROM documents)
        |SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
        |  CAST(least(128, blen - frame_idx * 128) AS INTEGER) AS frame_len
        |FROM (SELECT doc_id, blen, n_frames,
        |        unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
        |      FROM f)
        |ORDER BY doc_id, frame_idx""".stripMargin),
    // byte == code point here (ASCII corpus, asserted in SimilaritySpec),
    // so the window energy replays as an ord()-sum over char positions
    Query("mm3_audio_energy", mm3AudioEnergy,
      """WITH wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS win_idx,
        |    CAST(list_aggregate(list_transform(
        |      range(i * 128 + 1, least(i * 128 + 256, blen) + 1),
        |      p -> ord(substr(text, CAST(p AS INT), 1))), 'sum') AS BIGINT)
        |      AS energy
        |  FROM (SELECT doc_id, text, octet_length(encode(text)) AS blen,
        |          unnest(range(CAST(ceil(octet_length(encode(text)) / 128.0)
        |            AS BIGINT))) AS i
        |        FROM documents)),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_windows,
        |    CAST(sum(energy) AS BIGINT) AS total_energy,
        |    max(energy * 1048576 + (1048575 - win_idx)) AS key
        |  FROM wins GROUP BY doc_id)
        |SELECT doc_id, n_windows, total_energy,
        |  CAST(1048575 - (key & 1048575) AS INTEGER) AS peak_idx,
        |  CAST(key >> 20 AS BIGINT) AS peak_energy
        |FROM agg ORDER BY doc_id""".stripMargin),
    // identical 56-point downsample, mean threshold, bit fold, chunk-block
    // join, and bit_count verification (ASCII corpus: ord == byte)
    Query("mm4_phash", mm4Phash,
      s"""WITH $phashPairsCtes
        |SELECT id_a, id_b, hamming FROM dup
        |ORDER BY id_a, id_b""".stripMargin),
    // same ord()-sum energy replay as mm3, non-overlapping 128-byte frames,
    // then the identical per-doc lag window and cut rollup
    Query("mm5_shot_boundary", mm5ShotBoundary,
      """WITH wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS win_idx,
        |    CAST(list_aggregate(list_transform(
        |      range(i * 128 + 1, least(i * 128 + 128, blen) + 1),
        |      p -> ord(substr(text, CAST(p AS INT), 1))), 'sum') AS BIGINT)
        |      AS energy
        |  FROM (SELECT doc_id, text, octet_length(encode(text)) AS blen,
        |          unnest(range(CAST(ceil(octet_length(encode(text)) / 128.0)
        |            AS BIGINT))) AS i
        |        FROM documents)),
        |lagd AS (
        |  SELECT doc_id, win_idx, energy,
        |    lag(energy) OVER (PARTITION BY doc_id ORDER BY win_idx) AS prev_e
        |  FROM wins)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) > 1500
        |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
        |  CAST(min(CASE WHEN prev_e IS NOT NULL AND abs(energy - prev_e) > 1500
        |    THEN win_idx END) AS INT) AS first_cut
        |FROM lagd GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // same ord()-sum energy replay; the island numbering is the identical
    // boundary-flag running sum, and the silence predicate is the exact
    // integer cross-multiplication
    Query("mm6_vad", mm6Vad,
      """WITH wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS win_idx,
        |    CAST(list_aggregate(list_transform(
        |      range(i * 128 + 1, least(i * 128 + 128, blen) + 1),
        |      p -> ord(substr(text, CAST(p AS INT), 1))), 'sum') AS BIGINT)
        |      AS energy
        |  FROM (SELECT doc_id, text, octet_length(encode(text)) AS blen,
        |          unnest(range(CAST(ceil(octet_length(encode(text)) / 128.0)
        |            AS BIGINT))) AS i
        |        FROM documents)),
        |st AS (
        |  SELECT doc_id, win_idx, energy,
        |    count(*) OVER (PARTITION BY doc_id) AS nw,
        |    sum(energy) OVER (PARTITION BY doc_id) AS tot
        |  FROM wins),
        |fl AS (
        |  SELECT *, energy * nw * 8 < tot * 7 AS is_silent FROM st),
        |fb AS (
        |  SELECT *, CASE WHEN is_silent AND NOT coalesce(
        |      lag(is_silent) OVER (PARTITION BY doc_id ORDER BY win_idx),
        |      FALSE) THEN 1 ELSE 0 END AS boundary
        |  FROM fl),
        |fi AS (
        |  SELECT *, CASE WHEN is_silent THEN sum(boundary) OVER (
        |      PARTITION BY doc_id ORDER BY win_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) END AS island
        |  FROM fb),
        |isl AS (
        |  SELECT doc_id, island, count(*) AS run_len
        |  FROM fi WHERE is_silent GROUP BY 1, 2),
        |rs AS (
        |  SELECT doc_id, count(*) AS n_islands, max(run_len) AS longest_run
        |  FROM isl GROUP BY 1),
        |b AS (
        |  SELECT doc_id, count(*) AS n_windows,
        |    CAST(sum(CASE WHEN is_silent THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_silent
        |  FROM fi GROUP BY 1)
        |SELECT b.doc_id, n_windows, n_silent,
        |  CAST(coalesce(n_islands, 0) AS BIGINT) AS n_islands,
        |  CAST(coalesce(longest_run, 0) AS BIGINT) AS longest_run
        |FROM b LEFT JOIN rs USING (doc_id) ORDER BY doc_id""".stripMargin),
    // identical 2x2-stride picks over the in_h x 32 grid (ASCII corpus:
    // char == byte), rebuilt as a string so even the payload md5 replays
    Query("mm7_resize", mm7Resize,
      """WITH g AS (
        |  SELECT doc_id, text,
        |    octet_length(encode(text)) // 32 AS in_h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, in_h, in_h // 2 AS out_h,
        |    list_transform(range(0, (in_h // 2) * 16),
        |      p -> ord(substr(text,
        |        CAST((p // 16) * 64 + (p % 16) * 2 AS INT) + 1, 1)))
        |      AS px,
        |    array_to_string(list_transform(range(0, (in_h // 2) * 16),
        |      p -> substr(text,
        |        CAST((p // 16) * 64 + (p % 16) * 2 AS INT) + 1, 1)), '')
        |      AS rs
        |  FROM g WHERE in_h >= 2)
        |SELECT doc_id, in_h, out_h, CAST(16 AS BIGINT) AS out_w,
        |  out_h * 16 AS out_len,
        |  CAST(list_aggregate(px, 'sum') AS BIGINT) AS bsum,
        |  CAST(list_sum(list_transform(range(0, out_h * 16),
        |    i -> (i + 1) * px[CAST(i AS INT) + 1])) AS BIGINT) AS wsum,
        |  md5(rs) AS out_md5
        |FROM r ORDER BY doc_id""".stripMargin),
    // the oracle replays the packing as ONE global window (affordable at
    // oracle scale — exactly why the Spark side must not use it) and the
    // signature as the same masked md5-62 sum
    Query("mm8_shard_export", mm8ShardExport,
      """WITH counted AS (
        |  SELECT doc_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST(md5_number_lower(text) & 1099511627775 AS BIGINT) AS h
        |  FROM documents),
        |assigned AS (
        |  SELECT doc_id, n_bytes, h,
        |    CAST(floor(coalesce(sum(n_bytes) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 4096)
        |      AS BIGINT) AS shard_id
        |  FROM counted)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id,
        |  CAST(sum(h) AS BIGINT) AS signature
        |FROM assigned GROUP BY shard_id ORDER BY shard_id""".stripMargin),
    Query("mm9_pair_audit", mm9PairAudit, mm9PairAuditSql),
    Query("mm10_crossmodal_audit", mm10CrossmodalAudit,
      s"""WITH $phashPairsCtes,
        |caps AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(regexp_split_to_array(lower(text),
        |      '\\s+'), x -> x != '')[1:12]) AS cap
        |  FROM documents)
        |SELECT d.id_a, d.id_b, d.hamming,
        |  floor(len(list_intersect(a.cap, b.cap))
        |    / CAST(nullif(len(list_distinct(list_concat(a.cap, b.cap))), 0)
        |      AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS cap_jaccard,
        |  (d.hamming <= 1 AND len(list_intersect(a.cap, b.cap)) * 2
        |    < len(list_distinct(list_concat(a.cap, b.cap)))) AS mismatch
        |FROM dup d
        |JOIN caps a ON d.id_a = a.doc_id
        |JOIN caps b ON d.id_b = b.doc_id
        |ORDER BY d.id_a, d.id_b""".stripMargin),
    Query("mm11_video_neardup", mm11VideoNeardup, mm11VideoNeardupSql),
    Query("mm12_audio_neardup", mm12AudioNeardup, mm12AudioNeardupSql))

  val queries: Map[String, Query.Plan] = Query.plans(registry)
}
