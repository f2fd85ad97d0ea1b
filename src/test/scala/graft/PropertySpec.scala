package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions._

/** Property tests (SURVEY §5.4): operator laws checked over generated
  * inputs, evaluated through the real engine (small literal frames).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic generator sampling (no scalatest-scalacheck bridge in
    * the offline cache): fixed seed, n cases per property.
    */
  private def forAll[T](g: Gen[T], n: Int = 30)(body: T => Unit): Unit = {
    var seed = Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      g.apply(Gen.Parameters.default, seed).foreach { v => body(v); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > 0, "generator produced no samples")
  }
  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val word: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
  private val sentence: Gen[String] =
    Gen.choose(3, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))

  test("jaccard is symmetric, bounded, and 1 on identical sets") {
    forAll(Gen.zip(Gen.listOf(word), Gen.listOf(word))) { case (a: List[String], b: List[String]) =>
      whenever(a.nonEmpty || b.nonEmpty) {
        val df = Seq((a.distinct, b.distinct)).toDF("a", "b")
        val Row = df.select(
          jaccard($"a", $"b").as("ab"), jaccard($"b", $"a").as("ba"),
          jaccard($"a", $"a").as("aa")).head()
        val (ab, ba) = (Row.getDouble(0), Row.getDouble(1))
        assert(ab == ba)
        assert(ab >= 0.0 && ab <= 1.0)
        if (a.nonEmpty) assert(Row.getDouble(2) == 1.0)
      }
    }
  }

  test("simhash is invariant under token order (bag semantics)") {
    forAll(Gen.listOfN(12, word)) { (toks: List[String]) =>
      whenever(toks.nonEmpty) {
        val df = Seq((toks, scala.util.Random.shuffle(toks))).toDF("a", "b")
        val r = df.select(
          graft.expressions.SetSketchExpressions.simhash64(
            transform($"a", t => xxhash64(t))).as("sa"),
          graft.expressions.SetSketchExpressions.simhash64(
            transform($"b", t => xxhash64(t))).as("sb")).head()
        assert(r.getLong(0) == r.getLong(1))
      }
    }
  }

  test("minhash signature equality follows set equality; similarity tracks jaccard") {
    forAll(Gen.listOfN(20, word)) { (toks: List[String]) =>
      val set = toks.distinct
      whenever(set.size >= 4) {
        // identical sets -> identical sigs; half-overlap -> sig agreement
        // roughly tracks jaccard (loose statistical bound for k=64)
        val half = set.take(set.size / 2) ++ set.map(_ + "x").take(set.size / 2)
        val df = Seq((set, set, half)).toDF("a", "b", "c")
        val r = df.select(
          minhashSignature($"a").as("sa"), minhashSignature($"b").as("sb"),
          minhashSignature($"c").as("sc")).head()
        val sa = r.getSeq[Long](0); val sb = r.getSeq[Long](1); val sc = r.getSeq[Long](2)
        assert(sa == sb)
        val agree = sa.zip(sc).count { case (x, y) => x == y } / 64.0
        val trueJ = set.intersect(half).size.toDouble / set.union(half).distinct.size
        assert(math.abs(agree - trueJ) < 0.45, s"estimate $agree vs true $trueJ")
      }
    }
  }

  test("winnowing guarantee: strings sharing a long substring share a fingerprint") {
    val n = 5; val w = 8
    forAll(Gen.zip(sentence, sentence, sentence)) { case (shared: String, p1: String, p2: String) =>
      whenever(shared.length >= w + n - 1 && p1.nonEmpty && p2.nonEmpty) {
        val s1 = p1 + " " + shared + " " + p2
        val s2 = p2 + "zz " + shared + " qq" + p1
        val df = Seq((s1, s2)).toDF("a", "b")
        val r = df.select(
          graft.expressions.SetSketchExpressions.winnowFingerprints($"a", n, w).as("fa"),
          graft.expressions.SetSketchExpressions.winnowFingerprints($"b", n, w).as("fb"))
          .head()
        val fa = r.getSeq[Long](0).toSet; val fb = r.getSeq[Long](1).toSet
        assert(fa.intersect(fb).nonEmpty,
          s"no shared fingerprint despite shared substring of length ${shared.length}")
      }
    }
  }

  test("portable hash laws: HOF-twin equality, order invariance, bag preservation") {
    import graft.expressions.{PortableHash, PortableHashExpressions}
    forAll(Gen.listOf(word), n = 20) { words =>
      whenever(words.nonEmpty) {
        val df = Seq(words).toDF("a")
        // fused distinctSorted kernel == the three-pass HOF formulation
        val fused = df.select(
          PortableHashExpressions.md5HashArray62($"a", distinctSorted = true))
          .as[Seq[Long]].head()
        val hof = words.distinct
          .map(w => PortableHash.md5Lower62(
            org.apache.spark.unsafe.types.UTF8String.fromString(w))).sorted
        assert(fused == hof)
        // the plain variant preserves order and multiplicity (SimHash input)
        val plain = df.select(
          PortableHashExpressions.md5HashArray62($"a", distinctSorted = false))
          .as[Seq[Long]].head()
        assert(plain.length == words.length)
        assert(plain.toSet == words.map(w => PortableHash.md5Lower62(
          org.apache.spark.unsafe.types.UTF8String.fromString(w))).toSet)
      }
    }
  }

  test("mod-31 minhash bands: set-equality law and element-order invariance") {
    import graft.expressions.PortableHashExpressions
    def keys(hs: Seq[Long]): Seq[Long] =
      spark.range(1).select(PortableHashExpressions.minhashBandKeysMod31(
        typedlit(hs), minhashPermA31, minhashPermB31, 16, 2))
        .as[Seq[Long]].head()
    forAll(Gen.listOf(Gen.choose(0L, (1L << 62) - 1)), n = 20) { hs =>
      whenever(hs.nonEmpty) {
        assert(keys(hs) == keys(scala.util.Random.shuffle(hs)), "order must not matter")
        assert(keys(hs).length == 16)
        assert(keys(hs) == keys(hs ++ hs), "multiplicity must not matter (min-fold)")
      }
    }
    assert(keys(Nil).isEmpty, "empty docs must produce zero band keys")
  }

  test("bloom filter: inserted keys always hit (no false negatives)") {
    import graft.expressions.BloomSketch
    forAll(Gen.listOf(Gen.choose(0L, (1L << 62) - 1)), n = 20) { hs =>
      whenever(hs.nonEmpty) {
        val bloom = hs.toDF("h").agg(BloomSketch.bloomBuild($"h").as("b"))
        val misses = hs.toDF("h").crossJoin(bloom)
          .filter(!BloomSketch.bloomHit($"b", $"h")).count()
        assert(misses == 0, "bloom false negative")
      }
    }
  }

  test("bloom filter: out-of-contract negative hashes don't crash and still hit") {
    import graft.expressions.BloomSketch
    // raw xxhash64-style inputs are negative longs; the 62-bit mask must
    // keep probe positions in range (no AIOOBE) and stay self-consistent
    val hs = Seq(Long.MinValue, -1L, -987654321L, 42L)
    val bloom = hs.toDF("h").agg(BloomSketch.bloomBuild($"h").as("b"))
    val misses = hs.toDF("h").crossJoin(bloom)
      .filter(!BloomSketch.bloomHit($"b", $"h")).count()
    assert(misses == 0)
    // and a raw negative probes the same positions as its 62-bit-masked
    // form: a filter built from masked hashes must report hits for raws
    val masked = hs.map(_ & graft.expressions.PortableHash.Mask62)
    val bloomMasked = masked.toDF("h").agg(BloomSketch.bloomBuild($"h").as("b"))
    val crossMisses = hs.toDF("h").crossJoin(bloomMasked)
      .filter(!BloomSketch.bloomHit($"b", $"h")).count()
    assert(crossMisses == 0, "masked-build vs raw-probe must agree")
  }

  test("bloom build rejects non-bigint input at analysis time") {
    import graft.expressions.BloomSketch
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a", "b").toDF("s").agg(BloomSketch.bloomBuild($"s")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("bigint"))
  }

  test("count-min sketch: estimate >= exact, partitioning-invariant") {
    import graft.expressions.CmsSketch
    forAll(Gen.listOf(Gen.choose(0L, 200L)), n = 15) { keys =>
      whenever(keys.nonEmpty) {
        // small key domain forces repeats, so exact counts > 1 exist
        val hs = keys.map(k => graft.expressions.PortableHash.md5Lower62(
          org.apache.spark.unsafe.types.UTF8String.fromString(k.toString)))
        def estimates(parts: Int): Map[Long, Long] = {
          val df = spark.sparkContext.parallelize(hs, parts).toDF("h")
          val cms = df.agg(CmsSketch.cmsBuild($"h").as("cms"))
          df.distinct().crossJoin(cms)
            .select($"h", CmsSketch.cmsEstimate($"cms", $"h").as("est"))
            .as[(Long, Long)].collect().toMap
        }
        val est = estimates(1)
        val exact = hs.groupBy(identity).map { case (h, o) => h -> o.size.toLong }
        exact.foreach { case (h, c) =>
          assert(est(h) >= c, s"CMS under-counted: est ${est(h)} < exact $c")
        }
        // elementwise-add merge: the estimate is a function of the value
        // multiset, not how it was partitioned
        assert(estimates(7) == est, "CMS must be partitioning-invariant")
      }
    }
  }

  test("count-min sketch: mismatched probe geometry fails loudly, not silently") {
    import graft.expressions.CmsSketch
    val df = Seq(1L, 2L, 3L).toDF("h")
    val cms = df.agg(CmsSketch.cmsBuild($"h", depth = 4, width = 8192).as("cms"))
    // probing a 4x8192 sketch as 4x1024 must throw the geometry message
    val e = intercept[Exception] {
      df.crossJoin(cms)
        .select(CmsSketch.cmsEstimate($"cms", $"h", depth = 4, width = 1024))
        .collect()
    }
    def root(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else root(t.getCause)
    assert(root(e).getMessage.contains("geometry mismatch"),
      s"unexpected error: ${root(e).getMessage}")
    // out-of-bounds build geometry is rejected at construction
    val bad = intercept[IllegalArgumentException] {
      CmsSketch.cmsBuild($"h", depth = 16, width = 1 << 26)
    }
    assert(bad.getMessage.contains("depth*width"))
  }

  test("count(col) + count of nulls == count(*) (A2 law)") {
    forAll(Gen.listOf(Gen.option(Gen.choose(0, 100)))) { (vs: List[Option[Int]]) =>
      whenever(vs.nonEmpty) {
        val df = vs.toDF("v")
        val r = df.agg(count(lit(1)).as("all"), count($"v").as("nn"),
          sum(when($"v".isNull, 1).otherwise(0)).as("nulls")).head()
        assert(r.getLong(0) == r.getLong(1) + r.getLong(2))
      }
    }
  }

  test("dot product: codegen == interpreted == plain Scala fold (random vectors)") {
    import org.scalacheck.Gen
    import spark.implicits._
    val vec = Gen.listOfN(16, Gen.chooseNum(-100f, 100f))
    val prop = org.scalacheck.Prop.forAll(vec, vec) { (a: List[Float], b: List[Float]) =>
      val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      val df = Seq((a, b)).toDF("a", "b")
        .select(graft.functions.VectorFunctions.dot($"a", $"b").as("d"))
      val viaCodegen = df.as[Double].head()
      // interpreted path: evaluate the expression directly, no codegen
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, FloatType}
      val e = graft.expressions.DotProduct(
        Literal.create(a.toArray, ArrayType(FloatType, containsNull = false)),
        Literal.create(b.toArray, ArrayType(FloatType, containsNull = false)))
      val viaEval = e.eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Double]
      viaCodegen == expected && viaEval == expected
    }
    org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(30), prop)
      .status match {
      case org.scalacheck.Test.Passed | org.scalacheck.Test.Proved(_) =>
      case other => fail(s"property failed: $other")
    }
  }

  test("LangScores counts every marker set a token belongs to, tokenizer-equal") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sets = Array(Array("the", "shared"), Array("der", "shared"))
    val df = Seq("the shared THE  der\tshared x").toDF("text")
    val out = df.select(org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.LangScores(
        org.apache.spark.sql.graft.ColumnBridge.expression($"text"), sets))
      .as("sc")).as[Seq[Long]].head()
    // set 0: the, shared, THE(lower), shared -> 4; set 1: shared, der, shared -> 3
    assert(out == Seq(4L, 3L))
  }

  test("zorder key is a bijection: de-interleaving recovers (x, y) exactly") {
    val pts = forAllPairs(Gen.choose(0, 255), Gen.choose(0, 255))
    val df = pts.toDF("x", "y")
      .withColumn("z", graft.sources.Maintenance.zorderKey2($"x", $"y", bits = 8))
    df.as[(Int, Int, Long)].collect().foreach { case (x, y, z) =>
      var (rx, ry) = (0, 0)
      for (i <- 0 until 8) {
        rx |= (((z >> (2 * i)) & 1L) << i).toInt
        ry |= (((z >> (2 * i + 1)) & 1L) << i).toInt
      }
      assert(rx == x && ry == y, s"z=$z decoded to ($rx,$ry), expected ($x,$y)")
      assert(z >= 0 && z < (1L << 16))
    }
  }

  private def forAllPairs(gx: Gen[Int], gy: Gen[Int], n: Int = 60): Seq[(Int, Int)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    forAll(Gen.zip(gx, gy), n) { case (a, b) => buf += ((a, b)) }
    buf.toSeq
  }

  test("bitmap distinct laws: == distinct count, partition-invariant, words popcount agrees") {
    import graft.expressions.BitmapDistinct.{bitmapDistinct, bitmapWords}
    forAll(Gen.zip(Gen.choose(1, 40),
      Gen.listOfN(60, Gen.choose(0L, 4095L))), 15) { case (parts, ids) =>
      val df = ids.toDF("id").repartition(parts)
      val got = df.agg(bitmapDistinct($"id", 4096)).as[Long].head()
      assert(got == ids.distinct.size.toLong)
      // words form: popcount over the fixed-width array == the count, and
      // set bits are exactly the distinct ids
      val words = df.agg(bitmapWords($"id", 4096)).as[Seq[Long]].head()
      assert(words.length == 4096 / 64)
      val bits = for {
        (w, wi) <- words.zipWithIndex; b <- 0 until 64
        if (w & (1L << b)) != 0L
      } yield wi * 64L + b
      assert(bits.toSet == ids.toSet)
    }
  }

  test("span chunks partition the token stream: concatenation law, sizes law") {
    import graft.expressions.SpanChunks.spanChunks
    forAll(Gen.choose(2, 5).flatMap(n =>
      Gen.zip(Gen.const(n), Gen.listOfN(11, word))), 20) { case (n, toks) =>
      val df = Seq(Tuple1(toks)).toDF("t")
        .select(spanChunks($"t", n).as(Seq("idx", "span")))
      val spans = df.as[(Int, String)].collect().sortBy(_._1).map(_._2)
      // concatenating the spans in idx order recovers the token stream
      assert(spans.mkString(" ") == toks.mkString(" "))
      // every span is n tokens except possibly the last
      val sizes = spans.map(_.split(" ").length)
      assert(sizes.dropRight(1).forall(_ == n))
      assert(sizes.isEmpty || (sizes.last <= n && sizes.last >= 1))
    }
  }

  test("q58/q65 bounded-domain guards fail loudly outside the envelope (no silent BIGINT wrap)") {
    import graft.operators.Relational
    // tiny events-shaped table: the guards must abort like BitmapDistinct
    // does, never silently diverge from the HUGEINT oracle
    def mkEvents(rows: Seq[(Long, String, Long, Double)]): String = {
      val dir = java.nio.file.Files.createTempDirectory("guard_events").toString
      rows.map { case (id, t, uid, v) => (id, t, uid, "t0", v, null: String) }
        .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
        .select($"event_id", to_timestamp($"tss").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
        .write.parquet(s"$dir/events.parquet")
      dir
    }
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

    // q58: a $2M event puts cents >= 2^17 — shift-decay envelope broken
    val badCents = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, 3.5),
      (2L, "2024-01-02 00:00:00", 1L, 2000000.0)))
    val e1 = intercept[Exception] {
      Relational.queries("q58_decay_score")(spark, badCents).collect()
    }
    assert(chain(e1).contains("envelope"), s"wrong failure: ${chain(e1)}")

    // q65: two events 1.5 years apart — dur_s >= 2^25 envelope broken
    val badDur = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, 3.5),
      (2L, "2025-07-01 00:00:00", 1L, 4.5)))
    val e2 = intercept[Exception] {
      Relational.queries("q65_twap")(spark, badDur).collect()
    }
    assert(chain(e2).contains("envelope"), s"wrong failure: ${chain(e2)}")

    // in-domain rows still pass through both queries unharmed
    val good = mkEvents(Seq(
      (1L, "2024-01-01 00:00:00", 1L, 3.5),
      (2L, "2024-01-02 00:00:00", 1L, 4.5)))
    assert(Relational.queries("q58_decay_score")(spark, good).count() == 1L)
    assert(Relational.queries("q65_twap")(spark, good).count() == 1L)
  }

  test("drift table laws: side-symmetric, zero on identical profiles, JS terms non-negative") {
    import graft.operators.TextAnalysis
    val cntGen = Gen.listOfN(30, Gen.zip(
      Gen.listOfN(4, Gen.alphaLowerChar).map(_.mkString),
      Gen.choose(0L, 50L), Gen.choose(0L, 50L)))
    forAll(cntGen, n = 6) { raw =>
      // distinct grams, at least one occurrence somewhere
      val rows = raw.groupBy(_._1).map { case (w, xs) =>
        (w, xs.map(_._2).sum, xs.map(_._3).sum)
      }.toSeq.filter(r => r._2 + r._3 > 0)
      whenever(rows.nonEmpty) {
        val counts = rows.toDF("w", "ca", "cb")
        val fwd = TextAnalysis.driftTable(counts)
          .as[(String, Long, Long, Double, Double)].collect().toSeq
        // Jensen-Shannon is symmetric: swapping the sides preserves every
        // gram's divergence numbers (counts swap, scores don't)
        val bwd = TextAnalysis.driftTable(
          counts.select($"w", $"cb".as("ca"), $"ca".as("cb")))
          .as[(String, Long, Long, Double, Double)].collect().toSeq
        assert(fwd.map(r => (r._1, r._4, r._5)) ==
          bwd.map(r => (r._1, r._4, r._5)))
        assert(fwd.map(r => (r._2, r._3)) == bwd.map(r => (r._3, r._2)))
        fwd.foreach(r => assert(r._5 >= 0.0, s"negative JS term: $r"))
        // identical profiles: every divergence collapses to zero
        val same = TextAnalysis.driftTable(
          counts.select($"w", $"ca", $"ca".as("cb")))
          .as[(String, Long, Long, Double, Double)].collect().toSeq
        same.foreach(r => assert(r._4 == 0.0 && r._5 == 0.0, s"$r"))
      }
    }
  }

  test("keyed two-phase prefix == naive per-key window on random keyed streams") {
    import graft.operators.KeyedRank
    import org.apache.spark.sql.expressions.Window
    def before(df: org.apache.spark.sql.DataFrame, w: org.apache.spark.sql.expressions.WindowSpec) =
      df.withColumn("before", coalesce(sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // rows: (key from a small alphabet, hash anywhere in [0, 2^62),
    // including shard-boundary extremes, tie id, small value). Keys may
    // hold '#': "a#1" beside "a" with hashes in shard 12
    val rowGen = Gen.listOfN(60, Gen.zip(
      Gen.oneOf("a", "b", "c", "a#1"),
      Gen.oneOf(Gen.choose(0L, (1L << 62) - 1), Gen.oneOf(0L, (1L << 56) - 1,
        1L << 56, 12L << 56, (13L << 56) - 1, (1L << 62) - 1)),
      Gen.choose(0L, 1000L), Gen.choose(0L, 50L)))
    forAll(rowGen, n = 8) { rows =>
      // a unique tie makes (h, tie) a total order
      val df = rows.groupBy(_._3).map(_._2.head).toSeq.toDF("k", "h", "tie", "v")
      val got = KeyedRank.prefixBefore(df, Some("k"),
          shiftright($"h", 56).cast("int"), Seq($"h", $"tie"), $"v")
        .as[(String, Long, Long, Long, Long)].collect().toSet
      val naive = before(df, Window.partitionBy($"k").orderBy($"h", $"tie"))
        .as[(String, Long, Long, Long, Long)].collect().toSet
      assert(got == naive, "keyed hash-sharded prefix != naive window")
    }
    // a null key has no entry in the literal offset map: refused loudly
    val nullKey = Seq[(String, Long, Long, Long)](("a", 1L, 0L, 1L), (null, 2L, 1L, 1L))
      .toDF("k", "h", "tie", "v")
    val ex = intercept[IllegalArgumentException] {
      KeyedRank.prefixBefore(nullKey, Some("k"), lit(0), Seq($"h"), $"v")
    }
    assert(ex.getMessage.contains("null"), ex.getMessage)
    // no key: equal-width range shards of a numeric order, ascending and
    // (sharding the negation) descending, duplicates included
    val globalGen = Gen.listOfN(60, Gen.zip(
      Gen.oneOf(Gen.choose(-1000L, 1000L), Gen.oneOf(-1000L, 0L, 1000L)),
      Gen.choose(0L, 1000L), Gen.choose(-50L, 50L)))
    forAll(globalGen, n = 8) { rows =>
      val df = rows.groupBy(_._2).map(_._2.head).toSeq
        .toDF("x", "tie", "v").repartition(3)
      for ((shardBy, order) <- Seq(
          ($"x", Seq($"x", $"tie")), (-$"x", Seq($"x".desc, $"tie")))) {
        val (shard, _) = KeyedRank.rangeShard(df, shardBy)
        val got = KeyedRank.prefixBefore(df, None, shard, order, $"v")
          .as[(Long, Long, Long, Long)].collect().toSet
        val naive = before(df, Window.orderBy(order: _*))
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(got == naive, s"range-sharded prefix over $order != naive window")
      }
    }
  }

  test("keyedTopK / keyedRank == naive per-key windows on random skewed keyed frames") {
    import graft.operators.KeyedRank
    import org.apache.spark.sql.expressions.Window
    // keys skew toward "hot" (most draws), ord has heavy duplicates so
    // boundary tie-splitting is exercised, tie is unique after dedupe
    val rowGen = Gen.listOfN(80, Gen.zip(
      Gen.frequency(5 -> Gen.const("hot"), 1 -> Gen.oneOf("a", "b", "c")),
      Gen.oneOf(0.0, 1.5, 2.5, 3.0, 3.5),
      Gen.choose(0L, 100000L)))
    forAll(rowGen, n = 6) { rows0 =>
      val rows = rows0.groupBy(_._3).map(_._2.head).toSeq // unique tie
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "q", "id").repartition(7)
        val naiveW = Window.partitionBy($"k").orderBy($"q".desc, $"id".asc)
        val naive = df.withColumn("rank", row_number().over(naiveW))
          .as[(String, Double, Long, Int)].collect().toSet
        // full per-key rank, at a shard count small enough that shards
        // hold several rows (offset arithmetic) and the default
        for (sh <- Seq(4, 64)) {
          val got = KeyedRank.keyedRank(df, "k", "q", "id", "rank",
            descending = true, shards = sh)
            .as[(String, Double, Long, Int)].collect().toSet
          assert(got == naive, s"keyedRank(shards=$sh) != naive window")
        }
        // ascending order too (boundary precedence flips)
        val naiveAsc = df.withColumn("rank", row_number().over(
          Window.partitionBy($"k").orderBy($"q".asc, $"id".asc)))
          .as[(String, Double, Long, Int)].collect().toSet
        val gotAsc = KeyedRank.keyedRank(df, "k", "q", "id", "rank",
          descending = false, shards = 4)
          .as[(String, Double, Long, Int)].collect().toSet
        assert(gotAsc == naiveAsc, "ascending keyedRank != naive window")
        // bounded per-key top-k: identical rows AND identical ranks
        val k = 3
        val gotTop = KeyedRank.keyedTopK(df, Seq("k"),
          Seq($"q".desc, $"id".asc), k, "rank")
          .as[(String, Double, Long, Int)].collect().toSet
        assert(gotTop == naive.filter(_._4 <= k), "keyedTopK != naive top-k")
      }
    }
    // a '#' in a key value is an ordinary key: "x#1" beside "x"
    val hashKeys = Seq(("x#1", 1.0, 5L), ("x", 2.0, 6L), ("x", 1.0, 7L),
      ("x#1", 3.0, 8L)).toDF("k", "q", "id")
    val naiveHash = hashKeys.withColumn("rank", row_number().over(
      Window.partitionBy($"k").orderBy($"q".desc, $"id".asc)))
      .as[(String, Double, Long, Int)].collect().toSet
    assert(KeyedRank.keyedRank(hashKeys, "k", "q", "id", "rank", shards = 2)
      .as[(String, Double, Long, Int)].collect().toSet == naiveHash,
      "keyedRank over '#'-bearing keys != naive window")
  }

  test("keyedTopK re-spreads a key-aligned input (hot key colocated by a prior shuffle on the key)") {
    import graft.operators.KeyedRank
    import org.apache.spark.sql.expressions.Window
    // the degenerate precondition: a frame freshly hash-partitioned by
    // exactly the rank key colocates EVERY row of the hot key in one
    // partition, so phase 1's per-(key, partition) prune does nothing.
    // 90% of rows share one key — the VERDICT r15 fixture shape.
    val rows = (0L until 400L).map(i =>
      (if (i < 360) "hot" else s"cold${i % 5}", (i * 37 % 101).toDouble, i))
    val df = rows.toDF("k", "q", "id").repartition($"k") // key-aligned
    // guard must detect the alignment and fire
    val (spread, fired) = KeyedRank.spreadIfKeyAligned(df, Seq("k"))
    assert(fired, "guard did not detect key-aligned partitioning")
    // and the hot key must span >1 partition after the re-spread.
    // AQE's small-partition coalescing would merge this toy shuffle back
    // into one partition (at scale a hot key's partitions are large and
    // never coalesce) — switch it off just for the observation
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey, "true")
    val hotParts = try {
      spark.conf.set(coalesceKey, "false")
      spread.filter($"k" === "hot")
        .select(spark_partition_id()).distinct().count()
    } finally spark.conf.set(coalesceKey, prev)
    assert(hotParts > 1, s"hot key still colocated ($hotParts partition)")
    // a scan/shuffle-on-other-columns input must NOT pay the extra shuffle
    val (_, firedOther) =
      KeyedRank.spreadIfKeyAligned(rows.toDF("k", "q", "id").repartition(7), Seq("k"))
    assert(!firedOther, "guard fired on a non-aligned input")
    // end to end: ranks still exactly match the naive window
    val naive = df.withColumn("rank", row_number().over(
      Window.partitionBy($"k").orderBy($"q".desc, $"id".asc)))
      .filter($"rank" <= 5)
      .as[(String, Double, Long, Int)].collect().toSet
    val got = KeyedRank.keyedTopK(df, Seq("k"), Seq($"q".desc, $"id".asc), 5, "rank")
      .as[(String, Double, Long, Int)].collect().toSet
    assert(got == naive, "keyedTopK on key-aligned input != naive top-k")
  }

  test("spreadIfKeyAligned: fires under AQE on AND off, on repartition and fresh groupBy exchanges, resolving keys by exprId") {
    import graft.operators.KeyedRank
    val rows = (0L until 200L).map(i =>
      (if (i < 180) "hot" else s"cold${i % 5}", (i * 37 % 101).toDouble, i))
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqeKey, "true")
    try {
      for (aqe <- Seq("true", "false")) {
        spark.conf.set(aqeKey, aqe)
        // fresh key-aligned exchange via repartition
        val (_, f1) = KeyedRank.spreadIfKeyAligned(
          rows.toDF("k", "q", "id").repartition($"k"), Seq("k"))
        assert(f1, s"guard missed repartition-by-key (aqe=$aqe)")
        // fresh groupBy ON the key: the exchange appears only in the
        // PREPARED plan (EnsureRequirements), which sparkPlan never
        // shows — the r16 probe's blind spot, closed in r17
        val (_, f2) = KeyedRank.spreadIfKeyAligned(
          rows.toDF("k", "q", "id").groupBy($"k")
            .agg(org.apache.spark.sql.functions.sum($"q").as("q"),
              org.apache.spark.sql.functions.max($"id").as("id")), Seq("k"))
        assert(f2, s"guard missed fresh groupBy-on-key exchange (aqe=$aqe)")
        // key resolution is by analyzed-output exprId via the session
        // resolver, not raw names: a differently-cased key column still
        // counts under the default case-insensitive analysis
        val (_, f3) = KeyedRank.spreadIfKeyAligned(
          rows.toDF("K", "q", "id").repartition($"K"), Seq("k"))
        assert(f3, s"guard missed case-differing key column (aqe=$aqe)")
        // non-aligned input pays nothing in either branch
        val (_, f4) = KeyedRank.spreadIfKeyAligned(
          rows.toDF("k", "q", "id").repartition(7), Seq("k"))
        assert(!f4, s"guard false-fired on non-aligned input (aqe=$aqe)")
      }
    } finally spark.conf.set(aqeKey, prev)
  }

  test("snapshot commits: any append/overwrite/compact sequence time-travels to the modeled state at EVERY version") {
    import graft.sources.Snapshots
    // model-based check: a random op sequence against the real table,
    // an in-memory Vector[Set[Long]] as the model — every historical
    // version must still read back exactly its modeled contents.
    // `compact` preserves content (a rewrite version) and may be a
    // no-op (<2 candidate files) — then the model must NOT grow.
    val opGen = Gen.listOfN(5,
      Gen.zip(Gen.oneOf("append", "overwrite", "compact"), Gen.choose(1, 20)))
    var nextId = 0L
    forAll(opGen, n = 6) { ops =>
      val table = java.nio.file.Files
        .createTempDirectory("snap_prop").toString + "/t"
      var model = Vector.empty[Set[Long]]
      ops.foreach { case (op, sz) =>
        val ids = (0 until sz).map(_ => { nextId += 1; nextId }).toSet
        val df = ids.toSeq.toDF("id")
        val v = op match {
          case "append" =>
            model = model :+ (model.lastOption.getOrElse(Set.empty) ++ ids)
            Snapshots.commitAppend(df, table, s"append $sz")
          case "overwrite" =>
            model = model :+ ids
            Snapshots.commitOverwrite(df, table, s"overwrite $sz")
          case _ if model.isEmpty => // nothing to compact yet — skip
            model.length
          case _ =>
            val got = Snapshots.compact(spark, table)
            if (got == model.length + 1) model = model :+ model.last
            got
        }
        assert(v == model.length)
      }
      // EVERY version (not just the head) matches its model snapshot
      model.zipWithIndex.foreach { case (want, i) =>
        val got = Snapshots.readVersion(spark, table, Some(i + 1))
          .as[Long].collect().toSet
        assert(got == want, s"version ${i + 1}: got $got want $want")
        // incremental read from the previous version = exactly the delta
        // for appends; for overwrites it is the new files' rows
        if (i > 0) {
          val inc = Snapshots.incrementalRead(spark, table, i, Some(i + 1))
            .as[Long].collect().toSet
          assert(inc == (want -- model(i - 1)) || inc == want,
            s"incremental ${i} -> ${i + 1}: $inc")
        }
      }
    }
  }

  test("offset log: random append sequences round-trip byte-exactly with dense offsets") {
    import graft.streaming.OffsetLog
    // keys/values deliberately include the characters the line format
    // must survive: tabs, newlines, pipes, empties, non-ASCII
    val kv: Gen[(String, String)] = for {
      k <- Gen.oneOf(Gen.const(""), Gen.const("k\t\n|é"),
        Gen.listOfN(5, Gen.alphaNumChar).map(_.mkString))
      v <- Gen.oneOf(Gen.const(""), Gen.const("v\tx\ny|☃"),
        Gen.listOfN(7, Gen.asciiPrintableChar).map(_.mkString))
    } yield (k, v)
    val appendSeq: Gen[(Int, List[(Int, List[(String, String)])])] = for {
      nParts <- Gen.choose(1, 3)
      nApps <- Gen.choose(1, 5)
      apps <- Gen.listOfN(nApps, for {
        p <- Gen.choose(0, nParts - 1)
        recs <- Gen.nonEmptyListOf(kv).map(_.take(6))
      } yield (p, recs))
    } yield (nParts, apps)
    forAll(appendSeq, n = 8) { case (nParts, apps) =>
      val dir = java.nio.file.Files
        .createTempDirectory("olog_prop").toString + "/log"
      OffsetLog.create(spark, dir, nParts)
      val model = scala.collection.mutable.Map
        .empty[Int, Vector[(String, String)]].withDefaultValue(Vector.empty)
      apps.foreach { case (p, recs) =>
        val hw = OffsetLog.append(spark, dir, p, 1234L, recs)
        model(p) = model(p) ++ recs
        assert(hw == model(p).size, "high-water must equal the model length")
      }
      val got = spark.read.format("offsetlog").load(dir)
        .select($"partition", $"offset", $"key", $"value")
        .as[(Int, Long, String, String)].collect()
        .groupBy(_._1).view
        .mapValues { rs =>
          // offsets dense from 0 within the partition
          assert(rs.map(_._2).sorted.toSeq == (0L until rs.size))
          rs.sortBy(_._2).map(r => (r._3, r._4)).toVector
        }.toMap
      assert(got == model.filter(_._2.nonEmpty).toMap,
        "batch read must reproduce every appended record in order")
    }
  }

  test("snapshot op sequences serialize: append/deleteWhere/mergeInto/compact equal the in-memory model") {
    import graft.sources.Snapshots
    // ops over rows (k: nullable long in [0, 50], v: short string); every
    // sequence starts with an append so row-level verbs have a parent.
    // Nullable keys exercise the has-nulls zone-map markers; compaction
    // exercises stats preservation under later zone-scoped deletes.
    sealed trait Op
    case class App(rows: List[(Option[Long], String)]) extends Op
    case class Del(lo: Long, hi: Long) extends Op
    case class Mrg(rows: List[(Long, String)]) extends Op
    case object Comp extends Op
    val key: Gen[Option[Long]] =
      Gen.frequency((9, Gen.choose(0L, 50L).map(Option(_))), (1, Gen.const(None)))
    val row: Gen[(Option[Long], String)] = Gen.zip(key, word)
    val app: Gen[Op] = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, row)).map(App)
    val del: Gen[Op] = Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 20L))
      .map { case (lo, span) => Del(lo, lo + span) }
    val mrg: Gen[Op] = Gen.choose(1, 4)
      .flatMap(n => Gen.listOfN(n, Gen.zip(Gen.choose(0L, 50L), word))).map(Mrg)
    val ops: Gen[List[Op]] = Gen.listOfN(5,
      Gen.frequency((4, app), (3, del), (3, mrg), (1, Gen.const(Comp))))
    var i = 0
    forAll(Gen.zip(Gen.choose(2, 6).flatMap(n => Gen.listOfN(n, row)), ops),
        n = 6) { case (first, rest) =>
      i += 1
      val table = java.nio.file.Files
        .createTempDirectory(s"snap_prop_$i").toString + "/t"
      var model = Vector.empty[(Option[Long], String)]
      def run(op: Op): Unit = op match {
        case App(rows) =>
          Snapshots.commitAppend(rows.toDF("k", "v"), table,
            statsCols = Seq("k"))
          model = model ++ rows
        case Del(lo, hi) =>
          Snapshots.deleteWhere(spark, table, "k", lo, hi)
          model = model.filterNot(_._1.exists(k => k >= lo && k <= hi))
        case Mrg(rows) =>
          Snapshots.mergeInto(spark, table,
            rows.map { case (k, v) => (Option(k), v) }.toDF("k", "v"), "k")
          val keys = rows.map(_._1).toSet
          model = model.filterNot(_._1.exists(keys)) ++
            rows.map { case (k, v) => (Option(k), v) }
        case Comp =>
          Snapshots.compact(spark, table, smallBytes = Long.MaxValue)
      }
      run(App(first))
      val afterFirst = model
      rest.foreach(run)
      val got = Snapshots.readVersion(spark, table)
        .as[(Option[Long], String)].collect().toVector
      assert(got.sorted == model.sorted,
        s"live state diverged from the serial model at table $table")
      // the first committed version stays time-travelable through it all
      assert(Snapshots.readVersion(spark, table, Some(1))
        .as[(Option[Long], String)].collect().toVector.sorted
        == afterFirst.sorted, "v1 time travel drifted")
    }
  }

  test("AC automaton == naive all-occurrence counting on random pattern sets") {
    import graft.expressions.AcAutomaton
    // random border-free pattern sets over a 3-letter alphabet (maximal
    // overlap pressure: patterns nest inside and chain across each other)
    val abcWord: Gen[String] = Gen.choose(1, 5)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val patSet: Gen[List[String]] = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, abcWord))
      .map(_.distinct.filterNot(AcAutomaton.hasBorder))
    val text: Gen[String] = Gen.choose(0, 120)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
    def naive(t: String, p: String): Int =
      (0 to t.length - p.length).count(i => t.regionMatches(i, p, 0, p.length))
    forAll(Gen.zip(patSet, text), n = 60) { case (pats: List[String], t: String) =>
      whenever(pats.nonEmpty) {
        val got = new AcAutomaton(pats.toIndexedSeq).counts(t)
        pats.zipWithIndex.foreach { case (p, i) =>
          assert(got(i) == naive(t, p), s"pattern '$p' on text '$t'")
        }
      }
    }
  }
}
