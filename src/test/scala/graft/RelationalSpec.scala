package graft

import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Correctness invariants for the relational suite. Exact-value parity vs
  * DuckDB is the driver's t2 gate (tools/check.py); these tests pin the
  * semantic corners SURVEY §7.4 calls out: rank ties, no-ELSE CASE nulls,
  * count(*) vs count(col), SQL ≡ DataFrame equivalence.
  */
class RelationalSpec extends SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs at sf0.001 and matches declared-oracle arity") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // materializes; throws on broken plans
    }
  }

  test("the registry holds 204 names once each, split by family, each with an oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 204 && names.distinct.size == 204)
    assert(names.head == "q1_agg", "Bench's untimed warmup is the first registered query")
    // perfbench attributes each query to the family whose `queries` has it
    val families = Seq(Relational.queries, operators.TextAnalysis.queries,
      operators.Dedup.queries, operators.Similarity.queries,
      operators.Graph.queries, multimodal.Multimodal.queries,
      pipeline.CorpusPipeline.queries, plans.Asof.queries).map(_.keySet)
    assert(families.map(_.size).sum == 204, "a name is in two families")
    assert(families.reduce(_ ++ _) == SparkEntry.queries.keySet)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name has a blank oracle")
      // a val read before its object initialised it interpolates as "null"
      assert("\\bnull\\b".r.findFirstIn(sql).isEmpty, s"$name oracle interpolates null")
    }
  }

  test("rank() preserves tie-with-gap semantics (SURVEY §7.4.3)") {
    import spark.implicits._
    val df = Seq(("b1", "d1", 5L), ("b1", "d2", 5L), ("b1", "d3", 4L), ("b1", "d4", 3L))
      .toDF("base", "day", "cnt")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"base").orderBy($"cnt".desc)
    val ranks = df.withColumn("rnk", rank().over(w))
      .orderBy($"day").select($"rnk").as[Int].collect().toSeq
    // two rank-1 ties, then a GAP to rank 3 (not dense_rank's 2)
    assert(ranks == Seq(1, 1, 3, 4))
  }

  test("no-ELSE CASE yields NULL month names outside 1-6 (SURVEY §7.4.4)") {
    val out = Relational.q9WindowAvgCase(spark, sfDir)
    val monthsWithNull = out.filter(col("month_name").isNull)
      .select(col("mo")).distinct().collect().map(_.getInt(0)).toSet
    assert(monthsWithNull.nonEmpty && monthsWithNull.forall(m => m >= 7 && m <= 12))
    val named = out.filter(col("month_name").isNotNull)
      .select(col("mo")).distinct().collect().map(_.getInt(0)).toSet
    assert(named.subsetOf((1 to 6).toSet))
  }

  test("q10 window-sum form ≡ correlated scalar subquery form (A5 decorrelation)") {
    Tables.registerAll(spark, sfDir)
    val sqlForm = spark.sql(
      """WITH m AS (
        |  SELECT l_suppkey, month(l_shipdate) AS mo, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, mo, cnt,
        |  CAST(floor((cnt * 100.0 / (SELECT sum(cnt) FROM m sub WHERE sub.mo = m.mo)) * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS share_pct
        |FROM m""".stripMargin)
    val dfForm = Relational.q10ShareMonth(spark, sfDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(dfForm.columns.map(col): _*)
      .orderBy("mo", "l_suppkey").collect().map(_.toSeq).toSeq
    assert(rows(sqlForm) == rows(dfForm))
  }

  test("count(col) skips nulls where count(*) does not (A2)") {
    import spark.implicits._
    val df = Seq(Some(1), None, Some(3)).toDF("v")
    val r = df.agg(count(lit(1)).as("all"), count($"v").as("nonnull"))
      .collect()(0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 2)
  }

  test("q7 top-k plans TakeOrderedAndProject, not a global sort") {
    val plan = Relational.q7TopkGlobal(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan:\n$plan")
  }

  test("q16 rollup grand total equals table count") {
    val out = Relational.q16Rollup(spark, sfDir)
    val grand = out.filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
      .select(col("cnt")).as[Long](org.apache.spark.sql.Encoders.scalaLong).head()
    assert(grand == Tables.load(spark, sfDir, "lineitem").count())
  }

  test("q17 semi and q18 anti partition the customer set") {
    val semi = Relational.q17SemiJoin(spark, sfDir).count()
    val anti = Relational.q18AntiJoin(spark, sfDir).count()
    assert(semi + anti == Tables.load(spark, sfDir, "customer").count())
  }

  test("q20 sessions cover every event with non-negative durations") {
    val out = Relational.q20Sessionize(spark, sfDir)
    val totalEvents = out.agg(sum(col("n_events")))
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).head()
    assert(totalEvents == Tables.load(spark, sfDir, "events").count())
    assert(out.filter(col("duration_sec") < 0).count() == 0)
  }

  test("q22 sketches land within tolerance of exact values") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("parts"),
        expr("percentile(l_extendedprice, 0.5)").as("median"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    Relational.q22ApproxSketch(spark, sfDir).collect().foreach { r =>
      val (parts, median) = exact(r.getString(0))
      assert(math.abs(r.getDouble(1) - parts) / parts < 0.1,
        s"KMV off: ${r.getDouble(1)} vs $parts")
      assert(math.abs(r.getDouble(3) - median) / median < 0.05,
        s"approx median off: ${r.getDouble(3)} vs $median")
    }
  }

  test("q5 joins the dim via broadcast (no shuffle of the fact side)") {
    val plan = Relational.q5JoinBroadcast(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"unexpected plan:\n$plan")
  }

  test("q30 KMV sketch: ~3% accuracy and invariant under repartitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
    val exact = li.groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("exact"))
      .as[(String, Long)].collect().toMap
    def kmv(df: org.apache.spark.sql.DataFrame) = df.groupBy($"l_returnflag")
      .agg(graft.expressions.KmvSketch.kmvDistinct($"l_partkey", 256).as("est"))
      .as[(String, Double)].collect().toMap
    val est = kmv(li)
    exact.foreach { case (k, ex) =>
      val e = est(k)
      assert(math.abs(e - ex) / ex < 0.25, s"$k: est $e vs exact $ex")
    }
    // the estimate is a pure function of the value SET: any partitioning
    // (hence any partial-agg merge order) yields the identical double
    assert(kmv(li.repartition(1)) == kmv(li.repartition(13, $"l_orderkey")))
  }

  test("q42 merge upsert: deletes gone, inserts present, updates repriced") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val orders = Tables.load(spark, sfDir, "orders")
    val out = Relational.q42MergeUpsert(spark, sfDir)
    val byType = out.groupBy($"change_type").count()
      .as[(String, Long)].collect().toMap
    val nByMod = orders.select(($"o_orderkey" % 10).as("m")).groupBy($"m")
      .count().as[(Long, Long)].collect().toMap
    // no deleted key survives; every insert lands under the shifted key
    assert(out.filter($"o_orderkey" % 10 === 1 && $"o_orderkey" < 100000000L)
      .count() == 0)
    assert(byType("I") == nByMod(2L) &&
      out.filter($"o_orderkey" >= 100000000L).count() == byType("I"))
    assert(byType("U") == nByMod(0L))
    // total = target - deletes + inserts
    assert(out.count() == orders.count() - nByMod(1L) + nByMod(2L))
    // an updated row carries the +5% price of its source row
    val probe = orders.filter($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].head()
    val merged = out.filter($"o_orderkey" === probe._1)
      .select($"o_totalprice").as[Double].head()
    assert(math.abs(merged - probe._2 * 1.05) < 0.01)
  }

  test("q43 unpivot: one Expand pass, long-form counts match wide row count") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
    val out = Relational.q43Unpivot(spark, sfDir)
    val rows = out.as[(String, Long, Double, Double)].collect()
    assert(rows.length == 4 && rows.forall(_._2 == li.count()))
    // melt is planned as a single Expand over one scan, not a self-union
    val plan = Relational.q43Unpivot(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"expected Expand in:\n$plan")
    assert(!plan.contains("Union"), "unpivot must not plan a self-union")
  }

  test("q44 HLL: raw estimate within 20% of exact on every group") {
    import spark.implicits._
    val rows = Relational.q44HllDistinct(spark, sfDir)
      .as[(String, Long, Double, Long)].collect()
    rows.foreach { case (flag, exact, est, nregs) =>
      assert(nregs <= 64)
      assert(math.abs(est - exact) / exact < 0.20,
        s"$flag: HLL $est vs exact $exact")
    }
  }

  test("q45 argmax: packed-long aggregate matches sort-based reference") {
    import spark.implicits._
    val rows = Relational.q45Argmax(spark, sfDir)
      .as[(String, Long, Double, Long, Long, String)].collect()
    val orders = Tables.load(spark, sfDir, "orders")
      .select($"o_orderpriority", $"o_orderkey", $"o_custkey",
        $"o_totalprice", to_date($"o_orderdate").cast("string"), $"o_orderstatus")
      .as[(String, Long, Long, Double, String, String)].collect()
    rows.foreach { case (pri, n, bestPrice, bestCust, firstKey, modeStatus) =>
      val g = orders.filter(_._1 == pri)
      assert(n == g.length)
      // argmax by CENTS of price (the declared tie granularity), min custkey
      val cents = (p: Double) => math.floor(p * 100.0 + 0.5).toLong
      val best = g.maxBy(o => (cents(o._4), -o._3))
      assert(cents(best._4).toDouble / 100.0 == bestPrice)
      assert(best._3 == bestCust, s"$pri best_cust")
      // argmin by day, min orderkey
      val first = g.minBy(o => (o._5, o._2))
      assert(first._2 == firstKey, s"$pri first_orderkey")
      // mode with min-status tiebreak
      val mode = g.groupBy(_._6).view.mapValues(_.size).toSeq
        .minBy { case (st, c) => (-c, st) }._1
      assert(mode == modeStatus, s"$pri mode")
    }
  }

  test("q46 running count-distinct: per-user prefix counts are exact") {
    import spark.implicits._
    val rcd = Relational.q46Rcd(spark, sfDir)
      .as[(Long, Long, Long)].collect()
    val ev = Tables.load(spark, sfDir, "events")
      // cast to double keeps sub-second precision — the query orders by the
      // full-resolution timestamp, so the reference must too
      .select($"event_id", $"user_id", $"ts".cast("double"), $"event_type")
      .as[(Long, Long, Double, String)].collect()
    val byUser = ev.groupBy(_._2)
    val expect = byUser.toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val seen = scala.collection.mutable.Set.empty[String]
      sorted.map { r => seen += r._4; r._1 -> seen.size.toLong }.toSeq
    }
    val got = rcd.map(r => r._1 -> r._3).toMap
    expect.foreach { case (eid, n) =>
      assert(got(eid) == n, s"event $eid: got ${got(eid)} expected $n")
    }
    // final per-user value equals the user's distinct-type count
    byUser.foreach { case (u, rows) =>
      val last = rows.maxBy(r => (r._3, r._1))._1
      assert(got(last) == rows.map(_._4).distinct.length.toLong, s"user $u")
    }
  }

  test("q47 KMV set-ops: exact below k, invariant under partitioning") {
    import spark.implicits._
    // sf0.001 has ~150 distinct customers < k=512: the sketch is the exact
    // set, so every estimate must EQUAL its exact count
    val r = Relational.q47Setkmv(spark, sfDir)
      .as[(Double, Double, Double, Double, Long, Long, Long, Long)].head()
    assert(r._1 == r._5.toDouble, s"est_a ${r._1} vs exact ${r._5}")
    assert(r._2 == r._6.toDouble, s"est_b ${r._2} vs exact ${r._6}")
    assert(r._3 == r._7.toDouble, s"est_union ${r._3} vs exact ${r._7}")
    assert(r._4 == r._8.toDouble, s"est_inter ${r._4} vs exact ${r._8}")
    // sketch-values aggregate is partitioning-invariant (merge path)
    val o = Tables.load(spark, sfDir, "orders")
    def sk(parts: Int) = o.repartition(parts)
      .agg(graft.expressions.KmvSketch.kmvValues($"o_custkey", 64))
      .head().getSeq[Long](0)
    assert(sk(1) == sk(13))
  }

  test("q48 IVM: delta-merge refresh equals full recompute") {
    import spark.implicits._
    val inc = Relational.q48Ivm(spark, sfDir)
      .as[(Int, String, Long, Double)].collect().toSeq
    // full recompute over the post-change table, built independently
    val o = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", month($"o_orderdate").as("m"),
        $"o_orderpriority".as("pri"), $"o_totalprice".as("price"))
    val applied = o.filter($"o_orderkey" % 10 === 0)
      .select($"m", $"pri", ($"price" * 1.05).as("price"))
      .unionAll(o.filter($"o_orderkey" % 10 =!= 0 && $"o_orderkey" % 10 =!= 1)
        .select($"m", $"pri", $"price"))
      .unionAll(o.filter($"o_orderkey" % 10 === 2)
        .select($"m", $"pri", ($"price" + 1000.0).as("price")))
    val cents = floor($"price" * 100.0 + 0.5).cast("long")
    val full = applied.groupBy($"m", $"pri")
      .agg(count(lit(1)).as("cnt"), (sum(cents) / 100.0).as("revenue"))
      .orderBy("m", "pri")
      .as[(Int, String, Long, Double)].collect().toSeq
    assert(inc == full, "incremental refresh must equal recompute")
  }

  test("q49 LOCF: carried values match a per-user scan reference") {
    import spark.implicits._
    val got = Relational.q49Locf(spark, sfDir)
      .as[(Long, Long, Option[Double], Option[Long])].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"user_id", $"ts".cast("double"),
        $"ts".cast("long"), $"event_type", $"value")
      .as[(Long, Long, Double, Long, String, Double)].collect()
    ev.groupBy(_._2).foreach { case (_, rows) =>
      var carried: Option[(Double, Long)] = None
      rows.sortBy(r => (r._3, r._1)).foreach { r =>
        if (r._5 == "purchase") carried = Some((r._6, r._4))
        val expect = carried match {
          case Some((v, t)) => (Some(v), Some(r._4 - t))
          case None => (None, None)
        }
        assert(got(r._1) == expect, s"event ${r._1}")
      }
    }
  }

  test("q50 histogram: bins partition the table, edges span [min, max]") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    val (mn, mx) = ev.agg(min($"value"), max($"value"))
      .as[(Double, Double)].head()
    val rows = Relational.q50Histogram(spark, sfDir)
      .as[(String, Long, Double, Long)].collect()
    assert(rows.map(_._4).sum == total, "bin counts must sum to row count")
    assert(rows.forall(r => r._2 >= 0 && r._2 <= 15))
    val width = (mx - mn) / 16.0
    rows.foreach { case (_, bin, lo, _) =>
      assert(lo == mn + bin.toDouble * width, s"edge of bin $bin")
    }
    // every row lands in the bin its value computes to (spot the formula)
    val brute = ev.select($"event_type", $"value").as[(String, Double)]
      .collect()
      .groupBy { case (et, v) =>
        (et, math.min(math.floor((v - mn) / width).toLong, 15L)) }
      .map { case (k, vs) => k -> vs.length.toLong }
    val gotMap = rows.map(r => (r._1, r._2) -> r._4).toMap
    assert(gotMap == brute)
  }

  test("q51 interpolation: matches a per-user scan reference") {
    import spark.implicits._
    val got = Relational.q51InterpLinear(spark, sfDir)
      .as[(Long, Long, Option[Double], String)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"user_id", $"ts".cast("double"),
        $"ts".cast("long"), $"event_type", $"value")
      .as[(Long, Long, Double, Long, String, Double)].collect()
    ev.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      val obs = sorted.zipWithIndex.filter(_._1._5 == "purchase")
      sorted.zipWithIndex.foreach { case (r, i) =>
        val prev = obs.filter(_._2 < i).lastOption.map(_._1)
        val next = obs.find(_._2 > i).map(_._1)
        val expect: (Option[Double], String) =
          if (r._5 == "purchase") (Some(r._6), "obs")
          else (prev, next) match {
            case (Some(p), Some(n)) =>
              val est = if (n._4 > p._4)
                p._6 + (n._6 - p._6) *
                  ((r._4 - p._4).toDouble / (n._4 - p._4).toDouble)
              else p._6
              (Some(est), "interp")
            case (Some(p), None) => (Some(p._6), "edge")
            case (None, Some(n)) => (Some(n._6), "edge")
            case _ => (None, "none")
          }
        assert(got(r._1) == expect, s"event ${r._1}")
      }
    }
  }

  test("q52 funnel: stages are monotone and users total out") {
    import spark.implicits._
    val rows = Relational.q52Funnel(spark, sfDir)
      .as[(Int, Long, Long, Long, Long, Option[Double])].collect()
    val nUsers = Tables.load(spark, sfDir, "events")
      .select($"user_id").distinct().count()
    assert(rows.map(_._2).sum == nUsers, "cohorts must partition the users")
    rows.foreach { case (cohort, n, v, c, p, cvr) =>
      assert(v <= n && c <= v && p <= c, s"cohort $cohort not monotone")
      if (v > 0) assert(cvr.contains(p.toDouble / v.toDouble))
      else assert(cvr.isEmpty)
    }
  }

  test("q54 attribution: channels partition purchases; matches a scan reference") {
    import spark.implicits._
    val got = Relational.q54Attribution(spark, sfDir)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._2).toMap
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_id", $"user_id", $"ts".cast("double"),
        $"ts".cast("long"), $"event_type")
      .as[(Long, Long, Double, Long, String)].collect()
    val expect = scala.collection.mutable.Map[String, Long]()
    ev.groupBy(_._2).foreach { case (_, rows) =>
      var lastTouch: Option[(Long, String)] = None
      rows.sortBy(r => (r._3, r._1)).foreach { r =>
        if (r._5 == "purchase") {
          val ch = lastTouch match {
            case Some((t, ty)) if r._4 - t <= 3600 => ty
            case _ => "unattributed"
          }
          expect(ch) = expect.getOrElse(ch, 0L) + 1
        }
        if (r._5 == "view" || r._5 == "click") lastTouch = Some((r._4, r._5))
      }
    }
    assert(got == expect.toMap)
    assert(got.values.sum == ev.count(_._5 == "purchase"))
  }

  test("q55 priority sample: top-100 by w/u with the portable-hash u") {
    import spark.implicits._
    val rows = Relational.q55WeightedSample(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(rows.length == 100)
    val pris = rows.map(_._3).toSeq
    assert(pris == pris.sorted.reverse, "priorities must be descending")
    // reproducible: the same query returns the identical sample
    val again = Relational.q55WeightedSample(spark, sfDir)
      .as[(Long, Long, Double)].collect()
    assert(rows.toSeq == again.toSeq)
    // sampling is weight-sensitive: the sampled docs' mean length exceeds
    // the corpus mean (long docs get proportionally higher priorities)
    val corpusMean = Tables.load(spark, sfDir, "documents")
      .agg(avg($"n_chars")).as[Double].head()
    val sampleMean = rows.map(_._2).sum.toDouble / rows.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("q53 salted two-phase aggregate equals the direct single-phase form") {
    import spark.implicits._
    val got = Relational.q53SaltedAgg(spark, sfDir)
      .as[(String, Long, Double, Long)].collect().toSeq
    val cents = floor($"value" * 100.0 + 0.5).cast("long")
    val direct = Tables.load(spark, sfDir, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), (sum(cents) / 100.0).as("sum_val"),
        countDistinct($"user_id").as("ndv_users"))
      .orderBy($"event_type")
      .as[(String, Long, Double, Long)].collect().toSeq
    assert(got == direct)
  }

  test("q56 bitmap distinct: exact vs countDistinct, invariant under partitioning") {
    import spark.implicits._
    import graft.expressions.BitmapDistinct.bitmapDistinct
    val ev = Tables.load(spark, sfDir, "events")
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("ndv"))
      .orderBy($"event_type").as[(String, Long)].collect().toSeq
    for (p <- Seq(1, 7, 32)) {
      val got = ev.repartition(p).groupBy($"event_type")
        .agg(bitmapDistinct($"user_id").as("ndv"))
        .orderBy($"event_type").as[(String, Long)].collect().toSeq
      assert(got == exact, s"bitmap distinct diverged at $p partitions")
    }
    // exactness contract: out-of-domain ids fail loudly, never wrap
    val err = intercept[org.apache.spark.SparkException] {
      Seq(5L, 1L << 40).toDF("id")
        .agg(bitmapDistinct($"id")).collect()
    }
    assert(err.getMessage.contains("graft_bitmap_distinct") ||
      Option(err.getCause).exists(_.getMessage.contains("graft_bitmap_distinct")))
  }

  test("q57 skyline: kept points are exactly the non-dominated set") {
    import spark.implicits._
    val pts = Tables.load(spark, sfDir, "events")
      .groupBy($"user_id")
      .agg(sum(floor($"value" * 100.0 + 0.5).cast("long")).as("v"),
        count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    def dominated(p: (Long, Long, Long)) = pts.exists(q =>
      q._2 >= p._2 && q._3 <= p._3 && (q._2 > p._2 || q._3 < p._3))
    val expect = pts.filterNot(dominated)
      .map(p => (p._1, p._2 / 100.0, p._3))
      .sortBy(p => (-p._2, p._3, p._1)).toSeq
    val got = Relational.q57Skyline(spark, sfDir)
      .as[(Long, Double, Long)].collect().toSeq
    assert(got == expect)
  }

  test("q59 retention: bitmap set algebra equals a distinct self-join reference") {
    import spark.implicits._
    val wu = Tables.load(spark, sfDir, "events")
      .select(floor(datediff(to_date($"ts"), to_date(lit("2024-01-01"))) / 7.0)
        .cast("long").as("week"), $"user_id")
      .distinct().as[(Long, Long)].collect()
    val byWeek = wu.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      (wa, ua) <- byWeek.toSeq
      k <- 1L to 4L
      ub <- byWeek.get(wa + k).toSeq
      r = (ua & ub).size
      if r > 0
    } yield (wa, k, ua.size.toLong, r.toLong,
      math.floor(r.toDouble / ua.size * 10000.0 + 0.5) / 10000.0))
      .sortBy(p => (p._1, p._2))
    val got = Relational.q59Retention(spark, sfDir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
  }

  test("q60 profile: one-scan stack equals per-column direct aggregates; plan scans once") {
    import spark.implicits._
    val o = Tables.load(spark, sfDir, "orders")
    val prof = Relational.q60Profile(spark, sfDir)
    val plan = prof.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "profiling must read the table exactly once")
    val got = prof.as[(String, Long, Long, Long, String, String)]
      .collect().map(r => r._1 -> r).toMap
    for (c <- Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")) {
      val v = col(c).cast("string")
      val d0 = o.agg(count(lit(1)), count(v), countDistinct(v), min(v), max(v))
        .as[(Long, Long, Long, String, String)].head()
      assert(got(c) == ((c, d0._1, d0._2, d0._3, d0._4, d0._5)), s"column $c")
    }
  }

  test("q61 table diff: statuses partition the key union and match a scan reference") {
    import spark.implicits._
    val rows = Tables.load(spark, sfDir, "orders")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
        floor($"o_totalprice" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, String, Long)].collect()
    val a = rows.filter(_._1 % 97 != 0).map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val b = rows.filter(_._1 % 83 != 0).map { r =>
      r._1 -> (r._2, r._3, if (r._1 % 89 == 0) r._4 + 150L else r._4)
    }.toMap
    val statuses = (a.keySet ++ b.keySet).toSeq.map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some(x), Some(y)) => if (x == y) "same" else "changed"
      })
    }
    val expect = statuses.groupBy(_._2).view.map { case (st, ks) =>
      (st, ks.size.toLong, ks.map(_._1).min, ks.map(_._1).max)
    }.toSeq.sortBy(_._1)
    val got = Relational.q61TableDiff(spark, sfDir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    assert(got.map(_._2).sum == (a.keySet ++ b.keySet).size.toLong)
  }

  test("q62 debounce: kept-anchor recurrence matches scan reference (and differs from lag)") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"), $"event_id")
      .as[(Long, String, Long, Long)].collect()
    val cool = 300000000L
    def walkKept(ts: Seq[Long]): Int = {
      var last = Long.MinValue; var n = 0
      ts.foreach { t => if (last == Long.MinValue || t - last >= cool) { last = t; n += 1 } }
      n
    }
    val expect = ev.groupBy(r => (r._1, r._2)).toSeq.map { case ((u, et), rows) =>
      val ts = rows.sortBy(r => (r._3, r._4)).map(_._3)
      (u, et, ts.length.toLong, walkKept(ts).toLong, (ts.length - walkKept(ts)).toLong)
    }.filter(_._5 > 0).sortBy(p => (p._1, p._2))
    val got = Relational.q62Debounce(spark, sfDir)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // semantics discriminator: a sub-cooldown repeat TRAIN collapses to
    // one kept event under the kept anchor; a lag()-gap filter would
    // instead drop everything after the first gap < cooldown breaks
    assert(walkKept(Seq(0L, 100000000L, 200000000L, 400000000L)) == 2)
    // lag-gap semantics on the same train: keeps only the first (gaps
    // 100s/100s/200s are all < 300s) — proving the two differ
  }

  test("plan shapes: q56 aggregates without Expand; q62 shuffles once; d9 has no cartesian") {
    val p56 = Relational.q56BitmapDistinct(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p56.contains("ObjectHashAggregate"), "bitmap agg must plan object hash agg")
    assert(!p56.contains("Expand"),
      "bitmap distinct must NOT use COUNT(DISTINCT)'s Expand rewrite")
    val p62 = Relational.q62Debounce(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p62).size == 1,
      "debounce walk must shuffle exactly once (the per-key repartition)")
    val pd9 = graft.operators.Dedup.d9Containment(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!pd9.contains("CartesianProduct") &&
      !pd9.contains("BroadcastNestedLoopJoin"),
      "containment candidates must come from the inverted-index equi-join")
    // q67/q69: the windows AND the rollup share one hash exchange (the
    // only other Exchange is the final orderBy's range partitioning)
    for ((n, df) <- Seq(
        "q67" -> Relational.q67PatternMatch(spark, sfDir),
        "q69" -> Relational.q69Ohlc(spark, sfDir))) {
      val p = df.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$n must hash-shuffle exactly once (windows + rollup share the key)")
    }
  }

  test("q63 transitions: row-stochastic matrix matching a scan reference") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id", $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val trans = ev.groupBy(_._1).values.flatMap { rows =>
      val seq0 = rows.sortBy(r => (r._2, r._3)).map(_._4)
      seq0.zip(seq0.drop(1))
    }.toSeq
    val cells = trans.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nt = trans.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val expect = cells.toSeq.map { case ((f, t0), n) =>
      (f, t0, n, math.floor(n.toDouble / nt(f) * 10000.0 + 0.5) / 10000.0)
    }.sortBy(c => (c._1, c._2))
    val got = Relational.q63Transitions(spark, sfDir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == expect)
    // per-from counts account for every observed transition
    got.groupBy(_._1).foreach { case (f, rows) =>
      assert(rows.map(_._3).sum == nt(f))
    }
  }

  test("q64 rank family: laws hold per segment (contiguous ranks, balanced deciles, 3rd value)") {
    import spark.implicits._
    val rows = Relational.q64RankFamily(spark, sfDir)
      .as[(Long, String, Long, Int, Int, Double, Double, Int, Option[Long])]
      .collect().toSeq
    rows.groupBy(_._2).foreach { case (_, seg0) =>
      val seg = seg0.sortBy(_._4)
      val n = seg.length
      // unique tie-break → rank is exactly 1..n and dense_rank tracks
      // distinct bal prefixes
      assert(seg.map(_._4) == (1 to n))
      // percent_rank = (rank-1)/(n-1); cume_dist = rank/n (no ties)
      seg.foreach { r =>
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        if (n > 1) assert(r._6 == r6((r._4 - 1).toDouble / (n - 1)))
        assert(r._7 == r6(r._4.toDouble / n))
      }
      // ntile balance: sizes differ by at most 1, larger tiles first
      val sizes = seg.groupBy(_._8).toSeq.sortBy(_._1).map(_._2.size)
      assert(sizes.max - sizes.min <= 1)
      assert(sizes == sizes.sortBy(-_))
      // nth_value: every row carries the segment's 3rd-highest bal
      val third = if (n >= 3) Some(seg(2)._3) else None
      assert(seg.forall(_._9 == third))
    }
  }

  test("q65 TWAP: matches a per-user scan reference; differs from plain avg under uneven gaps") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(Long, Long, Long, Long)].collect()
    val expect = ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
      val seq0 = rows.sortBy(r => (r._2, r._3))
      val segs = seq0.zip(seq0.drop(1)).map { case (a, b) =>
        (a._4, (b._2 - a._2) / 1000000L)
      }
      val tdur = segs.map(_._2).sum
      if (segs.isEmpty || tdur <= 0) None
      else {
        val wsum = segs.map { case (c, d0) => c * d0 }.sum
        Some((u, segs.length.toLong,
          math.floor(wsum.toDouble / tdur / 100.0 * 10000.0 + 0.5) / 10000.0))
      }
    }.sortBy(_._1)
    val got = Relational.q65Twap(spark, sfDir)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == expect)
    // the duration weighting is load-bearing: TWAP != unweighted mean for
    // at least some user (uneven gaps exist in the corpus)
    val means = ev.groupBy(_._1).view.mapValues { rows =>
      val seq0 = rows.sortBy(r => (r._2, r._3)).dropRight(1)
      if (seq0.isEmpty) 0.0
      else seq0.map(_._4).sum.toDouble / seq0.length / 100.0
    }.toMap
    assert(got.exists { case (u, _, tw) => math.abs(tw - means(u)) > 0.01 })
  }

  test("q58 decay: matches driver-side recompute; stale events contribute zero") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", to_date($"ts").as("day"),
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(Long, java.sql.Date, Long)].collect()
    val mx = ev.map(_._2.toLocalDate).max(Ordering.by[java.time.LocalDate, Long](_.toEpochDay))
    val scores = ev.groupBy(_._1).map { case (u, rows) =>
      val ws = rows.map { case (_, day, cents) =>
        val age = mx.toEpochDay - day.toLocalDate.toEpochDay
        if (age <= 30) cents << (30 - age) else 0L
      }.sum
      (u, ws, math.floor(ws / 1073741824.0 / 100.0 * 10000.0 + 0.5) / 10000.0)
    }.filter(_._2 > 0).map(p => (p._1, p._3)).toSeq
    val expect = scores.sortBy(p => (-p._2, p._1)).take(200)
    val got = Relational.q58DecayScore(spark, sfDir)
      .as[(Long, Double)].collect().toSeq
    assert(got == expect)
  }

  test("q66 weighted median: matches a scan reference; pick covers half the weight") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"),
        $"event_id", floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(Long, String, Long, Long, Long)].collect()
    val segs = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val s0 = rows.sortBy(r => (r._3, r._4))
      s0.zip(s0.drop(1)).map { case (a, b) =>
        (a._2, a._5, (b._3 - a._3) / 1000000L) }
    }.filter(_._3 > 0)
    val expect = segs.groupBy(_._1).toSeq.map { case (et, ss) =>
      val hist = ss.groupBy(_._2).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val tot = hist.map(_._2).sum
      var cum = 0L
      val med = hist.find { case (_, w) => cum += w; cum * 2 >= tot }.get._1
      // the pick is the LOWER weighted median: weight at or below it
      // reaches half the total, weight strictly below does not
      val below = hist.takeWhile(_._1 < med).map(_._2).sum
      assert(below * 2 < tot && (below + hist.find(_._1 == med).get._2) * 2 >= tot)
      (et, ss.size.toLong, tot, med.toDouble / 100.0)
    }.sortBy(_._1)
    val got = Relational.q66WeightedMedian(spark, sfDir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == expect)
  }

  test("q67 pattern match: per-user scan reference; error exclusion is load-bearing") {
    import spark.implicits._
    // sf0.01: sf0.001's event stream has no in-window pair an intervening
    // error rejects, so the exclusion assertion needs the bigger stream
    val qDir = "/root/testdata/sf0.01"
    val ev = Tables.load(spark, qDir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        $"event_type")
      .as[(Long, Long, Long, String)].collect()
    def matches(checkErrs: Boolean): Seq[(Long, Long, Long, Long, Long)] =
      ev.groupBy(_._1).toSeq.flatMap { case (u, rows) =>
        val s0 = rows.sortBy(r => (r._2, r._3))
        var lastClick: Option[(Long, Long)] = None // (click tus, errs at click)
        var errs = 0L
        val ms = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        s0.foreach { case (_, tus, _, et) =>
          if (et == "error") errs += 1
          if (et == "click") lastClick = Some((tus, errs))
          if (et == "purchase") lastClick.foreach { case (ct, ce) =>
            if (tus - ct <= 3600000000L && (!checkErrs || errs == ce))
              ms += ((tus, (tus - ct) / 1000000L))
          }
        }
        if (ms.isEmpty) None
        else Some((u, ms.size.toLong, ms.map(_._1).min,
          ms.map(_._2).min, ms.map(_._2).max))
      }.sortBy(_._1)
    val expect = matches(checkErrs = true)
    val got = Relational.q67PatternMatch(spark, qDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expect)
    // exclusion semantics on a planted stream (the synthetic corpus has
    // no in-window pair an intervening error rejects, so plant one):
    // u1 click→error→purchase rejected, u2 click→purchase matches,
    // u3 purchase 2h after click rejected, u4 error BEFORE click is fine
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val planted = Seq(
      (1L, ts(0), 1L, "click"), (1L, ts(10), 2L, "error"),
      (1L, ts(20), 3L, "purchase"),
      (2L, ts(0), 4L, "click"), (2L, ts(30), 5L, "purchase"),
      (3L, ts(0), 6L, "click"), (3L, ts(120), 7L, "purchase"),
      (4L, ts(0), 8L, "error"), (4L, ts(5), 9L, "click"),
      (4L, ts(25), 10L, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val p = Relational.patternMatches(planted)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(p == Seq(
      (2L, 1L, 30L * 60000000L, 1800L, 1800L),
      (4L, 1L, 25L * 60000000L, 1200L, 1200L)))
  }

  test("q68 rolling distinct: bitmap WAU == brute trailing-window distinct; WAU bounds DAU") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select(to_date($"ts").cast("string").as("day"), $"user_id")
      .as[(String, Long)].collect()
    val byDay = ev.groupBy(_._1)
    val expect = byDay.keys.toSeq.sorted.map { d0 =>
      val ep = java.time.LocalDate.parse(d0).toEpochDay
      val dau = byDay(d0).map(_._2).distinct.length.toLong
      val wau = byDay.filter { case (d2, _) =>
        val k = ep - java.time.LocalDate.parse(d2).toEpochDay
        k >= 0 && k <= 6
      }.values.flatten.map(_._2).toSet.size.toLong
      (d0, byDay(d0).length.toLong, dau, wau,
        math.floor(dau.toDouble / wau * 10000.0 + 0.5) / 10000.0)
    }
    val got = Relational.q68RollingDistinct(spark, sfDir)
      .select(col("day").cast("string"), col("n_events"), col("dau"),
        col("wau"), col("stickiness"))
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(got == expect)
    assert(got.forall(r => r._4 >= r._3 && r._5 <= 1.0))
  }

  test("q69 OHLC: positional open/close match a scan reference; bars are well-formed") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_type", to_date($"ts").cast("string").as("day"),
        unix_micros($"ts").as("tus"), $"event_id",
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(String, String, Long, Long, Long)].collect()
    val expect = ev.groupBy(r => (r._1, r._2)).toSeq.map { case ((et, day), rows) =>
      val s0 = rows.sortBy(r => (r._3, r._4)).map(_._5)
      (et, day, rows.length.toLong, s0.head / 100.0, s0.max / 100.0,
        s0.min / 100.0, s0.last / 100.0, s0.sum / 100.0)
    }.sortBy(r => (r._1, r._2))
    val got = Relational.q69Ohlc(spark, sfDir)
      .select(col("event_type"), col("day").cast("string"), col("n_events"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .as[(String, String, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(got == expect)
    assert(got.forall(r => r._6 <= r._4 && r._4 <= r._5 &&
      r._6 <= r._7 && r._7 <= r._5))
  }

  test("q70 A/B: Welch t recomputes from exact integer moments; arms partition the stream") {
    import spark.implicits._
    val ev = Tables.load(spark, sfDir, "events")
      .select($"event_type", ($"user_id" % 2 === 0).as("in_a"),
        floor($"value" * 100.0 + 0.5).cast("long").as("cents"))
      .as[(String, Boolean, Long)].collect()
    def r4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    val expect = ev.groupBy(_._1).toSeq.map { case (et, rows) =>
      val (a, b) = rows.partition(_._2)
      def moments(xs: Array[(String, Boolean, Long)]) =
        (xs.length.toLong, xs.map(_._3).sum, xs.map(x => x._3 * x._3).sum)
      val (na, s1a, s2a) = moments(a)
      val (nb, s1b, s2b) = moments(b)
      val (ma, mb) = (s1a.toDouble / na / 100.0, s1b.toDouble / nb / 100.0)
      val va = (s2a.toDouble - s1a.toDouble * s1a / na) / (na - 1)
      val vb = (s2b.toDouble - s1b.toDouble * s1b / nb) / (nb - 1)
      val t0 = (ma - mb) / math.sqrt(va / na + vb / nb) * 100.0
      (et, na, nb, r4(ma), r4(mb), r4(t0))
    }.sortBy(_._1)
    val got = Relational.q70AbTest(spark, sfDir)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(got == expect)
    assert(got.forall(r => r._2 + r._3 == ev.count(_._1 == r._1)))
  }

  test("q71 Pareto: cumulative shares match a scan reference; classes are contiguous") {
    import spark.implicits._
    val li = Tables.load(spark, sfDir, "lineitem")
      .select($"l_partkey",
        floor($"l_extendedprice" * 100.0 + 0.5).cast("long").as("c"))
      .as[(Long, Long)].collect()
    def r6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    val totals = li.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (k, c) => (-c, k) }
    val tot = totals.map(_._2).sum
    var cum = 0L
    val expect = totals.map { case (k, c) =>
      cum += c
      val cls = if (cum * 100 <= tot * 80) "A"
        else if (cum * 100 <= tot * 95) "B" else "C"
      (k, c / 100.0, r6(c.toDouble / tot), r6(cum.toDouble / tot), cls)
    }.sortBy(r => (r._4, r._1))
    val got = Relational.q71Pareto(spark, sfDir)
      .as[(Long, Double, Double, Double, String)].collect().toSeq
    assert(got == expect)
    // classes are contiguous prefixes of the ranking: A then B then C
    val classes = got.map(_._5)
    assert(classes == classes.sortBy("ABC".indexOf(_)))
    assert(classes.toSet == Set("A", "B", "C"))
  }

  test("q73 bucketed join: exchange-free sort-merge join, result matches plain join") {
    import spark.implicits._
    // the bucketing contract: once both sides are bucketed+sorted by the
    // join key, the SMJ subtree must contain NO Exchange (the whole point
    // of the operator — the per-query shuffle is paid once at write time)
    val join = Relational.q73JoinOnly(spark, sfDir)
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle either side:\n$plan")
    // bucketed result == the ordinary (shuffled) join result
    val got = Relational.q73BucketedJoin(spark, sfDir)
      .as[(String, Long, Double)].collect().toSeq
    val expect = Tables.load(spark, sfDir, "orders")
      .join(Tables.load(spark, sfDir, "customer"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"),
        (sum(floor($"o_totalprice" * 100.0 + 0.5).cast("long")) / 100.0)
          .as("rev"))
      .orderBy($"c_mktsegment")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == expect)
  }
}
