package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition, Union}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanHelper, LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.CoalesceSmallStages

/** The session extensions: the SQL surface of the custom expressions — a
  * session built with the extension can call the sketch functions from
  * plain SQL — the AQE rule [[CoalesceSmallStages]] and the optimizer rule
  * [[graft.plans.CorrelatedCountToWindow]].
  */
class ExtensionsSpec extends SparkSpec {

  private val plans = new AdaptiveSparkPlanHelper {}

  /** Collects `df` and returns its rows in a canonical order, the Spark
    * jobs it ran and the partitionings of its final AQE plan's exchanges.
    */
  private def run(df: => DataFrame): (Seq[String], Int, Seq[String]) = {
    var rows = Seq.empty[String]
    var exchanges = Seq.empty[String]
    val jobs = jobsLaunched {
      val d = df
      rows = d.collect().map(_.mkString("|")).toSeq.sorted
      exchanges = plans.collect(d.queryExecution.executedPlan) {
        case e: ShuffleExchangeLike => e.outputPartitioning.getClass.getSimpleName
      }
    }
    (rows, jobs, exchanges)
  }

  private def ranges(exchanges: Seq[String]): Int =
    exchanges.count(_ == classOf[RangePartitioning].getSimpleName)

  /** A grain-sized aggregate (97 keys) over a 20k-row range. */
  private def counts: DataFrame = spark.range(0, 20000, 1, 4)
    .select((col("id") % 97).as("k")).groupBy("k").count()

  test("the small-stage rule drops the sort and window exchanges over a small aggregate") {
    def sorted = counts.orderBy(desc("count"), asc("k"))
    def ranked = counts
      .withColumn("r", rank().over(Window.partitionBy(col("k") % 7).orderBy(desc("count"))))
      .filter(col("r") <= 3)
    Seq(() => sorted, () => ranked).foreach { df =>
      val (rows, jobs, exchanges) = run(df())
      val (rowsOff, jobsOff, exchangesOff) = withConf(smallStageRuleExcluded)(run(df()))
      // only the aggregate's own exchange is left
      assert(exchanges.size == 1 && ranges(exchanges) == 0, exchanges)
      assert(exchangesOff.size == 2, exchangesOff)
      assert(jobs < jobsOff, s"$jobs jobs with the rule, $jobsOff without")
      assert(rows == rowsOff)
    }
  }

  test("the small-stage rule keeps the plan above minPartitionSize, an explode, a cross join and a repartition(n)") {
    def keeps(df: => DataFrame): Unit = {
      val (rows, jobs, exchanges) = run(df)
      val (rowsOff, jobsOff, exchangesOff) = withConf(smallStageRuleExcluded)(run(df))
      assert(ranges(exchanges) == 1, exchanges)
      assert(exchanges == exchangesOff && jobs == jobsOff && rows == rowsOff)
    }
    // the same aggregate against a 1 KB bound
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1024")(
      keeps(counts.orderBy(desc("count"), asc("k"))))
    keeps(counts.select(col("k"), explode(array(col("count"), col("k"))).as("x"))
      .orderBy("k", "x"))
    keeps(counts.crossJoin(counts.select(col("k").as("k2"))).orderBy("k", "k2"))
    keeps(counts.repartition(3).orderBy("k"))
  }

  test("the small-stage rule waits while a leaf is not a materialized stage") {
    // a materialized shuffle stage of the small aggregate, as AQE holds it
    val done = counts
    done.collect()
    val stage = plans.collectFirst(done.queryExecution.executedPlan) {
      case s: ShuffleQueryStageExec => s
    }.get
    assert(stage.isMaterialized)
    val lqs = LogicalQueryStage(done.queryExecution.optimizedPlan, stage)
    // beside a local relation it fires; beside a pending file scan it waits
    val local = Union(lqs, LocalRelation(lqs.output))
    val wrapped = CoalesceSmallStages(local)
    assert(wrapped == Union(Repartition(1, shuffle = false, lqs), LocalRelation(lqs.output)))
    val fileScan = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_partkey").as("k"), col("l_partkey").as("count"))
      .queryExecution.optimizedPlan
    val pending = Union(lqs, fileScan)
    assert(CoalesceSmallStages(pending) == pending)
    // a plan it has wrapped stays as it is
    assert(CoalesceSmallStages(wrapped) == wrapped)
  }

  /** Parquet tables of trips: key `k` (NULL on every 13th row), `x` and
    * `v`, read back as the views `trips` (400 rows) and `other_trips` (the
    * first 300 of them, in another file).
    */
  private lazy val trips: Unit = {
    val root = java.nio.file.Files.createTempDirectory("trips")
    Seq("trips" -> 400, "other_trips" -> 300).foreach { case (name, n) =>
      val dir = root.resolve(name).toString
      spark.range(0, n, 1, 4).select(
        when(col("id") % 13 =!= 0, col("id") % 5).as("k"),
        (col("id") % 3).cast("string").as("x"),
        (col("id") % 7).as("v")).write.parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView(name)
    }
  }

  /** The percentile model's shape over `trips`: a per-(k, x) count and a
    * correlated subquery over the same CTE, `total`, with the parts a
    * negative case swaps out.
    */
  private def shareSql(
      cte: String = "SELECT k, x, v FROM trips",
      agg: String = "COUNT(*)",
      sub: String = "SELECT COUNT(*) FROM m AS sub WHERE sub.k = counted.k"): String =
    s"""WITH m AS ($cte),
       |counted AS (SELECT k, x, $agg AS c FROM m GROUP BY k, x),
       |shared AS (SELECT counted.*, ($sub) AS total FROM counted)
       |SELECT k, x, c, total, c / total * 100 AS share FROM shared""".stripMargin

  private def nodes(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect { case p => p.nodeName }

  test("the count rule turns a correlated COUNT over the same rows into one window") {
    trips
    val (rows, jobs, _) = run(spark.sql(shareSql()))
    val (rowsOff, jobsOff, _) = withConf(countRuleExcluded)(run(spark.sql(shareSql())))
    val plan = nodes(spark.sql(shareSql()))
    assert(!plan.contains("Join") && plan.count(_ == "Window") == 1, plan)
    assert(withConf(countRuleExcluded)(nodes(spark.sql(shareSql()))).contains("Join"))
    assert(jobs < jobsOff, s"$jobs jobs with the rule, $jobsOff without")
    assert(rows == rowsOff)
  }

  test("the count rule gives a NULL key a count of 0, as the outer join does") {
    trips
    def nullKey() = spark.sql(shareSql()).filter(col("k").isNull)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.isNullAt(4))).toSet
    val got = nullKey()
    // one row per x, each with its own count, a total of 0 and a NULL share
    assert(got.map(_._1) == Set("0", "1", "2") && got.forall(r => r._2 > 0 && r._3 == 0L && r._4), got)
    assert(got == withConf(countRuleExcluded)(nullKey()))
  }

  test("the count rule keeps the plan of every other subquery shape") {
    trips
    def keeps(sql: String): Unit = {
      val on = spark.sql(sql)
      val off = withConf(countRuleExcluded)(spark.sql(sql))
      val (plan, planOff) = (nodes(on), withConf(countRuleExcluded)(nodes(off)))
      assert(plan.contains("Join") && plan == planOff, s"$plan\n$sql")
      assert(run(on)._1 == withConf(countRuleExcluded)(run(off)._1), sql)
    }
    // an extra inner predicate
    keeps(shareSql(sub = "SELECT COUNT(*) FROM m AS sub WHERE sub.k = counted.k AND sub.x = '1'"))
    // other aggregates in the subquery
    Seq("MIN(v)", "MAX(v)", "AVG(v)", "SUM(v)").foreach(a =>
      keeps(shareSql(sub = s"SELECT $a FROM m AS sub WHERE sub.k = counted.k")))
    // a non-equi correlation
    keeps(shareSql(sub = "SELECT COUNT(*) FROM m AS sub WHERE sub.k <= counted.k"))
    // a different relation, and the same CTE under a WHERE
    keeps(shareSql(sub = "SELECT COUNT(*) FROM other_trips AS sub WHERE sub.k = counted.k"))
    keeps(shareSql(sub = "SELECT COUNT(*) FROM (SELECT * FROM m WHERE v < 6) AS sub WHERE sub.k = counted.k"))
    // a nondeterministic relation
    keeps(shareSql(cte = "SELECT k, x, v FROM trips WHERE rand(7) < 0.5"))
    // a left aggregate with no COUNT(*)
    keeps(shareSql(agg = "SUM(v)"))
    // RelationalSpec's q10 form: a SUM over the outer aggregate itself
    keeps("""WITH m AS (SELECT k, x, COUNT(*) AS cnt FROM trips GROUP BY k, x)
            |SELECT k, x, cnt, cnt * 100.0 / (SELECT sum(cnt) FROM m sub WHERE sub.k = m.k) AS share
            |FROM m""".stripMargin)
  }

  test("sketch functions are callable from SQL") {
    val r = spark.sql(
      """SELECT
        |  graft_sorted_intersect_size(array(1L,2L,3L), array(2L,3L,4L)) AS inter,
        |  size(graft_minhash_sig(array(11L,22L,33L))) AS sig_len,
        |  size(graft_minhash_band_keys(array(11L,22L,33L), 8, 2)) AS n_bands,
        |  graft_simhash(array(11L, 22L)) AS sh,
        |  size(graft_winnow('abcdefghijklmnop', 5, 4)) AS n_fps
        |""".stripMargin).head()
    assert(r.getInt(0) == 2)
    assert(r.getInt(1) == 64)
    assert(r.getInt(2) == 8)
    assert(r.getInt(4) >= 1)
  }

  test("SQL and Column APIs agree on the same input") {
    import org.apache.spark.sql.functions._
    import graft.expressions.SetSketchExpressions
    val viaSql = spark.sql("SELECT graft_simhash(array(7L, 8L, 9L)) AS s").head().getLong(0)
    val viaCol = spark.range(1)
      .select(SetSketchExpressions.simhash64(typedlit(Seq(7L, 8L, 9L))).as("s"))
      .head().getLong(0)
    assert(viaSql == viaCol)
  }

  test("portable hash + bloom functions are callable from SQL") {
    // graft_hash62 must return the frozen DuckDB-equivalent value
    assert(spark.sql("SELECT graft_hash62('abc')").head().getLong(0)
      == 3638874587954910934L)
    assert(spark.sql(
      "SELECT graft_hash62_array(array('abc', 'a', 'abc'), true)")
      .head().getSeq[Long](0)
      == Seq(2388727949023626033L, 3638874587954910934L))
    assert(spark.sql(
      "SELECT size(graft_minhash_band_keys_mod31(array(11L, 22L), 8, 2))")
      .head().getInt(0) == 8)
    // bloom: inserted keys hit, a fresh key misses (no false negative run)
    val r = spark.sql(
      """WITH b AS (SELECT graft_bloom_build(h) AS f
        |           FROM (SELECT graft_hash62(x) AS h
        |                 FROM VALUES ('k1'), ('k2') AS t(x)))
        |SELECT graft_bloom_hit(f, graft_hash62('k1')),
        |       graft_bloom_hit(f, graft_hash62('k2')),
        |       graft_bloom_hit(f, graft_hash62('never-inserted'))
        |FROM b""".stripMargin).head()
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
  }

  test("graft_kmv_distinct works from SQL and matches the Column form") {
    import spark.implicits._
    Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .createOrReplaceTempView("li_kmv")
    val sqlV = spark.sql(
      "SELECT graft_kmv_distinct(l_partkey, 256) FROM li_kmv")
      .as[Double].head()
    val colV = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .agg(graft.expressions.KmvSketch.kmvDistinct($"l_partkey", 256))
      .as[Double].head()
    assert(sqlV == colV && sqlV > 0)
  }

  test("graft_bitmap_distinct / graft_bitmap_words work from SQL, agree with exact") {
    import spark.implicits._
    Tables.load(spark, "/root/testdata/sf0.001", "events")
      .createOrReplaceTempView("ev_bm")
    val r = spark.sql(
      """SELECT graft_bitmap_distinct(user_id, 65536) AS ndv,
        |  aggregate(graft_bitmap_words(user_id, 65536), 0L,
        |    (acc, x) -> acc + bit_count(x)) AS ndv_words
        |FROM ev_bm""".stripMargin).as[(Long, Long)].head()
    val exact = spark.sql("SELECT count(DISTINCT user_id) FROM ev_bm")
      .as[Long].head()
    assert(r._1 == exact && r._2 == exact)
  }

  test("AC automaton counts == naive all-occurrence counts (incl. nested patterns)") {
    import graft.expressions.AcAutomaton
    // "can" ends inside every "scan" (collapsed output links), "art"
    // inside "part"; adjacent repeats exercise goto self-transitions
    val pats = IndexedSeq("scan", "can", "art", "merge batch", "ab")
    val auto = new AcAutomaton(pats)
    def naive(text: String, p: String): Int =
      (0 to text.length - p.length).count(i => text.regionMatches(i, p, 0, p.length))
    val fixtures = Seq(
      "scan scan part can merge batch scanscan",
      "abababab",                    // "ab" x4, adjacent
      "",                            // empty text
      "no hits here",
      "canscancan art cart artart")
    fixtures.foreach { t =>
      val got = auto.counts(t)
      pats.zipWithIndex.foreach { case (p, i) =>
        assert(got(i) == naive(t, p), s"pattern '$p' on '$t'")
      }
    }
    // non-ASCII text chars reset to root, never crash or false-match
    assert(auto.counts("scän scan").toSeq == Seq(1, 1, 0, 0, 0))
  }

  test("AC construction rejects bordered patterns (oracle contract)") {
    import graft.expressions.AcAutomaton
    assert(AcAutomaton.hasBorder("table t"))   // border "t"
    assert(AcAutomaton.hasBorder("abxab"))     // border "ab" (first!=last)
    assert(!AcAutomaton.hasBorder("scan"))
    intercept[IllegalArgumentException](new AcAutomaton(IndexedSeq("table t")))
  }

  test("blocklist_stats struct agrees with per-pattern counts and stays codegen") {
    import org.apache.spark.sql.functions._
    import graft.expressions.{AcAutomaton, BlocklistExpressions}
    import spark.implicits._
    val pats = graft.operators.TextAnalysis.blockPatterns
    val auto = new AcAutomaton(pats.toIndexedSeq)
    // parquet-backed input: a local Seq would be constant-folded into a
    // LocalTableScan and there'd be no stage left to assert codegen on
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"), BlocklistExpressions.blocklistStats(col("text"), pats).as("bs"))
      .select(col("text"), col("bs.n_hits").as("h"), col("bs.n_pats").as("p"))
    df.collect().foreach { r =>
      val cnt = auto.counts(r.getString(0))
      assert(r.getLong(1) == cnt.map(_.toLong).sum)
      assert(r.getInt(2) == cnt.count(_ > 0))
    }
    // the kernel must NOT drop the stage out of whole-stage codegen
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen stage:\n$plan")
  }
}
