package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeExec}
import org.apache.spark.sql.graft.DriverBroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.SpanSugar._

import graft.uber.{Incremental, Ingest, Models, Runner}

/** Incremental model maintenance (uber/Incremental.scala): after a
  * partition restatement, the shared daily partial + folds must equal
  * every model's SQL form over the landed sources — and must not touch
  * untouched months' files.
  */
class IncrementalSpec extends SparkSpec with TimeLimits {

  // Fixture designed so top_3_base_names is tie-free before AND after the
  // increment (LIMIT 3 over tied counts is content-unstable, which would
  // make the differential comparison flaky for reasons that are not bugs).
  private lazy val dirs: (String, String, String) = {
    val root = Files.createTempDirectory("inc_fixture").toString
    val csv = s"$root/csv"; val wh = s"$root/wh"; val out = s"$root/out"
    Files.createDirectories(Paths.get(csv))
    def write(name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$csv/$name"), content)
    write("base_num_and_name.csv",
      """base_num,base_name
        |B02512,Unter
        |B02598,Hinter
        |B02617,Weiter
        |B02765,Grun
        |""".stripMargin)
    write("taxi_zone_lookup.csv",
      """locationid,borough,zone
        |1,Bronx,Belmont
        |2,Bronx,Hunts Point
        |3,Manhattan,Chelsea
        |""".stripMargin)
    // per-base non-null-date totals: B02512=5, B02598=3, B02765=2, B02617=1
    write("raw_data_janjune_15.csv",
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02512,2015-01-05 08:00:00,B02512,1
        |B02512,2015-01-05 09:00:00,B02598,3
        |B02512,2015-01-06 10:00:00,B02512,2
        |B02598,2015-01-07 11:00:00,B02765,1
        |B02512,2015-02-10 11:00:00,B02512,1
        |B02598,2015-02-10 12:00:00,B02598,3
        |B02598,2015-02-11 13:00:00,B02765,2
        |B02765,2015-02-12 14:00:00,B02617,3
        |B02765,2015-05-20 11:00:00,B02765,1
        |B02512,2015-05-21 12:00:00,B02512,2
        |B02617,2015-07-04 11:00:00,B02617,3
        |B02617,,B02617,1
        |""".stripMargin)
    Ingest.ingestAll(spark, csv, wh)
    (csv, wh, out)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def assertAllModelsMatch(out: String, clue: String): Unit =
    Models.all.foreach { m =>
      val inc = Incremental.readModel(spark, out, m.name)
      val sql = Runner.runModel(spark, m)
      assert(inc.columns.toSeq == sql.columns.toSeq, s"$clue: ${m.name} columns differ")
      assert(rows(inc) == rows(sql), s"$clue: ${m.name} materialized != SQL form")
    }

  // restatement of months 2 and 5: February loses its Unter/Grun-Bronx
  // rows entirely (the month-2 partials of unter_grun must become EMPTY
  // — the case dynamic partition overwrite cannot express), May gains a
  // Grun-Bronx row. New totals: B02512=5, B02598=3, B02765=2, B02617=1
  // (still tie-free).
  private val febMayRestatement =
    """dispatching_base_num,pickup_date,affiliated_base_num,locationid
      |B02598,2015-02-10 12:00:00,B02598,3
      |B02598,2015-02-11 13:30:00,B02598,2
      |B02765,2015-02-12 14:00:00,B02617,3
      |B02765,2015-05-20 11:00:00,B02765,1
      |B02512,2015-05-21 12:00:00,B02512,2
      |B02512,2015-05-22 09:00:00,B02765,1
      |""".stripMargin

  test("full build equals the full models; increment equals a full rebuild") {
    val (csv, wh, out) = dirs
    Incremental.fullBuild(spark, out)
    assertAllModelsMatch(out, "initial full build")

    // untouched-month evidence: January's shared partial and unter_grun's
    // January final must not be rewritten
    val jan = Seq(
      Paths.get(Incremental.dailyCountsPath(out), "month_num=1"),
      Paths.get(Incremental.finalPath(out, "unter_grun_pickups_in_bronx"), "month_num=1"))
    def janMtimes() = jan.flatMap(d => Files.list(d).iterator().asScala)
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val mtimesBefore = janMtimes()
    assert(mtimesBefore.keys.exists(_.endsWith(".parquet")) &&
      jan.forall(d => mtimesBefore.keys.exists(_.startsWith(d.toString))))

    val incCsv = Paths.get(csv, "inc.csv")
    Files.writeString(incCsv, febMayRestatement)
    val incDf = Ingest.readCsv(spark, incCsv.toString, uber.Schemas.rawDataJanjune15)
    val months = Incremental.affectedMonths(incDf)
    assert(months.toSet == Set(Some(2), Some(5)))

    val applied = Runner.runIncrement(spark, incCsv.toString, wh, out)
    assert(applied.toSet == months.toSet)

    assertAllModelsMatch(out, "after increment")

    // the emptied-month case actually emptied: no February rows survive in
    // the incrementally-maintained unter_grun
    val ug = Incremental.readModel(spark, out, "unter_grun_pickups_in_bronx")
    assert(ug.filter(org.apache.spark.sql.functions.month(
      org.apache.spark.sql.functions.col("Pickup Date")) === 2).count() == 0,
      "restated February must have no surviving unter_grun rows")
    assert(ug.count() > 0)

    assert(janMtimes() == mtimesBefore,
      "January files were rewritten by a February/May increment")

    // restore shared-view state for any test ordering after this one
    Ingest.ingestAll(spark, csv, wh)
  }

  test("runAll's directory takes an increment: every model equals the SQL form") {
    val (csv, wh, _) = dirs
    val out = Files.createTempDirectory("inc_runall").toString
    Runner.runAll(spark, csv, wh, out)
    val incCsv = Files.createTempDirectory("inc_runall_csv").resolve("feb_may.csv")
    Files.writeString(incCsv, febMayRestatement)
    Runner.runIncrement(spark, incCsv.toString, wh, out)
    assertAllModelsMatch(out, "runAll then runIncrement")
    Ingest.ingestAll(spark, csv, wh)
  }

  test("increment equals a full rebuild under 1 and 7 shuffle partitions, AQE on and off") {
    val (csv, wh, _) = dirs
    val incCsv = Files.createTempDirectory("inc_confs_csv").resolve("feb_may.csv")
    Files.writeString(incCsv, febMayRestatement)
    // the last cell turns Spark's own broadcast choice off: the plans rest
    // on explicit join hints, so the rows must not depend on it
    val cells = (for (partitions <- Seq("1", "7"); aqe <- Seq("true", "false"))
      yield Seq("spark.sql.shuffle.partitions" -> partitions,
        "spark.sql.adaptive.enabled" -> aqe)) :+
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    try cells.foreach { cell =>
      withConf(cell: _*) {
        Ingest.ingestAll(spark, csv, wh)
        val out = Files.createTempDirectory("inc_confs").toString
        Incremental.fullBuild(spark, out)
        Runner.runIncrement(spark, incCsv.toString, wh, out)
        assertAllModelsMatch(out, cell.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    } finally Ingest.ingestAll(spark, csv, wh)
  }

  test("a null-dated tick restates the null month, as affectedMonths lists it") {
    val (csv, wh, _) = dirs
    Ingest.ingestAll(spark, csv, wh)
    val out = Files.createTempDirectory("inc_null_month").toString
    Incremental.fullBuild(spark, out)
    val nullPart = Paths.get(Incremental.dailyCountsPath(out),
      "month_num=__HIVE_DEFAULT_PARTITION__")
    def files() = Files.list(nullPart).iterator().asScala
      .map(p => p.toString -> Files.getLastModifiedTime(p)).toMap
    val before = files()
    assert(before.keys.exists(_.endsWith(".parquet")), s"no null-month partial in $nullPart")

    val incCsv = Files.createTempDirectory("inc_null_month_csv").resolve("null.csv")
    Files.writeString(incCsv,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02617,,B02617,1
        |B02617,,B02598,3
        |B02765,2015-05-20 11:00:00,B02765,1
        |""".stripMargin)
    val listed = Incremental.affectedMonths(
      Ingest.readCsv(spark, incCsv.toString, uber.Schemas.rawDataJanjune15))
    val applied = Runner.runIncrement(spark, incCsv.toString, wh, out)
    assert(applied == listed && applied == Seq(None, Some(5)),
      s"runIncrement restated $applied, affectedMonths lists $listed")
    assert(files() != before, s"the null month's partial $nullPart was not rewritten")
    val nullRows = spark.read.parquet(Incremental.dailyCountsPath(out))
      .filter(org.apache.spark.sql.functions.col("month_num").isNull)
    assert(rows(nullRows.drop("month_num")) == Seq("B02617|Weiter|null|2"))
    assertAllModelsMatch(out, "after a null-month increment")
    Ingest.ingestAll(spark, csv, wh)
  }

  test("a header-only tick restates no month, runs 1 job and changes no model") {
    val (csv, wh, _) = dirs
    Ingest.ingestAll(spark, csv, wh)
    val out = Files.createTempDirectory("inc_header_only").toString
    Incremental.fullBuild(spark, out)
    def models() = Models.all.map(m => m.name -> rows(Incremental.readModel(spark, out, m.name)))
    val before = models()
    val incCsv = Files.createTempDirectory("inc_header_only_csv").resolve("empty.csv")
    Files.writeString(incCsv, "dispatching_base_num,pickup_date,affiliated_base_num,locationid\n")
    // the months come from an Observation on the landing write: a bound
    // turns a metric that is never delivered into a failure, not a hang
    implicit val signaler: Signaler = ThreadSignaler
    var applied: Seq[Option[Int]] = null
    val jobs = failAfter(2.minutes) {
      jobsLaunched { applied = Runner.runIncrement(spark, incCsv.toString, wh, out) }
    }
    assert(applied == Seq.empty, s"a header-only tick restated $applied")
    assert(jobs == 1, s"a header-only tick launched $jobs jobs")
    assert(models() == before, "a header-only tick changed a model")
    // a zero-byte drop has no split to read at all
    val zero = Files.writeString(incCsv.resolveSibling("zero.csv"), "")
    val appliedZero = failAfter(2.minutes)(Runner.runIncrement(spark, zero.toString, wh, out))
    assert(appliedZero == Seq.empty, s"a zero-byte tick restated $appliedZero")
    assert(models() == before, "a zero-byte tick changed a model")
    Ingest.ingestAll(spark, csv, wh)
  }

  test("a single-month tick broadcasts only driver-held dims and shuffles once") {
    val (csv, wh, _) = dirs
    Ingest.ingestAll(spark, csv, wh)
    val out = Files.createTempDirectory("inc_plan_shape").toString
    Incremental.fullBuild(spark, out)
    val incCsv = Files.createTempDirectory("inc_plan_shape_csv").resolve("may.csv")
    Files.writeString(incCsv,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02765,2015-05-20 11:00:00,B02765,1
        |""".stripMargin)
    val broadcasts = ArrayBuffer.empty[BroadcastExchangeLike]
    val shuffles = ArrayBuffer.empty[ShuffleExchangeExec]
    val plans = new AdaptiveSparkPlanHelper {}
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.foreach(qe.executedPlan) {
          case b: BroadcastExchangeLike => broadcasts += b
          case e: ShuffleExchangeExec => shuffles += e
          case _ =>
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try Runner.runIncrement(spark, incCsv.toString, wh, out)
    finally {
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    def named(p: SparkPlan): String = p.treeString(verbose = false).linesIterator.take(8).mkString("\n")
    // unter_grun's Unter/Grun bases and Bronx zones, and the partial's
    // base names: each a driver-held dim, broadcast without a Spark job
    assert(broadcasts.size == 3 &&
      broadcasts.forall(_.isInstanceOf[DriverBroadcastExchangeExec]),
      s"expected three broadcasts, each from the driver; got ${broadcasts.size}:\n" +
        broadcasts.map(named).mkString("\n---\n"))
    // the shared partial's aggregate: a partial count hashed on the base
    // number (the date key is pulled out under a generated name). The
    // folds read single partitions and plan none
    def partialAggregate(e: ShuffleExchangeExec): Boolean = (e.outputPartitioning match {
      case h: HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "dispatching_base_num"))
      case _ => false
    }) && (e.child match {
      case w: WholeStageCodegenExec => w.child.isInstanceOf[HashAggregateExec]
      case c => c.isInstanceOf[HashAggregateExec]
    })
    val offending = shuffles.filterNot(partialAggregate)
    assert(offending.isEmpty, "a shuffle other than the partial's aggregate:\n" +
      offending.map(named).mkString("\n---\n"))
    assert(shuffles.size == 1, s"expected the partial's one shuffle, got ${shuffles.size}")
    assertAllModelsMatch(out, "after the plan-shape tick")
    Ingest.ingestAll(spark, csv, wh)
  }

  test("affectedMonths merges each partition's months once, null month included") {
    import org.apache.spark.sql.functions.{col, month, spark_partition_id}
    import spark.implicits._
    val inc = Seq("2015-02-01 08:00:00", "2015-02-03 09:00:00", "2015-02-05 10:00:00",
        "2015-02-07 11:00:00", "2015-05-20 11:00:00", "2015-02-09 12:00:00",
        "2015-05-21 12:00:00", null, "2015-02-11 13:00:00")
      .toDF("s").select(col("s").cast("timestamp").as("pickup_date"))
      .repartition(3)
    val febParts = inc.filter(month(col("pickup_date")) === 2)
      .select(spark_partition_id()).distinct().count()
    assert(febParts > 1, s"February must span several partitions, got $febParts")
    val months = Incremental.affectedMonths(inc)
    assert(months == Seq(None, Some(2), Some(5)),
      s"each affected month once, ascending: $months")
  }

  test("drop-folder increments apply once, in name order, and survive restarts") {
    val (csv, wh, out) = dirs
    Ingest.ingestAll(spark, csv, wh)
    Incremental.fullBuild(spark, out)

    val incDir = Files.createTempDirectory("inc_drops").toString
    val state = s"$incDir/_state"
    // two drops: day1 restates February, day2 restates it AGAIN (later
    // file must win) and touches May
    Files.writeString(Paths.get(s"$incDir/2015-02-13_a.csv"),
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02598,2015-02-10 12:00:00,B02598,3
        |B02765,2015-02-12 14:00:00,B02617,3
        |""".stripMargin)
    Files.writeString(Paths.get(s"$incDir/2015-02-14_b.csv"),
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02598,2015-02-10 12:00:00,B02598,3
        |B02598,2015-02-11 13:30:00,B02765,1
        |B02765,2015-02-12 14:00:00,B02617,3
        |B02512,2015-05-21 12:00:00,B02512,2
        |B02765,2015-05-20 11:00:00,B02765,1
        |""".stripMargin)

    val applied = Runner.processNewIncrements(spark, incDir, wh, out, state)
    assert(applied == Seq("2015-02-13_a.csv", "2015-02-14_b.csv"))
    assertAllModelsMatch(out, "after drop-folder increments")
    // the later drop won: 13:30 Grun-Bronx row present
    val ug = rows(Incremental.readModel(spark, out, "unter_grun_pickups_in_bronx"))
    assert(ug.exists(_.contains("2015-02-11T13:30")), s"later drop must win: $ug")

    // restart: a fresh call (state file re-read) applies nothing
    assert(Runner.processNewIncrements(spark, incDir, wh, out, state).isEmpty)

    Ingest.ingestAll(spark, csv, wh)
  }

  test("an output directory without the shared partial is refused") {
    // the older per-model layout: partials/<model>, no partials/daily_counts
    val old = Files.createTempDirectory("inc_old_layout").toString
    Files.createDirectories(Paths.get(
      s"$old/partials/top_3_base_names_by_total_pickups/month_num=2"))
    val e = intercept[IllegalStateException](
      Incremental.applyIncrement(spark, old, Seq(Some(2))))
    assert(e.getMessage.contains("Incremental.fullBuild"), e.getMessage)
    assert(!Files.exists(Paths.get(Incremental.dailyCountsPath(old))),
      "a refused increment must not start a shared partial")
  }

  test("a full build and a single-month increment run a fixed number of Spark jobs") {
    val (csv, wh, _) = dirs
    Ingest.ingestAll(spark, csv, wh)
    val out = Files.createTempDirectory("inc_jobs").toString
    // 1 unter_grun (the write; its dims' broadcasts run no job) + 2 shared
    // partial (the aggregate's map stage, the write) + 1 per fold for the
    // five count-based models
    val build = jobsLaunched(Incremental.fullBuild(spark, out))
    assert(build == 8, s"a full build launched $build jobs")
    val incCsv = Files.createTempDirectory("inc_jobs_csv").resolve("may.csv")
    Files.writeString(incCsv,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02765,2015-05-20 11:00:00,B02765,1
        |B02512,2015-05-21 12:00:00,B02512,2
        |""".stripMargin)
    // 1 fact landing (its Observation reports the months) + the build's
    // 8 for one month
    val tick = jobsLaunched(Runner.runIncrement(spark, incCsv.toString, wh, out))
    assert(tick == 9, s"one single-month tick launched $tick jobs")
    assertAllModelsMatch(out, "after a single-month increment")
    Ingest.ingestAll(spark, csv, wh)
  }

  test("q72_incremental_models: restated-partials fold == direct full model") {
    import org.apache.spark.sql.functions._
    // the driver-gate query runs the stale-build → restate {May, July} →
    // fold lifecycle; its output must equal the model computed directly
    val got = graft.operators.Relational
      .queries("q72_incremental_models")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val want = Tables.load(spark, sfDir, "orders")
      .filter(month(col("o_orderdate")) <= 6)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        (sum(floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long"))
          / lit(100.0)).as("total_price"))
      .orderBy(col("o_orderpriority"))
      .collect().map(_.toSeq).toSeq
    assert(got == want, s"fold over restated partials diverged:\n$got\n$want")
  }
}
