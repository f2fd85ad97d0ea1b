package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.uber.{Incremental, Ingest, Models, Runner}

/** Incremental model maintenance (uber/Incremental.scala): after a
  * partition restatement, the shared daily partial + folds must equal a
  * from-scratch full rebuild for every model — and must not touch
  * untouched months' files.
  */
class IncrementalSpec extends SparkSpec {

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
      val inc = rows(Incremental.readModel(spark, out, m.name))
      val full = rows(Runner.runModel(spark, m, Runner.FrameForm))
      assert(inc == full, s"$clue: ${m.name} incremental != full rebuild")
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

  test("increment equals a full rebuild under 1 and 7 shuffle partitions, AQE on and off") {
    val (csv, wh, _) = dirs
    val incCsv = Files.createTempDirectory("inc_confs_csv").resolve("feb_may.csv")
    Files.writeString(incCsv, febMayRestatement)
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (partitions <- Seq("1", "7"); aqe <- Seq("true", "false")) {
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        Ingest.ingestAll(spark, csv, wh)
        val out = Files.createTempDirectory("inc_confs").toString
        Incremental.fullBuild(spark, out)
        Runner.runIncrement(spark, incCsv.toString, wh, out)
        assertAllModelsMatch(out, s"shuffle.partitions=$partitions adaptive=$aqe")
      }
    } finally {
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Ingest.ingestAll(spark, csv, wh)
    }
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
    // 3 unter_grun + 3 shared partial + 1 per fold for the five
    // count-based models
    val build = jobsLaunched(Incremental.fullBuild(spark, out))
    assert(build == 11, s"a full build launched $build jobs")
    val incCsv = Files.createTempDirectory("inc_jobs_csv").resolve("may.csv")
    Files.writeString(incCsv,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02765,2015-05-20 11:00:00,B02765,1
        |B02512,2015-05-21 12:00:00,B02512,2
        |""".stripMargin)
    // 1 affectedMonths + 1 fact landing + the build's 11 for one month
    val tick = jobsLaunched(Runner.runIncrement(spark, incCsv.toString, wh, out))
    assert(tick == 13, s"one single-month tick launched $tick jobs")
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
