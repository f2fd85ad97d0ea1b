package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.uber.{Checks, Incremental, Ingest, Models, Runner}
import graft.uber.Checks.CheckResult

/** Reference-parity tests for the uber module: fixture per FIXTURES.md
  * (months 1-6 + a July row + a NULL timestamp + rank ties + dispatching ≠
  * affiliated), goldens precomputed with DuckDB, and every model that
  * `runAll` materializes held equal to its SQL twin. The reference itself
  * shipped zero tests (SURVEY §5) — these are the tests it should have had.
  */
class UberSpec extends SparkSpec {

  private val plans = new AdaptiveSparkPlanHelper {}

  /** The executed plans of the actions `f` runs, in the order they end. */
  private def executedPlans(f: => Unit): Seq[SparkPlan] = {
    val executed = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed += qe.executedPlan
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try f finally {
      ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    executed.toSeq
  }

  private lazy val dirs: (String, String) = {
    val root = Files.createTempDirectory("uber_fixture").toString
    val csv = s"$root/csv"; val wh = s"$root/wh"
    Files.createDirectories(Paths.get(csv))
    def write(name: String, content: String): Unit =
      Files.writeString(Paths.get(s"$csv/$name"), content)
    write("base_num_and_name.csv",
      """base_num,base_name
        |B02512,Unter
        |B02598,Hinter
        |B02617,Weiter
        |B02682,Schmecken
        |B02764,Danach-NY
        |B02765,Grun
        |B02774,Alfred
        |B02835,Dreist
        |B02836,Drinnen
        |""".stripMargin)
    write("taxi_zone_lookup.csv",
      """locationid,borough,zone
        |1,Bronx,Belmont
        |2,Bronx,Hunts Point
        |3,Manhattan,Chelsea
        |4,Brooklyn,Williamsburg
        |5,Queens,Astoria
        |6,EWR,Newark Airport
        |""".stripMargin)
    write("raw_data_janjune_15.csv",
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02512,2015-01-05 08:00:00,B02512,1
        |B02512,2015-01-05 09:00:00,B02765,1
        |B02512,2015-01-06 10:00:00,B02512,2
        |B02512,2015-02-10 11:00:00,B02512,3
        |B02512,2015-02-10 12:00:00,B02765,2
        |B02512,2015-02-11 13:00:00,B02512,1
        |B02512,2015-02-12 14:00:00,B02512,4
        |B02765,2015-03-15 08:00:00,B02512,1
        |B02765,2015-03-15 09:00:00,B02765,2
        |B02765,2015-03-16 10:00:00,B02765,3
        |B02765,2015-05-20 11:00:00,B02512,1
        |B02765,2015-05-21 12:00:00,B02765,1
        |B02598,2015-05-01 07:00:00,B02598,3
        |B02598,2015-05-02 07:30:00,B02765,4
        |B02598,2015-06-03 08:00:00,B02598,5
        |B02598,2015-04-04 09:00:00,B02512,6
        |B02617,2015-04-05 10:00:00,B02617,3
        |B02617,2015-07-04 11:00:00,B02617,3
        |B02617,,B02617,1
        |B02836,2015-06-30 23:59:59,B02836,2
        |B02836,2015-06-15 12:00:00,B02512,5
        |""".stripMargin)
    Ingest.ingestAll(spark, csv, wh)
    (csv, wh)
  }

  private def ingested(): Unit = { dirs; () }

  private def model(name: String) = Models.all.find(_.name == name).get

  /** A result's rows in a canonical order, for results whose ties may
    * come out in any order.
    */
  private def norm(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(_.map(v => if (v == null) "" else v.toString).mkString("|"))

  /** Each SQL model written as parquet under `out`, as a pipeline pass
    * writes them.
    */
  private def writeModels(out: String): Unit = Models.all.foreach(m =>
    Runner.runModel(spark, m).write.mode("overwrite").parquet(s"$out/${m.name}"))

  // runAll re-ingests the same CSVs into the same warehouse, so the
  // fixture's views end as they started
  private lazy val built: (String, Map[String, Long]) = {
    val (csv, wh) = dirs
    val out = Files.createTempDirectory("uber_out").toString
    (out, Runner.runAll(spark, csv, wh, out))
  }

  test("ingest: declared schema + airbyte provenance columns + month partitioning") {
    ingested()
    val raw = spark.table("raw_data_janjune_15")
    assert(raw.count() == 21)
    graft.uber.Schemas.airbyteColumns.foreach(c =>
      assert(raw.columns.contains(c), s"missing $c"))
    assert(raw.columns.contains("pickup_month"))
    // null timestamp row survives ingest with null month
    assert(raw.filter(col("pickup_date").isNull).count() == 1)
    // partition dirs exist on disk
    val partDirs = new java.io.File(s"${dirs._2}/raw_data_janjune_15")
      .listFiles().map(_.getName).filter(_.startsWith("pickup_month="))
    assert(partDirs.toSet.contains("pickup_month=5"))
  }

  test("landed tables are read back with exactly the schema inference gives") {
    val (_, wh) = dirs
    graft.uber.Schemas.sources.foreach { case (name, _) =>
      assert(spark.table(name).schema == spark.read.parquet(s"$wh/$name").schema,
        s"$name: registered schema differs from the files' inferred schema")
    }
  }

  test("typed _airbyte_meta: declared-schema parse + envelope check") {
    import spark.implicits._
    val stamped = Ingest.withAirbyteMeta(Seq(("B1", "x")).toDF("k", "v"))
    // the typed view exposes errors as a real array<string>
    val errs = Ingest.typedAirbyteMeta(stamped)
      .select($"_airbyte_meta_typed.errors").as[Seq[String]].head()
    assert(errs == Seq.empty)
    assert(graft.uber.Checks.metaEnvelopeClean(stamped, "t").passed)
    // a sync error, a malformed envelope, and a MISSING envelope are all
    // flagged, exactly once each
    val dirty = stamped.select($"k", $"v", $"_airbyte_meta")
      .withColumn("_airbyte_meta",
        when($"k" === "B1", lit("""{"errors":["dropped column"]}""")))
      .union(Seq(("B2", "y", "not json at all")).toDF("k", "v", "_airbyte_meta"))
      .union(Seq(("B3", "z", null.asInstanceOf[String])).toDF("k", "v", "_airbyte_meta"))
    val r = graft.uber.Checks.metaEnvelopeClean(dirty, "t")
    assert(!r.passed && r.failures == 3L)
  }

  test("runAll's models equal their SQL twins, null months included") {
    val (out, _) = built
    Models.all.foreach { m =>
      val sqlOut = Runner.runModel(spark, m)
      val mat = Incremental.readModel(spark, out, m.name)
      assert(sqlOut.columns.toSeq == mat.columns.toSeq,
        s"${m.name}: column mismatch ${sqlOut.columns.toSeq} vs ${mat.columns.toSeq}")
      assert(norm(sqlOut) == norm(mat), s"${m.name}: row mismatch")
    }
  }

  test("golden: top_3_base_names_by_total_pickups (null pickup_date skipped)") {
    ingested()
    val out = Runner.runModel(spark, model("top_3_base_names_by_total_pickups"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(out == Seq(
      ("B02512", "Unter", 7L), ("B02765", "Grun", 5L), ("B02598", "Hinter", 4L)))
  }

  test("golden: total_pickups_in_may_by_base") {
    ingested()
    val out = Runner.runModel(spark, model("total_pickups_in_may_by_base"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("Grun", 2L), ("Hinter", 2L)))
  }

  test("golden: unter_grun_pickups_in_bronx (affiliated-base join, 3-way)") {
    ingested()
    val out = Runner.runModel(spark, model("unter_grun_pickups_in_bronx"))
    assert(out.count() == 9)
    val byBase = out.groupBy(col("Base Name")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byBase == Map("Unter" -> 5L, "Grun" -> 4L))
    assert(out.select(col("Borough")).distinct().collect().map(_.getString(0)).toSeq == Seq("Bronx"))
  }

  test("golden: top_3_pickup_dates_per_base rank ties share rank with gaps") {
    ingested()
    val out = Runner.runModel(spark, model("top_3_pickup_dates_per_base"))
    val unter = out.filter(col("Dispatching Base Number") === "B02512")
      .collect()
      .map(r => (r.getAs[java.sql.Date]("Pick Up Date").toString,
        r.getAs[Long]("Count"), r.getAs[Int]("Rank"))).toSet
    assert(unter == Set(
      ("2015-01-05", 2L, 1), ("2015-02-10", 2L, 1), // tie at rank 1
      ("2015-01-06", 1L, 3), ("2015-02-11", 1L, 3), ("2015-02-12", 1L, 3))) // gap to 3
    // Weiter: all counts tie at 1 → all rank 1, including the NULL-date group
    val weiter = out.filter(col("Dispatching Base Number") === "B02617")
    assert(weiter.count() == 3)
    assert(weiter.select(col("Rank")).distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    assert(weiter.filter(col("Pick Up Date").isNull).count() == 1)
  }

  test("golden: pickup_count_vs_average_per_base (window avg + no-ELSE CASE)") {
    ingested()
    val out = Runner.runModel(spark, model("pickup_count_vs_average_per_base"))
    val june = out.filter(col("Month") === "June").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4))).toSet
    assert(june.map(t => (t._1, t._2, t._3)) ==
      Set(("Drinnen", 2L, 1.5), ("Hinter", 1L, 1.5)))
    val pct = june.map(t => t._1 -> t._4).toMap
    assert(math.abs(pct("Drinnen") - 33.33333333333333) < 1e-9)
    assert(math.abs(pct("Hinter") + 33.33333333333333) < 1e-9)
    // July + NULL-timestamp rows: Month is NULL (no ELSE), avg over the
    // NULL partition = 1.0
    val nullMonth = out.filter(col("Month").isNull).collect()
    assert(nullMonth.length == 2)
    assert(nullMonth.forall(_.getDouble(3) == 1.0))
  }

  test("golden: pickup_percentile_by_base_per_month (correlated subquery)") {
    ingested()
    val out = Runner.runModel(spark, model("pickup_percentile_by_base_per_month"))
    val june = out.filter(col("Month") === "June").collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3))).toSet
    assert(june.map(t => (t._1, t._2)) == Set(("Drinnen", 2L), ("Hinter", 1L)))
    val shares = june.map(t => t._1 -> t._3).toMap
    assert(math.abs(shares("Drinnen") - 66.66666666666666) < 1e-9)
    assert(math.abs(shares("Hinter") - 33.33333333333333) < 1e-9)
    assert(out.filter(col("Month") === "January").collect()
      .map(_.getDouble(3)).toSeq == Seq(100.0))
    // July and the NULL timestamp: no month, so the count per month is 0
    // and the share is NULL, while each keeps its own count
    val nullMonth = out.filter(col("Month").isNull).collect()
      .map(r => (r.getString(0), r.getLong(2), r.isNullAt(3))).toSeq
    assert(nullMonth == Seq(("Weiter", 1L, true), ("Weiter", 1L, true)))
  }

  test("an increment's fact scans prune to the restated pickup_month partition") {
    val (csv, wh) = dirs
    val out = Files.createTempDirectory("uber_prune").toString
    Incremental.fullBuild(spark, out)
    val inc = Files.createTempDirectory("uber_prune_inc").resolve("may.csv")
    Files.writeString(inc,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02765,2015-05-20 11:00:00,B02512,1
        |""".stripMargin)
    val factScans = executedPlans(Runner.runIncrement(spark, inc.toString, wh, out))
      .flatMap(plans.collect(_) {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "raw_data_janjune_15") => s
      })
    // unter_grun's month and the shared partial's month each scan the fact
    assert(factScans.size == 2, s"expected 2 fact scans, got ${factScans.size}")
    factScans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "pickup_month")),
        s"fact scan without a pickup_month partition filter:\n$s")
    }
    Ingest.ingestAll(spark, csv, wh)
  }

  test("runner materializes all six models with expected row counts") {
    val (out, counts) = built
    assert(counts == Map(
      "top_3_base_names_by_total_pickups" -> 3L,
      "total_pickups_in_may_by_base" -> 2L,
      "unter_grun_pickups_in_bronx" -> 9L,
      "top_3_pickup_dates_per_base" -> 18L,
      "pickup_count_vs_average_per_base" -> 11L,
      "pickup_percentile_by_base_per_month" -> 11L))
    // the counts observed on the writes are the rows the files hold
    assert(counts == Models.all.map(m =>
      m.name -> Incremental.readModel(spark, out, m.name).count()).toMap)
  }

  test("runAll runs a fixed number of Spark jobs") {
    val (csv, wh) = dirs
    val out = Files.createTempDirectory("uber_jobs").toString
    // 3 source writes + 2 checks + Incremental.fullBuild's 8; 3 checks
    // with the small-stage rule excluded
    val jobs = jobsLaunched(Runner.runAll(spark, csv, wh, out))
    val jobsOff = withConf(smallStageRuleExcluded)(jobsLaunched(Runner.runAll(spark, csv, wh, out)))
    assert((jobs, jobsOff) == ((13, 14)), s"runAll launched $jobs jobs, $jobsOff with the rule excluded")
  }

  test("the six SQL models run a fixed number of Spark jobs") {
    ingested()
    val on = Files.createTempDirectory("uber_models").toString
    val off = Files.createTempDirectory("uber_models_off").toString
    val noCount = Files.createTempDirectory("uber_models_no_count").toString
    val noAqe = Files.createTempDirectory("uber_models_no_aqe").toString
    var finalPlans = Seq.empty[SparkPlan]
    val jobs = jobsLaunched { finalPlans = executedPlans(writeModels(on)) }
    val jobsOff = withConf(smallStageRuleExcluded)(jobsLaunched(writeModels(off)))
    val jobsNoCount = withConf(countRuleExcluded)(jobsLaunched(writeModels(noCount)))
    // the dims are driver-held, so their broadcasts run no job; with the
    // small-stage rule excluded each sort and window over a grain-sized
    // aggregate plans its own exchange; with the count rule excluded the
    // percentile model scans the fact twice and joins
    assert((jobs, jobsOff, jobsNoCount) == ((11, 22, 13)),
      s"$jobs jobs, $jobsOff with the small-stage rule excluded, $jobsNoCount with the count rule excluded")
    // no final plan is left with Spark's own broadcast of a local relation
    val stock = finalPlans.flatMap(plans.collect(_) {
      case b @ BroadcastExchangeExec(_, _: LocalTableScanExec) => b
    })
    assert(finalPlans.size == Models.all.size && stock.isEmpty,
      s"${finalPlans.size} plans; a stock broadcast of a local relation:\n${stock.mkString("\n")}")
    // with AQE off Spark's own exchange broadcasts the dims, to the same rows
    withConf("spark.sql.adaptive.enabled" -> "false")(writeModels(noAqe))
    Models.all.foreach { m =>
      val rows = norm(spark.read.parquet(s"$on/${m.name}"))
      assert(Seq(off, noCount, noAqe).forall(d => rows == norm(spark.read.parquet(s"$d/${m.name}"))),
        s"${m.name}: row mismatch")
    }
  }

  test("each dim's view is the rows its landing write wrote, replaced by the next ingest") {
    val (csv, wh) = dirs
    def viewAndFiles(name: String): (Seq[Seq[Any]], Seq[Seq[Any]]) =
      (norm(spark.table(name)), norm(spark.read.parquet(s"$wh/$name")))
    val dims = Seq("base_num_and_name", "taxi_zone_lookup")
    val before = dims.map(viewAndFiles)
    dims.zip(before).foreach { case (name, (view, files)) =>
      assert(spark.table(name).queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        s"$name is not a driver-held view")
      // _airbyte_raw_id (a fresh uuid per landed row) included
      assert(view == files && view.nonEmpty, s"$name: the view differs from its files")
    }
    Ingest.ingestAll(spark, csv, wh)
    dims.zip(before).foreach { case (name, (oldView, _)) =>
      val (view, files) = viewAndFiles(name)
      assert(view == files && view != oldView, s"$name: the view kept the previous ingest's rows")
    }
  }

  test("a dim above Spark's broadcast size limit is refused, naming it and its size") {
    val (csv, wh) = dirs
    val e = try intercept[IllegalStateException](withConf(
        "spark.sql.maxBroadcastTableSize" -> "200")(Ingest.ingestAll(spark, csv, wh)))
      finally Ingest.ingestAll(spark, csv, wh)
    assert(e.getMessage.contains("taxi_zone_lookup landed 6 rows (") &&
      e.getMessage.contains("200 bytes"), e.getMessage)
  }

  test("the SQL models and a query per family do not depend on the small-stage rule or partitions") {
    ingested()
    // one cheap query per registry family, at the spec's sf0.001, then
    // the sharded prefix sums (range shards: t15, q36, q71; stage-major
    // hash shards: p10) and keyedTopK's window group limit (t10)
    val queries = Seq("q8_window_rank", "t5_vocab", "d1_exact_dedup", "v3_embedding_neardup",
      "g9_walks", "mm2_frame_sample", "p6_epoch_shuffle", "q23_asof_join",
      "t15_global_packing", "q36_sweep_concurrency", "q71_pareto", "p10_curriculum",
      "t10_tfidf")
    val names = Models.all.map(_.name) ++ queries
    def results(): Seq[Seq[Seq[Any]]] =
      Models.all.map(m => norm(Runner.runModel(spark, m))) ++
        queries.map(q => norm(SparkEntry.queries(q)(spark, sfDir)))
    val configs = for (partitions <- Seq("1", "7");
        rule <- Seq(Nil, Seq(smallStageRuleExcluded), Seq(countRuleExcluded)))
      yield ("spark.sql.shuffle.partitions" -> partitions) +: rule
    val expected = withConf(configs.head: _*)(results())
    configs.tail.foreach { conf =>
      withConf(conf: _*)(names.zip(results()).zip(expected).foreach {
        case ((name, got), want) => assert(got == want, s"$name under $conf")
      })
    }
  }

  test("source checks: fixture passes the DDL contract; violations are caught") {
    ingested()
    val results = graft.uber.Checks.sourceChecks(spark)
    assert(results.nonEmpty && results.forall(_.passed),
      s"unexpected failures: ${results.filterNot(_.passed)}")
    // a violated contract is detected: duplicate + null + dangling FK
    import spark.implicits._
    val badBase = Seq(("B1", "X"), ("B1", "Y"), (null, "Z"))
      .toDF("base_num", "base_name")
    assert(!graft.uber.Checks.unique(badBase, "t", "base_num").passed)
    assert(!graft.uber.Checks.notNull(badBase, "t", "base_num").passed)
    val child = Seq("B1", "B9").toDF("fk")
    val parent = Seq("B1").toDF("pk")
    val rel = graft.uber.Checks.relationship(child, "fk", parent, "pk", "t")
    assert(rel.failures == 1)
    assert(!graft.uber.Checks.acceptedValues(
      Seq("Bronx", "Atlantis").toDF("b"), "t", "b", Seq("Bronx", "Queens")).passed)
  }

  test("source checks count every planted violation exactly, as plain Scala does") {
    // a session of its own: the planted views must not replace the
    // fixture's views that the other tests read
    val planted = spark.newSession()
    import planted.implicits._
    val clean = """{"errors":[]}"""
    // the three bad kinds: a sync error, a malformed and a missing envelope
    val envelopes = Seq(clean, """{"errors":["dropped column"]}""",
      "not json at all", null, clean, clean)
    // two NULL zone keys: the NULL key group counts as a duplicated key
    val zoneKeys: Seq[Option[Int]] =
      (1 to 9).map(Some(_)) ++ Seq(None, Some(3), Some(3), Some(5), None)
    // keys that collide across relations: base "7" is spelled like zone 7
    val baseKeys: Seq[Option[String]] =
      Seq("B1", "B2", "B3", "B4", "7").map(Some(_)) ++ Seq(Some("B2"), None)
    // dispatching bases B1..B6 and "7", "9" (B5, B6 and "9" dangle, though
    // zone 9 exists) and every 9th one NULL; zones 1..10 (10 dangles) and
    // every 13th one NULL
    val bases = (1 to 6).map(i => s"B$i") ++ Seq("7", "9")
    val facts: Seq[(Option[String], Option[Int], String)] = (0 until 240).map { i =>
      (if (i % 9 == 4) None else Some(bases(i % bases.size)),
        if (i % 13 == 7) None else Some(i % 10 + 1),
        envelopes(i % envelopes.size))
    }
    zoneKeys.map(k => (k, "Borough", "Zone")).toDF("locationid", "borough", "zone")
      .createOrReplaceTempView("taxi_zone_lookup")
    baseKeys.map(k => (k, "Name")).toDF("base_num", "base_name")
      .createOrReplaceTempView("base_num_and_name")
    facts.toDF("dispatching_base_num", "locationid", "_airbyte_meta")
      .createOrReplaceTempView("raw_data_janjune_15")

    def nulls[A](keys: Seq[Option[A]]): Long = keys.count(_.isEmpty).toLong
    def dups[A](keys: Seq[Option[A]]): Long =
      keys.groupBy(identity).count(_._2.size > 1).toLong
    def dangling[A](fks: Seq[Option[A]], parent: Seq[Option[A]]): Long =
      fks.flatten.count(k => !parent.flatten.contains(k)).toLong
    val zone = "taxi_zone_lookup"; val base = "base_num_and_name"
    val fact = "raw_data_janjune_15"
    val expected = Seq(
      CheckResult(zone, "not_null", "locationid", nulls(zoneKeys)),
      CheckResult(zone, "unique", "locationid", dups(zoneKeys)),
      CheckResult(base, "not_null", "base_num", nulls(baseKeys)),
      CheckResult(base, "unique", "base_num", dups(baseKeys)),
      CheckResult(fact, "not_null", "dispatching_base_num", nulls(facts.map(_._1))),
      CheckResult(fact, "relationships", "dispatching_base_num",
        dangling(facts.map(_._1), baseKeys)),
      CheckResult(fact, "relationships", "locationid",
        dangling(facts.map(_._2), zoneKeys)),
      CheckResult(fact, "meta_envelope_clean", "_airbyte_meta",
        facts.count(_._3 != clean).toLong))
    // every planted kind is present, so no count passes by being zero
    assert(expected.forall(!_.passed), expected)
    assert(Checks.sourceChecks(planted) == expected)
    // the counts do not depend on partitioning, AQE, broadcasts or the
    // small-stage rule
    Seq(Seq("spark.sql.shuffle.partitions" -> "1"), Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"), Seq(smallStageRuleExcluded))
      .foreach { conf =>
        assert(withConfOn(planted)(conf: _*)(Checks.sourceChecks(planted)) == expected, conf)
      }
    // the single-table checks count the same failures
    val z = planted.table(zone); val b = planted.table(base)
    val f = planted.table(fact)
    assert(Seq(
      Checks.notNull(z, zone, "locationid"), Checks.unique(z, zone, "locationid"),
      Checks.notNull(b, base, "base_num"), Checks.unique(b, base, "base_num"),
      Checks.notNull(f, fact, "dispatching_base_num"),
      Checks.relationship(f, "dispatching_base_num", b, "base_num", fact),
      Checks.relationship(f, "locationid", z, "locationid", fact),
      Checks.metaEnvelopeClean(f, fact)) == expected)
  }

  test("the source checks run a fixed number of Spark jobs") {
    ingested()
    // one action, with no join (an FK probe) and no broadcast
    val executed = executedPlans(Runner.runChecks(spark))
    assert(executed.size == 1, s"${executed.size} actions")
    val probes = plans.collect(executed.head) {
      case p: BaseJoinExec => p
      case p: BroadcastExchangeExec => p
    }
    assert(probes.isEmpty, s"join or broadcast in the source checks:\n${executed.head}")
    val jobs = jobsLaunched(Runner.runChecks(spark))
    val jobsOff = withConf(smallStageRuleExcluded)(jobsLaunched(Runner.runChecks(spark)))
    // the (relation, key) groups' shuffle stage + the result, whose
    // global aggregate reads that small stage on one partition (its own
    // shuffle stage, with the small-stage rule excluded)
    assert((jobs, jobsOff) == ((2, 3)),
      s"the 8 source checks launched $jobs jobs, $jobsOff with the rule excluded")
  }

  test("a failing source check aborts runAll before any model is written") {
    val (csv, wh) = dirs
    val root = Files.createTempDirectory("uber_checks")
    val out = root.resolve("out")
    Runner.runAll(spark, csv, root.resolve("wh").toString, out.toString)
    def files(): Map[String, Seq[Byte]] = {
      val s = Files.walk(out)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => out.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = files()
    assert(before.keys.exists(_.endsWith(".parquet")))
    // the same sources plus a duplicate base_num: violates the dim's
    // unique check, and would change every dispatching-base model
    val bad = Files.createDirectories(root.resolve("bad_csv"))
    Files.list(Paths.get(csv)).iterator().asScala.foreach(f =>
      Files.copy(f, bad.resolve(f.getFileName)))
    Files.writeString(bad.resolve("base_num_and_name.csv"), "B02512,Doppel\n",
      java.nio.file.StandardOpenOption.APPEND)
    val e = intercept[IllegalStateException](Runner.runAll(
      spark, bad.toString, root.resolve("wh_bad").toString, out.toString))
    assert(e.getMessage.contains("base_num_and_name.base_num unique"), e.getMessage)
    assert(files() == before, "a failed check rewrote the previous models")
    // restore the fixture's views for any test ordering after this one
    Ingest.ingestAll(spark, csv, wh)
  }

  test("incremental ingest overwrites only the increment's partitions") {
    val (csv, wh) = dirs
    val before = spark.table("raw_data_janjune_15")
    val janBefore = before.filter(col("pickup_month") === 1).count()
    val mayBefore = before.filter(col("pickup_month") === 5).count()
    assert(janBefore > 0 && mayBefore > 0)
    // increment: a restated May with a SINGLE row
    val incPath = java.nio.file.Files.createTempDirectory("uber_inc")
      .resolve("inc.csv")
    java.nio.file.Files.writeString(incPath,
      """dispatching_base_num,pickup_date,affiliated_base_num,locationid
        |B02512,2015-05-30 09:00:00,B02512,1
        |""".stripMargin)
    graft.uber.Ingest.ingestFactIncrement(spark, incPath.toString, wh)
    val after = spark.table("raw_data_janjune_15")
    assert(after.filter(col("pickup_month") === 5).count() == 1,
      "May must be fully restated by the increment")
    assert(after.filter(col("pickup_month") === 1).count() == janBefore,
      "untouched months must keep their rows")
    // restore the fixture state for any test ordering after this one
    graft.uber.Ingest.ingestAll(spark, csv, wh)
  }

  test("jdbc ingest == csv ingest: identical tables through the same seam") {
    // The reference's real source is a live Postgres (logical replication,
    // slot airbyte_slot — Diary of Making.md:101-127); prove the
    // transport-agnostic seam by replaying the SAME fixture through an
    // embedded Derby and asserting table-for-table equality with the CSV
    // path (modulo the random provenance values).
    val (csv, wh) = dirs
    val url = "jdbc:derby:memory:uberjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      // reference DDL (Diary of Making.md:64-68), Derby spelling
      st.executeUpdate("CREATE TABLE taxi_zone_lookup (" +
        "locationid SMALLINT PRIMARY KEY, borough VARCHAR(32), zone VARCHAR(64))")
      st.executeUpdate("CREATE TABLE base_num_and_name (" +
        "base_num VARCHAR(6) PRIMARY KEY, base_name VARCHAR(64))")
      st.executeUpdate("CREATE TABLE raw_data_janjune_15 (" +
        "dispatching_base_num VARCHAR(6), pickup_date TIMESTAMP, " +
        "affiliated_base_num VARCHAR(6), locationid SMALLINT)")
      def rows(name: String): Seq[Array[String]] =
        Files.readAllLines(Paths.get(s"$csv/$name.csv")).asScala.toSeq
          .drop(1).filter(_.nonEmpty).map(_.split(",", -1))
      val pz = conn.prepareStatement("INSERT INTO taxi_zone_lookup VALUES (?,?,?)")
      rows("taxi_zone_lookup").foreach { r =>
        pz.setInt(1, r(0).toInt); pz.setString(2, r(1)); pz.setString(3, r(2))
        pz.executeUpdate()
      }
      val pb = conn.prepareStatement("INSERT INTO base_num_and_name VALUES (?,?)")
      rows("base_num_and_name").foreach { r =>
        pb.setString(1, r(0)); pb.setString(2, r(1)); pb.executeUpdate()
      }
      val pf = conn.prepareStatement("INSERT INTO raw_data_janjune_15 VALUES (?,?,?,?)")
      rows("raw_data_janjune_15").foreach { r =>
        pf.setString(1, r(0))
        if (r(1).isEmpty) pf.setNull(2, java.sql.Types.TIMESTAMP)
        else pf.setTimestamp(2, java.sql.Timestamp.valueOf(r(1)))
        pf.setString(3, r(2)); pf.setInt(4, r(3).toInt)
        pf.executeUpdate()
      }
    } finally conn.close()
    val whJ = Files.createTempDirectory("uber_jdbc_wh").toString
    val base = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    graft.uber.Schemas.sources.foreach { case (name, _) =>
      val opts =
        if (name == "raw_data_janjune_15")
          // exercise the parallel range-scan path the 100 TB read uses
          base ++ Map("partitionColumn" -> "locationid",
            "lowerBound" -> "1", "upperBound" -> "7", "numPartitions" -> "3")
        else base
      graft.uber.Ingest.ingestTableJdbc(spark, name, url, whJ, opts)
    }
    graft.uber.Schemas.sources.foreach { case (name, schema) =>
      val cols = schema.fieldNames.toSeq ++
        (if (name == "raw_data_janjune_15") Seq("pickup_month") else Nil)
      val a = spark.read.parquet(s"$wh/$name").select(cols.map(col): _*)
      val b = spark.read.parquet(s"$whJ/$name").select(cols.map(col): _*)
      assert(a.schema == b.schema,
        s"$name schema drifted across transports: ${a.schema} vs ${b.schema}")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$name rows differ between jdbc and csv ingest")
    }
    // the jdbc fact landed month-partitioned like the csv path
    assert(new java.io.File(s"$whJ/raw_data_janjune_15").listFiles()
      .exists(_.getName.startsWith("pickup_month=")))
    // restore the CSV-backed views for any later test
    graft.uber.Ingest.ingestAll(spark, csv, wh)
  }
}
