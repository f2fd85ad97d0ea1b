package graft.uber

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The DataFrame form of the six models, and their one materialization:
  * [[fullBuild]] (what `Runner.runAll` writes) and [[applyIncrement]] (a
  * daily tick) share this layout and derivation, so one output directory
  * takes both full runs and increments. The SQL form in [[Models]] is the
  * differential oracle.
  *
  * Incremental maintenance is the capability the reference's dbt project
  * lacks: it materializes every model as a FULL table on every daily run
  * (`+materialized: table`, reference `dbt_project.yml:36-37`), so each run
  * re-scans the whole fact table six times. At 100 TB that is a daily
  * 100 TB scan to absorb a CDC delta touching one or two partitions. A
  * full build here scans the fact twice (unter_grun's rows and the daily
  * partial), and a tick scans only the delta's months.
  *
  * Layout under the output directory:
  *
  *   partials/daily_counts — ONE partial shared by the five count-based
  *     models: per-(dispatching_base_num, base_name, pick_up_date)
  *     `count(1)`, month-partitioned. Its size is the grain bases × days,
  *     not the fact, and it is computed from ONLY the fact partitions a
  *     delta touched (`pickup_month` pruning makes that a delta-sized
  *     scan).
  *   the five count-based finals — each a grain-sized fold over
  *     daily_counts, rewritten whole: May by base filters month 5 and
  *     sums; top-3 base names sums the non-null-date counts; top-3 dates
  *     ranks the table directly; count-vs-average and percentile re-sum
  *     to (base, month) and apply the month window.
  *   unter_grun_pickups_in_bronx — a row-level projection whose fold is
  *     identity, so its month-partitioned final IS its partial and is
  *     refreshed per affected month directly.
  *
  * So a daily increment costs: scan(delta partitions) + fold(grain-sized
  * partial) — independent of total fact size. This is the map-side-combine
  * shape Spark's partial aggregation uses within one query, persisted
  * across runs and shared across models.
  *
  * In Spark jobs a single-month tick (Runner.runIncrement) costs 9: 1 to
  * land the fact partition (whose Observation reports the restated
  * months), 1 for unter_grun's month (its write; the dims it joins are
  * driver-held, so their broadcasts run no job), 2 for the shared
  * partial's month (the aggregate's shuffle-map stage and the write) and
  * 1 per fold; fullBuild costs the last 8. Each of these jobs is one a
  * table needs: the landing write, a map stage for the fact aggregate and
  * a write per output, so this layout cannot go lower. The folds read the
  * partial as ONE partition: it holds bases × days rows whatever the
  * fact's size (about 1.6k at benchmark size, about 110k for 300 bases
  * over a year), so one task folds it, and its aggregates, windows, sorts
  * and limits plan no exchange and no range-sampling job. At these sizes the tick is bound by
  * job count, not by data, and an exchange would add 3 jobs per fold.
  * The folds keep this explicit `coalesce(1)`: `plans.CoalesceSmallStages`
  * reaches only shuffle stages, whose runtime size AQE knows, and a fold
  * reads parquet files, which carry no runtime statistics.
  *
  * Correctness relies on month-sealed grains: each partial row belongs to
  * exactly one `month_num`, so re-deriving some months never double-counts
  * another month's state (IncrementalSpec proves incremental == full
  * recompute after a multi-month restatement, and that untouched months'
  * files are not rewritten).
  *
  * A month restated to EMPTY must clear its rows, which dynamic partition
  * overwrite cannot express (no rows → no partition written) — refresh
  * therefore overwrites each affected month's partition directory
  * explicitly, one pruned job per affected month (a daily delta touches
  * few partitions).
  */
object Incremental {

  /** A count-based model as a fold over the shared daily partial. */
  private final case class Fold(model: Models.Model, fold: DataFrame => DataFrame)

  private def raw(s: SparkSession) = s.table(Models.src("raw_data_janjune_15"))
  private def base(s: SparkSession) = s.table(Models.src("base_num_and_name"))
  private def zone(s: SparkSession) = s.table(Models.src("taxi_zone_lookup"))

  /** The fact's month, preferring the ingest-derived partition column so
    * the affected-month filter prunes at the file listing
    * (month(pickup_date) cannot prune).
    */
  private def monthOf(df: DataFrame): Column =
    if (df.columns.contains("pickup_month")) col("pickup_month")
    else month(col("pickup_date"))

  /** Month-name CASE with NO else: months 7-12 → NULL, as the reference
    * (`dbt_Models/pickup_count_vs_average_per_base.sql:6-13`).
    */
  private def monthName(mo: Column): Column =
    when(mo === 1, "January").when(mo === 2, "February").when(mo === 3, "March")
      .when(mo === 4, "April").when(mo === 5, "May").when(mo === 6, "June")

  private def monthIn(mo: Column, months: Seq[Option[Int]]): Column =
    months.map {
      case Some(m) => mo === m
      case None => mo.isNull
    }.reduce(_ || _)

  // ------------------------------------------------------------ partials

  /** unter_grun rows plus their month: the fold is identity, so these are
    * the model's month-partitioned final rows. The Unter/Grun bases and the
    * Bronx zones are each broadcast to the fact, which keeps its own
    * partitions. The dims are driver-held views, so neither broadcast runs
    * a Spark job; the hints keep the plan when Spark's own broadcast choice
    * is off.
    */
  private def unterGrunRows(s: SparkSession, fact: DataFrame): DataFrame = {
    val bases = base(s).filter(col("base_name").isin("Unter", "Grun"))
      .select(col("base_num"), col("base_name"))
    val bronx = zone(s).filter(col("borough") === "Bronx")
      .select(col("locationid").as("zone_locationid"), col("borough"), col("zone"))
    fact.join(broadcast(bases), col("affiliated_base_num") === col("base_num"))
      .join(broadcast(bronx), fact("locationid") === col("zone_locationid"))
      .select(col("pickup_date").as("Pickup Date"), col("base_name").as("Base Name"),
        col("borough").as("Borough"), col("zone").as("Zone"),
        monthOf(fact).as("month_num"))
  }

  /** The shared partial: per-(base, date) counts, month last so the
    * partitioned read-back has the writer's column order. A pick-up DATE
    * belongs to exactly one month, so the rows are month-sealed, and
    * `pick_up_date` is null exactly when `pickup_date` is, which keeps
    * COUNT(pickup_date) derivable.
    *
    * The fact is counted per (base number, date) BEFORE the base name is
    * joined: an inner join commutes with a group-by on its key, so the
    * rows are those of join-then-count, duplicate `base_num` and unknown
    * or null bases included. The grain-sized counts sit on one partition,
    * which sets the partial's file count, and join the driver-held dim's
    * broadcast, which runs no Spark job.
    */
  private def dailyCounts(s: SparkSession, fact: DataFrame): DataFrame =
    fact.groupBy(col("dispatching_base_num"),
        to_date(col("pickup_date")).as("pick_up_date"), monthOf(fact).as("month_num"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1)
      .join(base(s), col("base_num") === col("dispatching_base_num"))
      .select(col("dispatching_base_num"), col("base_name"), col("pick_up_date"),
        col("month_num"), col("cnt"))

  /** Per-(base, month) re-sum with the no-ELSE month NAME (months 7-12 →
    * NULL — and the folds' windows partition by the NAME, so null-named
    * months share one window partition exactly as the SQL model's X3
    * semantics demand).
    */
  private def baseMonthCounts(d: DataFrame, countCol: String): DataFrame = d
    .groupBy(col("base_name").as("Dispatching Base Name"), col("month_num"))
    .agg(sum(col("cnt")).as(countCol))
    .withColumn("Month", monthName(col("month_num")))

  private val folds: Seq[Fold] = Seq(
    Fold(Models.totalPickupsInMayByBase, d => d
      .filter(col("month_num") === 5)
      .groupBy(col("base_name").as("Dispatching Base Name"))
      .agg(sum(col("cnt")).as("Number of Pick Ups for Base"))
      .orderBy(col("Number of Pick Ups for Base").desc)),
    // COUNT(pickup_date): null-date rows add 0, but a base whose rows all
    // have null dates still appears with a 0 total, as in the SQL model
    Fold(Models.top3BaseNamesByTotalPickups, d => d
      .groupBy(col("dispatching_base_num").as("Dispatching Base Number"),
        col("base_name").as("Base Name"))
      .agg(sum(when(col("pick_up_date").isNotNull, col("cnt")).otherwise(0L))
        .as("Total Number of Pick Ups"))
      .orderBy(col("Total Number of Pick Ups").desc)
      .limit(3)),
    Fold(Models.top3PickupDatesPerBase, d => d
      .withColumn("Rank", rank().over(
        Window.partitionBy(col("dispatching_base_num")).orderBy(col("cnt").desc)))
      .filter(col("Rank").isin(1, 2, 3))
      .select(col("base_name").as("Base Name"),
        col("dispatching_base_num").as("Dispatching Base Number"),
        col("Rank"), col("cnt").as("Count"), col("pick_up_date").as("Pick Up Date"))
      .orderBy(col("Base Name").asc, col("Rank").asc)),
    Fold(Models.pickupCountVsAveragePerBase, d => baseMonthCounts(d, "Monthly Count")
      .withColumn("Average for Month",
        avg(col("Monthly Count")).over(Window.partitionBy(col("Month"))))
      .orderBy(col("month_num").asc, col("Monthly Count").desc)
      .select(col("Dispatching Base Name"), col("Month").as("month"),
        col("Monthly Count"), col("Average for Month"),
        ((col("Monthly Count") / col("Average for Month") - 1) * 100)
          .as("Percentage Difference"))),
    // the SQL form counts a month with `sub.month = counting_base.month`,
    // which matches no row for a NULL month name: x / 0 is a NULL share
    Fold(Models.pickupPercentileByBasePerMonth, d => baseMonthCounts(d, "Count per Base per Month")
      .withColumn("Count per Month", when(col("Month").isNotNull,
        sum(col("Count per Base per Month")).over(Window.partitionBy(col("Month")))))
      .orderBy(col("month_num").asc, col("Count per Base per Month").desc)
      .select(col("Dispatching Base Name"), col("Month").as("month"),
        col("Count per Base per Month"),
        (col("Count per Base per Month") / col("Count per Month") * 100)
          .as("Percentile of Pick Ups"))))

  // ---------------------------------------------------------- lifecycle

  def dailyCountsPath(dir: String): String = s"$dir/partials/daily_counts"
  def finalPath(dir: String, name: String): String = s"$dir/$name"

  private def unterGrunPath(dir: String): String =
    finalPath(dir, Models.unterGrunPickupsInBronx.name)

  /** The months a prepared increment restates (what ingestFactIncrement's
    * dynamic overwrite will replace): distinct pickup months, null for
    * null-dated rows, in ascending order (None first). Each partition
    * reduces its rows to its own set of months and the driver merges the
    * sets, so this is one job with no `distinct` shuffle. Bounded by the
    * calendar — a driver collect is safe.
    *
    * Runner.runIncrement does not call this: ingestFactIncrement returns
    * the same list, observed on the landing write, which saves this job
    * and a second parse of the CSV. It stays public for callers that need
    * the months before landing, such as a tick traced step by step.
    */
  def affectedMonths(increment: DataFrame): Seq[Option[Int]] =
    increment.select(month(col("pickup_date"))).rdd
      .mapPartitions(_.map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet.iterator)
      // driver-bound(enum-bounded): <= 13 calendar months per partition
      .collect().distinct.sorted.toSeq

  /** Overwrite exactly `months`' partition directories of a
    * month-partitioned table with `rows` (which must already be filtered
    * to those months). One job per month: handles a month restated to
    * empty (the directory is overwritten with an empty table, where
    * dynamic overwrite would silently keep the stale state). Public: the
    * generic partial-restatement primitive — q72_incremental_models
    * drives it through the driver oracle gate on the TPC-H-ish fact.
    */
  def overwriteMonths(
      rows: DataFrame, path: String, months: Seq[Option[Int]]): Unit =
    months.foreach { m =>
      val part = s"month_num=${m.map(_.toString).getOrElse("__HIVE_DEFAULT_PARTITION__")}"
      rows.filter(monthIn(col("month_num"), Seq(m))).drop("month_num")
        .write.mode("overwrite").parquet(s"$path/$part")
    }

  /** Runs `write` on `df` and returns the rows it wrote, counted by an
    * `Observation` on the write's own pass: no re-read, no extra job. */
  private def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val written = Observation()
    write(df.observe(written, count(lit(1)).as("rows")))
    written.get("rows").asInstanceOf[Long]
  }

  /** The five count-based finals, each with its output path, as folds
    * over the shared partial read back with the schema its writer held
    * (no schema-inference job).
    */
  private def foldedFinals(
      spark: SparkSession, dir: String, schema: StructType): Seq[(String, String, DataFrame)] = {
    // One partition: the partial has bases × days rows, not fact rows, so
    // each fold's aggregate, window, sort and limit plan no exchange and
    // no range-sampling job — one job per fold.
    val daily = spark.read.schema(schema).parquet(dailyCountsPath(dir)).coalesce(1)
    folds.map(f => (f.model.name, finalPath(dir, f.model.name), f.fold(daily)))
  }

  /** Initial materialization: one full-scan pass writes unter_grun's
    * final and the shared partial (static overwrite clears any stale
    * state), then the folds. Equivalent cost to the reference's full
    * rebuild — paid once, after which increments are delta-sized.
    * Returns each model's row count, observed on its write.
    */
  def fullBuild(spark: SparkSession, dir: String): Map[String, Long] = {
    val fact = raw(spark)
    val unterGrun = countedWrite(unterGrunRows(spark, fact))(
      _.write.mode("overwrite").partitionBy("month_num").parquet(unterGrunPath(dir)))
    val daily = dailyCounts(spark, fact)
    daily.write.mode("overwrite").partitionBy("month_num").parquet(dailyCountsPath(dir))
    foldedFinals(spark, dir, daily.schema).map { case (name, path, rows) =>
      name -> countedWrite(rows)(_.write.mode("overwrite").parquet(path))
    }.toMap + (Models.unterGrunPickupsInBronx.name -> unterGrun)
  }

  /** Absorb a fact restatement of `months` (after ingestFactIncrement has
    * replaced those fact partitions): re-derive ONLY those months of
    * unter_grun's final and of the shared partial from the pruned fact,
    * then re-fold. Untouched months' files are not rewritten
    * (IncrementalSpec asserts this).
    *
    * Refuses an output directory without the shared partial (never built,
    * or built with an older per-model layout): restating some months into
    * it would create a partial holding only those months, and every fold
    * over it would be silently wrong.
    */
  def applyIncrement(spark: SparkSession, dir: String, months: Seq[Option[Int]]): Unit = {
    val partial = new Path(dailyCountsPath(dir))
    if (!partial.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(partial))
      throw new IllegalStateException(
        s"$dir has no shared partial $partial (never built, or built with an " +
          "older layout): run Incremental.fullBuild on it before applying increments")
    if (months.isEmpty) return
    val fact = raw(spark)
    val pruned = fact.filter(monthIn(monthOf(fact), months))
    overwriteMonths(unterGrunRows(spark, pruned), unterGrunPath(dir), months)
    val daily = dailyCounts(spark, pruned)
    overwriteMonths(daily, dailyCountsPath(dir), months)
    // not observed: no caller reads a tick's counts, and an Observation adds writes
    foldedFinals(spark, dir, daily.schema).foreach { case (_, path, rows) =>
      rows.write.mode("overwrite").parquet(path)
    }
  }

  /** The materialized model, as the SQL model's column set (unter_grun's
    * month-local final carries a month_num partition column — dropped here).
    */
  def readModel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(finalPath(dir, name))
    if (df.columns.contains("month_num")) df.drop("month_num") else df
  }
}
