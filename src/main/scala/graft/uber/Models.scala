package graft.uber

/** dbt-style source registry (SURVEY §1.3): the models reference sources
  * abstractly; resolution to a catalog/view name happens here — the Spark
  * equivalent of `dbt_Models/sources.yml`.
  */
object SourceRegistry {
  def resolve(source: String, table: String): String = (source, table) match {
    case ("airbyte_uber_data", t) => t // views registered under bare names
    case (s, t) => s"${s}_$t"
  }
}

/** The six reference models (reference `dbt_Models/`) in their SQL form:
  * each model re-expressed in Spark SQL, preserving the reference's output
  * column names VERBATIM (spaces, casing — e.g. `` `Dispatching Base Name` ``),
  * its CASE-without-ELSE null semantics, its RANK() tie-with-gap semantics,
  * its COUNT(col) null-skipping, and its correlated scalar subquery
  * (exercising Catalyst decorrelation). `Runner.runModel` runs this form.
  *
  * The one DataFrame form is [[Incremental]]'s shared-scan
  * materialization: unter_grun's row projection plus five folds over one
  * shared daily partial, which `Runner.runAll` and every increment write.
  * The SQL form is its differential oracle (UberSpec, IncrementalSpec) —
  * free cross-checking the reference never had (it shipped zero tests —
  * SURVEY §5).
  */
object Models {

  final case class Model(name: String, sql: String)

  private[uber] def src(t: String): String = SourceRegistry.resolve("airbyte_uber_data", t)

  // -------------------------------------------- unter_grun_pickups_in_bronx
  /** Reference `dbt_Models/unter_grun_pickups_in_bronx.sql`: 3-way join on
    * the AFFILIATED base FK (J2+J3), IN + equality filters (F2/F4).
    */
  val unterGrunPickupsInBronx: Model = Model(
    name = "unter_grun_pickups_in_bronx",
    sql = s"""
      |SELECT raw.pickup_date AS `Pickup Date`,
      |       base.base_name AS `Base Name`,
      |       t_zone.borough AS `Borough`,
      |       t_zone.zone AS `Zone`
      |FROM ${src("raw_data_janjune_15")} AS raw
      |JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.affiliated_base_num
      |JOIN ${src("taxi_zone_lookup")} AS t_zone ON t_zone.locationid = raw.locationid
      |WHERE base.base_name IN ('Unter', 'Grun') AND t_zone.Borough = 'Bronx'
      |""".stripMargin)

  // ---------------------------------------------- total_pickups_in_may_by_base
  /** Reference `dbt_Models/total_pickups_in_may_by_base.sql`: May-only
    * grouped count (F1+A1), kept as the reference's literal EXTRACT filter.
    */
  val totalPickupsInMayByBase: Model = Model(
    name = "total_pickups_in_may_by_base",
    sql = s"""
      |SELECT base.base_name AS `Dispatching Base Name`,
      |       COUNT(*) AS `Number of Pick Ups for Base`
      |FROM ${src("raw_data_janjune_15")} AS raw
      |JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.dispatching_base_num
      |WHERE EXTRACT(MONTH FROM raw.pickup_date) = 5
      |GROUP BY base.base_name
      |ORDER BY COUNT(*) DESC
      |""".stripMargin)

  // ------------------------------------------ top_3_base_names_by_total_pickups
  /** Reference `dbt_Models/top_3_base_names_by_total_pickups.sql`: global
    * top-k on COUNT(pickup_date) — null pickup dates intentionally NOT
    * counted (A2+O1).
    */
  val top3BaseNamesByTotalPickups: Model = Model(
    name = "top_3_base_names_by_total_pickups",
    sql = s"""
      |SELECT base.base_num AS `Dispatching Base Number`,
      |       base.base_name AS `Base Name`,
      |       COUNT(raw.pickup_date) AS `Total Number of Pick Ups`
      |FROM ${src("raw_data_janjune_15")} AS raw
      |JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.dispatching_base_num
      |GROUP BY base.base_num, base.base_name
      |ORDER BY COUNT(raw.pickup_date) DESC
      |LIMIT 3
      |""".stripMargin)

  // -------------------------------------------- top_3_pickup_dates_per_base
  /** Reference `dbt_Models/top_3_pickup_dates_per_base.sql`: per-base top
    * dates by RANK() over an aggregate — MUST stay rank() (ties share rank,
    * gaps follow; per-base output may exceed 3 rows), filtered rank IN
    * (1,2,3) (W1+F3+O2+X2).
    */
  val top3PickupDatesPerBase: Model = Model(
    name = "top_3_pickup_dates_per_base",
    sql = s"""
      |WITH date_extract_cte AS (
      |    SELECT base.base_name AS base_name,
      |           raw.dispatching_base_num AS dispatching_base_num,
      |           DATE(raw.pickup_date) AS pick_up_date
      |    FROM ${src("raw_data_janjune_15")} AS raw
      |    JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.dispatching_base_num
      |),
      |ranked_cte AS (
      |    SELECT base_name AS `Base Name`,
      |           dispatching_base_num AS `Dispatching Base Number`,
      |           RANK() OVER(PARTITION BY dispatching_base_num ORDER BY COUNT(*) DESC) AS `Rank`,
      |           COUNT(*) AS `Count`,
      |           pick_up_date AS `Pick Up Date`
      |    FROM date_extract_cte
      |    GROUP BY base_name, dispatching_base_num, pick_up_date
      |)
      |SELECT *
      |FROM ranked_cte
      |WHERE ranked_cte.rank IN (1,2,3)
      |ORDER BY ranked_cte.`Base NAME` ASC, ranked_cte.rank ASC
      |""".stripMargin)

  // ---------------------------------------- pickup_count_vs_average_per_base
  /** Reference `dbt_Models/pickup_count_vs_average_per_base.sql`: monthly
    * per-base counts vs the all-base monthly average — AVG(COUNT(*)) OVER
    * (PARTITION BY month) nested window-over-aggregate (A4+W2), no-ELSE
    * month-name CASE (X3), INT/FLOAT division arithmetic (X4), month_num
    * sort key EXCLUDED from the final projection (O3).
    */
  val pickupCountVsAveragePerBase: Model = Model(
    name = "pickup_count_vs_average_per_base",
    sql = s"""
      |WITH month_extract AS (
      |    SELECT base.base_name AS `Dispatching Base Name`,
      |           EXTRACT(MONTH FROM raw.pickup_date) AS Month_num,
      |           CASE
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 1 THEN 'January'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 2 THEN 'February'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 3 THEN 'March'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 4 THEN 'April'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 5 THEN 'May'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 6 THEN 'June'
      |            END AS Month
      |    FROM ${src("raw_data_janjune_15")} AS raw
      |    JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.dispatching_base_num
      |),
      |monthly_counts_and_avg AS (
      |    SELECT month_extract.`Dispatching Base Name` AS `Dispatching Base Name`,
      |           month_extract.month_num,
      |           month_extract.Month AS Month,
      |           COUNT(*) AS `Monthly Count`,
      |           AVG(COUNT(*)) OVER (PARTITION BY month_extract.month) AS `Average for Month`
      |    FROM month_extract
      |    GROUP BY month_extract.`Dispatching Base Name`, month_extract.Month, month_extract.month_num
      |)
      |SELECT monthly_counts_and_avg.`Dispatching Base Name` AS `Dispatching Base Name`,
      |       monthly_counts_and_avg.month,
      |       monthly_counts_and_avg.`Monthly Count`,
      |       monthly_counts_and_avg.`Average for Month`,
      |       ((monthly_counts_and_avg.`Monthly Count` / monthly_counts_and_avg.`Average for Month`) - 1) * 100 AS `Percentage Difference`
      |FROM monthly_counts_and_avg
      |ORDER BY monthly_counts_and_avg.month_num ASC, monthly_counts_and_avg.`Monthly Count` DESC
      |""".stripMargin)

  // -------------------------------------- pickup_percentile_by_base_per_month
  /** Reference `dbt_Models/pickup_percentile_by_base_per_month.sql`:
    * share-of-month via a CORRELATED SCALAR SUBQUERY over a twice-referenced
    * CTE (A5+C3+X5) — kept literal. Catalyst decorrelates it into a second
    * aggregate and a left outer join, which
    * [[graft.plans.CorrelatedCountToWindow]] turns into a window sum over
    * `counting_base`, so the fact is scanned once; the fold uses the same
    * window sum.
    */
  val pickupPercentileByBasePerMonth: Model = Model(
    name = "pickup_percentile_by_base_per_month",
    sql = s"""
      |WITH month_extract AS (
      |    SELECT base.base_name AS `Dispatching Base Name`,
      |           EXTRACT(MONTH FROM raw.pickup_date) AS Month_num,
      |           CASE
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 1 THEN 'January'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 2 THEN 'February'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 3 THEN 'March'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 4 THEN 'April'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 5 THEN 'May'
      |                WHEN EXTRACT(MONTH FROM raw.pickup_date) = 6 THEN 'June'
      |            END AS Month
      |    FROM ${src("raw_data_janjune_15")} AS raw
      |    JOIN ${src("base_num_and_name")} AS base ON base.base_num = raw.dispatching_base_num
      |),
      |counting_base AS (
      |    SELECT month_extract.`Dispatching Base Name` AS `Dispatching Base Name`,
      |           month_extract.month_num AS month_num,
      |           month_extract.month AS Month,
      |           COUNT(*) AS `Count per Base per Month`
      |    FROM month_extract
      |    GROUP BY month_extract.month, month_extract.`Dispatching Base Name`, month_extract.month_num
      |),
      |counting_cte AS (
      |    -- Spark disallows BigQuery's correlated scalar subquery inside a
      |    -- grouped SELECT (SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION);
      |    -- hoisting it one CTE up preserves the A5 semantics verbatim; the
      |    -- decorrelated join becomes a window sum over counting_base.
      |    SELECT counting_base.*,
      |           (SELECT COUNT(*) FROM month_extract AS sub WHERE sub.month = counting_base.month) AS `Count per Month`
      |    FROM counting_base
      |)
      |SELECT counting_cte.`Dispatching Base Name`,
      |       counting_cte.month,
      |       counting_cte.`Count per Base per Month`,
      |       (counting_cte.`Count per Base per Month` / counting_cte.`Count per Month`) * 100 AS `Percentile of Pick Ups`
      |FROM counting_cte
      |ORDER BY counting_cte.month_num ASC, counting_cte.`Count per Base per Month` DESC
      |""".stripMargin)

  /** All six, in the reference's build order (they are independent siblings
    * over the same three sources — `dbt build` runs them sequentially,
    * SURVEY §2.10 G3).
    */
  val all: Seq[Model] = Seq(
    unterGrunPickupsInBronx,
    totalPickupsInMayByBase,
    top3BaseNamesByTotalPickups,
    top3PickupDatesPerBase,
    pickupCountVsAveragePerBase,
    pickupPercentileByBasePerMonth)
}
