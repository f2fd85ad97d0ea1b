package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.Materialize._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Query, Tables}
import graft.Query.Plan
import graft.functions.TextFunctions.sround

/** Relational operator coverage, mapped 1:1 from the reference inventory in
  * SURVEY.md §2 (reference: kimiko-dev/Uber-Data-Pipeline, six dbt models
  * under `dbt_Models/`) onto the driver's TPC-H-ish testdata tables.
  *
  * Every query:
  *  - is declarative DataFrame API (Catalyst gets pushdown/pruning/broadcast
  *    for free; no RDDs, no collect);
  *  - carries a DuckDB oracle with IDENTICAL column names and aligned types
  *    (counts → BIGINT, rank/month/year → INT, money/ratios → rounded DOUBLE);
  *  - ends in a deterministic ORDER BY so row-order-sensitive comparison is
  *    stable across engines.
  *
  * Scale notes are per-query in the Scaladoc: dims that SCALE with SF
  * (`supplier`, `customer`, `part`) are broadcast by STATS election — no
  * hint — so a 1000-executor plan avoids the fact shuffle while the dim
  * fits and degrades to SMJ when it doesn't (a forced broadcast() would
  * OOM at extreme SF; round-16 join audit). Constant-cardinality dims
  * (`nation` 25 rows, `region` 5) may stay hinted. Fact-fact joins
  * shuffle on their join key which is the partitioning a cluster run
  * would pre-bucket on.
  */
object Relational {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  // Rounding is TextFunctions.sround, pure IEEE double ops (floor(x*10^n
  // + 0.5)/10^n) — bitwise-identical in Spark and DuckDB, unlike round(),
  // whose half-way tie behavior differs (HALF_UP vs HALF_EVEN). Money sums
  // divided by counts land on exact .xx5 boundaries often, so it is the
  // ONLY rounding used in oracle-checked outputs. The SQL twin is the same
  // formula spelled out (see each oracle).

  /** Exact money aggregation: 2-decimal doubles → integer cents → BIGINT sum.
    * A plain double sum is association-order-dependent (Spark's partial aggs
    * vs a single-threaded oracle differ in the last ulps, which flips cent
    * roundings); an integer sum is exact and order-independent at any SF
    * (cents fit in BIGINT way past 100 TB of rows). SQL twin:
    * CAST(sum(CAST(floor(x * 100.0 + 0.5) AS BIGINT)) AS BIGINT).
    */
  /** Exact-bitmap id-domain capacity for q59/q68 ([[graft.expressions
    * .BitmapDistinct]] words). When `graft.bitmap.capacity` is unset the
    * capacity is DERIVED from the data: one column-pruned max(user_id)
    * scan (parquet footer min/max makes this metadata-cheap), rounded up
    * to whole 64-bit words — so any SF, including ScaleUp-replicated
    * ones whose id domain grows with the copy count, runs without manual
    * config. A deployment that knows its id domain sets the conf and
    * skips the scan; either way BitmapDistinct aborts LOUDLY (never
    * silently wrong) if an id >= capacity shows up mid-query. State cost
    * is capacity/8 bytes per group — sized to the id domain, not the row
    * count.
    */
  private def bitmapCapacity(s: SparkSession, ids: DataFrame): Int =
    s.conf.getOption("graft.bitmap.capacity").map(_.toInt).getOrElse {
      val mx = ids.agg(max(col("user_id")).cast("long")).head().getLong(0)
      ((mx / 64).toInt + 1) * 64
    }

  private def sumCents(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(floor(c * lit(100.0) + lit(0.5)).cast("long"))

  // --------------------------------------------------------------- q1_agg
  /** A1/A3 (`dbt_Models/total_pickups_in_may_by_base.sql:4-8` shape): grouped
    * aggregate with map-side partial aggregation. Shuffles only the group
    * keys (6 distinct pairs) — at 100 TB this is the cheapest possible agg.
    */
  val q1Agg: Plan = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum("l_quantity").as("sum_qty"), // integral doubles: sum is exact
        (sumCents(col("l_extendedprice")) / lit(100.0)).as("sum_price"),
        sround(sumCents(col("l_discount")) / (count(lit(1)) * lit(100.0)), 6)
          .as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  sum(l_quantity) AS sum_qty,
      |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price,
      |  floor((CAST(sum(CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / (count(*) * 100.0)) * 1000000.0 + 0.5) / 1000000.0 AS avg_disc,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------ q2_count_nonnull
  /** A2 (`dbt_Models/top_3_base_names_by_total_pickups.sql:5`): COUNT(col)
    * null-skipping vs COUNT(*), plus exact distinct count.
    */
  val q2CountNonnull: Plan = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt_all"),
        count(col("l_shipdate")).as("cnt_ship"),
        countDistinct(col("l_suppkey")).as("n_supp"))
      .orderBy("l_returnflag")

  val q2CountNonnullSql: String =
    """SELECT l_returnflag, count(*) AS cnt_all, count(l_shipdate) AS cnt_ship,
      |  count(DISTINCT l_suppkey) AS n_supp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------- q3_month_filter
  /** F1+X1 (`dbt_Models/total_pickups_in_may_by_base.sql:7`): equality
    * predicate on a derived month. The month() filter is evaluated pre-shuffle
    * so only May rows move; on a date-partitioned 100 TB table this becomes
    * partition pruning.
    */
  val q3MonthFilter: Plan = (s, d) =>
    t(s, d, "orders")
      .filter(month(col("o_orderdate")) === 5)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderstatus")

  val q3MonthFilterSql: String =
    """SELECT o_orderstatus, count(*) AS cnt FROM orders
      |WHERE month(o_orderdate) = 5
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------- q4_filter_in
  /** F2/F4/P1 (`dbt_Models/unter_grun_pickups_in_bronx.sql:10`): IN-list +
    * conjunction, projection with aliases. Both predicates push down to the
    * parquet scan (PushedFilters: In, GreaterThan).
    */
  val q4FilterIn: Plan = (s, d) =>
    t(s, d, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
        col("c_acctbal") > 1000.0)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        sround(col("c_acctbal"), 2).as("acctbal"))
      .orderBy("c_custkey")

  val q4FilterInSql: String =
    """SELECT c_custkey, c_name, c_mktsegment, floor((c_acctbal) * 100.0 + 0.5) / 100.0 AS acctbal
      |FROM customer
      |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_acctbal > 1000.0
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------- q5_join_broadcast
  /** J1 (`dbt_Models/top_3_base_names_by_total_pickups.sql:7`): fact⋈dim
    * equi-join. supplier is a dim → STATS-elected broadcast (no hint):
    * Catalyst picks BHJ from the dim's actual size (zero shuffle of the
    * fact side; the agg then shuffles only (s_name) partials) and degrades
    * to SMJ if the dim ever outgrows executor memory — supplier scales
    * with SF, so a FORCED broadcast() would OOM at extreme scale where
    * the unhinted plan survives (round-16 join audit). RelationalSpec
    * still plan-asserts the BHJ at test scale.
    */
  val q5JoinBroadcast: Plan = (s, d) =>
    t(s, d, "lineitem")
      .join(t(s, d, "supplier"),
        col("l_suppkey") === col("s_suppkey"), "inner")
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("cnt"),
        (sumCents(col("l_extendedprice")) / lit(100.0)).as("revenue"))
      .orderBy("s_name")

  val q5JoinBroadcastSql: String =
    """SELECT s_name, count(*) AS cnt,
      |  CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name ORDER BY s_name""".stripMargin

  // ------------------------------------------------------- q6_join_3way
  /** J3 (`dbt_Models/unter_grun_pickups_in_bronx.sql:7-10`): 3-way join with
    * IN filter. lineitem⋈orders shuffles on orderkey (the natural bucketing
    * key at scale); customer is small relative to the fact and the filter on
    * it is applied before the join so AQE can demote it to broadcast.
    */
  val q6Join3way: Plan = (s, d) => {
    val li = t(s, d, "lineitem")
    val o = t(s, d, "orders")
    val c = t(s, d, "customer")
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
    li.join(o, col("l_orderkey") === col("o_orderkey"), "inner")
      // customer scales with SF: stats-elected broadcast, not a hint
      .join(c, col("o_custkey") === col("c_custkey"), "inner")
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
      .orderBy("c_mktsegment", "o_orderstatus")
  }

  val q6Join3waySql: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS cnt,
      |  sum(l_quantity) AS qty
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')
      |GROUP BY c_mktsegment, o_orderstatus
      |ORDER BY c_mktsegment, o_orderstatus""".stripMargin

  // ------------------------------------------------------- q7_topk_global
  /** O1+A2 (`dbt_Models/top_3_base_names_by_total_pickups.sql:9-10`): global
    * top-k. Spark plans TakeOrderedAndProject — per-partition top-3 then a
    * driver-side merge of 32 candidates, NOT a global sort. Tie-broken on
    * p_brand for determinism.
    */
  val q7TopkGlobal: Plan = (s, d) =>
    t(s, d, "lineitem")
      // part scales with SF: stats-elected broadcast, not a hint
      .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(col("l_shipdate")).as("cnt"))
      .orderBy(col("cnt").desc, col("p_brand").asc)
      .limit(3)

  val q7TopkGlobalSql: String =
    """SELECT p_brand, count(l_shipdate) AS cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY cnt DESC, p_brand ASC LIMIT 3""".stripMargin

  // ------------------------------------------------------ q8_window_rank
  /** W1+F3+O2 (`dbt_Models/top_3_pickup_dates_per_base.sql:13,22`): per-group
    * top-k via rank() — ties share rank with gaps (must stay rank(), not
    * row_number; see SURVEY §7.4.3). Pre-aggregation shrinks the window input
    * to one row per (supplier, year, month) before the sort-within-partition.
    */
  val q8WindowRank: Plan = (s, d) => {
    val perMonth = t(s, d, "lineitem")
      .groupBy(col("l_suppkey"),
        year(col("l_shipdate")).as("yr"), month(col("l_shipdate")).as("mo"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_suppkey")).orderBy(col("cnt").desc)
    perMonth
      .withColumn("rnk", rank().over(w))
      .filter(col("rnk").isin(1, 2, 3))
      .orderBy(col("l_suppkey"), col("rnk"), col("yr"), col("mo"))
  }

  val q8WindowRankSql: String =
    """SELECT * FROM (
      |  SELECT l_suppkey, yr, mo, cnt,
      |    CAST(rank() OVER (PARTITION BY l_suppkey ORDER BY cnt DESC) AS INTEGER) AS rnk
      |  FROM (
      |    SELECT l_suppkey, CAST(year(l_shipdate) AS INTEGER) AS yr,
      |      CAST(month(l_shipdate) AS INTEGER) AS mo, count(*) AS cnt
      |    FROM lineitem GROUP BY 1, 2, 3))
      |WHERE rnk IN (1, 2, 3)
      |ORDER BY l_suppkey, rnk, yr, mo""".stripMargin

  // -------------------------------------------------- q9_window_avg_case
  /** W2+A4+X3+X4+O3 (`dbt_Models/pickup_count_vs_average_per_base.sql`): the
    * reference's flagship shape — grouped count, analytic AVG over the month
    * partition (unbounded frame), no-ELSE CASE month naming (months 7-12 →
    * NULL, SURVEY §7.4.4), percentage-difference arithmetic, multi-key sort.
    */
  val q9WindowAvgCase: Plan = (s, d) => {
    val m = t(s, d, "lineitem")
      // supplier scales with SF: stats-elected broadcast, not a hint
      .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"), month(col("l_shipdate")).as("mo"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("mo"))
    val monthName = when(col("mo") === 1, "January")
      .when(col("mo") === 2, "February")
      .when(col("mo") === 3, "March")
      .when(col("mo") === 4, "April")
      .when(col("mo") === 5, "May")
      .when(col("mo") === 6, "June") // no otherwise: 7-12 → NULL by design
    m.select(
      col("s_name"),
      monthName.as("month_name"),
      col("mo"), col("cnt"),
      sround(avg(col("cnt")).over(w), 4).as("avg_cnt"),
      sround((col("cnt") / avg(col("cnt")).over(w) - 1) * 100, 4).as("pct_diff"))
      .orderBy(col("mo"), col("s_name"))
  }

  val q9WindowAvgCaseSql: String =
    """WITH m AS (
      |  SELECT s_name, CAST(month(l_shipdate) AS INTEGER) AS mo, count(*) AS cnt
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2)
      |SELECT s_name,
      |  CASE mo WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March'
      |          WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' END AS month_name,
      |  mo, cnt,
      |  floor((avg(cnt) OVER (PARTITION BY mo)) * 10000.0 + 0.5) / 10000.0 AS avg_cnt,
      |  floor(((cnt / avg(cnt) OVER (PARTITION BY mo) - 1) * 100) * 10000.0 + 0.5) / 10000.0 AS pct_diff
      |FROM m ORDER BY mo, s_name""".stripMargin

  // ------------------------------------------------------ q10_share_month
  /** A5+X5+C3 (`dbt_Models/pickup_percentile_by_base_per_month.sql:23,31`):
    * share-of-month division. The oracle keeps the reference's literal
    * correlated-scalar-subquery form; the Spark build uses the equivalent
    * window sum — one shuffle on `mo`, no join, no per-row subquery.
    */
  val q10ShareMonth: Plan = (s, d) => {
    val m = t(s, d, "lineitem")
      .groupBy(col("l_suppkey"), month(col("l_shipdate")).as("mo"))
      .agg(count(lit(1)).as("cnt"))
    m.select(
      col("l_suppkey"), col("mo"), col("cnt"),
      sround(col("cnt") * lit(100.0) / sum(col("cnt")).over(Window.partitionBy(col("mo"))), 4)
        .as("share_pct"))
      .orderBy(col("mo"), col("l_suppkey"))
  }

  val q10ShareMonthSql: String =
    """WITH m AS (
      |  SELECT l_suppkey, CAST(month(l_shipdate) AS INTEGER) AS mo, count(*) AS cnt
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_suppkey, mo, cnt,
      |  floor((cnt * 100.0 / (SELECT CAST(sum(cnt) AS BIGINT) FROM m sub WHERE sub.mo = m.mo)) * 10000.0 + 0.5) / 10000.0 AS share_pct
      |FROM m ORDER BY mo, l_suppkey""".stripMargin

  // ------------------------------------------------------- q11_cte_chain
  /** C1/C2 (`dbt_Models/pickup_count_vs_average_per_base.sql:3-26`): chained
    * CTEs. This one runs through spark.sql on the SHARED text below — the SQL
    * is in the dialect intersection, so the exact same string is the oracle
    * (free differential testing of Catalyst's SQL path vs DuckDB).
    */
  val q11CteChainSql: String =
    """WITH cust_orders AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS spend_cents
      |  FROM orders GROUP BY o_custkey),
      |nation_cust AS (
      |  SELECT c_nationkey, count(*) AS n_cust,
      |    CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |    CAST(sum(spend_cents) AS BIGINT) AS total_cents
      |  FROM cust_orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_nationkey)
      |SELECT n_name, n_cust, n_orders,
      |  CAST(floor((total_cents / (n_cust * 100.0)) * 100.0 + 0.5) / 100.0 AS DOUBLE) AS avg_spend
      |FROM nation_cust JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  val q11CteChain: Plan = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(q11CteChainSql)
  }

  // -------------------------------------------------------- q12_date_agg
  /** X2 (`dbt_Models/top_3_pickup_dates_per_base.sql:6`): timestamp→date
    * truncation feeding a group-by.
    */
  val q12DateAgg: Plan = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(to_date(col("l_shipdate")).as("ship_day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("ship_day")

  val q12DateAggSql: String =
    """SELECT CAST(l_shipdate AS DATE) AS ship_day, count(*) AS cnt
      |FROM lineitem GROUP BY 1 ORDER BY ship_day""".stripMargin

  // ------------------------------------------------------ q13_ingest_cdc
  /** S3 (`Diary of Making.md:148-152`, `Images/bq_raw_data_janjune_15.png`):
    * Airbyte-style CDC ingest enrichment — provenance columns stamped onto
    * every row. Deterministic here (content-hash raw id, fixed extract ts) so
    * the oracle can replay it; the production path in graft.uber.Ingest uses
    * uuid()/current_timestamp(). Pure narrow projection: no shuffle at any SF.
    */
  val q13IngestCdc: Plan = (s, d) =>
    t(s, d, "customer").select(
      col("c_custkey"), col("c_name"),
      md5(concat_ws("|", col("c_custkey").cast("string"), col("c_name")))
        .as("_airbyte_raw_id"),
      // timestamp_ntz keeps the parquet annotation timezone-naive, matching
      // the oracle's (and the reference's TIMESTAMP WITHOUT TIME ZONE) type.
      to_timestamp(lit("2026-01-01 00:00:00")).cast("timestamp_ntz")
        .as("_airbyte_extracted_at"),
      lit("""{"errors":[]}""").as("_airbyte_meta"),
      lit(null).cast("string").as("_ab_cdc_lsn"),
      lit(null).cast("timestamp_ntz").as("_ab_cdc_deleted_at"),
      lit(null).cast("timestamp_ntz").as("_ab_cdc_updated_at"))
      .orderBy("c_custkey")

  val q13IngestCdcSql: String =
    """SELECT c_custkey, c_name,
      |  md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name)) AS _airbyte_raw_id,
      |  TIMESTAMP '2026-01-01 00:00:00' AS _airbyte_extracted_at,
      |  '{"errors":[]}' AS _airbyte_meta,
      |  CAST(NULL AS VARCHAR) AS _ab_cdc_lsn,
      |  CAST(NULL AS TIMESTAMP) AS _ab_cdc_deleted_at,
      |  CAST(NULL AS TIMESTAMP) AS _ab_cdc_updated_at
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------- q14_set_ops
  /** Set operation (beyond the reference surface, SURVEY §2.9): customers
    * ordering in both May and June. INTERSECT = distinct semantics both
    * engines; Spark plans it as a left-semi hash join after aggregation.
    */
  val q14SetOps: Plan = (s, d) => {
    val o = t(s, d, "orders")
    val may = o.filter(month(col("o_orderdate")) === 5)
      .select(col("o_custkey").as("custkey"))
    val jun = o.filter(month(col("o_orderdate")) === 6)
      .select(col("o_custkey").as("custkey"))
    may.intersect(jun).orderBy("custkey")
  }

  val q14SetOpsSql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) = 5
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) = 6
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------- q15_events_hourly
  /** Batch twin of the streaming seam (`Diary of Making.md:383-386` names the
    * never-built Kafka hourly pipeline): tumbling-hour event aggregation.
    * graft.streaming.EventsStream runs the same logic as a Structured
    * Streaming query with a watermark; identical results on a bounded input.
    */
  val q15EventsHourly: Plan = (s, d) =>
    t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour_ts"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        (sumCents(col("value")) / lit(100.0)).as("sum_value"))
      .orderBy("hour_ts", "event_type")

  val q15EventsHourlySql: String =
    """SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS cnt,
      |  CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""".stripMargin

  // -------------------------------------------------------- q16_rollup
  /** ROLLUP hierarchy totals (beyond the reference surface — grouping-set
    * capability). Spark plans a single Expand + hash agg: one scan, all
    * grouping levels. NULLS FIRST ordering matches both engines.
    */
  val q16Rollup: Plan = (s, d) =>
    t(s, d, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q16RollupSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ----------------------------------------------------- q17_semi_join
  /** Left-semi join (EXISTS): customers with at least one May order.
    * Spark plans a semi hash join — no row duplication, no distinct.
    */
  val q17SemiJoin: Plan = (s, d) => {
    val mayOrders = t(s, d, "orders").filter(month(col("o_orderdate")) === 5)
    t(s, d, "customer")
      .join(mayOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  val q17SemiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND month(o_orderdate) = 5)
      |ORDER BY c_custkey""".stripMargin

  // ----------------------------------------------------- q18_anti_join
  /** Left-anti join (NOT EXISTS): customers with no May orders. */
  val q18AntiJoin: Plan = (s, d) => {
    val mayOrders = t(s, d, "orders").filter(month(col("o_orderdate")) === 5)
    t(s, d, "customer")
      .join(mayOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy("c_custkey")
  }

  val q18AntiJoinSql: String =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND month(o_orderdate) = 5)
      |ORDER BY c_custkey""".stripMargin

  // -------------------------------------------------------- q19_except
  /** EXCEPT (set difference, distinct semantics both engines): customers
    * ordering in May but not in June.
    */
  val q19Except: Plan = (s, d) => {
    val o = t(s, d, "orders")
    val may = o.filter(month(col("o_orderdate")) === 5)
      .select(col("o_custkey").as("custkey"))
    val jun = o.filter(month(col("o_orderdate")) === 6)
      .select(col("o_custkey").as("custkey"))
    may.except(jun).orderBy("custkey")
  }

  val q19ExceptSql: String =
    """SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) = 5
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE month(o_orderdate) = 6
      |ORDER BY custkey""".stripMargin

  // ----------------------------------------------------- q20_sessionize
  /** Gap-based sessionization (30-min inactivity) — lag + running-sum
    * session ids, then per-session rollup. The standard event-stream
    * operator: one shuffle on user_id, window machinery does the rest.
    * Epoch-microsecond arithmetic keeps both engines in exact integers.
    */
  val q20Sessionize: Plan = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    val marked = t(s, d, "events").select(
      col("user_id"), col("event_id"), col("ts"),
      when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs, 1)
        .when(lag(col("ts"), 1).over(w).isNull, 1)
        .otherwise(0).as("is_new"))
    marked
      .withColumn("session_id", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).cast("timestamp_ntz").as("session_start"),
        ((max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))) / lit(1000000.0))
          .as("duration_sec"))
      .orderBy("user_id", "session_id")
  }

  val q20SessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000 THEN 1
      |         WHEN lag(ts, 1) OVER w IS NULL THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  min(ts) AS session_start,
      |  (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------- q21_frame_spec
  /** Explicit ROWS frame + lead: per event, seconds since the user's last
    * purchase (running max over an UNBOUNDED PRECEDING..CURRENT ROW frame)
    * and seconds to the user's next event.
    */
  val q21FrameSpec: Plan = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wFrame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events").select(
      col("event_id"), col("user_id"), col("event_type"),
      ((unix_micros(col("ts")) -
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))).over(wFrame))
        / lit(1000000.0)).as("secs_since_purchase"),
      ((lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
        / lit(1000000.0)).as("secs_to_next"))
      .orderBy("event_id")
  }

  val q21FrameSpecSql: String =
    """SELECT event_id, user_id, event_type,
      |  (epoch_us(ts) - max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
      |     OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) / 1000000.0
      |    AS secs_since_purchase,
      |  (lead(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |     - epoch_us(ts)) / 1000000.0 AS secs_to_next
      |FROM events ORDER BY event_id""".stripMargin

  // -------------------------------------------------- q22_approx_sketch
  /** Approximate aggregates for 100 TB-scale profiling, built from
    * DETERMINISTIC portable sketches so the driver hash-checks them
    * (Spark's builtin approx_count_distinct/percentile_approx are
    * HLL++/KLL — engine-private layouts no oracle can reproduce; the
    * builtins stay available and the flag-gated ApproxDistinctRewrite in
    * GraftExtensions rewrites them onto this same KMV):
    *  - distinct counts: the KMV TypedImperativeAggregate (k=1024 →
    *    ~3% s.e., constant state per group, map-side partial merge);
    *  - quantiles: a hash-Bernoulli 1/8 sample (rows whose md5-62 row-key
    *    hash falls below ring/8 — reproducible, uniform, RNG-free, pure
    *    map-side filter) followed by the exact interpolated order
    *    statistic over the sample. Sample state is 8x smaller than exact;
    *    a fixed-size bottom-k-by-hash sample would bound it fully at the
    *    cost of a per-group top-k pass.
    */
  val q22ApproxSketch: Plan = (s, d) => {
    val ring8 = graft.expressions.PortableHash.Ring62Over8
    val li = t(s, d, "lineitem")
    val sampled = li
      .filter(graft.expressions.PortableHashExpressions.md5Hash62(
        concat_ws("|", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string"))) < lit(ring8))
      .select(col("l_returnflag"), col("l_extendedprice").as("v"),
        concat_ws("|", col("l_orderkey").cast("string"),
          col("l_linenumber").cast("string")).as("tie"))
    // the fixed-RATE sample still scales with the corpus, so the order
    // statistics run through keyedRank (3-value key, corpus-share
    // strata — the q29/t16 reshape; ties in v rank deterministically by
    // the unique line key but select the same value either way) and the
    // stratum totals broadcast from an agg instead of a count window
    val counts = sampled.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    val ranked = KeyedRank
      .keyedRank(sampled, "l_returnflag", "v", "tie", "rn", descending = false)
      .join(broadcast(counts), "l_returnflag")
    // exact interpolated order statistic (quantile_cont semantics) over
    // the sample: 0-based index p*(n-1), linear between ranks lo/lo+1
    def idx(p: Double) = lit(p) * (col("n") - 1)
    def qlo(p: Double) = max(when(col("rn") === floor(idx(p)) + 1, col("v")))
    def qhi(p: Double) = max(when(col("rn") === floor(idx(p)) + 2, col("v")))
    def qfrac(p: Double) = first(idx(p) - floor(idx(p)))
    val quants = ranked.groupBy(col("l_returnflag"))
      .agg(qlo(0.5).as("m_lo"), qhi(0.5).as("m_hi"), qfrac(0.5).as("m_f"),
        qlo(0.95).as("p_lo"), qhi(0.95).as("p_hi"), qfrac(0.95).as("p_f"))
      .select(col("l_returnflag"),
        sround(col("m_lo") + col("m_f") * (coalesce(col("m_hi"), col("m_lo")) - col("m_lo")), 4)
          .as("approx_median_price"),
        sround(col("p_lo") + col("p_f") * (coalesce(col("p_hi"), col("p_lo")) - col("p_lo")), 4)
          .as("approx_p95_price"))
    li.groupBy(col("l_returnflag"))
      .agg(
        graft.expressions.KmvSketch.kmvDistinct(col("l_partkey"), 1024)
          .as("approx_parts"),
        graft.expressions.KmvSketch.kmvDistinct(col("l_suppkey"), 1024)
          .as("approx_supps"))
      .join(quants, "l_returnflag")
      .orderBy("l_returnflag")
  }

  val q22ApproxSketchSql: String =
    s"""WITH sampled AS (
       |  SELECT l_returnflag, l_extendedprice AS v
       |  FROM lineitem
       |  WHERE (md5_number_lower(concat_ws('|', CAST(l_orderkey AS VARCHAR),
       |           CAST(l_linenumber AS VARCHAR))) & 4611686018427387903)
       |        < ${graft.expressions.PortableHash.Ring62Over8}),
       |ranked AS (
       |  SELECT l_returnflag, v,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
       |    count(*) OVER (PARTITION BY l_returnflag) AS n
       |  FROM sampled),
       |quants AS (
       |  SELECT l_returnflag,
       |    max(CASE WHEN rn = floor(0.5 * (n - 1)) + 1 THEN v END) AS m_lo,
       |    max(CASE WHEN rn = floor(0.5 * (n - 1)) + 2 THEN v END) AS m_hi,
       |    any_value(0.5 * (n - 1) - floor(0.5 * (n - 1))) AS m_f,
       |    max(CASE WHEN rn = floor(0.95 * (n - 1)) + 1 THEN v END) AS p_lo,
       |    max(CASE WHEN rn = floor(0.95 * (n - 1)) + 2 THEN v END) AS p_hi,
       |    any_value(0.95 * (n - 1) - floor(0.95 * (n - 1))) AS p_f
       |  FROM ranked GROUP BY l_returnflag),
       |${kmvOracleCte("parts", "l_partkey")},
       |${kmvOracleCte("supps", "l_suppkey")}
       |SELECT q.l_returnflag, p.kmv_parts AS approx_parts, s.kmv_supps AS approx_supps,
       |  floor((m_lo + m_f * (coalesce(m_hi, m_lo) - m_lo)) * 10000.0 + 0.5) / 10000.0
       |    AS approx_median_price,
       |  floor((p_lo + p_f * (coalesce(p_hi, p_lo) - p_lo)) * 10000.0 + 0.5) / 10000.0
       |    AS approx_p95_price
       |FROM quants q
       |JOIN parts p USING (l_returnflag) JOIN supps s USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------- q24_range_join
  /** Pure range join (NO equality key): error/purchase event pairs within
    * ±5 seconds — correlation detection across streams. Spark's built-in
    * plan for an inequality-only join is a broadcast nested loop
    * (quadratic); this is the bucketed rewrite that survives scale: each
    * right row lands in ONE 5s time bucket, each left row probes its 3
    * adjacent buckets (explode), the join is a plain shuffled equi-join on
    * the bucket, and the exact |dt| <= 5s predicate filters the residue.
    * Every qualifying pair matches in exactly one bucket, so no dedup pass
    * is needed. Work is O(pairs-per-bucket), data-parallel on the bucket
    * key — at 100 TB the bucket width trades shuffle fanout (3x left)
    * against per-bucket pair blowup.
    */
  val q24RangeJoin: Plan = (s, d) => {
    val bucketUs = 5000000L
    val e = t(s, d, "events")
    val errs = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), unix_micros(col("ts")).as("err_us"))
      .withColumn("b0", expr(s"err_us div $bucketUs"))
      .select(col("err_id"), col("err_us"),
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bucket"))
    val purch = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), unix_micros(col("ts")).as("p_us"))
      .withColumn("bucket", expr(s"p_us div $bucketUs"))
    errs.join(purch, "bucket")
      .filter(abs(col("err_us") - col("p_us")) <= lit(bucketUs))
      .select(col("err_id"), col("p_id"),
        ((col("p_us") - col("err_us")) / lit(1000000.0)).as("dt_sec"))
      .orderBy("err_id", "p_id")
  }

  /** Bucketed ANSI twin of the ±5s interval join. The semantics live in
    * the final `abs(dt) <= 5s` predicate; the 5s-bucket equi-join is only
    * the access path (each qualifying pair matches in exactly ONE of the
    * 3 probed buckets, so no dedup). A plain `JOIN ON abs(...) <= c`
    * oracle is an IEJoin in DuckDB — 89 s at sf1 and unusable at sf10 —
    * while this form is hash joins (0.4 s sf1 / 3.1 s sf10). Proven
    * equivalent to the interval-join form by EXCEPT ALL both ways (0
    * diffs) at sf0.01/0.1/1, and the Spark side is differentially tested
    * against a naive inequality join in JoinOpsSpec, so the shared bucket
    * idea is independently cross-checked on both engines.
    */
  val q24RangeJoinSql: String =
    """WITH err AS (
      |  SELECT event_id AS err_id, epoch_us(ts) AS err_us
      |  FROM events WHERE event_type = 'error'),
      |pur AS (
      |  SELECT event_id AS p_id, epoch_us(ts) AS p_us,
      |    epoch_us(ts) // 5000000 AS bucket
      |  FROM events WHERE event_type = 'purchase'),
      |probe AS (
      |  SELECT err_id, err_us, (err_us // 5000000) + d.d AS bucket
      |  FROM err CROSS JOIN (VALUES (-1), (0), (1)) d(d))
      |SELECT e.err_id, p.p_id, (p.p_us - e.err_us) / 1000000.0 AS dt_sec
      |FROM probe e JOIN pur p USING (bucket)
      |WHERE abs(e.err_us - p.p_us) <= 5000000
      |ORDER BY err_id, p_id""".stripMargin

  // --------------------------------------------------------- q25_pivot
  /** PIVOT: order counts per month x status. Explicit value list keeps the
    * plan a single-pass hash agg (no distinct-values pre-query); absent
    * cells align to the oracle's conditional counts as 0.
    */
  val q25Pivot: Plan = (s, d) =>
    t(s, d, "orders")
      .groupBy(month(col("o_orderdate")).as("mon"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0, Seq("F", "O", "P"))
      .select(col("mon"), col("F").as("cnt_f"), col("O").as("cnt_o"),
        col("P").as("cnt_p"))
      .orderBy("mon")

  val q25PivotSql: String =
    """SELECT CAST(month(o_orderdate) AS INTEGER) AS mon,
      |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS cnt_f,
      |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS cnt_o,
      |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS cnt_p
      |FROM orders GROUP BY 1 ORDER BY mon""".stripMargin

  // ----------------------------------------------- q26_distinct_quantile
  /** DISTINCT aggregates + exact interpolated percentiles per group.
    *
    * Scale shape: NO Expand, NO per-group value buffers. A multi-distinct
    * aggregate plans Expand (rows x distinct-columns) and percentile()
    * buffers every value per group — both collapse at 100 TB. Instead:
    * each distinct count is its own compact two-level aggregate, and the
    * exact quantiles come from the per-group VALUE HISTOGRAM (l_quantity
    * is bounded-cardinality): cumulative counts locate the two order
    * statistics, linear interpolation between them reproduces
    * percentile()/quantile_cont exactly — verified by the unchanged
    * DuckDB oracle. Three small aggregates join on the 3-row group key.
    */
  val q26DistinctQuantile: Plan = (s, d) => {
    val li = t(s, d, "lineitem")
    def distinctCount(c: String, as: String) =
      li.groupBy(col("l_returnflag"), col(c)).agg(count(lit(1)))
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
    // value histogram -> cumulative counts -> interpolated order stats
    val hist = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = hist
      .withColumn("hi", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
    def quantile(p: Double): org.apache.spark.sql.Column = {
      // rank of the interpolation pair in 0-based order statistics
      val idx = lit(p) * (col("n") - 1)
      val lo0 = floor(idx)
      // value v covers 0-based positions [hi-cnt, hi-1]
      val covers = (pos: org.apache.spark.sql.Column) =>
        pos >= (col("hi") - col("cnt")) && pos <= (col("hi") - 1)
      val v0 = min(when(covers(lo0), col("l_quantity"))).over(wAll)
      val v1 = min(when(covers(lo0 + 1), col("l_quantity"))).over(wAll)
      v0 + (idx - lo0) * (coalesce(v1, v0) - v0)
    }
    val quants = cum
      .withColumn("median_qty", quantile(0.5))
      .withColumn("p90_qty", quantile(0.9))
      .groupBy(col("l_returnflag"))
      .agg(sround(first(col("median_qty")), 6).as("median_qty"),
        sround(first(col("p90_qty")), 6).as("p90_qty"))
    distinctCount("l_partkey", "n_parts")
      .join(distinctCount("l_suppkey", "n_supps"), "l_returnflag")
      .join(quants, "l_returnflag")
      .select(col("l_returnflag"), col("n_parts"), col("n_supps"),
        col("median_qty"), col("p90_qty"))
      .orderBy("l_returnflag")
  }

  val q26DistinctQuantileSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  floor(quantile_cont(l_quantity, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS median_qty,
      |  floor(quantile_cont(l_quantity, 0.9) * 1000000.0 + 0.5) / 1000000.0 AS p90_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -------------------------------------------------- q27_full_outer
  /** FULL OUTER join: May vs June per-customer order counts — both sides
    * produce unmatched rows (counts null-extended). Spark coalesces the
    * using-column; both engines shuffle on the key.
    */
  val q27FullOuter: Plan = (s, d) => {
    val o = t(s, d, "orders")
    def monthly(m: Int, as: String) =
      o.filter(month(col("o_orderdate")) === m)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as(as))
    monthly(5, "may_cnt")
      .join(monthly(6, "jun_cnt"), Seq("custkey"), "full_outer")
      .orderBy("custkey")
  }

  val q27FullOuterSql: String =
    """SELECT coalesce(m.custkey, j.custkey) AS custkey, m.may_cnt, j.jun_cnt
      |FROM (SELECT o_custkey AS custkey, count(*) AS may_cnt FROM orders
      |      WHERE month(o_orderdate) = 5 GROUP BY 1) m
      |FULL OUTER JOIN
      |     (SELECT o_custkey AS custkey, count(*) AS jun_cnt FROM orders
      |      WHERE month(o_orderdate) = 6 GROUP BY 1) j
      |  ON m.custkey = j.custkey
      |ORDER BY custkey""".stripMargin

  // ------------------------------------------------- q28_json_extract
  /** Semi-structured extraction: schema'd from_json over the props JSON
    * column, then relational aggregation on the extracted field. from_json
    * parses once per row inside codegen; the DuckDB twin uses its JSON
    * extension. The standard "typed view over a JSON payload column" shape
    * for event ingest.
    */
  val q28JsonExtract: Plan = (s, d) =>
    t(s, d, "events")
      .select(col("event_type"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType)))).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  val q28JsonExtractSql: String =
    """SELECT event_type, count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------- q31_rank_distributions
  /** The remaining ranking-family window functions: percent_rank,
    * cume_dist, ntile. All integer-ratio derived (exact doubles both
    * engines); the order key carries an id tiebreak so peer groups are
    * single rows and the distributions are deterministic.
    */
  val q31RankDistributions: Plan = (s, d) => {
    // distribution ranks over a 3-value status key: each stratum is a
    // corpus share, so the rank runs through keyedRank and the family is
    // derived arithmetically from (rn, n). The ORDER BY tuple is unique
    // (orderkey), so rank() == row_number(), percent_rank = (rn-1)/(n-1)
    // (0 for a 1-row stratum, Spark/DuckDB convention), cume_dist = rn/n,
    // and ntile(4) is the SQL-standard fill: the first n%4 buckets carry
    // ceil(n/4) rows each.
    val base = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val counts = base.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val ranked = KeyedRank
      .keyedRank(base, "o_orderstatus", "o_totalprice", "o_orderkey", "rn",
        descending = false)
      .join(broadcast(counts), "o_orderstatus")
    val rnL = col("rn").cast("long")
    val q = floor(col("n") / lit(4)).cast("long")
    val r = col("n") % lit(4)
    val ntile4 = when(rnL <= r * (q + lit(1)),
        floor((rnL - 1) / (q + lit(1))) + lit(1))
      .otherwise(lit(1) + r + floor((rnL - lit(1) - r * (q + lit(1))) / q))
      .cast("int")
    ranked.select(
      col("o_orderkey"), col("o_orderstatus"),
      when(col("n") === 1, lit(0.0))
        .otherwise((rnL - 1).cast("double") / (col("n") - 1)).as("pr"),
      (rnL.cast("double") / col("n")).as("cd"),
      ntile4.as("quartile"))
      .orderBy("o_orderkey")
  }

  val q31RankDistributionsSql: String =
    """SELECT o_orderkey, o_orderstatus,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------------ q32_cube
  /** CUBE grouping sets with grouping() flags — all four aggregation
    * levels from one Expand pass; the flags disambiguate roll-up NULLs
    * from data NULLs.
    */
  val q32Cube: Plan = (s, d) =>
    t(s, d, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q32CubeSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS qty,
      |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------- q38_grouping_sets
  /** Arbitrary GROUPING SETS — the general form q16's ROLLUP and q32's
    * CUBE are special cases of: here the three sets (rf,ls), (rf), (ls)
    * deliberately form neither a hierarchy nor a power set (no grand
    * total). Spark still plans ONE Expand + hash agg — one scan for all
    * sets — and the grouping() flags disambiguate expansion NULLs from
    * data NULLs.
    */
  val q38GroupingSets: Plan = (s, d) =>
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val q38GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS qty,
      |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
      |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
      |ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ------------------------------------------- q39_time_range_window
  /** RANGE-by-time window frame — the sliding-window complement of q21's
    * ROWS frames: per event, the user's event count and value total over
    * the TRAILING HOUR. RANGE frames bound by the ORDER-BY value (epoch
    * micros here), not row position, so timestamp ties all share one
    * frame — deterministic without a tie-break column. Same
    * user-partitioned single WindowExec shape as q21 (no global window);
    * money sums in integer cents for oracle parity.
    */
  val q39TimeRangeWindow: Plan = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0L)
    t(s, d, "events").select(
      col("event_id"), col("user_id"),
      count(lit(1)).over(w).as("cnt_1h"),
      (sum(floor(col("value") * lit(100.0) + lit(0.5)).cast("long")).over(w)
        / lit(100.0)).as("val_1h"))
      .orderBy("event_id")
  }

  val q39TimeRangeWindowSql: String =
    """SELECT event_id, user_id,
      |  count(*) OVER w AS cnt_1h,
      |  sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER w / 100.0 AS val_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------- q40_fuzzy_join
  /** Fuzzy (edit-distance) self-join — the entity-resolution primitive:
    * candidate pairs from an EQUALITY join on a blocking key (the name's
    * last token), verified with levenshtein <= 2. Runs on the DISTINCT
    * name dictionary with per-name row counts carried along, so the
    * quadratic step is dictionary-sized, never row-sized — the d2
    * blocking discipline applied to string matching. Blocking trades
    * recall for scale by construction (pairs differing in the blocked
    * token are never compared; here the planted typo-pairs all share
    * their noun, so measured recall is 24/24 at sf0.01).
    */
  val q40FuzzyJoin: Plan = (s, d) => {
    val names = t(s, d, "part")
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_rows"))
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("name_a"), col("n_rows").as("n_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"), col("n_rows").as("n_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("name_a"), col("name_b"), col("dist"), col("n_a"), col("n_b"))
      .orderBy("name_a", "name_b")
  }

  val q40FuzzyJoinSql: String =
    """WITH names AS (
      |  SELECT p_name, count(*) AS n_rows, string_split(p_name, ' ')[-1] AS blk
      |  FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist,
      |  a.n_rows AS n_a, b.n_rows AS n_b
      |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
      |WHERE levenshtein(a.p_name, b.p_name) <= 2
      |ORDER BY name_a, name_b""".stripMargin

  // ------------------------------------------------------- q41_scd2
  /** Slowly-changing-dimension type-2 builder — the warehouse counterpart
    * of the CDC apply (streaming/CdcPipeline keeps ONLY latest state;
    * SCD2 keeps the full validity history): per customer, consecutive
    * runs of equal order priority collapse to one versioned row with
    * [valid_from, valid_to) bounds, open-ended (NULL valid_to +
    * is_current) on the last run. Gaps-and-islands shape: one
    * lag-compare marks change points, a running sum numbers the runs,
    * one hash agg collapses them, one lead closes the intervals — all
    * windows customer-partitioned, no global ordering anywhere.
    */
  val q41Scd2: Plan = (s, d) => {
    val wRow = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val chg = when(lag(col("o_orderpriority"), 1).over(wRow).isNull ||
      lag(col("o_orderpriority"), 1).over(wRow) =!= col("o_orderpriority"), 1L)
      .otherwise(0L)
    val wRun = Window.partitionBy(col("custkey")).orderBy(col("version"))
    t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("version",
        sum(chg).over(wRow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("o_custkey").as("custkey"), col("version"))
      .agg(min(col("o_orderpriority")).as("priority"),
        min(col("o_orderdate")).as("valid_from"))
      .select(col("custkey"), col("priority"), col("version"), col("valid_from"),
        lead(col("valid_from"), 1).over(wRun).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("custkey", "version")
  }

  val q41Scd2Sql: String =
    """WITH s AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |    CASE WHEN lag(o_orderpriority) OVER w IS NULL
      |           OR lag(o_orderpriority) OVER w != o_orderpriority
      |         THEN 1 ELSE 0 END AS chg
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |r AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate,
      |    sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM s),
      |runs AS (
      |  SELECT o_custkey AS custkey, CAST(version AS BIGINT) AS version,
      |    min(o_orderpriority) AS priority, min(o_orderdate) AS valid_from
      |  FROM r GROUP BY 1, 2)
      |SELECT custkey, priority, version, valid_from,
      |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) AS valid_to,
      |  lead(valid_from) OVER (PARTITION BY custkey ORDER BY version) IS NULL
      |    AS is_current
      |FROM runs ORDER BY custkey, version""".stripMargin

  // ------------------------------------------------ q33_collect_sorted
  /** Ordered collection aggregate: per-customer sorted month list as a
    * joined string (collect_list is unordered by contract — array_sort
    * makes it deterministic; string form keeps the driver compare
    * scalar-only).
    */
  val q33CollectSorted: Plan = (s, d) =>
    t(s, d, "orders")
      .groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(
          transform(array_sort(collect_list(month(col("o_orderdate")))),
            x => x.cast("string")), ",").as("months"))
      .orderBy("custkey")

  val q33CollectSortedSql: String =
    """SELECT o_custkey AS custkey, count(*) AS n_orders,
      |  string_agg(CAST(month(o_orderdate) AS VARCHAR), ','
      |    ORDER BY month(o_orderdate)) AS months
      |FROM orders GROUP BY 1 ORDER BY custkey""".stripMargin

  // ------------------------------------------------- q34_value_windows
  /** first_value / last_value / nth_value over an explicit
    * unbounded-both-ways frame (last_value's default frame ends at
    * CURRENT ROW — the classic trap; both engines get the full frame
    * spelled out).
    */
  val q34ValueWindows: Plan = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "events").select(
      col("event_id"), col("user_id"),
      first(col("event_type")).over(w).as("first_type"),
      last(col("event_type")).over(w).as("last_type"),
      nth_value(col("event_type"), 2).over(w).as("second_type"))
      .orderBy("event_id")
  }

  val q34ValueWindowsSql: String =
    """SELECT event_id, user_id,
      |  first_value(event_type) OVER w AS first_type,
      |  last_value(event_type) OVER w AS last_type,
      |  nth_value(event_type, 2) OVER w AS second_type
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------- q35_gap_fill
  /** Sparse→dense time series: hourly event counts per type with missing
    * hours zero-filled over the global [min, max] hour span. The dense
    * axis is generated (sequence + explode), crossed with the (tiny) type
    * dim, and left-joined to the observed counts — the standard gap-fill
    * before any windowed model sees the series. The generated axis is
    * rows = hours x types, independent of event volume.
    */
  val q35GapFill: Plan = (s, d) => {
    val e = t(s, d, "events")
    val span = e.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val hours = span.select(explode(
      sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("hour_ts"))
    val types = e.select(col("event_type")).distinct()
    val counts = e.groupBy(
      date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    hours.crossJoin(types)
      .join(counts, Seq("hour_ts", "event_type"), "left")
      .select(col("hour_ts").cast("timestamp_ntz").as("hour_ts"),
        col("event_type"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("hour_ts", "event_type")
  }

  val q35GapFillSql: String =
    """WITH span AS (
      |  SELECT date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
      |  FROM events),
      |hours AS (
      |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour_ts FROM span),
      |types AS (SELECT DISTINCT event_type FROM events),
      |counts AS (
      |  SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS cnt
      |  FROM events GROUP BY 1, 2)
      |SELECT h.hour_ts AS hour_ts, t.event_type AS event_type,
      |  coalesce(c.cnt, 0) AS cnt
      |FROM hours h CROSS JOIN types t
      |LEFT JOIN counts c ON c.hour_ts = h.hour_ts AND c.event_type = t.event_type
      |ORDER BY h.hour_ts, t.event_type""".stripMargin

  // ------------------------------------------------ q36_sweep_concurrency
  /** Interval analytics via sweep-line: sessions (q20's 30-min-gap
    * definition) become +1/-1 boundary points; a running sum over the
    * time-ordered points is the live-session count, aggregated to the
    * concurrency profile per level. Ends sort before starts at the same
    * instant (half-open intervals). The sweep itself is DISTRIBUTED: the
    * timeline is cut into equal-width shards, each shard running-sums in
    * parallel (partitioned window), and the per-shard delta totals (one
    * long each) are exclusive-prefix-summed on the driver and broadcast
    * back as offsets — the classic two-phase parallel prefix sum, so no
    * single-partition WindowExec exists in the plan at any scale.
    */
  val q36SweepConcurrency: Plan = (s, d) => {
    val sessions = q20Sessionize(s, d)
      .select(col("session_start").cast("timestamp").as("st"),
        (unix_micros(col("session_start").cast("timestamp"))
          + (col("duration_sec") * 1000000L).cast("long")).as("end_us"))
    val points = sessions
      .select(unix_micros(col("st")).as("pt_us"), lit(1).as("delta"))
      .unionAll(sessions.select(col("end_us").as("pt_us"), lit(-1).as("delta")))
      .materialize() // sweep reads it twice (totals + ranked pass)
    // Distributed prefix sum: shard the timeline into equal-width buckets,
    // running-sum within each shard (parallel windows), then add each
    // shard's exclusive-prefix offset (per-shard totals are one tiny row
    // each — collected and broadcast, never a global single-key window).
    val Row(lo: Long, hi: Long) =
      points.agg(min(col("pt_us")), max(col("pt_us"))).head()
    val nShards = math.max(1, s.sparkContext.defaultParallelism)
    val width = math.max(1L, (hi - lo) / nShards + 1L)
    val sharded = points
      .withColumn("shard", ((col("pt_us") - lit(lo)) / lit(width)).cast("int"))
    val offsets: Map[Int, Long] = {
      val totals = sharded.groupBy(col("shard"))
        .agg(sum(col("delta")).as("tot"))
        // driver-bound(stat-frame): one total per shard (<= parallelism rows)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val ids = totals.keys.toSeq.sorted
      ids.zip(ids.scanLeft(0L)((acc, id) => acc + totals(id)).init).toMap
    }
    val offsetCol = coalesce(
      element_at(
        map(offsets.toSeq.sortBy(_._1).flatMap { case (k, v) =>
          Seq(lit(k), lit(v)) }: _*),
        col("shard")),
      lit(0L))
    val w = Window.partitionBy(col("shard")).orderBy(col("pt_us"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("live", (sum(col("delta")).over(w) + offsetCol).cast("long"))
      .groupBy(col("live"))
      .agg(count(lit(1)).as("n_points"), min(col("pt_us")).as("first_at_us"))
      .orderBy("live")
  }

  val q36SweepConcurrencySql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1) OVER w > 1800000000 THEN 1
      |         WHEN lag(ts, 1) OVER w IS NULL THEN 1
      |         ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, event_id, ts,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM marked),
      |sessions AS (
      |  SELECT min(epoch_us(ts)) AS st_us, max(epoch_us(ts)) AS end_us
      |  FROM sess GROUP BY user_id, session_id),
      |points AS (
      |  SELECT st_us AS pt_us, 1 AS delta FROM sessions
      |  UNION ALL SELECT end_us AS pt_us, -1 AS delta FROM sessions),
      |swept AS (
      |  SELECT CAST(sum(delta) OVER (ORDER BY pt_us, delta
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS live,
      |    pt_us
      |  FROM points)
      |SELECT live, count(*) AS n_points, min(pt_us) AS first_at_us
      |FROM swept GROUP BY live ORDER BY live""".stripMargin

  // --------------------------------------------------- q37_lateral_topk
  /** Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 orders per
    * customer. Shared SQL text (the dialects agree verbatim) through the
    * spark.sql path — Catalyst decorrelates the lateral into a ranked
    * window join; no per-row subquery execution survives in the plan.
    */
  val q37LateralTopkSql: String =
    """SELECT c.c_custkey, t.o_orderkey,
      |  CAST(floor(t.o_totalprice * 100.0 + 0.5) / 100.0 AS DOUBLE) AS totalprice
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
      |         WHERE o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, o_orderkey""".stripMargin

  val q37LateralTopk: Plan = (s, d) => {
    Tables.registerAll(s, d)
    s.sql(q37LateralTopkSql)
  }

  // --------------------------------------------------- q30_kmv_distinct
  /** Custom KMV distinct sketch (graft.expressions.KmvSketch, a
    * TypedImperativeAggregate): k-minimum-values estimate of per-group
    * distinct counts. The state is an exact value-set sketch — mergeable,
    * constant-size, and DETERMINISTIC under any partitioning (asserted in
    * RelationalSpec) — and since round 4 the hash is portable md5-62, so
    * the DuckDB oracle re-derives the IDENTICAL estimate from the
    * 1024th-smallest distinct hash and the driver hash-checks it.
    */
  val q30KmvDistinct: Plan = (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        graft.expressions.KmvSketch.kmvDistinct(col("l_partkey"), 1024)
          .as("kmv_parts"),
        graft.expressions.KmvSketch.kmvDistinct(col("l_suppkey"), 1024)
          .as("kmv_supps"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** DuckDB CTE reproducing the KMV(k=1024) estimate for `keyCol` per
    * l_returnflag: distinct md5-62 hashes, the 1024th-smallest located by
    * window rank, the same (k-1)*2^62/kth arithmetic (both engines
    * evaluate it as two IEEE double ops on identical inputs).
    */
  private def kmvOracleCte(name: String, keyCol: String): String =
    s"""$name AS (
       |  SELECT l_returnflag,
       |    CASE WHEN count(*) < 1024 THEN CAST(count(*) AS DOUBLE)
       |      ELSE 1023.0 * 4611686018427387904.0
       |           / CAST(max(CASE WHEN rn = 1024 THEN h END) AS DOUBLE) END AS kmv_$name
       |  FROM (SELECT l_returnflag, h,
       |          row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
       |        FROM (SELECT DISTINCT l_returnflag,
       |                md5_number_lower(CAST($keyCol AS VARCHAR)) & 4611686018427387903 AS h
       |              FROM lineitem))
       |  GROUP BY l_returnflag)""".stripMargin

  val q30KmvDistinctSql: String =
    s"""WITH ${kmvOracleCte("parts", "l_partkey")},
       |${kmvOracleCte("supps", "l_suppkey")},
       |cnt AS (SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, kmv_parts, kmv_supps, cnt
       |FROM parts JOIN supps USING (l_returnflag) JOIN cnt USING (l_returnflag)
       |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------- q29_stratified_sample
  /** Deterministic stratified sampling: exactly ceil(10%) of every
    * event_type stratum, selected by md5-of-id order. Hash-ordering makes
    * the sample (a) reproducible across engines and runs, (b) uniform
    * (md5 is effectively random in the id), and (c) exact-size per
    * stratum — none of which rand()-based sampling gives. Plan: one
    * shuffle on the stratum key; both window functions share it. At
    * 100 TB, skewed strata are the usual worry — the rank is computed
    * within the partition after AQE skew-splitting of the sort.
    */
  val q29StratifiedSample: Plan = (s, d) => {
    // per-stratum hash rank through keyedRank (event_type is a tiny enum
    // but each stratum is corpus-sized — a naive per-type window sorts a
    // corpus share in one task; same reshape as t16), stratum totals via
    // a map-side-combinable agg broadcast back instead of a count window
    val base = t(s, d, "events")
      .select(col("event_id"), col("event_type"))
      .withColumn("h", md5(col("event_id").cast("string")))
    val counts = base.groupBy(col("event_type"))
      .agg(count(lit(1)).as("stratum_n"))
    graft.operators.KeyedRank
      .keyedRank(base, "event_type", "h", "event_id", "rn", descending = false)
      .join(broadcast(counts), "event_type")
      .filter(col("rn") <= ceil(col("stratum_n") * lit(0.1)))
      .select(col("event_id"), col("event_type"), col("rn"))
      .orderBy("event_type", "rn")
  }

  val q29StratifiedSampleSql: String =
    """WITH ranked AS (
      |  SELECT event_id, event_type,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS INTEGER) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS stratum_n
      |  FROM events)
      |SELECT event_id, event_type, rn
      |FROM ranked WHERE rn <= ceil(stratum_n * 0.1)
      |ORDER BY event_type, rn""".stripMargin

  // --------------------------------------------------- q42_merge_upsert
  /** MERGE INTO semantics (the lakehouse upsert: WHEN MATCHED UPDATE /
    * WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT) expressed as ONE
    * full-outer join on the key — Spark has no writable-table MERGE
    * without a table format, but the relational core is exactly this
    * join + per-row case resolution. The change batch is derived
    * deterministically from the snapshot itself (keys ≡0 mod 10 update
    * price +5%, ≡1 delete, ≡2 insert under a shifted key) so both
    * engines replay it.
    *
    * Scale shape: one shuffle join on the merge key — with the target
    * bucketed by key (sources/Maintenance covers bucketing) the merge is
    * zero-exchange on the target side; AQE handles a skewed change
    * batch. Copy-on-write table formats run precisely this plan per
    * touched file group.
    */
  val q42MergeUpsert: Plan = (s, d) => {
    val target = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = target.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("op"),
        lit(null).cast("string").as("new_status"),
        (col("o_totalprice") * lit(1.05)).as("new_price"))
    val deletes = target.filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("string").as("new_status"),
        lit(null).cast("double").as("new_price"))
    val inserts = target.filter(col("o_orderkey") % 10 === 2)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        lit("I").as("op"), lit("N").as("new_status"),
        col("o_totalprice").as("new_price"))
    val changes = updates.unionAll(deletes).unionAll(inserts)
    target.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(col("o_orderkey"),
        coalesce(col("new_status"), col("o_orderstatus")).as("o_orderstatus"),
        sround(coalesce(col("new_price"), col("o_totalprice")), 2)
          .as("o_totalprice"),
        coalesce(col("op"), lit("=")).as("change_type"))
      .orderBy("o_orderkey")
  }

  val q42MergeUpsertSql: String =
    """WITH target AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |changes AS (
      |  SELECT o_orderkey, 'U' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |    o_totalprice * 1.05 AS new_price
      |  FROM target WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
      |  FROM target WHERE o_orderkey % 10 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, 'I', 'N', o_totalprice
      |  FROM target WHERE o_orderkey % 10 = 2)
      |SELECT coalesce(t.o_orderkey, c.o_orderkey) AS o_orderkey,
      |  coalesce(c.new_status, t.o_orderstatus) AS o_orderstatus,
      |  floor(coalesce(c.new_price, t.o_totalprice) * 100.0 + 0.5) / 100.0
      |    AS o_totalprice,
      |  coalesce(c.op, '=') AS change_type
      |FROM target t FULL OUTER JOIN changes c ON t.o_orderkey = c.o_orderkey
      |WHERE coalesce(c.op, '') != 'D'
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------------- q43_unpivot
  /** UNPIVOT / melt (wide → long): the inverse of q25's PIVOT, closing
    * the reshape pair. Spark plans `Dataset.unpivot` as ONE Expand pass
    * (each input row emits 4 measure rows in the same scan — no
    * self-union, no 4x rescan), then a 4-group aggregate. The oracle
    * spells the same semantics as UNION ALL arms. Money sums go through
    * integer cents (sumCents) so the doubles are order-independent.
    */
  val q43Unpivot: Plan = (s, d) =>
    t(s, d, "lineitem")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
      .groupBy(col("measure"))
      .agg(
        count(lit(1)).as("n"),
        (sumCents(col("val")) / lit(100.0)).as("sum_val"),
        sround(sumCents(col("val")) / (count(lit(1)) * lit(100.0)), 6)
          .as("avg_val"))
      .orderBy("measure")

  val q43UnpivotSql: String =
    """WITH u AS (
      |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
      |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      |SELECT measure, count(*) AS n,
      |  CAST(sum(CAST(floor(val * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_val,
      |  floor((CAST(sum(CAST(floor(val * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      |    / (count(*) * 100.0)) * 1000000.0 + 0.5) / 1000000.0 AS avg_val
      |FROM u GROUP BY measure ORDER BY measure""".stripMargin

  // --------------------------------------------------- q44_hll_distinct
  /** Portable HyperLogLog distinct estimate (Flajolet et al. 2007),
    * composed ENTIRELY from built-ins — the counterpart of q30's custom
    * KMV aggregate, demonstrating that the register algebra is itself
    * relational: register = low 6 bits of the md5-62 hash, rho = leading
    * -zero rank of the remaining 56 bits via `57 - bit_length(w)` (both
    * engines spell it `length(bin(w))`), register state = max(rho) per
    * (group, register) — ONE partial-agg-friendly shuffle of at most
    * m=64 rows per group per partition. The harmonic sum folds 2^-rho
    * terms in sorted order (t8's trick) so the double matches the oracle
    * bitwise; the raw estimator (no small-range correction — documented,
    * deterministic) applies alpha_64 = 0.709.
    *
    * At 100 TB: the KMV/HLL choice is state size (8 KiB KMV vs 64 longs
    * HLL per group) — this query keeps the exact distinct alongside so
    * the error is visible, like t18 does for CMS.
    */
  val q44HllDistinct: Plan = (s, d) => {
    val m = 64
    val regs = t(s, d, "lineitem")
      .select(col("l_returnflag"),
        graft.expressions.PortableHashExpressions
          .md5Hash62(col("l_partkey").cast("string")).as("h"))
      .select(col("l_returnflag"), (col("h") % m).as("reg"),
        shiftright(col("h"), 6).as("w"))
      .select(col("l_returnflag"), col("reg"),
        when(col("w") === 0, lit(57))
          .otherwise(lit(57) - length(bin(col("w")))).as("rho"))
      .groupBy(col("l_returnflag"), col("reg"))
      .agg(max(col("rho")).as("r"))
    val est = regs.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_regs"),
        aggregate(array_sort(collect_list(pow(lit(2.0), -col("r")))),
          lit(0.0), (acc, x) => acc + x).as("zsum"))
      .select(col("l_returnflag"), col("n_regs"),
        sround(lit(0.709) * lit(m.toDouble * m) /
          (col("zsum") + (lit(m.toLong) - col("n_regs"))), 1).as("hll_est"))
    val exact = t(s, d, "lineitem").groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    est.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_exact"), col("hll_est"), col("n_regs"))
      .orderBy("l_returnflag")
  }

  val q44HllDistinctSql: String =
    """WITH h AS (
      |  SELECT l_returnflag,
      |    CAST(md5_number_lower(CAST(l_partkey AS VARCHAR))
      |      & 4611686018427387903 AS BIGINT) AS h
      |  FROM lineitem),
      |rho AS (
      |  SELECT l_returnflag, h % 64 AS reg,
      |    CASE WHEN (h >> 6) = 0 THEN 57
      |      ELSE 57 - length(bin(h >> 6)) END AS rho
      |  FROM h),
      |regs AS (
      |  SELECT l_returnflag, reg, max(rho) AS r
      |  FROM rho GROUP BY 1, 2),
      |est AS (
      |  SELECT l_returnflag, count(*) AS n_regs,
      |    floor(0.709 * 4096.0
      |      / (list_aggregate(list_sort(list(power(2.0, -r))), 'sum')
      |         + (64 - count(*))) * 10.0 + 0.5) / 10.0 AS hll_est
      |  FROM regs GROUP BY l_returnflag),
      |exact AS (
      |  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_exact, hll_est, n_regs
      |FROM est JOIN exact USING (l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // ------------------------------------------------------ q45_argmax
  /** Deterministic argmax/argmin aggregates. Spark's `max_by`/`min_by`
    * (and DuckDB's arg_max) leave ties UNSPECIFIED — worthless for a
    * reproducible pipeline. Here the (value, tiebreak) pair is PACKED
    * into one long — cents(price) * 2^31 + (2^31-1 - custkey) — so a
    * plain primitive max IS "argmax by price, ties to the smallest
    * custkey", in one partial-agg-friendly hash aggregate (d6's packed
    * trick promoted to the relational surface; a window row_number
    * formulation would cost a full sort per group instead). The mode
    * aggregate runs as a two-level count + rank over the tiny
    * (priority × status) grid.
    *
    * Cents via floor(p*100 + 0.5): o_totalprice*100 is NOT exactly
    * integral in ~10% of rows, but both engines run the identical IEEE
    * double ops on the identical double, so the packed longs agree
    * bit-for-bit.
    */
  val q45Argmax: Plan = (s, d) => {
    val o = t(s, d, "orders")
    val two31 = 1L << 31
    val mask = two31 - 1
    val pcents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
    val days = datediff(to_date(col("o_orderdate")), lit("1992-01-01")).cast("long")
    val main = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        max(pcents * lit(two31) + (lit(mask) - col("o_custkey"))).as("pk_best"),
        min(days * lit(two31) + col("o_orderkey")).as("pk_first"))
      .select(col("o_orderpriority"), col("n_orders"),
        (shiftright(col("pk_best"), 31).cast("double") / lit(100.0)).as("best_price"),
        (lit(mask) - col("pk_best").bitwiseAND(lit(mask))).as("best_cust"),
        col("pk_first").bitwiseAND(lit(mask)).as("first_orderkey"))
    val sc = o.groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("c"))
    val wm = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("c").desc, col("o_orderstatus"))
    val mode = sc.withColumn("rn", row_number().over(wm))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"), col("o_orderstatus").as("mode_status"))
    main.join(mode, Seq("o_orderpriority")).orderBy("o_orderpriority")
  }

  val q45ArgmaxSql: String =
    """WITH main AS (
      |  SELECT o_orderpriority, count(*) AS n_orders,
      |    max(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) * 2147483648
      |        + (2147483647 - o_custkey)) AS pk_best,
      |    min(CAST(date_diff('day', DATE '1992-01-01',
      |          CAST(o_orderdate AS DATE)) AS BIGINT) * 2147483648
      |        + o_orderkey) AS pk_first
      |  FROM orders GROUP BY o_orderpriority),
      |sc AS (
      |  SELECT o_orderpriority, o_orderstatus, count(*) AS c
      |  FROM orders GROUP BY 1, 2),
      |mode AS (
      |  SELECT o_orderpriority, o_orderstatus AS mode_status
      |  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
      |          ORDER BY c DESC, o_orderstatus) AS rn FROM sc)
      |  WHERE rn = 1)
      |SELECT o_orderpriority, n_orders,
      |  CAST(pk_best >> 31 AS DOUBLE) / 100.0 AS best_price,
      |  2147483647 - (pk_best & 2147483647) AS best_cust,
      |  pk_first & 2147483647 AS first_orderkey,
      |  mode_status
      |FROM main JOIN mode USING (o_orderpriority)
      |ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------- q46_rcd
  /** Running COUNT(DISTINCT) over a window — an aggregate neither engine
    * supports natively in a running frame. Rewrite: flag the FIRST
    * occurrence of each (user, event_type) (row_number = 1 over the
    * dedup key), then running-sum the flags over the event order. Both
    * windows partition on user_id, so the whole query is ONE shuffle and
    * two in-partition sorts — the direct formulation (distinct-count per
    * prefix) would be quadratic.
    */
  val q46Rcd: Plan = (s, d) => {
    val e = t(s, d, "events")
    val wFirst = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("flag",
        when(row_number().over(wFirst) === 1, lit(1L)).otherwise(lit(0L)))
      .withColumn("rcd", sum(col("flag")).over(wRun))
      .select(col("event_id"), col("user_id"), col("rcd"))
      .orderBy("event_id")
  }

  val q46RcdSql: String =
    """WITH flagged AS (
      |  SELECT event_id, user_id,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |        ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS flag,
      |    ts
      |  FROM events)
      |SELECT event_id, user_id,
      |  CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS rcd
      |FROM flagged ORDER BY event_id""".stripMargin

  // ----------------------------------------------------- q47_setkmv
  /** Set-operation cardinality estimates from MERGED KMV sketches
    * (Beyer et al. 2007): one pass builds a k=512 sketch per side (first
    * vs second half-year customer sets) via conditional updates in a
    * SINGLE hash aggregate; union/intersection estimates then derive
    * from the sketch ARRAYS alone — |A∪B| from the kth-smallest of the
    * combined hash set, |A∩B| = Jaccard-on-the-union-sketch × |A∪B|.
    * The exact counts ride along (one flag-agg pass) so the sketch
    * error is visible, like q44/t18.
    *
    * This is the round-trip q30 couldn't show: sketches as mergeable
    * VALUES (graft_kmv_values → array<long>), combinable after the
    * fact — the shape that lets a 100 TB scan publish per-partition
    * sketches and answer any union/intersection question later without
    * rescanning.
    */
  val q47Setkmv: Plan = (s, d) => {
    val k = 512
    val o = t(s, d, "orders")
      .select(col("o_custkey"), month(col("o_orderdate")).as("m"))
    val sk = o.agg(
      graft.expressions.KmvSketch.kmvValues(
        when(col("m") <= 6, col("o_custkey")), k).as("ska"),
      graft.expressions.KmvSketch.kmvValues(
        when(col("m") >= 7, col("o_custkey")), k).as("skb"))
    // estimate from a sorted sketch array: exact size below k, else the
    // (k-1) * 2^62 / kth-smallest KMV estimator
    def est(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(size(a) < k, size(a).cast("double"))
        .otherwise(lit((k - 1).toDouble * graft.expressions.PortableHash.Ring62)
          / element_at(a, k).cast("double"))
    val merged = sk
      .withColumn("sku", slice(array_sort(array_distinct(
        concat(col("ska"), col("skb")))), 1, k))
      .withColumn("inter_k", size(filter(col("sku"),
        x => array_contains(col("ska"), x) && array_contains(col("skb"), x))))
      .select(
        sround(est(col("ska")), 1).as("est_a"),
        sround(est(col("skb")), 1).as("est_b"),
        sround(est(col("sku")), 1).as("est_union"),
        sround(col("inter_k").cast("double") / least(size(col("sku")), lit(k))
          * est(col("sku")), 1).as("est_inter"))
    val exact = o.groupBy(col("o_custkey"))
      .agg(max(when(col("m") <= 6, 1).otherwise(0)).as("ina"),
        max(when(col("m") >= 7, 1).otherwise(0)).as("inb"))
      .agg(sum(col("ina")).as("exact_a"), sum(col("inb")).as("exact_b"),
        count(lit(1)).as("exact_union"),
        sum(col("ina") * col("inb")).as("exact_inter"))
    merged.crossJoin(exact)
  }

  /** DuckDB twin: per-side k-smallest distinct md5-62 hash sets via
    * window rank, the same estimator arithmetic, intersection membership
    * via joins.
    */
  val q47SetkmvSql: String =
    """WITH h AS (
      |  SELECT md5_number_lower(CAST(o_custkey AS VARCHAR))
      |           & 4611686018427387903 AS h,
      |    max(CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END) AS ina,
      |    max(CASE WHEN month(o_orderdate) >= 7 THEN 1 ELSE 0 END) AS inb
      |  FROM orders GROUP BY 1),
      |ska AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn
      |  FROM h WHERE ina = 1) WHERE rn <= 512),
      |skb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn
      |  FROM h WHERE inb = 1) WHERE rn <= 512),
      |sku AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn
      |  FROM (SELECT h FROM ska UNION SELECT h FROM skb)) WHERE rn <= 512),
      |ests AS (SELECT
      |  (SELECT CASE WHEN count(*) < 512 THEN CAST(count(*) AS DOUBLE)
      |     ELSE 511.0 * 4611686018427387904.0 / CAST(max(CASE WHEN rn = 512
      |       THEN h END) AS DOUBLE) END
      |   FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM ska)) AS ea,
      |  (SELECT CASE WHEN count(*) < 512 THEN CAST(count(*) AS DOUBLE)
      |     ELSE 511.0 * 4611686018427387904.0 / CAST(max(CASE WHEN rn = 512
      |       THEN h END) AS DOUBLE) END
      |   FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM skb)) AS eb,
      |  (SELECT CASE WHEN count(*) < 512 THEN CAST(count(*) AS DOUBLE)
      |     ELSE 511.0 * 4611686018427387904.0 / CAST(max(CASE WHEN rn = 512
      |       THEN h END) AS DOUBLE) END
      |   FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM sku)) AS eu,
      |  (SELECT count(*) FROM sku
      |     WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb))
      |    AS ik,
      |  (SELECT least(count(*), 512) FROM sku) AS ku),
      |exact AS (SELECT CAST(sum(ina) AS BIGINT) AS exact_a,
      |    CAST(sum(inb) AS BIGINT) AS exact_b,
      |    count(*) AS exact_union,
      |    CAST(sum(ina * inb) AS BIGINT) AS exact_inter
      |  FROM h)
      |SELECT floor(ea * 10.0 + 0.5) / 10.0 AS est_a,
      |  floor(eb * 10.0 + 0.5) / 10.0 AS est_b,
      |  floor(eu * 10.0 + 0.5) / 10.0 AS est_union,
      |  floor(CAST(ik AS DOUBLE) / ku * eu * 10.0 + 0.5) / 10.0 AS est_inter,
      |  exact_a, exact_b, exact_union, exact_inter
      |FROM ests, exact""".stripMargin

  // -------------------------------------------------------- q48_ivm
  /** Incremental view maintenance: refresh a materialized aggregate from a
    * CDC batch by aggregating ONLY the deltas. Each change row becomes
    * signed delta(s) — update = retract old + assert new, delete =
    * retract, insert = assert — the deltas aggregate to per-group
    * (Δcount, Δsum), and the refreshed view is base ⊎ delta (full-outer
    * merge, groups with count 0 dropped). The change batch reuses q42's
    * deterministic derivation (keys ≡0 mod 10 reprice ×1.05, ≡1 delete,
    * ≡2 insert shifted +1000.0) so both engines replay it.
    *
    * Scale shape: the delta side touches O(|changes|) rows and the merge
    * is a tiny join on the group key — the whole point of IVM at 100 TB
    * is that the base table is NEVER rescanned (here the base aggregate
    * is computed once because no MV store exists; in production it's the
    * stored view). The oracle recomputes the view from the post-change
    * table, so hash-parity PROVES incremental ≡ recompute.
    */
  val q48Ivm: Plan = (s, d) => {
    val cents = (c: org.apache.spark.sql.Column) =>
      floor(c * lit(100.0) + lit(0.5)).cast("long")
    val o = t(s, d, "orders").select(col("o_orderkey"),
      month(col("o_orderdate")).as("m"), col("o_orderpriority").as("pri"),
      col("o_totalprice").as("price"))
    val base = o.groupBy(col("m"), col("pri"))
      .agg(count(lit(1)).as("cnt"), sum(cents(col("price"))).as("rev"))
    // signed deltas from the derived change batch
    val upd = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("m"), col("pri"), lit(0L).as("dc"),
        (cents(col("price") * lit(1.05)) - cents(col("price"))).as("dr"))
    val del = o.filter(col("o_orderkey") % 10 === 1)
      .select(col("m"), col("pri"), lit(-1L).as("dc"),
        (-cents(col("price"))).as("dr"))
    val ins = o.filter(col("o_orderkey") % 10 === 2)
      .select(col("m"), col("pri"), lit(1L).as("dc"),
        cents(col("price") + lit(1000.0)).as("dr"))
    val delta = upd.unionAll(del).unionAll(ins)
      .groupBy(col("m"), col("pri"))
      .agg(sum(col("dc")).as("dc"), sum(col("dr")).as("dr"))
    base.join(delta, Seq("m", "pri"), "full_outer")
      .select(col("m"), col("pri"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("cnt"),
        (coalesce(col("rev"), lit(0L)) + coalesce(col("dr"), lit(0L))).as("rev"))
      .filter(col("cnt") > 0)
      .select(col("m"), col("pri"), col("cnt"),
        (col("rev") / lit(100.0)).as("revenue"))
      .orderBy("m", "pri")
  }

  /** DuckDB twin: FULL RECOMPUTE over the post-change table — parity with
    * the Spark incremental path is the IVM correctness proof.
    */
  val q48IvmSql: String =
    """WITH o AS (SELECT o_orderkey, CAST(month(o_orderdate) AS INTEGER) AS m,
      |    o_orderpriority AS pri, o_totalprice AS price FROM orders),
      |applied AS (
      |  SELECT m, pri, price * 1.05 AS price FROM o WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT m, pri, price FROM o
      |  WHERE o_orderkey % 10 NOT IN (0, 1)
      |  UNION ALL
      |  SELECT m, pri, price + 1000.0 FROM o WHERE o_orderkey % 10 = 2)
      |SELECT m, pri, count(*) AS cnt,
      |  CAST(sum(CAST(floor(price * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
      |    / 100.0 AS revenue
      |FROM applied GROUP BY m, pri HAVING count(*) > 0
      |ORDER BY m, pri""".stripMargin

  // -------------------------------------------------------- q49_locf
  /** Sparse-series imputation: last-observation-carried-forward. Only
    * purchase events carry an observed value; every event row gets the
    * most recent purchase value for its user (and the carry's age in
    * seconds) via `last(..., ignoreNulls)` over the running frame — the
    * canonical LOCF shape, one shuffle on the series key, one
    * in-partition sort shared by both window columns. No arithmetic on
    * the carried value (it is COPIED), so parity is exact.
    */
  val q49Locf: Plan = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isP = col("event_type") === "purchase"
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"))
      .withColumn("filled", last(when(isP, col("value")), ignoreNulls = true).over(w))
      .withColumn("carried_sec",
        last(when(isP, col("ts").cast("long")), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("filled"),
        (col("ts").cast("long") - col("carried_sec")).as("age_s"))
      .orderBy("event_id")
  }

  val q49LocfSql: String =
    """SELECT event_id, user_id,
      |  last_value(CASE WHEN event_type = 'purchase' THEN value END
      |    IGNORE NULLS) OVER w AS filled,
      |  CAST(floor(epoch(ts)) AS BIGINT)
      |    - last_value(CASE WHEN event_type = 'purchase'
      |        THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
      |      OVER w AS age_s
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------- q50_histogram
  /** Equi-width histogram with IN-PLAN global bounds. The classic
    * profiling query needs min/max before it can bin — the naive form
    * collects the stats to the driver and stamps them into a second job.
    * Here the 1-row stats aggregate is cross-joined back as a broadcast
    * (v7's max-norm pattern): one scan for stats, one scan to bin, no
    * driver round-trip, so the whole thing survives a 100 TB input as
    * two map-side-combined passes. Bin arithmetic is the identical IEEE
    * double expression on both engines; the top edge folds into the last
    * bin via least(_, 15).
    */
  val q50Histogram: Plan = (s, d) => {
    val e = t(s, d, "events").select(col("event_type"), col("value"))
    val stats = e.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val width = (col("mx") - col("mn")) / lit(16.0)
    val bin = least(floor((col("value") - col("mn")) / width), lit(15L))
    e.crossJoin(broadcast(stats))
      .select(col("event_type"), bin.as("bin"),
        (col("mn") + bin.cast("double") * width).as("lo"))
      .groupBy(col("event_type"), col("bin"), col("lo"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bin"))
  }

  val q50HistogramSql: String =
    """WITH stats AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      |binned AS (
      |  SELECT event_type,
      |    least(CAST(floor((value - mn) / ((mx - mn) / 16.0)) AS BIGINT),
      |          15) AS bin,
      |    mn + CAST(least(CAST(floor((value - mn) / ((mx - mn) / 16.0))
      |          AS BIGINT), 15) AS DOUBLE) * ((mx - mn) / 16.0) AS lo
      |  FROM events CROSS JOIN stats)
      |SELECT event_type, bin, lo, count(*) AS n
      |FROM binned GROUP BY 1, 2, 3 ORDER BY event_type, bin""".stripMargin

  // ------------------------------------------------- q51_interp_linear
  /** Linear interpolation of a sparse series — the step past q49's LOCF:
    * every event row gets an estimate of the purchase-value signal,
    * linearly interpolated between the surrounding observations (carried
    * flat when only one side exists). Both direction windows share ONE
    * user_id shuffle and ONE (ts, event_id) sort; the strictly-preceding
    * / strictly-following frames keep observation rows from seeing
    * themselves, so `kind` cleanly splits obs/interp/edge. The fraction
    * is long-subtraction cast to double, divided then multiplied in the
    * same order on both engines — bit-exact parity on doubles.
    */
  val q51InterpLinear: Plan = (s, d) => {
    val tl = col("ts").cast("long")
    val isP = col("event_type") === "purchase"
    val order = Seq(col("ts"), col("event_id"))
    val wPrev = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    val interp = col("pv") + (col("nv") - col("pv")) *
      ((tl - col("pt")).cast("double") / (col("nt") - col("pt")).cast("double"))
    t(s, d, "events")
      // all four window columns in ONE projection so Catalyst collapses
      // them into two Window nodes (one per frame) over a single
      // shuffle+sort; chained withColumn left four nodes in the plan
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"),
        last(when(isP, col("value")), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(isP, tl), ignoreNulls = true).over(wPrev).as("pt"),
        first(when(isP, col("value")), ignoreNulls = true).over(wNext).as("nv"),
        first(when(isP, tl), ignoreNulls = true).over(wNext).as("nt"))
      .select(col("event_id"), col("user_id"),
        when(isP, col("value"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            when(col("nt") > col("pt"), interp).otherwise(col("pv")))
          .when(col("pv").isNotNull, col("pv"))
          .when(col("nv").isNotNull, col("nv"))
          .as("est"),
        when(isP, lit("obs"))
          .when(col("pv").isNotNull && col("nv").isNotNull, lit("interp"))
          .when(col("pv").isNotNull || col("nv").isNotNull, lit("edge"))
          .otherwise(lit("none")).as("kind"))
      .orderBy(col("event_id"))
  }

  val q51InterpLinearSql: String =
    """WITH marked AS (
      |  SELECT event_id, user_id,
      |    event_type = 'purchase' AS is_obs, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tl,
      |    last_value(CASE WHEN event_type = 'purchase' THEN value END
      |      IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
      |      OVER wp AS pt,
      |    first_value(CASE WHEN event_type = 'purchase' THEN value END
      |      IGNORE NULLS) OVER wn AS nv,
      |    first_value(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
      |      OVER wn AS nt
      |  FROM events
      |  WINDOW
      |    wp AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    wn AS (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      |SELECT event_id, user_id,
      |  CASE WHEN is_obs THEN value
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
      |      CASE WHEN nt > pt THEN pv + (nv - pv) *
      |        (CAST(tl - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
      |      ELSE pv END
      |    WHEN pv IS NOT NULL THEN pv
      |    WHEN nv IS NOT NULL THEN nv END AS est,
      |  CASE WHEN is_obs THEN 'obs'
      |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
      |    WHEN pv IS NOT NULL OR nv IS NOT NULL THEN 'edge'
      |    ELSE 'none' END AS kind
      |FROM marked ORDER BY event_id""".stripMargin

  // ------------------------------------------------------- q52_funnel
  /** Cohort conversion funnel — first-touch ordered stages view → click
    * → purchase, cohorted by the month of each user's first event. The
    * per-user stage timestamps are CONDITIONAL MINS in one hash
    * aggregate (no window, no self-join — the naive funnel is a 3-way
    * self-join on the events table); stage predicates are then pure row
    * arithmetic and the cohort rollup is a second, tiny aggregate. At
    * 100 TB this is one map-side-combined shuffle on user_id, then
    * effectively nothing.
    */
  val q52Funnel: Plan = (s, d) => {
    val tl = col("ts").cast("long")
    def stageTs(stage: String) = min(when(col("event_type") === stage, tl))
    val u = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"),
        stageTs("view").as("v"), stageTs("click").as("c"),
        stageTs("purchase").as("p"))
    val s1 = col("v").isNotNull
    val s2 = s1 && col("c").isNotNull && (col("c") > col("v"))
    val s3 = s2 && col("p").isNotNull && (col("p") > col("c"))
    val st = u.select(
      (year(col("first_ts")) * lit(100) + month(col("first_ts"))).as("cohort"),
      s1.as("s1"), s2.as("s2"), s3.as("s3"))
    st.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("s1").cast("long")).as("n_view"),
        sum(col("s2").cast("long")).as("n_click"),
        sum(col("s3").cast("long")).as("n_purchase"))
      .select(col("cohort"), col("n_users"), col("n_view"), col("n_click"),
        col("n_purchase"),
        when(col("n_view") > 0,
          col("n_purchase").cast("double") / col("n_view").cast("double"))
          .as("cvr"))
      .orderBy(col("cohort"))
  }

  val q52FunnelSql: String =
    """WITH u AS (
      |  SELECT user_id, min(ts) AS first_ts,
      |    min(CASE WHEN event_type = 'view'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS v,
      |    min(CASE WHEN event_type = 'click'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS c,
      |    min(CASE WHEN event_type = 'purchase'
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS p
      |  FROM events GROUP BY user_id),
      |st AS (
      |  SELECT CAST(year(first_ts) * 100 + month(first_ts) AS INT) AS cohort,
      |    v IS NOT NULL AS s1,
      |    v IS NOT NULL AND c IS NOT NULL AND c > v AS s2,
      |    v IS NOT NULL AND c IS NOT NULL AND c > v
      |      AND p IS NOT NULL AND p > c AS s3
      |  FROM u)
      |SELECT cohort, count(*) AS n_users,
      |  CAST(sum(CAST(s1 AS BIGINT)) AS BIGINT) AS n_view,
      |  CAST(sum(CAST(s2 AS BIGINT)) AS BIGINT) AS n_click,
      |  CAST(sum(CAST(s3 AS BIGINT)) AS BIGINT) AS n_purchase,
      |  CASE WHEN sum(CAST(s1 AS BIGINT)) > 0 THEN
      |    CAST(sum(CAST(s3 AS BIGINT)) AS DOUBLE)
      |      / CAST(sum(CAST(s1 AS BIGINT)) AS DOUBLE) END AS cvr
      |FROM st GROUP BY cohort ORDER BY cohort""".stripMargin

  // --------------------------------------------------- q53_salted_agg
  /** Two-phase (salted) aggregation — the hot-key template, proven
    * equivalent to the direct form by oracle parity. event_type has FIVE
    * values: at 100 TB a single-phase grouping on it funnels 20 TB into
    * each of five reducers. For algebraic aggs Spark's map-side partial
    * aggregation already absorbs that, but anything non-algebraic
    * (exact distinct, collect-based, median) does not combine — the
    * production answer is the explicit two-phase shape shown here:
    * phase 1 groups on (key, salt) [resp. (key, user) for the exact
    * distinct], phase 2 merges the ≤32·|keys| partials. Sums ride as
    * half-up cents longs so re-association across salts cannot move a
    * floating-point bit.
    */
  val q53SaltedAgg: Plan = (s, d) => {
    val e = t(s, d, "events")
    val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    val merged = e
      .groupBy(col("event_type"), pmod(col("event_id"), lit(32)).as("salt"))
      .agg(count(lit(1)).as("pc"), sum(cents).as("ps"))
      .groupBy(col("event_type"))
      .agg(sum(col("pc")).as("n"), sum(col("ps")).as("sum_cents"))
    val ndv = e.select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("ndv_users"))
    merged.join(ndv, Seq("event_type"))
      .select(col("event_type"), col("n"),
        (col("sum_cents") / lit(100.0)).as("sum_val"), col("ndv_users"))
      .orderBy(col("event_type"))
  }

  val q53SaltedAggSql: String =
    """SELECT event_type, count(*) AS n,
      |  sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0 AS sum_val,
      |  count(DISTINCT user_id) AS ndv_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------------- q54_attribution
  /** Last-touch attribution with a time budget: every purchase is
    * credited to the user's most recent view/click no older than one
    * hour, else "unattributed". Same physical family as q49's LOCF —
    * the carried (touch ts, touch type) pair rides ONE user-keyed
    * window over one shuffle+sort; no events⋈events self-join, which is
    * the naive attribution query's downfall at scale. The final
    * per-channel rollup is a tiny hash aggregate; revenue sums ride as
    * half-up cents longs.
    */
  val q54Attribution: Plan = (s, d) => {
    val tl = col("ts").cast("long")
    val isTouch = col("event_type").isin("view", "click")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"),
        last(when(isTouch, tl), ignoreNulls = true).over(w).as("touch_ts"),
        last(when(isTouch, col("event_type")), ignoreNulls = true).over(w)
          .as("touch_type"))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("touch_ts").isNotNull && tl - col("touch_ts") <= 3600,
          col("touch_type")).otherwise(lit("unattributed")).as("channel"),
        col("value"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        (sum(cents) / lit(100.0)).as("revenue"))
      .orderBy(col("channel"))
  }

  val q54AttributionSql: String =
    """WITH touched AS (
      |  SELECT event_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS tl,
      |    last_value(CASE WHEN event_type IN ('view', 'click')
      |      THEN CAST(floor(epoch(ts)) AS BIGINT) END IGNORE NULLS)
      |      OVER w AS touch_ts,
      |    last_value(CASE WHEN event_type IN ('view', 'click')
      |      THEN event_type END IGNORE NULLS) OVER w AS touch_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT CASE WHEN touch_ts IS NOT NULL AND tl - touch_ts <= 3600
      |    THEN touch_type ELSE 'unattributed' END AS channel,
      |  count(*) AS n_purchases,
      |  sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) / 100.0 AS revenue
      |FROM touched WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY channel""".stripMargin

  // ----------------------------------------------- q55_weighted_sample
  /** Weighted sampling without replacement — priority sampling
    * (Duffield–Lund–Thorup): each document gets priority w/u with
    * u ~ Uniform(0,1], the k highest priorities are the sample. The
    * corpus-mixing primitive (t16 sets the TARGET proportions; this
    * DRAWS the documents, longer docs proportionally more likely).
    * u derives from the portable md5-62 row hash, so the "random"
    * sample is reproducible across engines, runs, and partitionings —
    * and the only arithmetic is one IEEE division, no libm
    * transcendentals to drift. Plan: narrow scan projection +
    * TakeOrderedAndProject (per-partition top-k, then k·P merge on the
    * driver side of the shuffle) — no global sort at any scale.
    */
  val q55WeightedSample: Plan = (s, d) => {
    val h = graft.expressions.PortableHashExpressions.md5Hash62(
      col("doc_id").cast("string"))
    val u = (h.cast("double") + lit(1.0)) / lit(4611686018427387904.0)
    t(s, d, "documents")
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars").cast("double") / u).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars"),
        sround(col("priority"), 4).as("priority"))
      .orderBy(col("priority").desc, col("doc_id"))
  }

  val q55WeightedSampleSql: String =
    """WITH pri AS (
      |  SELECT doc_id, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      ((CAST(CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) &
      |          4611686018427387903 AS BIGINT) AS DOUBLE) + 1.0)
      |        / 4611686018427387904.0) AS priority
      |  FROM documents
      |  ORDER BY priority DESC, doc_id LIMIT 100)
      |SELECT doc_id, n_chars,
      |  floor(priority * 10000.0 + 0.5) / 10000.0 AS priority
      |FROM pri ORDER BY priority DESC, doc_id""".stripMargin

  // ----------------------------------------------- q56_bitmap_distinct
  /** Daily-actives rollup with EXACT distinct users via the mergeable
    * bitmap aggregate ([[graft.expressions.BitmapDistinct]]). Spark plans
    * COUNT(DISTINCT user_id) by group as Expand + a second shuffle of
    * every (group, user) pair — the dominant stage of a 100 TB DAU job.
    * The bitmap collapses that to ONE ObjectHashAggregate pass: map-side
    * partials absorb rows locally, the exchange carries one bitmap per
    * (group, partition) — bounded by the id-domain size, not the row
    * count — and merge is wordwise OR. The count is exact (one bit per
    * id), so the oracle is plain COUNT(DISTINCT): no sketch replay, and
    * any hash mismatch is a real bug, not estimate drift.
    */
  val q56BitmapDistinct: Plan = (s, d) =>
    t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(
        graft.expressions.BitmapDistinct.bitmapDistinct(col("user_id"))
          .as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"), col("day"))

  val q56BitmapDistinctSql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day,
      |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // ------------------------------------------------------- q57_skyline
  /** Pareto frontier (skyline): users not strictly dominated on
    * (total spend ↑, event count ↓) — "who gets the most value out of the
    * fewest interactions". Classic DISTRIBUTED skyline shape:
    *
    *  1. per-partition pre-filter with ZERO exchange — the points stay
    *     where the per-user agg left them (hash on user_id),
    *     sortWithinPartitions orders each partition (v DESC, n ASC) and a
    *     streaming O(1)-state filter drops every point whose running-min
    *     n is strictly smaller (strictly dominated by a same-partition
    *     predecessor — safe to drop at any scale; n-ties are KEPT,
    *     conservative). mapPartitions is deliberate here: a Window
    *     PARTITION BY spark_partition_id() plans a pointless full-data
    *     hash Exchange on the pid (verified via explain) — partition-LOCAL
    *     running state is the one shape Window can't express shuffle-free;
    *  2. global exact pass over the tiny survivor set — a strictly-
    *     higher-v running MIN (dominated_hi) and a per-v partition min
    *     (dominated_same). The merge input is the union of local
    *     skylines (≤ frontier size per partition, guarded by
    *     `graft.skyline.maxMergeRows`), never the raw point set; and the
    *     running min itself is SHARDED over the v domain with a driver-
    *     folded exclusive prefix-min (the q36/q71 two-phase prefix
    *     pattern), so no single-partition WindowExec exists in the plan.
    *
    * Money rides as integer cents so dominance compares are exact; the
    * oracle states the SEMANTICS (NOT EXISTS a dominating point) rather
    * than the staging, proving the two-stage plan computes the true
    * skyline.
    */
  val q57Skyline: Plan = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val pts = t(s, d, "events")
      .groupBy(col("user_id"))
      .agg(sumCents(col("value")).as("v"), count(lit(1)).as("n"))
    val (survivors, nSurv) = withCount(pts
      .sortWithinPartitions(col("v").desc, col("n").asc, col("user_id"))
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var mn = Long.MaxValue // min n over the preceding (higher-v) rows
        it.filter { case (_, _, n) =>
          val keep = n <= mn
          if (n < mn) mn = n
          keep
        }
      }
      .toDF("user_id", "v", "n"))
      // materialized once (withCount r18: bound-check count rides the
      // checkpoint job): the bound check below + stage 2
    // Stage 2's single-partition window is safe ONLY because its input is
    // the union of per-partition frontiers; promote that claim to a loud
    // runtime guard so a pathological (strongly anti-correlated v/n)
    // distribution fails with a named knob instead of silently funneling
    // a huge survivor set through one task.
    val maxMerge = s.conf.getOption("graft.skyline.maxMergeRows")
      .map(_.toLong).getOrElse(5000000L)
    require(nSurv <= maxMerge,
      s"q57 skyline stage-2 merge input ($nSurv rows) exceeds " +
        s"graft.skyline.maxMergeRows=$maxMerge — the local-frontier union is " +
        "pathologically large; raise the knob or add a pre-merge round")
    // Stage 2 distributed exactly like q36/q71's prefix pattern: shard
    // the v domain (shard asc = v strictly desc, v-ties co-sharded), run
    // the strictly-higher-v running MIN per shard, and fold in the
    // exclusive prefix-min of earlier (all strictly-higher-v) shards —
    // one tiny driver collect of per-shard mins, no single-partition
    // WindowExec even on a pathological frontier.
    val Row(loV: Long, hiV: Long) =
      survivors.agg(min(col("v")), max(col("v"))).head()
    val nSh = math.max(1, s.sparkContext.defaultParallelism)
    val shW = math.max(1L, (hiV - loV) / nSh + 1L)
    val sharded = survivors.withColumn("shard",
      ((lit(hiV) - col("v")) / lit(shW)).cast("int"))
    val shardMins = sharded.groupBy(col("shard")).agg(min(col("n")).as("mn"))
      // driver-bound(stat-frame): one minimum per shard (<= parallelism rows)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val shardIds = shardMins.keys.toSeq.sorted
    val prefMin: Map[Int, Long] = shardIds.zip(
      shardIds.scanLeft(Long.MaxValue)((a, i) => math.min(a, shardMins(i))).init).toMap
    val prefCol = element_at(
      map(prefMin.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*),
      col("shard"))
    val hi = Window.partitionBy(col("shard")).orderBy(col("v").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val same = Window.partitionBy(col("v"))
    sharded
      // least() skips nulls; MaxValue marks "no earlier shard" → null
      .withColumn("mn_hi", least(min(col("n")).over(hi),
        when(prefCol === lit(Long.MaxValue), lit(null)).otherwise(prefCol)))
      .withColumn("mn_same", min(col("n")).over(same))
      .where((col("mn_hi").isNull || col("mn_hi") > col("n")) &&
        col("mn_same") >= col("n"))
      .select(col("user_id"), (col("v") / lit(100.0)).as("total_value"),
        col("n").as("n_events"))
      .orderBy(col("total_value").desc, col("n_events"), col("user_id"))
  }

  val q57SkylineSql: String =
    """WITH pts AS (
      |  SELECT user_id,
      |    CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v,
      |    count(*) AS n
      |  FROM events GROUP BY user_id)
      |SELECT user_id, v / 100.0 AS total_value, n AS n_events
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.v >= p.v AND q.n <= p.n AND (q.v > p.v OR q.n < p.n))
      |ORDER BY total_value DESC, n_events, user_id""".stripMargin

  // --------------------------------------------------- q58_decay_score
  /** Time-decayed engagement score: each event contributes
    * value · 2^(−days_old) inside a 30-day horizon (half-life one day,
    * stale events exactly zero). The FLOAT DISCIPLINE is the point:
    * value rides as integer cents and the decay is a LEFT SHIFT —
    * cents << (30 − d) — summed as BIGINT, then ONE division by 2^30.
    * Integer sums are association-order-independent, so Spark's partial
    * aggregation over any partitioning lands on the same bits as the
    * oracle's sequential sum — pow()/exp() would drift in the last ulp
    * and flip rounded output (the same trick as q55's division-only
    * priorities; libm never runs).
    *
    * Plan: one tiny agg for the corpus max day (broadcast as a 1-row
    * cross join), then scan → map-side partial agg → per-user hash agg →
    * TakeOrderedAndProject top-200. No window, no second shuffle.
    */
  val q58DecayScore: Plan = (s, d) => {
    val ev = t(s, d, "events")
    val mx = ev.agg(max(to_date(col("ts"))).as("mx_day"))
    ev.crossJoin(broadcast(mx))
      .select(col("user_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"),
        datediff(col("mx_day"), to_date(col("ts"))).as("age"))
      // shiftleft's bit count is a COLUMN here (the Scala wrapper only
      // takes a literal), hence the SQL spelling; still codegen'd.
      // BOUNDED DOMAIN, GUARDED LOUDLY: the oracle sums into HUGEINT
      // while this BIGINT sum wraps silently with ANSI off, so the
      // domain is enforced, not just stated: with |cents| < 2^17
      // (value <= ~$1,310) each term is < 2^47, and the per-user sum
      // stays inside 2^63 for up to 2^16 in-horizon rows per user —
      // orders of magnitude above any real 30-day per-user event count.
      // Both bounds raise_error (BitmapDistinct's discipline: abort,
      // never silently diverge from the oracle); outside the envelope,
      // respell the decay as DOUBLE exp2 on BOTH sides of the check.
      // CaseWhen is lazy, so the in-envelope hot path pays one codegen'd
      // comparison per row/group.
      .select(col("user_id"),
        expr("CASE WHEN abs(cents) >= 131072 THEN CAST(raise_error(" +
          "concat('q58_decay_score: |cents| >= 2^17 breaks the BIGINT " +
          "shift-decay envelope (cents=', CAST(cents AS STRING), " +
          "'); respell as DOUBLE exp2')) AS BIGINT) " +
          "WHEN age <= 30 THEN shiftleft(cents, 30 - age) " +
          "ELSE 0L END").as("w"),
        expr("CASE WHEN age <= 30 THEN 1L ELSE 0L END").as("in_horizon"))
      .groupBy(col("user_id"))
      .agg(sum(col("w")).as("ws0"), sum(col("in_horizon")).as("n_in"))
      .select(col("user_id"),
        when(col("n_in") > lit(65536L),
          raise_error(concat(
            lit("q58_decay_score: > 2^16 in-horizon rows for user "),
            col("user_id").cast("string"),
            lit(" break the BIGINT sum envelope; respell as DOUBLE exp2")))
            .cast("long"))
          .otherwise(col("ws0")).as("ws"))
      .where(col("ws") > 0)
      .select(col("user_id"),
        sround(col("ws") / lit(1073741824.0) / lit(100.0), 4)
          .as("decay_score"))
      .orderBy(col("decay_score").desc, col("user_id"))
      .limit(200)
  }

  val q58DecayScoreSql: String =
    """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mx_day FROM events),
      |w AS (
      |  SELECT user_id,
      |    CASE WHEN date_diff('day', CAST(ts AS DATE), mx_day) <= 30
      |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
      |        << (30 - date_diff('day', CAST(ts AS DATE), mx_day))
      |      ELSE 0 END AS w
      |  FROM events, mx)
      |SELECT user_id,
      |  floor(sum(w) / 1073741824.0 / 100.0 * 10000.0 + 0.5) / 10000.0
      |    AS decay_score
      |FROM w GROUP BY user_id HAVING sum(w) > 0
      |ORDER BY decay_score DESC, user_id LIMIT 200""".stripMargin

  // --------------------------------------------------- q59_retention
  /** Weekly retention matrix — of the users active in week w, how many
    * were active again in week w+k (k = 1..4) — via bitmap SET ALGEBRA:
    * ONE scan builds an exact per-week user bitmap
    * ([[graft.expressions.BitmapWords]]), then every (w, w+k) cell is
    * pure in-plan array arithmetic — intersection = zip_with bitand,
    * cardinality = Σ bit_count — over the tiny per-week rows. The naive
    * formulation self-joins the fact table on user_id (a second full
    * scan plus a user-keyed shuffle of every event pair); here the fact
    * table is read once and the self-join touches ~weeks² bitmap rows.
    * Week ids are floor(epoch-day/7) integers — immune to engine
    * week-start conventions. The bitmaps are exact sets, so the oracle
    * is the plain DISTINCT self-join — hash parity proves the algebra.
    */
  val q59Retention: Plan = (s, d) => {
    import graft.expressions.BitmapDistinct.bitmapWords
    val wk = floor(datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
      / lit(7.0)).cast("long")
    val ev = t(s, d, "events")
    val wb = ev
      .select(wk.as("week"), col("user_id"))
      .groupBy(col("week"))
      .agg(bitmapWords(col("user_id"), bitmapCapacity(s, ev)).as("bm"))
      .materialize() // one fact scan; both join sides reuse it
    val pairs = wb.select(col("week"), col("bm").as("bma"))
      .join(wb.select(col("week").as("wkb"), col("bm").as("bmb")),
        col("wkb") - col("week") >= 1 && col("wkb") - col("week") <= 4)
    pairs
      .select(col("week"), (col("wkb") - col("week")).as("k"),
        expr("aggregate(bma, 0L, (acc, x) -> acc + bit_count(x))")
          .as("active"),
        expr("aggregate(zip_with(bma, bmb, (x, y) -> x & y), 0L, " +
          "(acc, x) -> acc + bit_count(x))").as("retained"))
      // cells with zero survivors drop (the oracle's user-join never
      // produces them); reporting keeps only populated cells
      .where(col("retained") > 0)
      .withColumn("rate",
        sround(col("retained").cast("double") / col("active"), 4))
      .orderBy(col("week"), col("k"))
  }

  val q59RetentionSql: String =
    """WITH wu AS (
      |  SELECT DISTINCT CAST(floor(date_diff('day', DATE '2024-01-01',
      |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week, user_id
      |  FROM events),
      |wa AS (SELECT week, count(*) AS active FROM wu GROUP BY week),
      |cells AS (
      |  SELECT a.week AS week, b.week - a.week AS k,
      |    count(*) AS retained
      |  FROM wu a JOIN wu b ON a.user_id = b.user_id
      |    AND b.week - a.week BETWEEN 1 AND 4
      |  GROUP BY 1, 2)
      |SELECT c.week, c.k, wa.active, c.retained,
      |  floor(CAST(c.retained AS DOUBLE) / wa.active * 10000.0 + 0.5)
      |    / 10000.0 AS rate
      |FROM cells c JOIN wa ON wa.week = c.week
      |ORDER BY c.week, c.k""".stripMargin

  // ----------------------------------------------------- q60_profile
  /** Data-profiling summary — per-column row count, fill count, exact
    * NDV, lexicographic min/max — in ONE scan of the table: stack()
    * unpivots the profiled columns to (col_name, val) rows (a single
    * Expand, q43's machinery), then one grouped aggregation computes
    * every statistic. The naive profiler runs N separate per-column
    * queries — N scans of a 100 TB table; this is one scan + one
    * Expand×N in-memory, the standard production shape. Values profile
    * through their canonical STRING form (dates pre-cast to DATE) so
    * min/max are engine-portable; the oracle is the N-fold UNION of
    * per-column aggregates — DuckDB re-scans per column, Spark doesn't,
    * results must agree anyway.
    */
  val q60Profile: Plan = (s, d) => {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val stacked = t(s, d, "orders").select(expr(
      s"stack(${cols.size + 1}, " +
        cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ") +
        ", 'o_orderdate', CAST(CAST(o_orderdate AS DATE) AS STRING)" +
        ") AS (col_name, val)"))
    stacked.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("val")).as("n_filled"),
        countDistinct(col("val")).as("n_distinct"),
        min(col("val")).as("min_val"),
        max(col("val")).as("max_val"))
      .orderBy(col("col_name"))
  }

  val q60ProfileSql: String = {
    def one(c: String, v: String): String =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count($v) AS n_filled, count(DISTINCT $v) AS n_distinct,
         |  min(CAST($v AS VARCHAR)) AS min_val,
         |  max(CAST($v AS VARCHAR)) AS max_val FROM orders""".stripMargin
    Seq(
      one("o_orderkey", "o_orderkey"),
      one("o_custkey", "o_custkey"),
      one("o_orderstatus", "o_orderstatus"),
      one("o_orderpriority", "o_orderpriority"),
      one("o_orderdate", "CAST(o_orderdate AS DATE)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  // -------------------------------------------------- q61_table_diff
  /** Snapshot reconciliation (table diff): classify every key across two
    * snapshots as added / removed / changed / same by comparing ROW
    * HASHES under a full-outer join on the key — the anti-entropy /
    * CDC-audit primitive. One hash per row means the compare shuffles
    * (key, 16-byte hash) pairs, never row payloads — at 100 TB the diff
    * costs two narrow scans plus one key shuffle regardless of row
    * width. Snapshots derive deterministically from `orders` (old drops
    * keys ≡0 mod 97, new drops ≡0 mod 83 and reprices keys ≡0 mod 89),
    * so the oracle replays them exactly. Money enters the hash as
    * integer CENTS — hashing the double's string form would couple the
    * result to each engine's float formatter.
    */
  val q61TableDiff: Plan = (s, d) => {
    val o = t(s, d, "orders")
    val cents = floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
    def rowHash(price: org.apache.spark.sql.Column) =
      md5(concat_ws("|", col("o_orderkey").cast("string"),
        col("o_custkey").cast("string"), col("o_orderstatus"),
        price.cast("string")))
    val snapA = o.where(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .select(col("o_orderkey").as("k"), rowHash(cents).as("ha"))
    val snapB = o.where(pmod(col("o_orderkey"), lit(83)) =!= 0)
      .select(col("o_orderkey").as("k"),
        rowHash(when(pmod(col("o_orderkey"), lit(89)) === 0, cents + lit(150L))
          .otherwise(cents)).as("hb"))
    snapA.join(snapB, Seq("k"), "full_outer")
      .select(col("k"),
        when(col("ha").isNull, lit("added"))
          .when(col("hb").isNull, lit("removed"))
          .when(col("ha") =!= col("hb"), lit("changed"))
          .otherwise(lit("same")).as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("first_key"),
        max(col("k")).as("last_key"))
      .orderBy(col("status"))
  }

  val q61TableDiffSql: String =
    """WITH a AS (
      |  SELECT o_orderkey AS k,
      |    md5(CAST(o_orderkey AS VARCHAR) || '|' ||
      |      CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
      |      CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
      |        AS VARCHAR)) AS ha
      |  FROM orders WHERE o_orderkey % 97 <> 0),
      |b AS (
      |  SELECT o_orderkey AS k,
      |    md5(CAST(o_orderkey AS VARCHAR) || '|' ||
      |      CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
      |      CAST(CASE WHEN o_orderkey % 89 = 0
      |        THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) + 150
      |        ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END
      |        AS VARCHAR)) AS hb
      |  FROM orders WHERE o_orderkey % 83 <> 0),
      |j AS (
      |  SELECT coalesce(a.k, b.k) AS k,
      |    CASE WHEN a.ha IS NULL THEN 'added'
      |      WHEN b.hb IS NULL THEN 'removed'
      |      WHEN a.ha <> b.hb THEN 'changed'
      |      ELSE 'same' END AS status
      |  FROM a FULL OUTER JOIN b ON a.k = b.k)
      |SELECT status, count(*) AS n, min(k) AS first_key,
      |  max(k) AS last_key
      |FROM j GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------- q62_debounce
  /** Event debouncing: drop repeats of the same (user, event_type)
    * arriving within a 300-second cooldown of the LAST KEPT event — the
    * double-click / retry-storm cleaner every event pipeline runs at
    * ingest. Note the semantics: the cooldown anchors on the last KEPT
    * event (a steady stream of sub-cooldown repeats collapses to one
    * event per window), which a plain lag() cannot express — lag sees
    * the previous RAW event. The kept-anchor recurrence runs inside one
    * per-key session walk: events sort within their (user, type)
    * partition group and a streaming pass carries the last kept
    * timestamp — the same zero-exchange mapPartitions shape as q57's
    * local skyline, keyed by a repartition on the group columns (ONE
    * exchange total). The oracle replays the recurrence with a
    * recursive CTE over per-key row numbers.
    *
    * Output is the per-key keep accounting (kept/dropped), ordered.
    */
  val q62Debounce: Plan = (s, d) => {
    import s.implicits._
    val ev = t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
    // The walk AGGREGATES inline at key boundaries (keys are contiguous
    // after the in-partition sort), so the plan is exactly one hash
    // exchange + the output sort — a post-walk groupBy would re-shuffle
    // the same keys because mapPartitions hides the child partitioning
    // from the aggregate's requirement check (plan-asserted in the spec).
    ev.repartition(col("user_id"), col("event_type"))
      .sortWithinPartitions(col("user_id"), col("event_type"), col("tus"),
        col("event_id"))
      .as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
        var key: (Long, String) = null
        var lastKept = Long.MinValue
        var n = 0L
        var kept = 0L
        def flush(): Unit =
          if (key != null && n > kept) out += ((key._1, key._2, n, kept))
        it.foreach { case (u, et, tus, _) =>
          if (key == null || key != ((u, et))) {
            flush(); key = (u, et); lastKept = Long.MinValue; n = 0L; kept = 0L
          }
          n += 1
          if (lastKept == Long.MinValue || tus - lastKept >= 300000000L) {
            lastKept = tus; kept += 1
          }
        }
        flush()
        out.iterator
      }
      .toDF("user_id", "event_type", "n_events", "n_kept")
      .withColumn("n_dropped", col("n_events") - col("n_kept"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** DuckDB twin: the kept-anchor recurrence as a recursive CTE over
    * per-key row numbers (keep row 1; keep row n iff it clears the last
    * kept timestamp by the cooldown).
    */
  val q62DebounceSql: String =
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS tus,
      |    row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events),
      |walk AS (
      |  SELECT user_id, event_type, tus, rn, TRUE AS keep, tus AS last_kept
      |  FROM ev WHERE rn = 1
      |  UNION ALL
      |  SELECT e.user_id, e.event_type, e.tus, e.rn,
      |    e.tus - w.last_kept >= 300000000 AS keep,
      |    CASE WHEN e.tus - w.last_kept >= 300000000 THEN e.tus
      |      ELSE w.last_kept END AS last_kept
      |  FROM ev e JOIN walk w ON e.user_id = w.user_id
      |    AND e.event_type = w.event_type AND e.rn = w.rn + 1)
      |SELECT user_id, event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped
      |FROM walk GROUP BY 1, 2 HAVING count(*) - sum(CASE WHEN keep THEN 1
      |  ELSE 0 END) > 0
      |ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------------------- q63_transitions
  /** First-order Markov transition matrix over per-user event sequences:
    * P(next event type | current) — the behavioral-model primitive
    * behind next-action prediction and anomaly scoring (funnels fix the
    * stage order; this learns the full matrix). ONE user-keyed exchange
    * drives a lead() window; the (from, to) hash agg and the per-from
    * totals are tiny re-aggregations. Probabilities divide
    * identically-spelled integer counts.
    */
  val q63Transitions: Plan = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = t(s, d, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .where(col("to_type").isNotNull)
    val cells = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy(col("from_type")).agg(sum(col("n")).as("nt"))
    cells.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        sround(col("n").cast("double") / col("nt"), 4).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q63TransitionsSql: String =
    """WITH steps AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |cells AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS nt
      |  FROM cells GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  floor(CAST(c.n AS DOUBLE) / nt * 10000.0 + 0.5) / 10000.0 AS p
      |FROM cells c JOIN t USING (from_type)
      |ORDER BY c.from_type, c.to_type""".stripMargin

  // ------------------------------------------------- q64_rank_family
  /** The complete SQL ranking-function surface in ONE window pass:
    * rank, dense_rank, percent_rank, cume_dist, ntile(10), and
    * nth_value (3rd-highest, full-partition frame) over customers per
    * market segment. One Exchange + one Sort serves every function (all
    * share the partition/order; the nth_value full frame rides the same
    * sorted run). Ordering is integer cents with a unique id tie-break,
    * so the rank-derived doubles are identically-spelled integer
    * divisions — bit-stable across engines.
    */
  val q64RankFamily: Plan = (s, d) => {
    // the q31 reshape with the whole rank family: a 5-value segment key
    // over the full customer table is 1/5th of the corpus per window
    // task, so the base rank is keyedRank's sharded row_number. The
    // ORDER BY tuple (bal desc, custkey) is unique, so rank() ==
    // dense_rank() == row_number() and the distribution ranks are pure
    // (rn, n) arithmetic; nth_value(bal, 3) is the rank-3 row's bal,
    // broadcast-joined back per segment (null for <3-row segments, as
    // the unbounded-frame window yields).
    val cents = floor(col("c_acctbal") * lit(100.0) + lit(0.5)).cast("long")
    val base = t(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"), cents.as("bal"))
    val counts = base.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val ranked = KeyedRank
      .keyedRank(base, "c_mktsegment", "bal", "c_custkey", "rn",
        descending = true)
      .join(broadcast(counts), "c_mktsegment")
    val thirds = ranked.filter(col("rn") === 3)
      .select(col("c_mktsegment"), col("bal").as("third_bal"))
    val rnL = col("rn").cast("long")
    val q = floor(col("n") / lit(10)).cast("long")
    val r = col("n") % lit(10)
    val ntile10 = when(rnL <= r * (q + lit(1)),
        floor((rnL - 1) / (q + lit(1))) + lit(1))
      .otherwise(lit(1) + r + floor((rnL - lit(1) - r * (q + lit(1))) / q))
      .cast("int")
    ranked.join(broadcast(thirds), Seq("c_mktsegment"), "left")
      .select(col("c_custkey"), col("c_mktsegment"), col("bal"),
        col("rn").as("rnk"),
        col("rn").as("drnk"),
        sround(when(col("n") === 1, lit(0.0))
          .otherwise((rnL - 1).cast("double") / (col("n") - 1)), 6).as("prank"),
        sround(rnL.cast("double") / col("n"), 6).as("cdist"),
        ntile10.as("decile"),
        col("third_bal"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  val q64RankFamilySql: String =
    """WITH c AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal
      |  FROM customer)
      |SELECT c_custkey, c_mktsegment, bal,
      |  CAST(rank() OVER w AS INTEGER) AS rnk,
      |  CAST(dense_rank() OVER w AS INTEGER) AS drnk,
      |  floor(percent_rank() OVER w * 1000000.0 + 0.5) / 1000000.0 AS prank,
      |  floor(cume_dist() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cdist,
      |  CAST(ntile(10) OVER w AS INTEGER) AS decile,
      |  nth_value(bal, 3) OVER (PARTITION BY c_mktsegment
      |    ORDER BY bal DESC, c_custkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |    AS third_bal
      |FROM c
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY bal DESC, c_custkey)
      |ORDER BY c_mktsegment, rnk""".stripMargin

  // --------------------------------------------------------- q65_twap
  /** Time-weighted average value per user (TWAP): each event's value
    * holds until the next event, so the average weights values by their
    * holding DURATION, not their count — the financial/monitoring
    * primitive a plain avg() gets wrong whenever sampling is uneven.
    * One user-keyed exchange drives a lead() window; weights are integer
    * SECONDS (floor division of the micros gap — bounded so
    * cents × seconds stays far inside BIGINT) and the weighted sum is
    * an integer sum — association-order-free — with ONE double division
    * at the end (q58's discipline).
    */
  val q65Twap: Plan = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    t(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("tus"), col("event_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .withColumn("dur_s",
        expr("(lead(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id)" +
          " - tus) DIV 1000000"))
      .where(col("dur_s").isNotNull)
      // BOUNDED DOMAIN, GUARDED LOUDLY (q58's discipline): the oracle
      // sums HUGEINT while this BIGINT sum wraps silently with ANSI off.
      // |cents| < 2^17 and dur_s < 2^25 (~1 year) bound each term under
      // 2^42, leaving 2^21 segments per user before 2^63 — far beyond
      // any per-user stream. Each bound raise_errors instead of letting
      // the sum wrap; lazy CaseWhen keeps the hot path at one codegen'd
      // comparison per row/group.
      .withColumn("cents",
        when(abs(col("cents")) >= lit(131072L) ||
            col("dur_s") >= lit(33554432L),
          raise_error(concat(
            lit("q65_twap: segment outside the BIGINT envelope " +
              "(|cents| < 2^17, dur_s < 2^25 required; cents="),
            col("cents").cast("string"), lit(", dur_s="),
            col("dur_s").cast("string"),
            lit("); respell the weighted sum as DOUBLE"))).cast("long"))
          .otherwise(col("cents")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("cents") * col("dur_s")).as("wsum"),
        sum(col("dur_s")).as("tdur"))
      .where(col("tdur") > 0)
      .select(col("user_id"), col("n_segs"),
        sround(
          when(col("n_segs") >= lit(2097152L),
            raise_error(concat(
              lit("q65_twap: > 2^21 segments for user "),
              col("user_id").cast("string"),
              lit(" break the BIGINT sum envelope; respell as DOUBLE")))
              .cast("long"))
            .otherwise(col("wsum")).cast("double") / col("tdur") / lit(100.0),
          4).as("twap"))
      .orderBy(col("user_id"))
  }

  val q65TwapSql: String =
    """WITH seg AS (
      |  SELECT user_id,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
      |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts)) // 1000000
      |      AS dur_s
      |  FROM events),
      |agg AS (
      |  SELECT user_id, count(*) AS n_segs,
      |    CAST(sum(cents * dur_s) AS BIGINT) AS wsum,
      |    CAST(sum(dur_s) AS BIGINT) AS tdur
      |  FROM seg WHERE dur_s IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n_segs,
      |  floor(CAST(wsum AS DOUBLE) / tdur / 100.0 * 10000.0 + 0.5) / 10000.0
      |    AS twap
      |FROM agg WHERE tdur > 0 ORDER BY user_id""".stripMargin

  // ---------------------------------------------- q66_weighted_median
  /** Exact WEIGHTED median — q65's robust-statistics counterpart: the
    * duration-weighted p50 of each event type's value stream (the value
    * covering the midpoint of total holding time, lower-median
    * convention), which outlier spikes cannot move the way they move the
    * weighted MEAN. Shape: the q65 lead() gap builds (value, duration)
    * segments in one user-keyed exchange, then a (type, cents) hash agg
    * COLLAPSES the stream to its distinct-value histogram BEFORE any
    * window runs — the cumulative-weight window walks rows bounded by
    * the value domain, not the event count, so the per-type partitioning
    * (few partitions) is over a tiny frame by construction. Integers
    * end-to-end; the only division is the final cents→currency spell.
    */
  val q66WeightedMedian: Plan = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val seg = t(s, d, "events")
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .withColumn("dur_s",
        expr("(lead(tus, 1) OVER (PARTITION BY user_id ORDER BY tus, event_id)" +
          " - tus) DIV 1000000"))
      .where(col("dur_s").isNotNull && col("dur_s") > 0)
    val hist = seg.groupBy(col("event_type"), col("cents"))
      .agg(sum(col("dur_s")).as("w"), count(lit(1)).as("n"))
    val wcum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wall = Window.partitionBy(col("event_type"))
    hist
      .withColumn("cum", sum(col("w")).over(wcum))
      .withColumn("tot", sum(col("w")).over(wall))
      .withColumn("ns", sum(col("n")).over(wall))
      .where(col("cum") * lit(2) >= col("tot"))
      .groupBy(col("event_type"))
      .agg(max(col("ns")).as("n_segs"),
        max(col("tot")).as("total_dur_s"),
        (min(col("cents")).cast("double") / lit(100.0)).as("wmedian"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: identical histogram collapse, cumulative-weight walk,
    * and lower-median pick (min value with 2*cum >= total).
    */
  val q66WeightedMedianSql: String =
    """WITH seg AS (
      |  SELECT event_type,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
      |    (lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts)) // 1000000
      |      AS dur_s
      |  FROM events),
      |hist AS (
      |  SELECT event_type, cents, CAST(sum(dur_s) AS BIGINT) AS w,
      |    count(*) AS n
      |  FROM seg WHERE dur_s IS NOT NULL AND dur_s > 0 GROUP BY 1, 2),
      |ranked AS (
      |  SELECT event_type, cents,
      |    CAST(sum(w) OVER (PARTITION BY event_type ORDER BY cents
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
      |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS ns
      |  FROM hist)
      |SELECT event_type, max(ns) AS n_segs, max(tot) AS total_dur_s,
      |  CAST(min(cents) AS DOUBLE) / 100.0 AS wmedian
      |FROM ranked WHERE cum * 2 >= tot
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------ q67_pattern_match
  /** Sequence-pattern matching with an EXCLUSION — the MATCH_RECOGNIZE /
    * CEP core that plain funnels (q52) cannot express: per user, every
    * purchase whose most recent preceding click is within one hour AND
    * has no error event anywhere between them. The per-row state (last
    * click's timestamp and the error count AS OF that click) is carried
    * by last(..., ignoreNulls) over the running frame, so "no error
    * between" is one integer equality — cum_err(purchase) ==
    * cum_err(last click) — instead of a self-join or an exists probe.
    * ONE user-keyed exchange + one sorted run serves all four window
    * columns; everything after is a per-user agg on the same key.
    */
  val q67PatternMatch: Plan = (s, d) => patternMatches(t(s, d, "events"))

  /** q67 over an arbitrary events frame (user_id, ts, event_id,
    * event_type) — the spec plants a click→error→purchase sequence (rare
    * in the synthetic stream) to prove the exclusion rejects it.
    */
  def patternMatches(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = events
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), col("event_type"))
      .withColumn("cum_err",
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).over(w))
      .withColumn("click_tus",
        last(when(col("event_type") === "click", col("tus")),
          ignoreNulls = true).over(w))
      .withColumn("click_err",
        last(when(col("event_type") === "click", col("cum_err")),
          ignoreNulls = true).over(w))
    ev.where(col("event_type") === "purchase" &&
        col("click_tus").isNotNull &&
        col("tus") - col("click_tus") <= 3600000000L &&
        col("cum_err") === col("click_err"))
      .withColumn("gap_s", expr("(tus - click_tus) DIV 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("tus")).as("first_match_tus"),
        min(col("gap_s")).as("min_gap_s"),
        max(col("gap_s")).as("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** DuckDB twin: the same running error count and ignore-nulls state
    * carry (two CTE layers — the carried cum_err must exist before the
    * second window reads it), identical match predicate and rollup.
    */
  val q67PatternMatchSql: String =
    """WITH e0 AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
      |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_err
      |  FROM events),
      |e1 AS (
      |  SELECT *,
      |    last_value(CASE WHEN event_type = 'click' THEN tus END
      |      IGNORE NULLS) OVER w AS click_tus,
      |    last_value(CASE WHEN event_type = 'click' THEN cum_err END
      |      IGNORE NULLS) OVER w AS click_err
      |  FROM e0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |m AS (
      |  SELECT user_id, tus, (tus - click_tus) // 1000000 AS gap_s
      |  FROM e1
      |  WHERE event_type = 'purchase' AND click_tus IS NOT NULL
      |    AND tus - click_tus <= 3600000000 AND cum_err = click_err)
      |SELECT user_id, count(*) AS n_matches,
      |  CAST(min(tus) AS BIGINT) AS first_match_tus,
      |  CAST(min(gap_s) AS BIGINT) AS min_gap_s,
      |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------------- q68_rolling_distinct
  /** Trailing-window distinct — DAU / WAU / stickiness, the metric
    * COUNT(DISTINCT) cannot slide because distinct is not subtractable:
    * a naive trailing-7-day distinct re-scans seven days of raw events
    * PER OUTPUT DAY. Bitmap algebra makes it one fact scan: per-day user
    * bitmaps (q56's mergeable aggregate in its WORDS form), then the
    * trailing week is a bit_or fold over day pairs — days × 7 × words
    * rows of pure in-plan arithmetic, never the raw events again. DAU
    * pops out of each day's own bitmap; stickiness = DAU/WAU divides
    * identically-spelled integers.
    */
  val q68RollingDistinct: Plan = (s, d) => {
    import graft.expressions.BitmapDistinct.bitmapWords
    val ev = t(s, d, "events")
    val db = ev
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("day"))
      .agg(bitmapWords(col("user_id"), bitmapCapacity(s, ev)).as("bm"),
        count(lit(1)).as("n_events"))
      .materialize() // one fact scan; both join sides + DAU reuse it
    val dau = db.select(col("day"), col("n_events"),
      expr("aggregate(bm, 0L, (acc, x) -> acc + bit_count(x))").as("dau"))
    val wau = db.select(col("day"), posexplode(col("bm")).as(Seq("pos", "w")))
      .as("a")
      .join(db.select(col("day").as("day2"), posexplode(col("bm"))
        .as(Seq("pos2", "w2"))).as("b"),
        col("pos") === col("pos2") &&
          datediff(col("day"), col("day2")).between(0, 6))
      .groupBy(col("day"), col("pos"))
      .agg(expr("bit_or(w2)").as("ow"))
      .groupBy(col("day"))
      .agg(sum(expr("bit_count(ow)")).cast("long").as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("n_events"), col("dau"), col("wau"),
        sround(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy(col("day"))
  }

  /** DuckDB twin states the SEMANTICS — a plain trailing-window
    * count(DISTINCT) re-join — proving the bitmap algebra computes the
    * exact rolling distinct, not an estimate.
    */
  val q68RollingDistinctSql: String =
    """WITH days AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
      |    CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM events GROUP BY 1),
      |wau AS (
      |  SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
      |  FROM days d JOIN events e
      |    ON CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
      |  GROUP BY d.day)
      |SELECT d.day, d.n_events, d.dau, w.wau,
      |  floor(CAST(d.dau AS DOUBLE) / w.wau * 10000.0 + 0.5) / 10000.0
      |    AS stickiness
      |FROM days d JOIN wau w USING (day) ORDER BY d.day""".stripMargin

  // ------------------------------------------------------------ q69_ohlc
  /** OHLC bars (open-high-low-close + volume) per (event_type, day) —
    * the time-series downsampling primitive behind every financial /
    * metrics dashboard. Open and close are POSITIONAL (first/last value
    * by event time), which plain aggregates can't see: two row_number
    * flags over the same (type, day) key — forward and reverse order —
    * mark the boundary rows, and the groupBy lifts them out with
    * max(when(rn=1, ...)). ONE hash Exchange on the bucket key serves
    * both window sorts AND the aggregation; money is integer cents until
    * the final /100 spell.
    */
  val q69Ohlc: Plan = (s, d) => {
    // open/close are argmin/argmax by (tus, event_id) — executed as
    // min/max over a (tus, event_id, cents) struct, NOT rank windows
    // partitioned by (event_type, day): a hot trading day would route
    // its whole event stream through one WindowExec task, while the
    // struct extrema partial-aggregate map-side (the g8/d8 reshape;
    // (tus, event_id) is unique so cents rides along deterministically)
    t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        unix_micros(col("ts")).as("tus"), col("event_id"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        (min(struct(col("tus"), col("event_id"), col("cents")))
          .getField("cents").cast("double") / lit(100.0)).as("open"),
        (max(col("cents")).cast("double") / lit(100.0)).as("high"),
        (min(col("cents")).cast("double") / lit(100.0)).as("low"),
        (max(struct(col("tus"), col("event_id"), col("cents")))
          .getField("cents").cast("double") / lit(100.0)).as("close"),
        (sum(col("cents")).cast("double") / lit(100.0)).as("volume"))
      .orderBy(col("event_type"), col("day"))
  }

  val q69OhlcSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, epoch_us(ts) AS tus,
      |    event_id,
      |    CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      |  FROM events),
      |flagged AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY tus, event_id) AS rn,
      |    row_number() OVER (PARTITION BY event_type, day
      |      ORDER BY tus DESC, event_id DESC) AS rnd
      |  FROM ev)
      |SELECT event_type, day, count(*) AS n_events,
      |  CAST(max(CASE WHEN rn = 1 THEN cents END) AS DOUBLE) / 100.0 AS open,
      |  CAST(max(cents) AS DOUBLE) / 100.0 AS high,
      |  CAST(min(cents) AS DOUBLE) / 100.0 AS low,
      |  CAST(max(CASE WHEN rnd = 1 THEN cents END) AS DOUBLE) / 100.0 AS close,
      |  CAST(sum(cents) AS DOUBLE) / 100.0 AS volume
      |FROM flagged GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin

  // --------------------------------------------------------- q70_ab_test
  /** A/B experiment readout with a Welch t-statistic — the decision
    * primitive experimentation platforms run at fleet scale. Assignment
    * is deterministic (user parity); per (metric, arm) the ONLY
    * aggregates are exact integer moments — n, Σcents, Σcents² — so the
    * partial aggregation re-associates with zero drift and every derived
    * float (means, Welch variance, the t itself) is ONE identically-
    * spelled expression over exact integers: bit-stable across engines
    * with no sorted fold needed. Σcents² stays far inside BIGINT
    * (≤ 10^8 per row). The arms pivot into one row per metric via
    * conditional aggregation on the same key — no join.
    */
  val q70AbTest: Plan = (s, d) => {
    val m = t(s, d, "events")
      .select(col("event_type"),
        (col("user_id") % 2 === 0).as("in_a"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("in_a"), col("cents")).otherwise(0L)).as("s1_a"),
        sum(when(col("in_a"), col("cents") * col("cents")).otherwise(0L))
          .as("s2_a"),
        sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(!col("in_a"), col("cents")).otherwise(0L)).as("s1_b"),
        sum(when(!col("in_a"), col("cents") * col("cents")).otherwise(0L))
          .as("s2_b"))
    import org.apache.spark.sql.Column
    def mean(s1: Column, n: Column) = s1.cast("double") / n / lit(100.0)
    def varc(s2: Column, s1: Column, n: Column) =
      (s2.cast("double") - s1.cast("double") * s1 / n) / (n - lit(1))
    val va = varc(col("s2_a"), col("s1_a"), col("n_a"))
    val vb = varc(col("s2_b"), col("s1_b"), col("n_b"))
    // Welch needs n>1 per arm (the /(n-1) sample variance); a 0/1-sized
    // arm yields NaN/Inf with engine-dependent spelling, so degenerate
    // cells are excluded IDENTICALLY here and in the oracle.
    m.where(col("n_a") > 1 && col("n_b") > 1)
      .select(col("event_type"), col("n_a"), col("n_b"),
        sround(mean(col("s1_a"), col("n_a")), 4).as("mean_a"),
        sround(mean(col("s1_b"), col("n_b")), 4).as("mean_b"),
        sround((mean(col("s1_a"), col("n_a")) - mean(col("s1_b"), col("n_b")))
          / sqrt(va / col("n_a") + vb / col("n_b")) * lit(100.0), 4)
          .as("t_stat"))
      .orderBy(col("event_type"))
  }

  /** DuckDB twin: the identical integer moments and the identical
    * float spellings (the t's numerator means divide by 100, the
    * cents-scale variances cancel after the *100 factor).
    */
  val q70AbTestSql: String =
    """WITH m AS (
      |  SELECT event_type,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN user_id % 2 = 0
      |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS s1_a,
      |    CAST(sum(CASE WHEN user_id % 2 = 0
      |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
      |         * CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS s2_a,
      |    CAST(sum(CASE WHEN user_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN user_id % 2 != 0
      |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS s1_b,
      |    CAST(sum(CASE WHEN user_id % 2 != 0
      |      THEN CAST(floor(value * 100.0 + 0.5) AS BIGINT)
      |         * CAST(floor(value * 100.0 + 0.5) AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS s2_b
      |  FROM events GROUP BY 1)
      |SELECT event_type, n_a, n_b,
      |  floor(CAST(s1_a AS DOUBLE) / n_a / 100.0 * 10000.0 + 0.5) / 10000.0
      |    AS mean_a,
      |  floor(CAST(s1_b AS DOUBLE) / n_b / 100.0 * 10000.0 + 0.5) / 10000.0
      |    AS mean_b,
      |  floor((CAST(s1_a AS DOUBLE) / n_a / 100.0
      |       - CAST(s1_b AS DOUBLE) / n_b / 100.0)
      |    / sqrt((CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * s1_a / n_a)
      |        / (n_a - 1) / n_a
      |      + (CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * s1_b / n_b)
      |        / (n_b - 1) / n_b) * 100.0 * 10000.0 + 0.5) / 10000.0 AS t_stat
      |FROM m WHERE n_a > 1 AND n_b > 1 ORDER BY event_type""".stripMargin

  // --------------------------------------------------------- q71_pareto
  /** Contribution / ABC analysis — "which parts make up 80% of revenue"
    * (the inventory-classification primitive): per-part revenue totals,
    * ranked, with running cumulative share and an A/B/C class at the
    * 80% / 95% cut points. The fact scan collapses to ONE hash agg on
    * the part key before any window runs, so the ranking window's input
    * is bounded by the CATALOG size, not the fact count (q66's histogram
    * discipline — at 100 TB the lineitems are billions but the parts are
    * still a catalog). The running cum-sum itself is DISTRIBUTED via the
    * q36 two-phase prefix sum: the cents domain is cut into equal-width
    * shards (shard asc = cents strictly desc, ties co-sharded), each
    * shard running-sums in parallel, and the per-shard totals (one long
    * each) are exclusive-prefix-summed on the driver and broadcast back
    * as offsets — so even a 100M-part catalog never funnels through a
    * single-partition WindowExec. Money is integer cents throughout; the
    * class predicates are integer cross-multiplications (cum*100 vs
    * tot*80), so no float enters any boundary decision, and the shares
    * divide identically-spelled exact integers.
    */
  val q71Pareto: Plan = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val totals = t(s, d, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sumCents(col("l_extendedprice")).as("cents"))
      .materialize() // read thrice: domain probe, shard totals, ranked pass
    val Row(loC: Long, hiC: Long) =
      totals.agg(min(col("cents")), max(col("cents"))).head()
    val nShards = math.max(1, s.sparkContext.defaultParallelism)
    val width = math.max(1L, (hiC - loC) / nShards + 1L)
    // shard 0 holds the HIGHEST cents; monotone float division keeps
    // shard non-decreasing as cents decreases, equal cents co-sharded
    val sharded = totals.withColumn("shard",
      ((lit(hiC) - col("cents")) / lit(width)).cast("int"))
    val byShard = sharded.groupBy(col("shard")).agg(sum(col("cents")).as("t"))
      // driver-bound(stat-frame): one total per shard (<= parallelism rows)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ids = byShard.keys.toSeq.sorted
    val offsets = ids.zip(ids.scanLeft(0L)((a, i) => a + byShard(i)).init).toMap
    val grand = byShard.values.sum
    val offsetCol = coalesce(element_at(
      map(offsets.toSeq.sortBy(_._1).flatMap { case (k, v) =>
        Seq(lit(k), lit(v)) }: _*),
      col("shard")), lit(0L))
    val wrun = Window.partitionBy(col("shard"))
      .orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("cum", sum(col("cents")).over(wrun) + offsetCol)
      .withColumn("tot", lit(grand))
      .select(col("l_partkey"),
        (col("cents").cast("double") / lit(100.0)).as("revenue"),
        sround(col("cents").cast("double") / col("tot"), 6).as("share"),
        sround(col("cum").cast("double") / col("tot"), 6).as("cum_share"),
        when(col("cum") * lit(100L) <= col("tot") * lit(80L), "A")
          .when(col("cum") * lit(100L) <= col("tot") * lit(95L), "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("cum_share"), col("l_partkey"))
  }

  val q71ParetoSql: String =
    """WITH totals AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM lineitem GROUP BY 1),
      |ranked AS (
      |  SELECT l_partkey, cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(sum(cents) OVER () AS BIGINT) AS tot
      |  FROM totals)
      |SELECT l_partkey,
      |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
      |  floor(CAST(cents AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0
      |    AS share,
      |  floor(CAST(cum AS DOUBLE) / tot * 1000000.0 + 0.5) / 1000000.0
      |    AS cum_share,
      |  CASE WHEN cum * 100 <= tot * 80 THEN 'A'
      |       WHEN cum * 100 <= tot * 95 THEN 'B'
      |       ELSE 'C' END AS abc_class
      |FROM ranked
      |ORDER BY cum_share, l_partkey""".stripMargin

  // ------------------------------------------- q72_incremental_models
  /** Incremental model maintenance, oracle-witnessed — the
    * [[graft.uber.Incremental]] lifecycle (reference replaces this with a
    * daily FULL rebuild: `dbt_project.yml:36-37` `+materialized: table`,
    * `Dagster_Files/definitions.py:18` `@daily`) driven through the
    * driver gate on the TPC-H-ish fact:
    *
    *   1. initial build from a STALE fact (May double-counted, plus
    *      spurious July rows) → month-partitioned per-(month, priority)
    *      partials on disk;
    *   2. one increment restates months {5, 7} from the true Jan–June
    *      fact via [[graft.uber.Incremental.overwriteMonths]] — month 5
    *      is replaced, month 7 is restated to EMPTY (the case dynamic
    *      partition overwrite cannot express);
    *   3. the returned model is the grain-sized FOLD over the partials.
    *
    * The oracle is the full model on the true fact — hash parity holds
    * ONLY if the restatement actually replaced May and cleared July, so
    * this row witnesses the partial/overwrite/fold machinery end to end.
    * Scale: step 2 scans only the restated months' fact partitions and
    * the fold reads grain-sized partials (months × priorities), never
    * the fact — the delta-cost shape IncrementalSpec proves for the six
    * uber models.
    */
  val q72IncrementalModels: Plan = (s, d) => {
    import graft.uber.Incremental
    val dir = java.nio.file.Files.createTempDirectory("graft_q72").toString
    val pdir = s"$dir/partials"
    val fact = t(s, d, "orders").filter(month(col("o_orderdate")) <= 6)
    def partials(f: DataFrame): DataFrame = f
      .groupBy(month(col("o_orderdate")).as("month_num"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sumCents(col("o_totalprice")).as("cents"))
    // stale initial state: May counted twice + July rows that the true
    // Jan–June horizon does not contain
    val may = t(s, d, "orders").filter(month(col("o_orderdate")) === 5)
    val july = t(s, d, "orders").filter(month(col("o_orderdate")) === 7)
    partials(fact.unionAll(may).unionAll(july))
      .write.mode("overwrite").partitionBy("month_num").parquet(pdir)
    // increment: months {5, 7} restated from the true fact (pruned scan)
    val months = Seq(Some(5), Some(7))
    Incremental.overwriteMonths(
      partials(fact.filter(month(col("o_orderdate")).isin(5, 7))),
      pdir, months)
    // fold: cross-month combine at the model grain
    s.read.parquet(pdir)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).cast("long").as("n_orders"),
        (sum(col("cents")) / lit(100.0)).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q72IncrementalModelsSql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |    AS BIGINT) / 100.0 AS total_price
      |FROM orders WHERE month(o_orderdate) <= 6
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------- q73_bucketed_join
  /** Co-located bucketed join — the pre-shuffle pattern for the fact⋈fact
    * joins that dominate at 100 TB. Both sides are written ONCE as
    * parquet tables bucketed AND sorted by the join key (8 buckets here;
    * a cluster sizes buckets to ~1 GB), after which every future join on
    * that key is exchange-free: Spark's bucketing contract hash-splits
    * rows by key into fixed files per bucket, so SortMergeJoin reads
    * matching buckets pairwise with no shuffle and no re-sort. The
    * RelationalSpec plan test asserts the join subtree has ZERO Exchange
    * nodes; the amortized-read shape is what a warehouse runs daily while
    * the one-time write replaces the per-query shuffle of every repeated
    * join on the key.
    *
    * The query itself is the revenue-by-segment rollup (reference join
    * shape, `dbt_Models`'s fact⋈dim family): orders⋈customer on custkey
    * over the bucketed tables, exact cents arithmetic.
    */
  /** Source-data freshness: the bucketed copy's tag hashes the source
    * parquet's max mtime alongside (dir, table), so a dataset dir
    * regenerated during a live session gets a NEW table instead of
    * silently serving the stale buckets.
    */
  private def sourceMtime(d: String, table: String): Long = {
    val p = java.nio.file.Paths.get(d, s"$table.parquet")
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.mapToLong(f =>
        java.nio.file.Files.getLastModifiedTime(f).toMillis).max.orElse(0L)
      finally s.close()
    } else if (java.nio.file.Files.exists(p))
      java.nio.file.Files.getLastModifiedTime(p).toMillis
    else 0L
  }

  private val bucketedLock = new Object

  private def bucketedTable(s: SparkSession, d: String, table: String,
      key: String, buckets: Int): DataFrame = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest((d + "#" + table + "#" + sourceMtime(d, table)).getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val name = s"graft_bkt_${table}_$tag"
    val path = s"${sys.props("java.io.tmpdir")}/graft_bucketed/$tag/$table"
    // one-time create is synchronized: two concurrent first calls
    // (parallel suites / bench threads) must not race the overwrite
    // write to the same tmp path
    bucketedLock.synchronized {
      if (!s.catalog.tableExists(name)) {
        Tables.load(s, d, table)
          .write.mode("overwrite").format("parquet")
          .bucketBy(buckets, key).sortBy(key)
          .option("path", path)
          .saveAsTable(name)
      }
    }
    s.table(name)
  }

  private[graft] def q73JoinOnly(s: SparkSession, d: String): DataFrame = {
    val o = bucketedTable(s, d, "orders", "o_custkey", 8)
    val c = bucketedTable(s, d, "customer", "c_custkey", 8)
    // merge hint: the broadcast path would be legal at test scale but the
    // operator exists to certify the exchange-free SMJ the cluster runs
    o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
  }

  val q73BucketedJoin: Plan = (s, d) =>
    q73JoinOnly(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        (sumCents(col("o_totalprice")) / lit(100.0)).as("revenue"))
      .orderBy("c_mktsegment")

  val q73BucketedJoinSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
      |    AS BIGINT) / 100.0 AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ------------------------------------------------------------ registry
  val registry: Seq[Query] = Seq(
    Query("q1_agg", q1Agg, q1AggSql),
    Query("q2_count_nonnull", q2CountNonnull, q2CountNonnullSql),
    Query("q3_month_filter", q3MonthFilter, q3MonthFilterSql),
    Query("q4_filter_in", q4FilterIn, q4FilterInSql),
    Query("q5_join_broadcast", q5JoinBroadcast, q5JoinBroadcastSql),
    Query("q6_join_3way", q6Join3way, q6Join3waySql),
    Query("q7_topk_global", q7TopkGlobal, q7TopkGlobalSql),
    Query("q8_window_rank", q8WindowRank, q8WindowRankSql),
    Query("q9_window_avg_case", q9WindowAvgCase, q9WindowAvgCaseSql),
    Query("q10_share_month", q10ShareMonth, q10ShareMonthSql),
    Query("q11_cte_chain", q11CteChain, q11CteChainSql),
    Query("q12_date_agg", q12DateAgg, q12DateAggSql),
    Query("q13_ingest_cdc", q13IngestCdc, q13IngestCdcSql),
    Query("q14_set_ops", q14SetOps, q14SetOpsSql),
    Query("q15_events_hourly", q15EventsHourly, q15EventsHourlySql),
    Query("q16_rollup", q16Rollup, q16RollupSql),
    Query("q17_semi_join", q17SemiJoin, q17SemiJoinSql),
    Query("q18_anti_join", q18AntiJoin, q18AntiJoinSql),
    Query("q19_except", q19Except, q19ExceptSql),
    Query("q20_sessionize", q20Sessionize, q20SessionizeSql),
    Query("q21_frame_spec", q21FrameSpec, q21FrameSpecSql),
    Query("q22_approx_sketch", q22ApproxSketch, q22ApproxSketchSql),
    Query("q24_range_join", q24RangeJoin, q24RangeJoinSql),
    Query("q25_pivot", q25Pivot, q25PivotSql),
    Query("q26_distinct_quantile", q26DistinctQuantile, q26DistinctQuantileSql),
    Query("q27_full_outer", q27FullOuter, q27FullOuterSql),
    Query("q28_json_extract", q28JsonExtract, q28JsonExtractSql),
    Query("q29_stratified_sample", q29StratifiedSample, q29StratifiedSampleSql),
    Query("q30_kmv_distinct", q30KmvDistinct, q30KmvDistinctSql),
    Query("q31_rank_distributions", q31RankDistributions, q31RankDistributionsSql),
    Query("q32_cube", q32Cube, q32CubeSql),
    Query("q33_collect_sorted", q33CollectSorted, q33CollectSortedSql),
    Query("q34_value_windows", q34ValueWindows, q34ValueWindowsSql),
    Query("q35_gap_fill", q35GapFill, q35GapFillSql),
    Query("q36_sweep_concurrency", q36SweepConcurrency, q36SweepConcurrencySql),
    Query("q37_lateral_topk", q37LateralTopk, q37LateralTopkSql),
    Query("q38_grouping_sets", q38GroupingSets, q38GroupingSetsSql),
    Query("q39_time_range_window", q39TimeRangeWindow, q39TimeRangeWindowSql),
    Query("q40_fuzzy_join", q40FuzzyJoin, q40FuzzyJoinSql),
    Query("q41_scd2", q41Scd2, q41Scd2Sql),
    Query("q42_merge_upsert", q42MergeUpsert, q42MergeUpsertSql),
    Query("q43_unpivot", q43Unpivot, q43UnpivotSql),
    Query("q44_hll_distinct", q44HllDistinct, q44HllDistinctSql),
    Query("q45_argmax", q45Argmax, q45ArgmaxSql),
    Query("q46_rcd", q46Rcd, q46RcdSql),
    Query("q47_setkmv", q47Setkmv, q47SetkmvSql),
    Query("q48_ivm", q48Ivm, q48IvmSql),
    Query("q49_locf", q49Locf, q49LocfSql),
    Query("q50_histogram", q50Histogram, q50HistogramSql),
    Query("q51_interp_linear", q51InterpLinear, q51InterpLinearSql),
    Query("q52_funnel", q52Funnel, q52FunnelSql),
    Query("q53_salted_agg", q53SaltedAgg, q53SaltedAggSql),
    Query("q54_attribution", q54Attribution, q54AttributionSql),
    Query("q55_weighted_sample", q55WeightedSample, q55WeightedSampleSql),
    Query("q56_bitmap_distinct", q56BitmapDistinct, q56BitmapDistinctSql),
    Query("q57_skyline", q57Skyline, q57SkylineSql),
    Query("q58_decay_score", q58DecayScore, q58DecayScoreSql),
    Query("q59_retention", q59Retention, q59RetentionSql),
    Query("q60_profile", q60Profile, q60ProfileSql),
    Query("q61_table_diff", q61TableDiff, q61TableDiffSql),
    Query("q62_debounce", q62Debounce, q62DebounceSql),
    Query("q63_transitions", q63Transitions, q63TransitionsSql),
    Query("q64_rank_family", q64RankFamily, q64RankFamilySql),
    Query("q65_twap", q65Twap, q65TwapSql),
    Query("q66_weighted_median", q66WeightedMedian, q66WeightedMedianSql),
    Query("q67_pattern_match", q67PatternMatch, q67PatternMatchSql),
    Query("q68_rolling_distinct", q68RollingDistinct, q68RollingDistinctSql),
    Query("q69_ohlc", q69Ohlc, q69OhlcSql),
    Query("q70_ab_test", q70AbTest, q70AbTestSql),
    Query("q71_pareto", q71Pareto, q71ParetoSql),
    Query("q72_incremental_models", q72IncrementalModels, q72IncrementalModelsSql),
    Query("q73_bucketed_join", q73BucketedJoin, q73BucketedJoinSql))

  val queries: Map[String, Plan] = Query.plans(registry)
}
