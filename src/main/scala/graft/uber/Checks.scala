package graft.uber

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-quality checks — the `dbt test` half of `dbt build` that the
  * reference declares but never populates (its `tests/` dir is an empty
  * placeholder and `sources.yml` carries no `tests:` blocks; dbt reports
  * "0 sources [tests]" — reference `Images/dbt_run_success.png`). Here
  * they are first-class pipeline stages: each check is an aggregate over
  * the table (no collect of failing rows on the hot path — at 100 TB the
  * check must be as scan-shaped as the model it guards).
  *
  * Check kinds mirror dbt's built-in four: not_null, unique,
  * accepted_values, relationships (FK into a parent table). Each check's
  * failing rows are defined once, as a `Column` predicate below; the
  * single-table functions count one predicate, and [[sourceChecks]]
  * evaluates the whole contract in two aggregates built from the same
  * predicates (at pipeline sizes each Spark action costs more in
  * scheduling than in scanning, so the contract runs as few as it can).
  */
object Checks {

  final case class CheckResult(table: String, check: String, column: String,
      failures: Long) {
    def passed: Boolean = failures == 0L
  }

  private val Tag = "__table"
  private val Key = "__key"
  private val Rows = "__rows"

  /** not_null: the row's key is NULL. */
  private def nullKey(key: Column): Column = key.isNull

  /** unique: a key group (the NULL key is a group too) holds more than one
    * row; applied to the `Rows` count of [[keyGroups]].
    */
  private def duplicated(rows: Column): Column = rows > 1

  /** accepted_values: a non-null value outside `values`. */
  private def notAccepted(c: Column, values: Seq[String]): Column =
    !c.isin(values: _*) && c.isNotNull

  /** relationships: a non-null FK with no equal parent key — left-anti
    * semantics, so a duplicated parent key neither multiplies nor hides a
    * row and a NULL parent key matches nothing. Name capture: `fk` must
    * name a column the parent does not have, and the parent key is
    * aliased to `<fk>_parent`. The analyzer resolves a name the subquery
    * lacks from the parent's own columns before it looks outside, so a
    * shared name (the fact's and the zone dim's `locationid`) binds the
    * `outer()` reference to the parent's column, leaves the subquery
    * uncorrelated, and reads every dangling FK as resolved.
    */
  private def dangling(fk: String, parent: DataFrame, parentCol: String): Column = {
    val key = s"${fk}_parent"
    col(fk).isNotNull &&
      !parent.select(col(parentCol).as(key)).where(col(key) === col(fk).outer()).exists()
  }

  /** meta_envelope_clean over [[Ingest.typedAirbyteMeta]]: a missing
    * envelope (NULL column) fails outright — it is strictly worse than a
    * malformed one; a malformed envelope shows up as a NULL `errors` field
    * after the typed parse (from_json is PERMISSIVE: bad JSON → null
    * fields, not a null struct); a sync problem as a non-empty one.
    */
  private val dirtyEnvelope: Column =
    col("_airbyte_meta").isNull ||
      col("_airbyte_meta_typed.errors").isNull ||
      size(col("_airbyte_meta_typed.errors")) > 0

  /** The number of rows a failing-row predicate holds for. */
  private def failures(failing: Column): Column = count(when(failing, lit(1)))

  private def countFailures(df: DataFrame, failing: Column): Long =
    df.agg(failures(failing)).head().getLong(0)

  /** Rows per distinct value of `keys`, in column `Rows`. */
  private def keyGroups(df: DataFrame, keys: Column*): DataFrame =
    df.groupBy(keys: _*).agg(count(lit(1)).as(Rows))

  def notNull(df: DataFrame, table: String, column: String): CheckResult =
    CheckResult(table, "not_null", column, countFailures(df, nullKey(col(column))))

  def unique(df: DataFrame, table: String, column: String): CheckResult =
    CheckResult(table, "unique", column,
      countFailures(keyGroups(df, col(column)), duplicated(col(Rows))))

  def acceptedValues(df: DataFrame, table: String, column: String,
      values: Seq[String]): CheckResult =
    CheckResult(table, "accepted_values", column,
      countFailures(df, notAccepted(col(column), values)))

  /** FK check: child values that do not resolve in the parent (evaluated
    * as an existence join — the parent side broadcasts when it is a dim).
    */
  def relationship(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String, table: String): CheckResult =
    CheckResult(table, "relationships", childCol,
      countFailures(child.select(col(childCol).as("__fk")),
        dangling("__fk", parent, parentCol)))

  /** Meta-envelope contract: every row CARRIES an `_airbyte_meta` that
    * parses against the declared schema AND reports no sync errors.
    */
  def metaEnvelopeClean(df: DataFrame, table: String): CheckResult =
    CheckResult(table, "meta_envelope_clean", "_airbyte_meta",
      countFailures(Ingest.typedAirbyteMeta(df), dirtyEnvelope))

  /** The reference schema's implicit contract (DDL PKs + FKs,
    * `Diary of Making.md:64-68`), expressed as the checks dbt never wrote,
    * in two aggregates:
    *   - both dims' keys, tagged by table and cast to string (exact for
    *     the integer and string keys here), in ONE grouped aggregate:
    *     per table, not_null is the row count of the NULL key group and
    *     unique the number of key groups with more than one row;
    *   - the fact's not_null, both relationships (existence joins against
    *     the broadcast dims) and meta_envelope_clean as four counts of ONE
    *     aggregate.
    * Results keep the per-check order: each dim's not_null and unique,
    * then the fact's four.
    */
  def sourceChecks(spark: SparkSession): Seq[CheckResult] = {
    val dims = Seq(
      ("taxi_zone_lookup", "locationid"),
      ("base_num_and_name", "base_num"))
    val tagged = dims.map { case (table, column) =>
      spark.table(table).select(lit(table).as(Tag), col(column).cast("string").as(Key))
    }.reduce(_ unionByName _)
    // driver-bound(stat-frame): grouped by table tag, one row per dim at most
    val perDim = keyGroups(tagged, col(Tag), col(Key)).groupBy(col(Tag)).agg(
      sum(when(nullKey(col(Key)), col(Rows)).otherwise(0L)),
      failures(duplicated(col(Rows))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val dimResults = dims.flatMap { case (table, column) =>
      val (nulls, dups) = perDim.getOrElse(table, (0L, 0L))
      Seq(CheckResult(table, "not_null", column, nulls),
        CheckResult(table, "unique", column, dups))
    }

    val fact = "raw_data_janjune_15"
    val counts = Ingest.typedAirbyteMeta(spark.table(fact))
      .withColumn("__fk_base", col("dispatching_base_num"))
      .withColumn("__fk_zone", col("locationid"))
      .agg(
        failures(nullKey(col("dispatching_base_num"))),
        failures(dangling("__fk_base", spark.table("base_num_and_name"), "base_num")),
        failures(dangling("__fk_zone", spark.table("taxi_zone_lookup"), "locationid")),
        failures(dirtyEnvelope))
      .head()
    dimResults ++ Seq(
      CheckResult(fact, "not_null", "dispatching_base_num", counts.getLong(0)),
      CheckResult(fact, "relationships", "dispatching_base_num", counts.getLong(1)),
      CheckResult(fact, "relationships", "locationid", counts.getLong(2)),
      CheckResult(fact, "meta_envelope_clean", "_airbyte_meta", counts.getLong(3)))
  }
}
