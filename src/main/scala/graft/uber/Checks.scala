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
  * evaluates the whole contract as one action over one grouped aggregate
  * with no join, reading every check off the same key groups (at pipeline
  * sizes each Spark job costs more in scheduling than in scanning, so the
  * contract runs as few as it can).
  */
object Checks {

  final case class CheckResult(table: String, check: String, column: String,
      failures: Long) {
    def passed: Boolean = failures == 0L
  }

  private val Rows = "__rows"
  private val BaseKey = "__base_key"
  private val ZoneKey = "__zone_key"
  private val BaseParent = "__base_parent"
  private val ZoneParent = "__zone_parent"
  private val Child = "__child"
  private val Dirty = "__dirty"
  private val ByBase = "__by_base"

  /** not_null: the row's key is NULL. */
  private def nullKey(key: Column): Column = key.isNull

  /** unique: a key group (the NULL key is a group too) holds more than one
    * row; applied to the `Rows` count of [[keyGroups]], or to a
    * [[sourceChecks]] group's parent count.
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
    * in one Spark action with no join and no broadcast. The three tables
    * share one row shape (base key, zone key, base parent, zone parent,
    * child, dirty): a dim row is a parent row of its own key, with the
    * other key NULL; each fact row, scanned once, is a child row of both
    * its dispatching base and its zone, and carries its dirty-envelope
    * flag. ONE grouped aggregate, over the grouping sets (base key) and
    * (zone key), gives each row to a group per relation — one group per
    * (relation, key), with its parent, child and dirty counts. The two
    * keys keep their own typed columns, so a base number spelled like a
    * zone id never meets it. One global aggregate reads the 8 counts off
    * the groups, per relation:
    *   - dim not_null: the parent rows of the NULL key group;
    *   - dim unique: the key groups with more than one parent row (the
    *     NULL key group counts too);
    *   - fact not_null: the child rows of the base relation's NULL key;
    *   - relationships: the child rows of a non-null key group with no
    *     parent row — left-anti semantics, so a duplicated parent key
    *     neither multiplies nor hides a row, and a NULL parent key matches
    *     nothing;
    *   - meta_envelope_clean: the base relation's summed dirty flag.
    * Results keep the per-check order: each dim's not_null and unique,
    * then the fact's four.
    */
  def sourceChecks(spark: SparkSession): Seq[CheckResult] = {
    val zone = "taxi_zone_lookup"; val base = "base_num_and_name"
    val fact = "raw_data_janjune_15"
    def row(baseKey: Column, zoneKey: Column, baseParent: Long, zoneParent: Long,
        child: Long, dirty: Column): Seq[Column] =
      Seq(baseKey.as(BaseKey), zoneKey.as(ZoneKey), lit(baseParent).as(BaseParent),
        lit(zoneParent).as(ZoneParent), lit(child).as(Child), dirty.as(Dirty))
    val rows = Seq(
      spark.table(zone).select(row(lit(null), col("locationid"), 0L, 1L, 0L, lit(0L)): _*),
      spark.table(base).select(row(col("base_num"), lit(null), 1L, 0L, 0L, lit(0L)): _*),
      Ingest.typedAirbyteMeta(spark.table(fact)).select(row(col("dispatching_base_num"),
        col("locationid"), 0L, 0L, 1L, when(dirtyEnvelope, 1L).otherwise(0L)): _*))
      .reduce(_ unionByName _)
    // the (base key) set aggregates the zone key away
    val groups = rows
      .groupingSets(Seq(Seq(col(BaseKey)), Seq(col(ZoneKey))), col(BaseKey), col(ZoneKey))
      .agg((grouping(col(ZoneKey)) === 1).as(ByBase),
        Seq(BaseParent, ZoneParent, Child, Dirty).map(c => sum(c).as(c)): _*)
    val inBase = col(ByBase); val inZone = !col(ByBase)
    def rowsWhere(groupsWhere: Column, rows: String): Column =
      coalesce(sum(when(groupsWhere, col(rows))), lit(0L))
    // a key column is non-null only in its own relation's groups
    def orphanRows(key: String, parent: String): Column =
      rowsWhere(col(key).isNotNull && col(parent) === 0L, Child)
    val counts = groups.agg(
      rowsWhere(inZone && nullKey(col(ZoneKey)), ZoneParent),
      failures(inZone && duplicated(col(ZoneParent))),
      rowsWhere(inBase && nullKey(col(BaseKey)), BaseParent),
      failures(inBase && duplicated(col(BaseParent))),
      rowsWhere(inBase && nullKey(col(BaseKey)), Child),
      orphanRows(BaseKey, BaseParent),
      orphanRows(ZoneKey, ZoneParent),
      rowsWhere(inBase, Dirty)).head()
    Seq(
      (zone, "not_null", "locationid"), (zone, "unique", "locationid"),
      (base, "not_null", "base_num"), (base, "unique", "base_num"),
      (fact, "not_null", "dispatching_base_num"),
      (fact, "relationships", "dispatching_base_num"),
      (fact, "relationships", "locationid"),
      (fact, "meta_envelope_clean", "_airbyte_meta")).zipWithIndex.map {
      case ((table, check, column), i) => CheckResult(table, check, column, counts.getLong(i))
    }
  }
}
