package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator query: its name, its Spark plan over a table
  * directory, and its DuckDB twin — ANSI SQL over the same parquet tables
  * that the oracle check hash-compares against the plan's result. Shaped
  * like [[graft.uber.Models.Model]]: each family object declares one
  * `registry: Seq[Query]`, and every by-name view (`SparkEntry.queries`,
  * `SparkEntry.oracleSql`, a family's `queries`) is derived from it.
  */
final case class Query(name: String, plan: Query.Plan, oracleSql: String)

object Query {

  /** A query plan: (session, table directory) → result. */
  type Plan = (SparkSession, String) => DataFrame

  /** name → plan over `registry`. */
  def plans(registry: Seq[Query]): Map[String, Plan] =
    registry.map(q => q.name -> q.plan).toMap
}
