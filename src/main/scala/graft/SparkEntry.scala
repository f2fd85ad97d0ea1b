package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, Graph, Relational, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import graft.pipeline.CorpusPipeline
import graft.plans.Asof

/** The operator query contract (SURVEY.md §7): the query registry — one entry
  * per implemented operator from SURVEY.md §2 plus the LLM-pipeline
  * extensions (text analysis, dedup, similarity search, graph, multimodal
  * plumbing, corpus pipelines).
  *
  * Each query is registered once, as a [[Query]] in its family's
  * `registry`. [[registry]] concatenates the families; [[queries]] and
  * [[oracleSql]] are by-name views derived from it. Every query has a
  * DuckDB twin: the sketch operators (MinHash, SimHash, winnowing, KMV,
  * sign-LSH, IVF) run on engine-portable md5-62 hashes or replayable
  * arithmetic, so even they hash-check instead of falling back to
  * rows-only.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q9 is the reference's richest shape (join + group + window-avg + no-ELSE
    * CASE + arithmetic + multi-key sort).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.q9WindowAvgCase(spark, "/root/testdata/sf0.001")

  /** Every registered query, in registration order: the families in the
    * order below, each by query number. Bench times the queries in this
    * order, and Verify and JobProfile run them in it; `q1_agg`
    * comes first and is Bench's untimed warmup. A name registered twice
    * fails initialisation here, naming it — a by-name map would silently
    * keep only one of the two.
    */
  val registry: Seq[Query] = {
    val all = Relational.registry ++ TextAnalysis.registry ++
      Dedup.registry ++ Similarity.registry ++ Graph.registry ++
      Multimodal.registry ++ CorpusPipeline.registry ++ Asof.registry
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty,
      s"query registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  /** name → plan, derived from [[registry]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.plans(registry)

  /** name → DuckDB twin, derived from [[registry]]: ANSI SQL that DuckDB
    * runs on the same parquet tables; keys equal [[queries]]'s.
    */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
