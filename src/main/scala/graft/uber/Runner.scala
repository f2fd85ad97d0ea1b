package graft.uber

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftSession
import graft.sources.DurableRecord

/** Orchestration layer (SURVEY §2.10): dependency-ordered materialization of
  * ingest → models, the Spark equivalent of the reference's Dagster
  * `all_assets` job (reference `Dagster_Files/definitions.py:11-21`) +
  * `dbt build` (reference `Dagster_Files/dbt.py:9`).
  *
  * The reference's four process boundaries (Dagster→Airbyte→Postgres→GCS→
  * BigQuery) collapse into one driver: ingest writes the source tables,
  * transform materializes the six models as parquet tables in
  * [[Incremental]]'s layout (the reference materializes `table`, rebuilt
  * per run — `dbt_project.yml:36-37`), so later increments apply to the
  * same directory. [[Scheduler]] runs it on the reference's `@daily`
  * ScheduleDefinition.
  */
object Runner {

  /** One model in its SQL form (the Catalyst SQL path), as the
    * reference's dbt runs it.
    */
  def runModel(spark: SparkSession, m: Models.Model): DataFrame = spark.sql(m.sql)

  /** Full pipeline: ingest CSVs, run the source checks, then
    * [[Incremental.fullBuild]] into `outDir` (two fact scans), the layout
    * [[runIncrement]] applies increments to: unter_grun is partitioned by
    * `month_num` and `partials/` holds the shared daily partial, so read
    * models back with [[Incremental.readModel]]. A failed check throws,
    * naming the failing checks, before any model is written. Returns row
    * counts per model (the reference's manual `SELECT COUNT(*)` check),
    * observed on each write rather than read back.
    */
  def runAll(
      spark: SparkSession,
      csvDir: String,
      warehouseDir: String,
      outDir: String): Map[String, Long] = {
    Ingest.ingestAll(spark, csvDir, warehouseDir)
    val failed = runChecks(spark).filterNot(_.passed)
    if (failed.nonEmpty)
      throw new IllegalStateException("source checks failed, no model written: " +
        failed.map(r => s"${r.table}.${r.column} ${r.check} (${r.failures})").mkString(", "))
    Incremental.fullBuild(spark, outDir)
  }

  /** The `dbt test` half of `dbt build`: source-contract checks after
    * ingest, before transform — the 8 checks of [[Checks.sourceChecks]],
    * one grouped aggregate and one action (2 Spark jobs). Returns all
    * results; [[runAll]] aborts on any failure.
    */
  def runChecks(spark: SparkSession): Seq[Checks.CheckResult] =
    Checks.sourceChecks(spark)

  /** One daily-delta run: land the increment's fact partitions (dynamic
    * overwrite) and absorb them into every model through the shared daily
    * partial — scan(delta) + fold(grain) instead of runAll's full rebuild.
    * The landing write reports the months it restated, so the CSV is
    * parsed once; a single-month tick is 10 Spark jobs (the breakdown is
    * in [[Incremental]]). Requires a prior [[runAll]] or
    * Incremental.fullBuild of `outDir` (applyIncrement refuses otherwise).
    * Returns the restated months.
    */
  def runIncrement(
      spark: SparkSession,
      incCsvPath: String,
      warehouseDir: String,
      outDir: String): Seq[Option[Int]] = {
    val months = Ingest.ingestFactIncrement(spark, incCsvPath, warehouseDir)
    Incremental.applyIncrement(spark, outDir, months)
    months
  }

  /** Drop-folder increment processing — the scheduler-facing shape of the
    * Airbyte-sync-then-rebuild loop: each tick, any NEW `*.csv` under
    * `incDir` (by name, lexicographic = arrival order for timestamped
    * drops) is applied via [[runIncrement]]. The processed names are a
    * [[DurableRecord]] at `stateFile`, the whole set published after each
    * increment lands: a crash mid-file replays that file next tick (both
    * halves are idempotent re-overwrites). Returns the files applied.
    */
  def processNewIncrements(
      spark: SparkSession,
      incDir: String,
      warehouseDir: String,
      outDir: String,
      stateFile: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val state = new Path(stateFile)
    var done: Set[String] = DurableRecord.read(conf, state,
      s"rewrite it as the applied file names, one a line, and a " +
        s"${DurableRecord.Terminator} line").fold(Set.empty[String])(_.toSet)
    val dir = Paths.get(incDir)
    val fresh =
      if (!Files.isDirectory(dir)) Seq.empty[String]
      else Files.list(dir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".csv") && !done.contains(n))
        .toSeq.sorted
    fresh.foreach { n =>
      runIncrement(spark, s"$incDir/$n", warehouseDir, outDir)
      done += n
      DurableRecord.publish(conf, state, done.toSeq.sorted)
    }
    fresh
  }

  /** CLI: Runner <csvDir> <warehouseDir> <outDir> */
  def main(args: Array[String]): Unit = {
    val Array(csvDir, warehouseDir, outDir) = args
    val spark = GraftSession.local("uber-pipeline")
    try runAll(spark, csvDir, warehouseDir, outDir).toSeq.sortBy(_._1)
      .foreach { case (n, c) => println(s"$n: $c rows") }
    finally spark.stop()
  }
}
