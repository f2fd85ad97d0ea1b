package graft.uber

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** EL layer: CSV → typed, provenance-stamped tables — the batch equivalent
  * of the reference's Postgres → Airbyte CDC → BigQuery path (reference
  * `Diary of Making.md:84-88, 148-152`; S1-S3 in SURVEY §2.1).
  *
  * Scale design:
  *  - The fact table is written partitioned by pickup month
  *    (`pickup_month=1..6` directories). The reference full-scans 217.8 MiB
  *    for EVERY model including the May-only one (BASELINE.md); partition
  *    pruning makes the May query read 1/6th. At 100 TB this is the
  *    difference between a 17 TB scan and a 100 TB scan per query.
  *  - Ingest is a narrow pipeline (read → project → write): parallelism =
  *    input splits, no shuffle (`repartition` only to control output file
  *    count, disabled at fixture scale).
  *
  * Streaming seam (reference TO-DO `Diary of Making.md:383-386`): everything
  * downstream consumes the registered tables; a Structured Streaming writer
  * that appends into the same partitioned layout (see
  * graft.streaming.EventsStream for the pattern) drops in without touching
  * the transform layer.
  */
object Ingest {

  /** Typed CSV read with declared (never inferred) schema — reference DDL
    * semantics, `\copy ... CSV HEADER` equivalent.
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(path)

  /** Stamp Airbyte-style provenance columns (S3): random raw id + extract
    * time, empty error envelope, null CDC markers (batch load = no WAL info).
    */
  def withAirbyteMeta(df: DataFrame): DataFrame = df
    .withColumn("_airbyte_raw_id", expr("uuid()"))
    .withColumn("_airbyte_extracted_at",
      current_timestamp().cast("timestamp_ntz"))
    .withColumn("_airbyte_meta", lit("""{"errors":[]}"""))
    .withColumn("_ab_cdc_lsn", lit(null).cast("string"))
    .withColumn("_ab_cdc_deleted_at", lit(null).cast("timestamp_ntz"))
    .withColumn("_ab_cdc_updated_at", lit(null).cast("timestamp_ntz"))

  /** Declared schema of the Airbyte meta envelope. BigQuery stores
    * `_airbyte_meta` as a native JSON column (reference
    * `Images/bq_raw_data_janjune_15.png`); Spark's analog is a typed
    * struct. The wire column stays a JSON string (what a connector lands);
    * this is the one declared parse every consumer shares.
    */
  val airbyteMetaSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("errors",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType), nullable = true)))

  /** Typed view over the meta envelope: `_airbyte_meta_typed.errors` is a
    * real array<string> (codegen'd from_json, parsed once per row).
    * Malformed envelopes parse to NULL — surfaced by
    * Checks.metaEnvelopeClean rather than silently dropped.
    */
  def typedAirbyteMeta(df: DataFrame): DataFrame =
    df.withColumn("_airbyte_meta_typed",
      from_json(col("_airbyte_meta"), airbyteMetaSchema))

  /** Ingest all three sources from `csvDir` into parquet tables under
    * `warehouseDir`, registering each as a temp view through the source
    * registry name. Idempotent overwrite per run (the reference rebuilds
    * every model table per run too).
    */
  def ingestAll(spark: SparkSession, csvDir: String, warehouseDir: String): Unit =
    Schemas.sources.foreach { case (name, _) =>
      ingestTable(spark, name, s"$csvDir/$name.csv", warehouseDir)
    }

  /** Incremental fact reload — dbt's `insert_overwrite` strategy, which
    * the reference lacks (it rebuilds every table per run): the increment
    * CSV carries revised rows for SOME months, and dynamic partition
    * overwrite replaces exactly the `pickup_month` partitions present in
    * the increment, leaving all others untouched. At 100 TB a daily run
    * rewrites one day's partitions, not the table.
    *
    * Returns the months it restated, observed on the write's own pass (one
    * job, one CSV parse): ascending, `None` first for null-dated rows, the
    * same list [[Incremental.affectedMonths]] gives for the same file.
    * `collect_set` drops nulls, so a second metric counts the null months.
    */
  def ingestFactIncrement(
      spark: SparkSession,
      csvPath: String,
      warehouseDir: String): Seq[Option[Int]] = {
    val name = "raw_data_janjune_15"
    val schema = Schemas.sources.toMap.apply(name)
    val path = s"$warehouseDir/$name"
    val landed = withPickupMonth(withAirbyteMeta(readCsv(spark, csvPath, schema)))
    val restated = Observation()
    landed.observe(restated,
        collect_set(col("pickup_month")).as("months"),
        count_if(col("pickup_month").isNull).as("null_months"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("pickup_month").parquet(path)
    register(spark, name, path, landed.schema)
    val m = restated.get
    val months = m("months").asInstanceOf[scala.collection.Seq[Int]].sorted.map(Some(_))
    (if (m("null_months").asInstanceOf[Long] > 0) None +: months else months).toSeq
  }

  /** Ingest one source and register it; returns the registered DataFrame. */
  def ingestTable(
      spark: SparkSession,
      name: String,
      csvPath: String,
      warehouseDir: String): DataFrame = {
    val schema = Schemas.sources.toMap.apply(name)
    writeAndRegister(spark, name,
      withAirbyteMeta(readCsv(spark, csvPath, schema)), warehouseDir)
  }

  /** JDBC read aligned to the declared ingest schema — the live-relational
    * seam. The reference's actual source is a running Postgres consumed
    * over logical replication (`wal_level = logical`, slot `airbyte_slot`
    * — reference `Diary of Making.md:101-127`); this is the batch-connector
    * equivalent: `spark.read.format("jdbc")` against any JDBC database,
    * cast to the same declared schema the CSV path uses so downstream is
    * transport-agnostic (drivers report SMALLINT as short and TIMESTAMP as
    * session-zoned; the cast normalizes both).
    *
    * Scale: pass partitionColumn/lowerBound/upperBound/numPartitions in
    * `options` to split the fact read into Spark's standard parallel JDBC
    * range queries; dims read single-partition (catalog-sized).
    */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      schema: StructType,
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = options.foldLeft(
      spark.read.format("jdbc").option("url", url).option("dbtable", table)) {
      case (r, (k, v)) => r.option(k, v)
    }
    // as(name, Metadata.empty) drops the driver-stamped field metadata
    // (jdbcClientType etc.) so the landed schema is byte-identical to the
    // CSV path's — transport must not leak into the table contract
    reader.load().select(schema.fields.map(f =>
      col(f.name).cast(f.dataType)
        .as(f.name, org.apache.spark.sql.types.Metadata.empty)): _*)
  }

  /** JDBC twin of [[ingestTable]]: same provenance stamping, same
    * partitioned layout, same registration — `ingestTableJdbc(url)` and
    * `ingestTable(csv)` produce identical tables up to the random
    * provenance values (UberSpec proves it against embedded Derby).
    */
  def ingestTableJdbc(
      spark: SparkSession,
      name: String,
      url: String,
      warehouseDir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val schema = Schemas.sources.toMap.apply(name)
    writeAndRegister(spark, name,
      withAirbyteMeta(readJdbc(spark, url, name, schema, options)), warehouseDir)
  }

  /** Shared landing step for every transport: month-partitioned parquet for
    * the fact table, plain parquet for dims, temp-view registration through
    * the source registry.
    */
  private def writeAndRegister(
      spark: SparkSession,
      name: String,
      enriched: DataFrame,
      warehouseDir: String): DataFrame = {
    val path = s"$warehouseDir/$name"
    val isFact = name == "raw_data_janjune_15"
    val landed = if (isFact) withPickupMonth(enriched) else enriched
    val writer = landed.write.mode("overwrite")
    (if (isFact) writer.partitionBy("pickup_month") else writer).parquet(path)
    register(spark, name, path, landed.schema)
  }

  private def withPickupMonth(fact: DataFrame): DataFrame =
    fact.withColumn("pickup_month", month(col("pickup_date")))

  /** Register a table this object just wrote, read back with the schema
    * its writer held: no schema-inference job over the files.
    */
  private def register(
      spark: SparkSession, name: String, path: String, schema: StructType): DataFrame = {
    val table = spark.read.schema(schema).parquet(path)
    table.createOrReplaceTempView(SourceRegistry.resolve("airbyte_uber_data", name))
    table
  }
}
