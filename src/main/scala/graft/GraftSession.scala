package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession configuration for the engine.
  *
  * Design notes (100 TB posture):
  *  - `spark.sql.shuffle.partitions` defaults to the core count; on a
  *    real cluster AQE coalesces/re-splits post-shuffle partitions anyway
  *    (`spark.sql.adaptive.enabled=true`), so the static number only seeds the
  *    initial shuffle. Skew joins are handled by AQE's skew-join rewrite.
  *  - ANSI mode is OFF: the reference semantics (BigQuery models never divide
  *    by zero; DuckDB oracle returns NULL on x/0) are null-propagating, and a
  *    hard error mid-pipeline on 100 TB is operationally worse than a NULL
  *    that downstream quality checks catch.
  *  - Session time zone pinned to UTC: the reference fact column is
  *    `TIMESTAMP WITHOUT TIME ZONE` (see SURVEY.md §7.4); UTC everywhere makes
  *    `month()`/`to_date()` stable and matches the DuckDB oracle's naive
  *    timestamps.
  *  - Parquet timestamps written as TIMESTAMP_MICROS so any reader (DuckDB,
  *    Arrow, Hive) sees identical instants without INT96 legacy handling.
  */
object GraftSession {

  /** Apply engine defaults to an arbitrary builder (used by Verify/Bench/tests). */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    // the engine's custom surface (SQL functions + as-of join strategy) is
    // part of the session contract, not an opt-in: any getOrCreate through
    // here — tests, Verify, Bench — sees the same engine
    .config("spark.sql.extensions", classOf[GraftExtensions].getName)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // Parquet TIMESTAMP(NANOS) (events.ts) is not a legal Spark type; read
    // as raw long and let Tables.load convert ns → microsecond timestamp.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // Spark caches 100 compiled classes by default, in LRU segments. An
    // Uber full build plus a daily tick compiles about 110, so which
    // classes a tick recompiles depended on hashing: 2 of them in one run
    // and 20-50 in another (over 0.3 s per tick). The cap is a bound on
    // driver memory, not on anything the engine computes.
    .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** Local core count: SPARK_GRAFT_CPUS when set, else the host's cores. */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Shuffle partition count: the core count (right for the driver's
    * sf0.01/sf0.1 scales). Partitions scale with DATA, not cores, through
    * `seedForData` below: AQE does the per-stage scaling at runtime once
    * seeded with a data-derived initial count.
    */
  def shufflePartitions: String = cores.toString

  /** Total bytes under a local data directory (0 if unreadable). Local
    * filesystem walk — at configure time there is no SparkContext yet; a
    * cluster deployment would read the same number from catalog stats or
    * the object-store listing.
    */
  def dataBytes(dir: String): Long =
    try {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    } catch { case _: Throwable => 0L }

  /** AQE-driven shuffle sizing, seeded from the input volume: rather than
    * a manual partition knob per scale factor, seed
    * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` with
    * input_bytes / 8 MB (clamped to [cores, 4096]) and let AQE's runtime
    * coalescing pick each stage's final count from ACTUAL post-shuffle
    * sizes. Pre-coalesce bucket count is cheap on the map side (sort-based
    * shuffle writes one file + index per task regardless), so erring high
    * costs little — AQE coalesces excess away against its 64 MB advisory
    * size — while erring low (the old fixed 32 at sf10) puts millions of
    * rows in every window sort: spill + GC variance. 8 MB because the
    * input is compressed parquet that expands ~4x into in-memory shuffle
    * rows (sf10's 1.5 GB derives ~190, bracketing the empirically-tuned
    * 256; sf0.1/sf1 clamp to the core floor, matching their proven
    * configs).
    */
  def initialPartitionsFor(dataDir: String): Int = {
    val derived = dataBytes(dataDir) / (8L << 20)
    math.min(4096L, math.max(cores.toLong, derived)).toInt
  }

  /** `configure` plus data-scaled AQE seeding for sessions that know
    * their input directory (Verify, Bench, scale probes).
    */
  def seedForData(b: SparkSession.Builder, dataDir: String): SparkSession.Builder =
    configure(b)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        initialPartitionsFor(dataDir).toString)

  /** Local session sized for this container; cores come from env, and
    * when SPARK_GRAFT_SF_DIR names the data directory (Bench/probe
    * convention) the AQE seeding scales from its volume.
    */
  def local(appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
    val spark = (sys.env.get("SPARK_GRAFT_SF_DIR") match {
      case Some(dir) => seedForData(b, dir)
      case None => configure(b).config("spark.sql.shuffle.partitions", shufflePartitions)
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
