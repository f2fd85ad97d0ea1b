package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each `SparkEntry.registry` result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). Both follow
  * registration order, so two dumps of one registry list the same queries
  * in the same order. A query that fails leaves no result directory, and
  * the run exits 1 naming every failed query. An optional third argument
  * names the queries to dump; an unknown name exits 1 before any runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Dev-only third arg: comma-separated query names to (re)dump.
    val queries = try selected(rest.headOption) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[verify] ${e.getMessage}")
        sys.exit(1)
    }
    val spark = GraftSession.seedForData(
      SparkSession.builder().master(s"local[${GraftSession.cores}]"), sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, queries)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.registry
      .map(query => s"${q(query.name)}: ${q(query.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** The registry queries `only` names (comma-separated), in registration
    * order, or all of them when it is absent. A name that is not registered
    * throws, naming every unknown entry: a typo must not shrink the dump.
    */
  def selected(only: Option[String]): Seq[Query] = only match {
    case None => SparkEntry.registry
    case Some(names) =>
      val wanted = names.split(',').toSet
      val unknown = wanted -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown query names, nothing run: ${unknown.toSeq.sorted.mkString(",")}")
      SparkEntry.registry.filter(q => wanted.contains(q.name))
  }

  /** Write each query's result to `<outDir>/<name>` and return the names
    * of those that failed. A query's directory is deleted before it runs,
    * so a failed query leaves no result from an earlier dump for the
    * oracle compare to pass on.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[Query]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case Query(name, plan, _) =>
      val dir = new org.apache.hadoop.fs.Path(outDir, name)
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
      try {
        val df = plan(spark, sfDir)
        // Type guard: the driver's result hash is TYPE-sensitive while
        // DuckDB oracles never emit DECIMAL — a DecimalType column here
        // (e.g. from an uncast `x / 10000.0` literal, which Spark parses
        // as DECIMAL(5,1)) is value-identical but hash-red on the
        // driver. Fail the dump loudly instead of shipping it. The check
        // recurses into struct/array/map columns: a decimal nested one
        // level down hashes just as red as a top-level one.
        import org.apache.spark.sql.types._
        def hasDecimal(dt: DataType): Boolean = dt match {
          case _: DecimalType => true
          case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
          case a: ArrayType => hasDecimal(a.elementType)
          case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
          case _ => false
        }
        val decimals = df.schema.fields.collect {
          case f if hasDecimal(f.dataType) => f.name
        }
        require(decimals.isEmpty,
          s"query '$name' emits DecimalType column(s) ${decimals.mkString(",")}; " +
          "cast to DOUBLE — the driver hash is type-sensitive and oracles emit DOUBLE")
        // coalesce(1) keeps driver-gate dumps single-file; for scaled
        // certification runs whose results are corpus-sized (e.g. q24 at
        // sf10), SPARK_GRAFT_NO_COALESCE=1 keeps the write distributed
        // (the compare tools glob part files either way)
        val out = if (sys.env.get("SPARK_GRAFT_NO_COALESCE").contains("1")) df
                  else df.coalesce(1)
        out.write.parquet(dir.toString)
        None
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }
}
