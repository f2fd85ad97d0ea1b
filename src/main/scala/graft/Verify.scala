package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each `SparkEntry.registry` result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py). Both follow
  * registration order, so two dumps of one registry list the same queries
  * in the same order. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // Dev-only third arg: comma-separated query names to (re)dump.
    val only: Option[Set[String]] = rest.headOption.map(_.split(',').toSet)
    val spark = GraftSession.seedForData(
      SparkSession.builder().master(s"local[${GraftSession.cores}]"), sfDir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.registry
      .filter(query => only.forall(_.contains(query.name)))
      .foreach { case Query(name, plan, _) =>
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
        out.write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
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
  }
}
