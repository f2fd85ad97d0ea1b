package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.uber.{Incremental, Models, Runner}

/** Reference-scale throughput check: synthesize the Uber dataset at the
  * REFERENCE's size (~14.3M fact rows, 9-row base dim, 265-row zone dim —
  * reference `Diary of Making.md:51`, `Images/bq_base_num_and_name.png`,
  * `Images/bq_taxi_zone_lookup.png`), lay it out exactly as Ingest does
  * (month-partitioned parquet), and time the six models against the
  * reference's BigQuery numbers (22.05s total, 2.59-5.82s per model —
  * BASELINE.md), two ways per round:
  *
  *  - each model's SQL form (`Runner.runModel`) into the noop sink: six
  *    fact scans, nothing written;
  *  - one shared-scan `Incremental.fullBuild` (what `Runner.runAll`
  *    writes): two fact scans, all six models written as parquet.
  *
  * Prints each timing's min and median over [[Rounds]] rounds.
  * Deterministic synthesis (xxhash of row id, no rand), built once and
  * cached under the work directory.
  *
  * Usage: UberScaleBench [workDir]
  */
object UberScaleBench {
  private val FactRows = 14300000L
  private val Rounds = 5

  private val baseNums = Seq("B02512", "B02598", "B02617", "B02682",
    "B02764", "B02765", "B02774", "B02835", "B02836")
  private val baseNames = Seq("Unter", "Hinter", "Weiter", "Schmecken",
    "Danach-NY", "Grun", "Alfred", "Dreist", "Drinnen")

  def build(spark: SparkSession, out: String): Unit = {
    import spark.implicits._
    if (new java.io.File(s"$out/_built").exists()) return
    baseNums.zip(baseNames).toDF("base_num", "base_name")
      .write.mode("overwrite").parquet(s"$out/base_num_and_name")
    (1 to 265).map(i => (i, if (i % 6 == 0) "Bronx" else s"Borough${i % 5}", s"Zone$i"))
      .toDF("locationid", "borough", "zone")
      .write.mode("overwrite").parquet(s"$out/taxi_zone_lookup")
    // fact: uniform Jan-Jun 2015 timestamps, base FKs skewed like the
    // reference's top-3 distribution, zone uniform
    val jan1Us = java.sql.Timestamp.valueOf("2015-01-01 00:00:00").getTime * 1000L
    val spanUs = 181L * 24 * 3600 * 1000000L
    spark.range(FactRows)
      .select(
        element_at(typedlit(baseNums), (pmod(xxhash64(col("id"), lit(1)), lit(9)) + 1).cast("int"))
          .as("dispatching_base_num"),
        timestamp_micros(lit(jan1Us) + pmod(xxhash64(col("id"), lit(2)), lit(spanUs)))
          .as("pickup_date"),
        element_at(typedlit(baseNums), (pmod(xxhash64(col("id"), lit(3)), lit(9)) + 1).cast("int"))
          .as("affiliated_base_num"),
        (pmod(xxhash64(col("id"), lit(4)), lit(265)) + 1).cast("int").as("locationid"))
      .withColumn("pickup_month", month(col("pickup_date")))
      .write.mode("overwrite").partitionBy("pickup_month")
      .parquet(s"$out/raw_data_janjune_15")
    new java.io.File(s"$out/_built").createNewFile()
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/uber_scale")
    val wh = s"$work/wh"
    val spark = GraftSession.local("uber-scale")
    build(spark, wh)
    Seq("base_num_and_name", "taxi_zone_lookup", "raw_data_janjune_15")
      .foreach(n => spark.read.parquet(s"$wh/$n").createOrReplaceTempView(n))

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def sqlNoop(m: Models.Model): Unit =
      Runner.runModel(spark, m).write.format("noop").mode("overwrite").save()
    def minMedian(ts: Seq[Double]): String = {
      val s = ts.sorted
      f"min=${s.head}%6.2fs median=${s(s.size / 2)}%6.2fs"
    }
    // warmup (JIT + file listing)
    sqlNoop(Models.all.head)
    val perRound = (1 to Rounds).map { _ =>
      val sql = Models.all.map(m => m.name -> time(sqlNoop(m))).toMap
      val fullBuild = time(Incremental.fullBuild(spark, s"$work/models"))
      (sql, fullBuild)
    }
    Models.all.foreach { m =>
      println(f"UBER14M ${m.name}%-37s sql ${minMedian(perRound.map(_._1(m.name)))}")
    }
    println(f"UBER14M ${"TOTAL six SQL models (noop sink)"}%-37s " +
      s"${minMedian(perRound.map(_._1.values.sum))} vs reference 22.05s (dbt run, 6 models)")
    println(f"UBER14M ${"shared-scan fullBuild (parquet)"}%-37s " +
      s"${minMedian(perRound.map(_._2))} vs reference 22.05s (dbt run, 6 models)")
    spark.stop()
  }
}
