package graft.tools

import graft.{Bench, GraftSession}

/** Focused repeat-bench for drift triage (round-3 verdict item 7): time a
  * handful of queries n times each in one JVM and print min/median/max —
  * min separates plan cost from host noise. Dev tool, not driver contract.
  */
object DriftBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("GRAFT_DRIFT_N", "5").toInt
    val names = if (args.nonEmpty) args.toSeq
      else Seq("d3_minhash_lsh", "d4_simhash", "t6_winnowing", "v2_ann_lsh")
    val spark = GraftSession.local("driftbench")
    Bench.timeQuery(spark, sfDir, names.head) // warmup
    names.foreach { name =>
      val ts = (1 to n).map(_ => Bench.timeQuery(spark, sfDir, name)).sorted
      println(f"DRIFT $name%-18s min=${ts.head}%.2f med=${ts(n / 2)}%.2f max=${ts.last}%.2f")
    }
    spark.stop()
  }
}
