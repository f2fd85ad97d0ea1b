package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump explain("formatted") for selected queries — plan audit harness. */
object Explain {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local("explain")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.registry.map(_.name)
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
