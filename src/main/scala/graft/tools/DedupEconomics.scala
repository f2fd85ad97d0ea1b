package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftSession, Tables}
import graft.operators.Dedup

/** Dedup blocking-economics probe: measures, on a given corpus, how hard
  * d20's AllPairs prefix filter prunes relative to the naive inverted-index
  * candidate join — the number VERDICT r13 asked to re-certify in a
  * realistic (Zipfian-vocabulary) regime rather than the driver corpus's
  * ~30-word worst case.
  *
  * Emits ONE JSON line:
  *  - docs, inv_rows (total gram occurrences), grams (distinct),
  *    max_df, p99_df — the vocabulary regime;
  *  - naive_pair_bill = Σ_g C(df_g, 2) — the rows a naive truth join
  *    streams through its pair aggregation (d12/d19's OLD truth cost);
  *  - naive_cand    = distinct pairs sharing ≥1 gram;
  *  - prefix_rows   = Σ_d (|d| - ceil(0.2|d|) + 1) — the index AllPairs
  *    actually builds;
  *  - prefix_bill   = Σ_g∈prefix C(pdf_g, 2) — rows through the prefix
  *    self-join;
  *  - prefix_cand   = distinct candidate pairs from the prefix join;
  *  - truth         = pairs with word-trigram Jaccard ≥ 0.2 (recall-1
  *    ground truth, via Dedup.exactJaccardPairs02);
  *  - bill_ratio    = prefix_bill / naive_pair_bill (the pruning factor),
  *    cand_precision = truth / prefix_cand.
  *
  * Usage: runMain graft.tools.DedupEconomics <sfDir>
  */
object DedupEconomics {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[${GraftSession.cores}]")
        .appName("graft-dedup-economics")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = graft.Materialize(
      Dedup.shingleSets(Tables.load(spark, sfDir, "documents")))
    val inv = base.select(col("doc_id"), col("n_sh"),
      explode(col("sh")).as("h"))
    val dfreq = graft.Materialize(
      inv.groupBy(col("h")).agg(count(lit(1)).as("df")))

    // driver-bound(stat-frame): groupless count, 1 row
    val Array(nDocs) = base.agg(count(lit(1))).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect()
    val dfStats = dfreq.agg(
      sum(col("df")).as("inv_rows"),
      count(lit(1)).as("grams"),
      max(col("df")).as("max_df"),
      expr("percentile_approx(df, 0.99)").as("p99_df"),
      sum(col("df") * (col("df") - 1) / 2).cast("long").as("naive_pair_bill")
      // driver-bound(stat-frame): groupless aggregate, 1 row
    ).collect()(0)

    val naiveCand = inv.as("x").join(inv.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()

    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = graft.Materialize(inv.join(dfreq, "h")
      .withColumn("pos", row_number().over(w))
      .where(col("pos") <= col("n_sh") - expr("(n_sh + 4) DIV 5") + 1)
      .select(col("doc_id"), col("h")))
    val prefixRows = prefix.count()
    val prefixBill = prefix.groupBy(col("h")).agg(count(lit(1)).as("pdf"))
      .agg(sum(col("pdf") * (col("pdf") - 1) / 2).cast("long"))
      // driver-bound(stat-frame): groupless aggregate, 1 row
      .collect()(0).getLong(0)
    val prefixCand = prefix.as("x").join(prefix.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().count()

    val truth = Dedup.exactJaccardPairs02(base).count()

    val naiveBill = dfStats.getLong(4)
    // ratios stay valid JSON on degenerate corpora (no repeated gram →
    // zero denominators → "null", never NaN)
    def r(num: Long, den: Long): String =
      if (den == 0L) "null"
      else (math.floor(num.toDouble / den * 1e6 + 0.5) / 1e6).toString
    println(s"""{"docs":$nDocs,"inv_rows":${dfStats.getLong(0)},""" +
      s""""grams":${dfStats.getLong(1)},"max_df":${dfStats.getLong(2)},""" +
      s""""p99_df":${dfStats.get(3)},"naive_pair_bill":$naiveBill,""" +
      s""""naive_cand":$naiveCand,"prefix_rows":$prefixRows,""" +
      s""""prefix_bill":$prefixBill,"prefix_cand":$prefixCand,""" +
      s""""truth":$truth,""" +
      s""""bill_ratio":${r(prefixBill, naiveBill)},""" +
      s""""cand_ratio":${r(prefixCand, naiveCand)},""" +
      s""""cand_precision":${r(truth, prefixCand)}}""")
    spark.stop()
  }
}
