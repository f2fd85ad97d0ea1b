package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Deterministic testdata scale-up: replicate an sf directory K× with
  * per-domain id strides, producing a dataset that preserves every
  * cross-table invariant the driver data carries:
  *
  *  - FK domains move together (l_partkey stride == p_partkey stride,
  *    o_custkey == c_custkey, vec_id == doc_id, …), so joins behave at K×
  *    exactly as a K×-bigger generated dataset would;
  *  - region/nation pass through unchanged (catalog dims: a 100 TB fleet
  *    still has 25 nations);
  *  - replica documents get a per-copy Caesar cipher (alphabet rotation
  *    via `translate`): a character bijection, so every copy is an exact
  *    isomorphic image of the base corpus — lengths, token counts, digit
  *    ratios, and the ENTIRE intra-copy duplicate/similarity structure
  *    (exact dups, char/word n-gram Jaccard, shingle minhash) replicate
  *    verbatim, while cross-copy vocabularies are disjoint. That keeps
  *    dedup work LINEAR in K: the synthetic corpus's ~30-word vocabulary
  *    gives a constant ~3% LSH false-positive rate between any two
  *    untransformed docs, so without the cipher candidate pairs grow
  *    quadratically (70M at K=10 — a data artifact no real corpus shows,
  *    since real random-pair Jaccard is ~1e-6);
  *  - replica embeddings get a norm-preserving circular shift + sign
  *    flip: each copy's intra-copy cosine structure is IDENTICAL to the
  *    original's (the pair graph replicates), cross-copy cosines
  *    decorrelate;
  *  - events replicas keep the time axis (more traffic in the same
  *    window — how real fleets grow) with fresh user/event ids, and the
  *    props.k graph keys stride per copy so the user↔k bipartite graph
  *    grows as K disjoint replicas (key count scales with the fleet,
  *    degree distribution preserved) instead of fixed keys becoming
  *    K×-degree hubs.
  *
  * Everything is a pure function of (source bytes, copy index): both
  * Spark and the DuckDB oracle read the same parquet, so correctness
  * checks at the scaled SF remain exact.
  *
  * Usage: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <K>
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[${GraftSession.cores}]")
        .config("spark.sql.shuffle.partitions", "32")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // one stride per ID DOMAIN, shared by every column in that domain
    def strideOf(cols: (String, String)*): Long =
      cols.map { case (t, c) =>
        rd(t).agg(max(col(c))).head().getLong(0)
      }.max + 1L

    val custS = strideOf("customer" -> "c_custkey", "orders" -> "o_custkey")
    val ordS = strideOf("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")
    val partS = strideOf("part" -> "p_partkey", "lineitem" -> "l_partkey")
    val suppS = strideOf("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey")
    val evS = strideOf("events" -> "event_id")
    val userS = strideOf("events" -> "user_id")
    val docS = strideOf("documents" -> "doc_id", "embeddings" -> "vec_id")

    def replicate(t: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = rd(t)
      wr((0 until k).map(i => copy(base, i)).reduce(_ unionAll _), t)
    }
    def off(c: String, stride: Long, i: Int) =
      (col(c) + lit(stride * i)).as(c)

    // catalog dims: unchanged at any scale
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    replicate("customer") { (df, i) =>
      df.select(off("c_custkey", custS, i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }
    replicate("supplier") { (df, i) =>
      df.select(off("s_suppkey", suppS, i), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }
    replicate("part") { (df, i) =>
      df.select(off("p_partkey", partS, i), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }
    replicate("orders") { (df, i) =>
      df.select(off("o_orderkey", ordS, i), off("o_custkey", custS, i),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }
    replicate("lineitem") { (df, i) =>
      df.select(off("l_orderkey", ordS, i), off("l_partkey", partS, i),
        off("l_suppkey", suppS, i), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }
    val kStride = rd("events")
      .agg(max(expr("CAST(get_json_object(props, '$.k') AS BIGINT)")))
      .head().getLong(0) + 1L
    replicate("events") { (df, i) =>
      // the driver's events.ts is parquet TIMESTAMP(NANOS), which arrives
      // as epoch-nanos LONG under nanosAsLong — land it as a plain naive
      // microsecond timestamp so every reader (Spark, DuckDB) sees the
      // same wall-clock column without the nanos shim
      val ts =
        if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          expr("CAST(timestamp_micros(ts div 1000) AS timestamp_ntz)")
        else col("ts")
      // rebuild props with the copy-strided k, byte-identical format
      val props =
        if (i == 0) col("props")
        else expr(
          s"""CASE WHEN props IS NULL THEN NULL ELSE concat('{"k": ',
             |  CAST(get_json_object(props, '$$.k') AS BIGINT) + ${i}L * $kStride,
             |  '}') END""".stripMargin)
      df.select(off("event_id", evS, i), ts.as("ts"), off("user_id", userS, i),
        col("event_type"), col("value"), props.as("props"))
    }
    replicate("documents") { (df, i) =>
      // per-copy Caesar cipher: copy i shifts a-z/A-Z by i places. A
      // character bijection preserves length, whitespace, digits, and
      // every n-gram RELATION (two copy-i docs share a shingle iff their
      // copy-0 originals did), while cross-copy token/shingle sets are
      // disjoint — see the header comment for why this is the realistic
      // scaling shape.
      val text =
        if (i == 0) col("text")
        else {
          val lo = "abcdefghijklmnopqrstuvwxyz"
          val s = i % 26
          val rotLo = lo.drop(s) + lo.take(s)
          translate(col("text"), lo + lo.toUpperCase,
            rotLo + rotLo.toUpperCase)
        }
      // length is cipher-invariant: n_chars passes through unchanged
      df.select(off("doc_id", docS, i), text.as("text"), col("lang"),
        col("source"), col("n_chars"))
    }
    val labelStride = rd("embeddings").agg(max(col("label"))).head().getInt(0) + 1
    replicate("embeddings") { (df, i) =>
      val emb =
        if (i == 0) col("embedding")
        else {
          val shift = (i * 11) % 64
          expr(
            // norm-preserving decorrelation: circular shift + sign flips
            s"""transform(embedding, (x, j) -> CAST(
               |  element_at(embedding, ((j + $shift) % size(embedding)) + 1)
               |  * (CASE WHEN (j + $i) % 3 = 0 THEN -1.0D ELSE 1.0D END)
               |  AS FLOAT))""".stripMargin)
        }
      // labels (the coarse-quantizer cells the label-blocked ops join on)
      // stride per copy: a re-trained quantizer at K× data has ~K× cells,
      // and the shifted/sign-flipped replica vectors genuinely point in
      // new directions — keeping the old label would pack mutually
      // dissimilar vectors into K×-denser cells, growing label-blocked
      // candidate pairs quadratically in K (engine AND oracle) for a
      // structure no re-assigned real index would show. Cell count grows,
      // per-cell density and intra-cell cosine structure replicate.
      df.select(off("vec_id", docS, i), emb.as("embedding"),
        (col("label") + lit(i * labelStride)).as("label"))
    }

    println(s"[scaleup] wrote ${k}x of $src to $dst")
    spark.stop()
  }
}
