package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.expressions._
import graft.functions.TextFunctions

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so the SQL surface is as complete
  * as the DataFrame surface, and injects four plan rules: the as-of join
  * planner strategy ([[graft.plans.AsofJoinStrategy]]); the AQE runtime
  * rule [[graft.plans.CoalesceSmallStages]], which runs the rest of a query
  * whose inputs are small materialized shuffle stages on one partition, so
  * a sort or window over a grain-sized aggregate plans no exchange of its
  * own; the optimizer rule [[graft.plans.CorrelatedCountToWindow]], which
  * turns a correlated `COUNT(*)` over the outer query's own rows into a
  * window sum, so those rows are read once; and the AQE query-stage
  * preparation rule [[graft.plans.BroadcastOnDriver]], which broadcasts a
  * local relation from the driver without a Spark job. None rewrites results — an
  * approximate distinct count is always the explicit `graft_kmv_distinct`
  * call, never a silent swap. Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  * SQL surface:
  *   graft_sorted_intersect_size(array<bigint>, array<bigint>) → int
  *   graft_minhash_sig(array<bigint>)                          → array<bigint>
  *   graft_minhash_band_keys(array<bigint>, bands, rows)       → array<bigint>
  *   graft_minhash_band_keys_mod31(array<bigint>, bands, rows) → array<bigint>
  *   graft_simhash(array<bigint>)                              → bigint
  *   graft_winnow(string, n, w)                                → array<bigint>
  *   graft_hash62(string)                                      → bigint
  *   graft_hash62_array(array<string>, distinctSorted)         → array<bigint>
  *   graft_kmv_distinct(x, k)  [aggregate]                     → double
  *   graft_bloom_build(bigint)  [aggregate]                    → binary
  *   graft_bloom_hit(binary, bigint)                           → boolean
  *   graft_cms_build(bigint)  [aggregate]                      → binary
  *   graft_cms_estimate(binary, bigint)                        → bigint
  *   graft_span_chunks(array<string>, n)  [generator]          → (idx int, span string)
  *   graft_bitmap_distinct(bigint, capacity)  [aggregate]      → bigint
  *   graft_bitmap_words(bigint, capacity)  [aggregate]         → array<bigint>
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-plan operator: AS-OF join (logical node -> sort-merge exec)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // re-optimization after each wave of AQE query stages
    ext.injectRuntimeOptimizerRule(_ => graft.plans.CoalesceSmallStages)
    // a correlated COUNT over the outer query's own rows becomes a window sum
    ext.injectOptimizerRule(_ => graft.plans.CorrelatedCountToWindow)
    // a broadcast of a local relation is built on the driver, with no job
    ext.injectQueryStagePrepRule(_ => graft.plans.BroadcastOnDriver)

    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))

    register("graft_sorted_intersect_size",
      args => SortedLongIntersectSize(args(0), args(1)))
    register("graft_minhash_sig",
      args => MinHashSignature64(args(0),
        TextFunctions.minhashPermA, TextFunctions.minhashPermB))
    register("graft_minhash_band_keys",
      args => MinHashBandKeys64(args(0),
        TextFunctions.minhashPermA, TextFunctions.minhashPermB,
        intArg(args(1), "bands"), intArg(args(2), "rows")))
    register("graft_simhash", args => SimHash64(args(0)))
    // aggregate: the analyzer wraps a bare AggregateFunction builder result
    register("graft_kmv_distinct",
      args => KmvSketch(args(0), intArg(args(1), "k")))
    register("graft_winnow",
      args => WinnowFingerprints(args(0),
        intArg(args(1), "n"), intArg(args(2), "w")))
    // the portable (oracle-reproducible) md5-62 hash family — round 4
    register("graft_hash62", args => Md5Hash62(args(0)))
    register("graft_hash62_array",
      args => Md5HashArray62(args(0), args(1) match {
        case Literal(b: Boolean, _) => b
        case other => throw new IllegalArgumentException(
          s"distinctSorted must be a boolean literal, got $other")
      }))
    register("graft_minhash_band_keys_mod31",
      args => MinHashBandKeysMod31(args(0),
        TextFunctions.minhashPermA31, TextFunctions.minhashPermB31,
        intArg(args(1), "bands"), intArg(args(2), "rows")))
    register("graft_bloom_build",
      args => BloomSketch(args(0), BloomSketch.DefaultBits, BloomSketch.DefaultProbes))
    register("graft_bloom_hit",
      args => BloomHit(args(0), args(1),
        BloomSketch.DefaultBits, BloomSketch.DefaultProbes))
    register("graft_cms_build",
      args => CmsSketch(args(0), CmsSketch.DefaultDepth, CmsSketch.DefaultWidth))
    register("graft_cms_estimate",
      args => CmsEstimate(args(0), args(1),
        CmsSketch.DefaultDepth, CmsSketch.DefaultWidth))
    // generator (table-valued): SELECT graft_span_chunks(tokens, 3) — round 6
    register("graft_span_chunks",
      args => SpanChunks(args(0), intArg(args(1), "n")))
    // exact-distinct bitmap family (cast shields SQL int literals) — round 6
    register("graft_bitmap_distinct",
      args => BitmapDistinct(
        org.apache.spark.sql.catalyst.expressions.Cast(
          args(0), org.apache.spark.sql.types.LongType),
        intArg(args(1), "capacity")))
    register("graft_bitmap_words",
      args => BitmapWords(
        org.apache.spark.sql.catalyst.expressions.Cast(
          args(0), org.apache.spark.sql.types.LongType),
        intArg(args(1), "capacity")))
  }
}
