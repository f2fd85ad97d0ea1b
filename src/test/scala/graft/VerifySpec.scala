package graft

import java.nio.file.Files

/** The correctness dump: a query that fails must leave nothing behind for
  * the oracle compare to pass on, and must be reported.
  */
class VerifySpec extends SparkSpec {

  test("a failing query's stale result is deleted and the query is reported failed") {
    import spark.implicits._
    val out = Files.createTempDirectory("verify_dump")
    // a result left by an earlier dump, which check.py would compare
    val stale = out.resolve("boom")
    Seq(1L).toDF("id").write.parquet(stale.toString)
    val ok = Query("ok", (s, _) => s.range(3).toDF("id"), "SELECT 1")
    val boom = Query("boom",
      (_, _) => throw new IllegalStateException("plan failed"), "SELECT 1")
    val failed = Verify.dump(spark, sfDir, out.toString, Seq(ok, boom))
    assert(failed == Seq("boom"))
    assert(!Files.exists(stale), "the stale result survived the failed query")
    assert(spark.read.parquet(out.resolve("ok").toString).count() == 3)
  }

  test("an unknown query name is refused before any query runs, naming it") {
    val e = intercept[IllegalArgumentException](
      Verify.selected(Some("q10_share_month,no_such_query,q99_typo")))
    assert(e.getMessage.contains("no_such_query,q99_typo"), e.getMessage)
    assert(Verify.selected(Some("q23_asof_join,q10_share_month")).map(_.name) ==
      Seq("q10_share_month", "q23_asof_join"))
    assert(Verify.selected(None) == SparkEntry.registry)
  }
}
