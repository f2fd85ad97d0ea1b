package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Materialize: the cluster-survivable replacement for the repo-wide
  * localCheckpoint idiom (round-11 verdict item 2). Local mode keeps the
  * fast local path; these tests force the RELIABLE and PERSIST paths on
  * the same session and prove a multi-read iterative pipeline (d5's
  * pointer-jumping components — the heaviest materialize consumer)
  * computes identical results through each, and that the reliable path
  * really does write recoverable checkpoint files to the configured dir.
  */
class MaterializeSpec extends SparkSpec {

  // Mode confs run in an ISOLATED newSession(): sbt runs suites
  // concurrently in one JVM over the shared SparkSpec session, so setting
  // spark.graft.materialize on it races every other suite's materialize
  // call. newSession isolates the conf; the CacheManager is still
  // sharedState-global, so the persist test clears it on exit — a cached
  // d2Pairs-shaped frame (d5 materializes the pair plan since round 15)
  // would otherwise substitute into TextDedupSpec's plan-asserted d2.
  private def clusters(s: org.apache.spark.sql.SparkSession): Array[(Long, Long)] = {
    import s.implicits._
    graft.operators.Dedup.d5DedupClusters(s, sfDir)
      .select(col("doc_id"), col("cluster_id"))
      .as[(Long, Long)].collect().sorted
  }

  test("reliable mode without any dir fails loudly") {
    // declared first: must run before any test sets an sc checkpoint dir
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val s = spark.newSession()
    s.conf.set("spark.graft.materialize", "reliable")
    import s.implicits._
    intercept[IllegalArgumentException] {
      Materialize(Seq(1, 2, 3).toDF("x"))
    }
  }

  test("reliable mode: identical results + checkpoint files in the configured dir") {
    val baseline = clusters(spark) // auto → local[4] → localCheckpoint path
    val dir = Files.createTempDirectory("graft_mat_reliable").toString
    val s = spark.newSession()
    s.sparkContext.setCheckpointDir(dir)
    s.conf.set("spark.graft.materialize", "reliable")
    try {
      val got = clusters(s)
      assert(got.sameElements(baseline))
      // the reliable path must have materialized THROUGH the dir: Spark
      // writes one rdd-<id> subtree per eager checkpoint
      // getCheckpointDir is a (possibly scheme-qualified) UUID subdir of
      // the configured dir
      val raw = s.sparkContext.getCheckpointDir.get
      val cpDir = if (raw.startsWith("file:")) new java.io.File(new java.net.URI(raw))
        else new java.io.File(raw)
      val persisted = cpDir.listFiles()
      assert(persisted != null && persisted.exists(_.getName.startsWith("rdd-")),
        s"no rdd-* checkpoint dirs under $dir")
    } finally {
      // sc-level checkpoint dir is JVM-global — leave it; later reliable
      // runs just reuse it. Nothing cached to clear on this path.
    }
  }

  test("persist mode (cluster with no checkpoint dir): identical results") {
    val baseline = clusters(spark)
    val s = spark.newSession()
    s.conf.set("spark.graft.materialize", "persist")
    try assert(clusters(s).sameElements(baseline))
    finally s.catalog.clearCache() // CacheManager is sharedState-global
  }

}
