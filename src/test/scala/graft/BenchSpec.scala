package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** Bench's two shared pieces: the full-board side-file line, and the one
  * timed query run that Bench, JobProfile and DriftBench share.
  */
class BenchSpec extends SparkSpec {

  test("the full-board line counts and names a failed query, and leaves it out of total") {
    val line = Bench.fullLine("/data/sf0.1",
      Seq("q1_agg" -> 0.5, "d5_dedup_clusters" -> -1.0, "g1_pagerank" -> 1.25))
    val json = new ObjectMapper().readTree(line)
    assert(json.get("sf").asText == "/data/sf0.1")
    assert(json.get("nq").asInt == 3)
    assert(json.get("nfail").asInt == 1)
    assert(json.get("failed").elements().asScala.map(_.asText).toSeq ==
      Seq("d5_dedup_clusters"))
    assert(json.get("total").asText == "1.8") // 0.5 + 1.25; the -1 is not summed
    val queries = json.get("queries")
    assert(queries.fieldNames().asScala.toSeq ==
      Seq("q1_agg", "d5_dedup_clusters", "g1_pagerank"))
    assert(queries.get("d5_dedup_clusters").asDouble == -1.0)
    assert(line.contains("\"g1_pagerank\":1.250")) // 3 decimals
    assert(!line.contains("\n"))
  }

  test("timeQuery drops the RDDs its query persisted and keeps the ones before it") {
    val sc = spark.sparkContext
    def persisted(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val name = "g1_pagerank" // materializes its rounds: leaves RDDs persisted
    val older = sc.parallelize(1 to 10).persist()
    older.count()
    val before = persisted()
    assert(before.contains(older.id))

    // the plain noop run this replaces leaves the query's RDDs behind
    SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
    val leftBehind = persisted() -- before
    assert(leftBehind.nonEmpty, s"$name persisted nothing; the test needs a query that does")
    leftBehind.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))

    assert(Bench.timeQuery(spark, sfDir, name) > 0.0)
    assert(persisted() == before)
    older.unpersist(blocking = true)
  }
}
