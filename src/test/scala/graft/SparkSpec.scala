package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite, engine defaults from
  * GraftSession so tests see exactly the driver-contract semantics.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.configure(
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
  ).getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** The number of Spark jobs `f` launches: a zero-partition job takes the
    * next job id, so the difference of two marks counts the jobs between.
    */
  def jobsLaunched(f: => Unit): Int = {
    val sc = spark.sparkContext
    def mark(): Int = sc.submitJob[Int, Unit, Unit](
      sc.emptyRDD[Int], _ => (), Seq.empty, (_, _) => (), ()).jobIds.head
    val before = mark()
    f
    mark() - before - 1
  }

  /** Runs `f` with the given session confs set, then restores them. */
  def withConf[A](kv: (String, String)*)(f: => A): A = withConfOn(spark)(kv: _*)(f)

  /** [[withConf]] on another session, such as one from `spark.newSession()`. */
  def withConfOn[A](session: SparkSession)(kv: (String, String)*)(f: => A): A = {
    val before = kv.map { case (k, _) => k -> session.conf.getOption(k) }
    kv.foreach { case (k, v) => session.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => session.conf.set(k, v)
      case (k, None) => session.conf.unset(k)
    }
  }

  /** The conf that switches [[graft.plans.CoalesceSmallStages]] off. */
  val smallStageRuleExcluded: (String, String) =
    "spark.sql.adaptive.optimizer.excludedRules" -> graft.plans.CoalesceSmallStages.ruleName

  /** The conf that switches [[graft.plans.CorrelatedCountToWindow]] off. */
  val countRuleExcluded: (String, String) =
    "spark.sql.optimizer.excludedRules" -> graft.plans.CorrelatedCountToWindow.ruleName

  /** Connected components by in-memory BFS closure — the independent
    * oracle the Spark components paths are held to: every node maps to
    * the minimum node it reaches. `nodes` must cover every endpoint.
    */
  def closureComponents(nodes: Seq[Long],
      pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val root = scala.collection.mutable.Map.empty[Long, Long]
    // ascending sweep: the first unvisited node is its component's min
    nodes.sorted.foreach { n =>
      if (!root.contains(n)) {
        root(n) = n
        var frontier = List(n)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj.getOrElse(_, Nil))
            .filterNot(root.contains).distinct
          frontier.foreach(root(_) = n)
        }
      }
    }
    root.toMap
  }
}
