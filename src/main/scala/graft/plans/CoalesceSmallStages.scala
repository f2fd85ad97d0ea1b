package graft.plans

import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.logical.{
  Generate, Join, LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{
  LogicalQueryStage, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
import org.apache.spark.sql.internal.SQLConf

/** AQE runtime rule: the rest of a query whose inputs are all small,
  * materialized shuffle stages runs on one partition.
  *
  * A grain-sized aggregate (a few hundred rows) under an `ORDER BY`, a
  * `RANK()` or an `AVG() OVER` is already read as one partition by
  * `CoalesceShufflePartitions`, yet Spark still plans a hash exchange for
  * each window and a range exchange, with its own sampling job, for each
  * global sort above that read. Wrapping each shuffle stage in
  * `Repartition(1, shuffle = false)` plans a `CoalesceExec(1)`, whose
  * `SinglePartition` output satisfies every distribution above it, so
  * `EnsureRequirements` adds none of those exchanges.
  *
  * It fires only when every leaf of the remaining plan is a materialized
  * query stage or a local relation, AQE coalescing is on, every shuffle
  * stage is one the planner added (a `repartition(n)` keeps its n
  * partitions), and their map output totals at most
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize`: below that
  * size `CoalesceShufflePartitions` already reads them as one partition, so
  * no task gets more data than AQE already gives it. It leaves a plan
  * alone above a `Generate` or a join with no equi-join key (either can
  * multiply rows past that size) and a plan it has already wrapped.
  * Switch it off with `spark.sql.adaptive.optimizer.excludedRules`.
  */
object CoalesceSmallStages extends Rule[LogicalPlan] {

  private def shuffleStages(s: LogicalQueryStage): Seq[ShuffleQueryStageExec] =
    s.physicalPlan.collect { case q: ShuffleQueryStageExec => q }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val leaves = plan.collectLeaves()
    val stages = leaves.collect { case s: LogicalQueryStage => s }
    val allMaterialized = leaves.forall {
      case s: LogicalQueryStage =>
        s.physicalPlan.collect { case q: QueryStageExec => q }.forall(_.isMaterialized)
      case _: LocalRelation => true
      case _ => false
    }
    val shuffles = stages.flatMap(shuffleStages)
    lazy val shuffleBytes = shuffles.flatMap(_.mapStats).map(_.bytesByPartitionId.sum).sum
    val fires = conf.coalesceShufflePartitionsEnabled && allMaterialized &&
      shuffles.nonEmpty && shuffles.forall(_.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS) &&
      !plan.exists {
        case Repartition(1, false, _: LogicalQueryStage) => true
        case _: Generate => true
        case j: Join => ExtractEquiJoinKeys.unapply(j).isEmpty
        case _ => false
      } &&
      shuffleBytes <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!fires) plan
    else plan.transformUp {
      case s: LogicalQueryStage if shuffleStages(s).nonEmpty =>
        Repartition(1, shuffle = false, s)
    }
  }
}
