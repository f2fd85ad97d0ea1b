package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.graft.DriverBroadcastExchangeExec

/** AQE query-stage preparation rule: a broadcast of a local relation, such
  * as a catalog-sized dim the session holds on the driver, becomes a
  * [[DriverBroadcastExchangeExec]], which broadcasts the rows without the
  * Spark job the stock exchange runs to collect them. The broadcast value,
  * its limits and its metrics are the stock exchange's, so results do not
  * change. With AQE off the rule does not run and the stock exchange does.
  */
object BroadcastOnDriver extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case BroadcastExchangeExec(mode, local: LocalTableScanExec) =>
      DriverBroadcastExchangeExec(mode, local)
  }
}
