package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, Future, TimeUnit}

import scala.util.{Failure, Success, Try}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.{LocalTableScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, BroadcastExchangeLike}
import org.apache.spark.sql.execution.joins.HashedRelationBroadcastMode
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.map.BytesToBytesMap
import org.apache.spark.util.KnownSizeEstimation

/** A broadcast of rows the driver already holds. Spark's
  * `BroadcastExchangeExec` over a `LocalTableScanExec` runs a Spark job to
  * collect rows that sit in the plan itself; this builds `mode.transform`
  * of those rows on the driver, broadcasts it and completes at once, so no
  * job runs. It keeps the stock exchange's row and size limits, its SQL
  * metrics and its canonical form, so exchange reuse and dynamic pruning
  * find it as they find the stock one. It lives in `org.apache.spark.sql`
  * because `doExecuteBroadcast` is `protected[sql]`.
  * [[graft.plans.BroadcastOnDriver]] swaps it in under AQE.
  */
case class DriverBroadcastExchangeExec(mode: BroadcastMode, child: LocalTableScanExec)
    extends BroadcastExchangeLike {
  import DriverBroadcastExchangeExec._

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "collectTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to collect"),
    "buildTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to build"),
    "broadcastTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to broadcast"))

  override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

  override def doCanonicalize(): SparkPlan = BroadcastExchangeExec(mode, child).canonicalized

  override def runtimeStatistics: Statistics =
    Statistics(metrics("dataSize").value, Some(metrics("numOutputRows").value))

  /** The broadcast relation, built once on the calling thread. */
  @transient private lazy val built: Try[Broadcast[Any]] = Try {
    val rows = child.executeCollect()
    longMetric("numOutputRows") += rows.length
    if (rows.length >= maxRows(mode))
      throw QueryExecutionErrors.cannotBroadcastTableOverMaxTableRowsError(
        maxRows(mode), rows.length)
    val beforeBuild = System.nanoTime()
    val relation = mode.transform(rows)
    val dataSize = relation match {
      case map: KnownSizeEstimation => map.estimatedSize
      case arr: Array[InternalRow] => arr.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum
    }
    longMetric("dataSize") += dataSize
    if (dataSize >= conf.maxBroadcastTableSizeInBytes)
      throw QueryExecutionErrors.cannotBroadcastTableOverMaxTableBytesError(
        conf.maxBroadcastTableSizeInBytes, dataSize)
    val beforeBroadcast = System.nanoTime()
    longMetric("buildTime") += TimeUnit.NANOSECONDS.toMillis(beforeBroadcast - beforeBuild)
    val broadcast = sparkContext.broadcastInternal[Any](relation, serializedOnly = true)
    longMetric("broadcastTime") += TimeUnit.NANOSECONDS.toMillis(System.nanoTime() - beforeBroadcast)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    broadcast
  }

  @transient override lazy val relationFuture: Future[Broadcast[Any]] = built match {
    case Success(b) => CompletableFuture.completedFuture(b)
    case Failure(e) => CompletableFuture.failedFuture(e)
  }

  @transient override protected lazy val completionFuture: scala.concurrent.Future[Broadcast[Any]] =
    scala.concurrent.Future.fromTry(built)

  override protected def doPrepare(): Unit = relationFuture

  override protected def doExecute(): RDD[InternalRow] =
    throw QueryExecutionErrors.executeCodePathUnsupportedError("BroadcastExchange")

  override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] =
    built.get.asInstanceOf[Broadcast[T]]

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan = newChild match {
    case local: LocalTableScanExec => copy(child = local)
    case other => BroadcastExchangeExec(mode, other)
  }
}

object DriverBroadcastExchangeExec {

  /** Spark's broadcast row limit for `mode`: a hashed relation keyed on
    * anything but one long is a `BytesToBytesMap`, which holds fewer rows.
    */
  def maxRows(mode: BroadcastMode): Long = mode match {
    case HashedRelationBroadcastMode(key, _)
        if !(key.length == 1 && key.head.dataType == LongType) => maxKeyedRows
    case _ => 512000000L
  }

  /** The lower of Spark's two broadcast row limits, which holds whatever
    * the rows are later keyed on.
    */
  val maxKeyedRows: Long = (BytesToBytesMap.MAX_CAPACITY / 1.5).toLong

  /** `spark.sql.maxBroadcastTableSize` in `spark`'s session. */
  def maxBytes(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.maxBroadcastTableSizeInBytes
}
