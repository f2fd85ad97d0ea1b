package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, BoundReference, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType
import graft.Query

/** AS-OF JOIN — the one operator family in the engine's surface that Spark's
  * built-ins cannot express as a single relational node (build-brief
  * preference (c): custom LogicalPlan + Strategy + SparkPlan, registered via
  * SparkSessionExtensions).
  *
  * Semantics (matching DuckDB `ASOF LEFT JOIN ... ON l.k = r.k AND
  * l.ts >= r.ts`): for every left row, append the right row with the same
  * key and the GREATEST right.ts <= left.ts; null-extend when none exists.
  *
  * Physical shape = sort-merge: both sides hash-clustered on key and sorted
  * (key, ts) — declared via requiredChildDistribution/Ordering so
  * EnsureRequirements plans the exchanges and sorts (and AQE sizes them) —
  * then a single forward merge walk per partition. O(n+m) per partition, no
  * buffering beyond ONE candidate row, no window materialization. At 100 TB
  * this is one shuffle per side (skew handled by AQE) and a streaming walk;
  * the composed fallback below pays the same shuffle plus a union + window
  * sort over BOTH sides and carries packed structs through the exchange.
  *
  * Keys are bridged to long, timestamps to microsecond longs, by the
  * builder (`Asof.join`) — the merge compares primitives.
  */
case class AsofJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans the logical AsofJoin into its sort-merge exec node. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lts, rts) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lts, rts) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val rightWidth = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(leftKey, left.output)
      val lt = BindReferences.bindReference(leftTs, left.output)
      val rk = BindReferences.bindReference(rightKey, right.output)
      val rt = BindReferences.bindReference(rightTs, right.output)
      // bind positionally, not by exprId: an as-of SELF-join can surface
      // the same attribute id on both sides after optimizer alias cleanup
      val toUnsafe = UnsafeProjection.create(outAttrs.zipWithIndex.map {
        case (a, i) => BoundReference(i, a.dataType, a.nullable)
      })
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        private var rHead: InternalRow = advance()
        private var cand: InternalRow = _
        private var candKey: Long = 0L
        private var candValid = false

        private def advance(): InternalRow =
          if (rIter.hasNext) rIter.next() else null

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lkAny = lk.eval(l)
          val ltAny = lt.eval(l)
          if (lkAny == null || ltAny == null) {
            // null key/ts never matches (SQL equality semantics)
            return toUnsafe(joined(l, nullRight))
          }
          val lKeyV = lkAny.asInstanceOf[Long]
          val lTsV = ltAny.asInstanceOf[Long]
          if (candValid && candKey != lKeyV) { candValid = false; cand = null }
          var walking = true
          while (walking && rHead != null) {
            val rkAny = rk.eval(rHead)
            val rtAny = rt.eval(rHead)
            if (rkAny == null || rtAny == null) rHead = advance()
            else {
              val rKeyV = rkAny.asInstanceOf[Long]
              val rTsV = rtAny.asInstanceOf[Long]
              if (rKeyV < lKeyV || (rKeyV == lKeyV && rTsV <= lTsV)) {
                if (rKeyV == lKeyV) {
                  // iterator rows are reused buffers — copy the candidate
                  cand = rHead.copy(); candKey = rKeyV; candValid = true
                }
                rHead = advance()
              } else walking = false
            }
          }
          toUnsafe(joined(l, if (candValid) cand else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Public builders for the as-of join: the custom-plan path (production)
  * and a composed built-ins twin (union + tag + last-ignore-nulls window)
  * kept as the differential-test witness of the semantics.
  */
object Asof {

  /** Ensure the strategy is active on this session even when the
    * GraftExtensions config was not set (idempotent).
    */
  private def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsofJoinStrategy
  }

  /** As-of join via the custom plan. Both frames must already carry
    * disjoint column names; key columns must be integral, ts columns
    * timestamps. For each left row: the right row with the same key and
    * the greatest rTs <= lTs, null-extended if none.
    */
  def join(left: DataFrame, right: DataFrame,
      lKey: String, rKey: String, lTs: String, rTs: String): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    // fresh output attributes per side (an as-of self-join would otherwise
    // carry duplicate expression ids through the binary node)
    def freshen(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).cast(df.schema(c).dataType).as(c)).toSeq: _*)
    val l = freshen(left.withColumn(lKey, col(lKey).cast("long")))
    val r = freshen(right.withColumn(rKey, col(rKey).cast("long")))
    val lp = PlanBridge.analyzed(l)
    val rp = PlanBridge.analyzed(r)
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${p.output}"))
    PlanBridge.ofRows(spark, AsofJoin(lp, rp,
      attr(lp, lKey), attr(rp, rKey), attr(lp, lTs), attr(rp, rTs)))
  }

  /** Composed-from-built-ins twin: union both sides tagged, sort by
    * (key, ts, tag) with right-before-left at ties (>= semantics), carry
    * the last non-null right struct forward. Same single shuffle, but
    * pays a window sort over the UNION and struct packing — the custom
    * exec replaces exactly this.
    */
  def joinComposed(left: DataFrame, right: DataFrame,
      lKey: String, rKey: String, lTs: String, rTs: String): DataFrame = {
    val lCols = left.columns.toSeq
    val rCols = right.columns.toSeq
    val lStruct = StructType(left.schema.fields)
    val rStruct = StructType(right.schema.fields)
    val lPacked = left.select(
      col(lKey).cast("long").as("__k"), col(lTs).as("__t"), lit(1).as("__tag"),
      struct(lCols.map(col): _*).as("__l"),
      lit(null).cast(rStruct).as("__r"))
    val rPacked = right.select(
      col(rKey).cast("long").as("__k"), col(rTs).as("__t"), lit(0).as("__tag"),
      lit(null).cast(lStruct).as("__l"),
      struct(rCols.map(col): _*).as("__r"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lPacked.unionByName(rPacked)
      .withColumn("__rlast", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(lCols.map(c => col(s"__l.$c").as(c)) ++
        rCols.map(c => col(s"__rlast.$c").as(c)): _*)
  }

  // ------------------------------------------------------- q23_asof_join
  /** Attribution query: every click joined to the same user's most recent
    * view at-or-before the click. Oracle: DuckDB's native ASOF LEFT JOIN.
    */
  private def side(s: SparkSession, d: String, typ: String,
      idAs: String, tsAs: String, userAs: String): DataFrame =
    graft.Tables.load(s, d, "events")
      .filter(col("event_type") === typ)
      .select(col("event_id").as(idAs), col("user_id").as(userAs),
        col("ts").as(tsAs))

  val q23AsofJoin: (SparkSession, String) => DataFrame = (s, d) => {
    val clicks = side(s, d, "click", "click_id", "click_ts", "user_id")
    val views = side(s, d, "view", "view_id", "view_ts", "v_user")
    join(clicks, views, "user_id", "v_user", "click_ts", "view_ts")
      .select(col("click_id"), col("user_id"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        col("view_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"))
      .orderBy("click_id")
  }

  val q23AsofJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id AS user_id, c.ts AS click_ts,
      |  v.event_id AS view_id, v.ts AS view_ts
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts
      |ORDER BY click_id""".stripMargin

  val registry: Seq[Query] = Seq(
    Query("q23_asof_join", q23AsofJoin, q23AsofJoinSql))

  val queries: Map[String, Query.Plan] = Query.plans(registry)
}
