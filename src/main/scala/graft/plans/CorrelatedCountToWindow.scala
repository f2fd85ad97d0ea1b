package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, Attribute, AttributeMap, EqualTo, Expression, If, IsNotNull, IsNull,
  Literal, NamedExpression, PredicateHelper, RowFrame, SpecifiedWindowFrame,
  UnboundedFollowing, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.optimizer.{
  BooleanSimplification, CollapseProject, ColumnPruning, ConstantFolding, ConvertToLocalRelation,
  NullPropagation, PushFoldableIntoBranches, RemoveNoopOperators, SimplifyConditionals}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, CTERelationRef, Filter, Join, LocalRelation, LogicalPlan, Project, Union, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.BooleanType

/** Optimizer rule: a correlated `COUNT(*)` over the outer query's own rows
  * becomes a window sum over the outer aggregate (Zuzarte et al.,
  * "WinMagic", SIGMOD 2003).
  *
  * `SELECT k, …, COUNT(*), (SELECT COUNT(*) FROM r sub WHERE sub.k = o.k)
  * FROM r o GROUP BY k, …` is decorrelated by Catalyst into a left outer
  * join of the outer aggregate `L` with a second aggregate
  * `[k], [count(1), k, true AS alwaysTrue]` over another scan of `r`. The
  * per-`k` count is already in `L`: it is the sum of `L`'s `COUNT(*)` over
  * the rows with the same `k`. The rule replaces the join with
  * `Window(sum(count) OVER (PARTITION BY k), L)`, so `r` is read once.
  *
  * Each of the right side's outputs keeps its `exprId` and is NULL when `k`
  * is NULL, as the outer join gives a NULL key, so the count-bug guard
  * Catalyst puts above the join (`if (isnull(alwaysTrue)) 0 else count`)
  * still gives 0 there.
  *
  * It fires only when all of these hold, and leaves the plan as it is
  * otherwise:
  *  - the join is `LeftOuter` on one equality of an output of `L` that is a
  *    grouping expression of `L` and the right's only grouping attribute;
  *  - `L` has a plain `COUNT(*)`, and the right's outputs are only its key,
  *    `COUNT(*)` and the literal `true`;
  *  - both sides are deterministic, and neither reads a CTE that Catalyst
  *    kept un-inlined (it does so for a nondeterministic one);
  *  - below each aggregate's aliasing `Project`, with attribute-only
  *    `Project`s dropped (neither input may hold a `Union`, which matches
  *    columns by position), the two inputs have the same result once the
  *    right loses the conjuncts that are Spark's simplification of
  *    `isnotnull(k)` (Infer Filters adds them from the join; without them
  *    the right's NULL-key group, which joins nothing, comes back); and the
  *    right's key, mapped onto `L`'s input, is `L`'s key. Failing that, the
  *    two inputs projected onto their keys, with unread columns pruned and
  *    local relations folded, have the same result: the subquery is
  *    optimized whole, so a local relation in it (a driver-held dim)
  *    arrives pruned and folded while `L`'s copy keeps every column.
  * Switch it off with `spark.sql.optimizer.excludedRules`.
  */
object CorrelatedCountToWindow extends Rule[LogicalPlan] with PredicateHelper {

  private object CountStar {
    def unapply(e: Expression): Boolean = e match {
      case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) => true
      case _ => false
    }
  }

  /** The aggregate's input below its aliasing `Project`, with
    * attribute-only `Project`s dropped, and the aliases that `Project`
    * defines.
    */
  private def input(agg: Aggregate): (LogicalPlan, AttributeMap[Expression]) = {
    val (below, aliases) = agg.child match {
      case Project(list, child) =>
        (child, AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child }))
      case child => (child, AttributeMap.empty[Expression])
    }
    (below.transformUp {
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => child
    }, aliases)
  }

  private def resolve(e: Expression, aliases: AttributeMap[Expression]): Expression =
    e.transformUp { case a: Attribute => aliases.getOrElse(a, a) }

  /** `p` with `rules` applied until it stops changing, at most 10 rounds. */
  @annotation.tailrec
  private def fixedPoint(p: LogicalPlan, rules: Seq[Rule[LogicalPlan]], rounds: Int = 10): LogicalPlan = {
    val next = rules.foldLeft(p)((q, r) => r(q))
    if (rounds == 0 || next.fastEquals(p)) next else fixedPoint(next, rules, rounds - 1)
  }

  /** Spark's simplification of `isnotnull(e)`, the form Infer Filters
    * leaves in a `Filter`.
    */
  private def notNullConjunct(e: Expression): Expression =
    fixedPoint(Filter(IsNotNull(e), LocalRelation(e.references.toSeq)), Seq(NullPropagation,
      PushFoldableIntoBranches, ConstantFolding, SimplifyConditionals, BooleanSimplification)) match {
      case Filter(c, _) => c
      case _ => IsNotNull(e)
    }

  /** `plan`'s rows projected onto `key`, with the columns nothing reads
    * pruned and local relations folded. A scalar subquery is optimized
    * whole, so a local relation in it arrives already pruned and folded
    * while the outer copy still has every column; this form of both is
    * the same plan. A `Project` keeps row multiplicity, so equal forms
    * give equal per-key counts.
    */
  private def keyRows(plan: LogicalPlan, key: Expression): LogicalPlan =
    fixedPoint(Project(Seq(Alias(key, "key")()), plan),
      Seq(ColumnPruning, ConvertToLocalRelation, CollapseProject, RemoveNoopOperators))

  /** `plan` without the filter conjuncts equal to `c`, looking through
    * filters and inner joins only, where a row filter commutes with the
    * operators above it.
    */
  private def without(plan: LogicalPlan, c: Expression): LogicalPlan = plan match {
    case Filter(cond, child) =>
      val rest = without(child, c)
      splitConjunctivePredicates(cond).filterNot(_.semanticEquals(c))
        .reduceOption(And).map(Filter(_, rest)).getOrElse(rest)
    case j @ Join(l, r, Inner, _, _) => j.copy(left = without(l, c), right = without(r, c))
    case other => other
  }

  private def deterministic(plan: LogicalPlan): Boolean =
    plan.deterministic && !plan.exists(_.isInstanceOf[CTERelationRef])

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left: Aggregate, right: Aggregate, LeftOuter, Some(EqualTo(a: Attribute, b: Attribute)), _) =>
      rewrite(left, right, a, b).orElse(rewrite(left, right, b, a)).getOrElse(j)
  }

  private def rewrite(left: Aggregate, right: Aggregate, keyL: Attribute,
      keyR: Attribute): Option[LogicalPlan] = {
    val countL = left.aggregateExpressions.collectFirst {
      case a @ Alias(CountStar(), _) => a.toAttribute
    }
    val groupL = left.aggregateExpressions.find(_.exprId == keyL.exprId).map {
      case Alias(child, _) => child
      case e => e
    }.filter(k => left.groupingExpressions.exists(_.semanticEquals(k)))
    val rightShape = right.groupingExpressions match {
      case Seq(k: Attribute) if k.exprId == keyR.exprId =>
        right.aggregateExpressions.forall {
          case a: Attribute => a.exprId == keyR.exprId
          case Alias(CountStar(), _) | Alias(Literal(true, BooleanType), _) => true
          case _ => false
        }
      case _ => false
    }
    if (countL.isEmpty || groupL.isEmpty || !rightShape ||
        !deterministic(left) || !deterministic(right)) return None
    val (inL, aliasesL) = input(left)
    val (inR, aliasesR) = input(right)
    val (keyDefL, keyDefR) = (resolve(groupL.get, aliasesL), resolve(keyR, aliasesR))
    val rowsR = without(inR, notNullConjunct(keyDefR))
    lazy val ontoL = AttributeMap[Expression](inR.output.zip(inL.output))
    val sameRows = !Seq(inL, inR).exists(_.exists(_.isInstanceOf[Union])) && (
      inL.sameResult(rowsR) && resolve(keyDefR, ontoL).semanticEquals(keyDefL) ||
        keyRows(inL, keyDefL).sameResult(keyRows(rowsR, keyDefR)))
    if (!sameRows) return None

    val total = Alias(WindowExpression(
      AggregateExpression(Sum(countL.get), Complete, isDistinct = false),
      WindowSpecDefinition(Seq(keyL), Nil,
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing))),
      "count_per_key")()
    def unlessNullKey(e: Expression): Expression =
      If(IsNull(keyL), Literal(null, e.dataType), e)
    val rightOut: Seq[NamedExpression] = right.aggregateExpressions.map {
      case a: Attribute => Alias(keyL, a.name)(exprId = a.exprId)
      case a @ Alias(CountStar(), _) =>
        Alias(unlessNullKey(total.toAttribute), a.name)(exprId = a.exprId)
      case a: Alias => Alias(unlessNullKey(a.child), a.name)(exprId = a.exprId)
    }
    Some(Project(left.output ++ rightOut, Window(Seq(total), Seq(keyL), Nil, left)))
  }
}
