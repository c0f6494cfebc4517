package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst analog of the pinned connector's `directJoin` (SURVEY.md §2.2,
  * §4.2): the Spark-Cassandra connector 3.3.0 converts a join against a
  * Cassandra table keyed on its partition key into per-key point lookups
  * instead of a full scan + shuffle (capability selected by the reference at
  * userdata/cloudinit.sh:461, unexercised by its one query).
  *
  * Spark-native realization: when an inner equi-join has a driver-known tiny
  * side (a `LocalRelation`, e.g. a literal key list), rewrite the big side to
  * `Filter(key IN (k₁..kₙ), bigSide)` — the IN predicate reaches the parquet
  * scan as a pushed filter (`PushedFilters: [In(key, ...)]`, asserted in
  * PlanSpec), so only row groups containing the requested keys are read:
  * point reads by partition key, which is exactly what directJoin does. The
  * join itself is left in place for exact semantics (duplicates, null
  * handling); it runs over the filtered scan.
  *
  * Semantically a pure optimization — plans that don't match are untouched,
  * and the rewrite never changes results. Installed once per session by
  * `GraftExtensions` (`SparkSessionBuilder.withExtensions` in
  * `Sessions.local`, which builds every session in this repo). The injected
  * rule runs inside the fixed-point operator-optimization batch, so it
  * guards its own idempotence.
  *
  * Scale note: this is the right plan only when the key list is genuinely
  * driver-sized (≤ MaxKeys). A SF-scaling probe side must stay a shuffle or
  * broadcast join — hence the hard cap, mirroring the connector's own
  * "directJoinSizeRatio" guard.
  */
object DirectJoinRule extends Rule[LogicalPlan] {
  private val MaxKeys = 1024

  private def keysOf(rel: LocalRelation, attr: Attribute): Option[Seq[Literal]] = {
    val idx = rel.output.indexWhere(_.exprId == attr.exprId)
    if (idx < 0 || rel.data.size > MaxKeys || rel.data.isEmpty) None
    // a null key never matches an equi-join, but getLong/getInt would read
    // it as 0 and the planted IN would wrongly admit key 0 — bail instead
    else if (rel.data.exists(_.isNullAt(idx))) None
    else attr.dataType match {
      case LongType => Some(rel.data.map(r => Literal(r.getLong(idx), LongType)))
      case IntegerType => Some(rel.data.map(r => Literal(r.getInt(idx), IntegerType)))
      case _ => None
    }
  }

  /** True if a prior iteration of the fixed-point optimizer batch already
    * planted the IN filter anywhere under the big side. Must recognize every
    * shape later rules produce from our `In`: OptimizeIn rewrites
    * In → InSet for key lists above inSetConversionThreshold (default 10)
    * and In → EqualTo for single-key lists, and ColumnPruning can interpose
    * a Project between the Join and the Filter — so this searches the whole
    * subtree, not just the immediate child, or the rule would re-add the
    * filter every iteration and the batch would never converge. */
  private def alreadyRewritten(side: LogicalPlan, attr: Attribute): Boolean =
    side.exists {
      case Filter(cond, _) =>
        cond.exists {
          case In(a: Attribute, _) => a.exprId == attr.exprId
          case InSet(a: Attribute, _) => a.exprId == attr.exprId
          case EqualTo(a: Attribute, _: Literal) => a.exprId == attr.exprId
          case EqualTo(_: Literal, a: Attribute) => a.exprId == attr.exprId
          case _ => false
        }
      case _ => false
    }

  private def rewrite(j: Join, big: LogicalPlan, rel: LocalRelation,
      x: AttributeReference, y: AttributeReference, relOnLeft: Boolean): Join = {
    val (smallKey, bigKey) = if (rel.outputSet.contains(x)) (x, y) else (y, x)
    if (!rel.outputSet.contains(smallKey) || !big.outputSet.contains(bigKey)) j
    else if (alreadyRewritten(big, bigKey)) j
    else keysOf(rel, smallKey) match {
      case Some(keys) =>
        val filtered = Filter(In(bigKey, keys), big)
        if (relOnLeft) j.copy(right = filtered) else j.copy(left = filtered)
      case None => j
    }
  }

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner,
        Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
      (left, right) match {
        case (rel: LocalRelation, big) => rewrite(j, big, rel, x, y, relOnLeft = true)
        case (big, rel: LocalRelation) => rewrite(j, big, rel, x, y, relOnLeft = false)
        case _ => j
      }

    // LeftSemi against a literal key list is a pure point-lookup EXISTS —
    // a semi join neither duplicates nor projects the right side, so the
    // whole Join collapses to the pushed IN filter: no join remains in the
    // plan at all (the strongest directJoin form; PlanSpec asserts the
    // join-free physical plan). Output is `big.output`, identical to the
    // semi join's. Keys are distinct-ed only to keep the IN list minimal —
    // semi semantics ignore right-side multiplicity anyway.
    case j @ Join(big, rel: LocalRelation, LeftSemi,
        Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
      val (smallKey, bigKey) =
        if (rel.outputSet.contains(x)) (x, y) else (y, x)
      if (!rel.outputSet.contains(smallKey) || !big.outputSet.contains(bigKey)) j
      else keysOf(rel, smallKey) match {
        case Some(keys) => Filter(In(bigKey, keys.distinct), big)
        case None => j
      }
  }
}

/** SparkSessionExtensions entry point: `.withExtensions(new GraftExtensions)`
  * or `spark.sql.extensions=graft.plans.GraftExtensions`. The one mechanism
  * that installs the repo's optimizer rule and native functions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => DirectJoinRule)
    graft.functions.Natives.all.foreach { case (name, className, builder) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(className, name),
        builder))
    }
  }
}
