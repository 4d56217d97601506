package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sketches.{BloomMightContain, BloomNdv, CmsEstimate, CmsInnerProduct, CuckooContains}

/**
 * Optimizer rule: a sketch that reaches its probe through a one-row join
 * side is probed as a task constant instead of as row payload.
 *
 *   Project(probe(sk, k), Join(rows, <exactly one row: sk>, Inner, None))
 *     ⇒ Project(probe(<scalar-subquery: sk>, k), rows)
 *
 * Joined, the sketch is a column of every output row: each row reads it
 * with `UnsafeRow.getBinary`, which copies the whole sketch, and the
 * probe's one-entry cache then compares that fresh copy byte for byte
 * (Bloom, CMS) or misses outright (cuckoo's identity cache) — O(sketch
 * size) per probe. An uncorrelated scalar subquery runs once per query
 * and its result is inlined into the generated code as a literal, one
 * object per task, so every probe hits the identity cache exactly as a
 * `lit(bytes)` sketch does. The sketch stays task state, never row data.
 *
 * The join is replaced by a Project that re-defines each column of the
 * one-row side under its own ExprId, so the plan above is untouched and
 * CollapseProject folds the subquery into the probe. Columns that are
 * already constants (a literal or an uncorrelated subquery, e.g. from an
 * earlier rewrite of a nested join) are carried over as they are instead
 * of being wrapped in a subquery over their own side. The rule runs in
 * the operator-optimization fixpoint, after the optimizer's own subquery
 * pass, so it runs the session optimizer over each subquery it builds
 * (as OptimizeSubqueries does): column pruning, scan push-down and the
 * DSv2 scan conversion still apply to the sketch's side.
 *
 * Guards, each needed for the rewrite to keep the join's answer:
 *  - one side produces exactly one row whatever its input: a global
 *    Aggregate, a one-row LocalRelation or OneRowRelation, optionally
 *    under Projects or hints. A Filter, an empty or multi-row relation,
 *    or a grouped Aggregate could yield zero or many rows, where a
 *    scalar subquery yields NULL or fails;
 *  - the join is inner or cross with no condition (outer, semi and anti
 *    joins differ from a cross product with one row), and neither side
 *    is streaming;
 *  - the one-row side is deterministic: each column becomes its own
 *    subquery, so the row must be the same whichever one computes it;
 *  - a column of that side reaches the sketch argument of a graft probe,
 *    so no other join in the engine changes plan.
 *
 * Idempotent: a rewritten join is gone, and one pass (bottom-up) also
 * rewrites a join that only became one-row-sided by a rewrite below it.
 */
case class OneRowSketchJoinRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Sketch arguments of the graft probes in one expression node. */
  private def sketchArgs(e: Expression): Seq[Expression] = e match {
    case BloomMightContain(sk, _) => Seq(sk)
    case CmsEstimate(sk, _)       => Seq(sk)
    case CuckooContains(sk, _)    => Seq(sk)
    case BloomNdv(sk)             => Seq(sk)
    case CmsInnerProduct(a, b)    => Seq(a, b)
    case _                        => Nil
  }

  /** Produces exactly one row, whatever its input. */
  private def oneRow(p: LogicalPlan): Boolean = p match {
    case Project(_, child)      => oneRow(child)
    case ResolvedHint(child, _) => oneRow(child)
    case a: Aggregate           => a.groupingExpressions.isEmpty
    case l: LocalRelation       => l.data.size == 1
    case _: OneRowRelation      => true
    case _                      => false
  }

  private def rewritable(side: LogicalPlan, probed: AttributeSet): Boolean =
    oneRow(side) && side.deterministic && side.output.exists(probed.contains)

  /** Each column of a one-row side as a constant under its own ExprId. */
  private def constants(side: LogicalPlan): Seq[NamedExpression] = {
    val defined = side match {
      case Project(list, _) =>
        AttributeMap(list.collect { case a: Alias => a.toAttribute -> a.child })
      case _ => AttributeMap(Seq.empty[(Attribute, Expression)])
    }
    side.output.map { a =>
      val value = defined.get(a) match {
        case Some(e) if e.references.isEmpty &&
            (e.foldable || e.isInstanceOf[ScalarSubquery]) => e
        case _ =>
          val Subquery(column, _) = spark.sessionState.optimizer
            .execute(Subquery(Project(Seq(a), side), correlated = false))
          ScalarSubquery(column)
      }
      Alias(value, a.name)(exprId = a.exprId, qualifier = a.qualifier)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val probed = AttributeSet(
      plan.flatMap(_.expressions.flatMap(_.flatMap(sketchArgs))).flatMap(_.references))
    if (probed.isEmpty) return plan
    plan.transformUp {
      case j @ Join(left, right, _: InnerLike, None, _)
          if !left.isStreaming && !right.isStreaming =>
        if (rewritable(right, probed)) Project(left.output ++ constants(right), left)
        else if (rewritable(left, probed)) Project(constants(left) ++ right.output, right)
        else j
    }
  }
}
