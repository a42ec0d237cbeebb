package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, UnaryNode, Union}
import org.apache.spark.unsafe.types.UTF8String

/** Artifact parameters a frame's PLAN already holds. Every artifact
  * builder stamps its parameters as literal columns
  * (`withColumn("mh_k", lit(k))`, [[CoarseQuantizer.stamp]],
  * [[PostingsCodec]]'s `pq_ck`), so a write can read them from the
  * analyzed plan instead of running a `take(1)` job — which, over a
  * build frame, executes the whole build pipeline's first stage for
  * one head row. A frame whose columns come from anywhere else (a
  * scan of a stored artifact, a join) keeps the head-row read. */
object PlanLiterals {

  /** The values of output columns `names` iff the plan defines EACH as
    * one literal on every path to the root: through projections that
    * pass or rename it, unary operators that keep their child's
    * columns (filter, sort, repartition, window, distinct, limit,
    * explode), and unions whose branches all carry the same value.
    * Anything else — a scan, a join, an aggregate result, branches
    * that disagree — gives None, and so does a missing column. String
    * values come back as `String`. */
  def apply(df: DataFrame, names: String*): Option[Seq[Any]] = {
    val plan = df.queryExecution.analyzed
    val values = names.map(n =>
      plan.output.find(_.name == n).flatMap(a => literalOf(plan, a.exprId)))
    if (values.forall(_.isDefined)) Some(values.map(_.get)) else None
  }

  private def literalOf(plan: LogicalPlan, id: ExprId): Option[Any] =
    plan match {
      case p: Project => defined(p.projectList, p.child, id)
      case a: Aggregate => defined(a.aggregateExpressions, a.child, id)
      case u: Union =>
        val i = u.output.indexWhere(_.exprId == id)
        val vs = if (i < 0) Nil
          else u.children.map(c => literalOf(c, c.output(i).exprId))
        if (vs.nonEmpty && vs.forall(_ == vs.head)) vs.head else None
      case u: UnaryNode if u.child.output.exists(_.exprId == id) =>
        literalOf(u.child, id)
      case _ => None
    }

  private def defined(exprs: Seq[NamedExpression], child: LogicalPlan,
      id: ExprId): Option[Any] =
    exprs.find(_.exprId == id).flatMap {
      case Alias(Literal(v: UTF8String, _), _) => Some(v.toString)
      case Alias(Literal(v, _), _) => Some(v)
      case Alias(a: Attribute, _) => literalOf(child, a.exprId)
      case a: Attribute => literalOf(child, a.exprId)
      case _ => None
    }
}
