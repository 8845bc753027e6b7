package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, NamedExpression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.catalog.GraftChangesScan

/** Native physical planning for graft CHANGE-FEED scans
  * ([[graft.catalog.GraftChangesV2Table]]: `graft.db.\`t#changes\``
  * and `format("graft").option("changesFrom", …)`) — the replacement
  * for the `V1Scan` bridge's `RDD[Row]`, which forces every row
  * through an InternalRow→Row→InternalRow round-trip and keeps the
  * scan outside WholeStageCodegen. Plain table reads need none of
  * this: they plan through [[graft.catalog.GraftBatchScan]].
  *
  * At physical-planning time the optimizer has settled the filters and
  * projection directly above the scan, so this strategy plans
  * `projects ∘ filters ∘ changes window` as one nested DataFrame — the
  * changelog's own plan (Spark's vectorized parquet scans of the
  * window's files, joins and unions), fully inside codegen, with NO
  * row bridge. The window's pruning is version metadata; the filters
  * re-apply on top exactly.
  *
  * Filters or projections containing subqueries fall back to the
  * bridge (`Nil` from this strategy): re-analyzing an
  * already-optimized subquery inside the nested plan would be
  * fragile, and such shapes are not the hot scan path.
  */
final case class GraftScanStrategy(session: SparkSession)
    extends SparkStrategy with PredicateHelper {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projects, LFilter(cond, ChangesScan(_, cs)))
        if eligible(projects :+ cond) =>
      build(cs, projects, splitConjunctivePredicates(cond)).toSeq
    case LFilter(cond, ChangesScan(r, cs)) if eligible(Seq(cond)) =>
      build(cs, r.output, splitConjunctivePredicates(cond)).toSeq
    case Project(projects, ChangesScan(_, cs)) if eligible(projects) =>
      build(cs, projects, Nil).toSeq
    case ChangesScan(r, cs) => build(cs, r.output, Nil).toSeq
    case _ => Nil
  }

  /** A v2 scan relation over a graft change feed. */
  private object ChangesScan {
    def unapply(p: LogicalPlan)
        : Option[(DataSourceV2ScanRelation, GraftChangesScan)] = p match {
      case r: DataSourceV2ScanRelation => r.scan match {
        case w: V1ScanWrapper => w.v1Scan match {
          case cs: GraftChangesScan => Some((r, cs))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  private def eligible(exprs: Seq[Expression]): Boolean =
    !exprs.exists(_.exists(_.isInstanceOf[SubqueryExpression]))

  /** Plan `projects ∘ filters ∘ changes` as a nested DataFrame and
    * re-key its output to the exprIds the outer plan expects. Returns
    * None — falling back to the bridge, which resolves by position
    * rather than name — when the name-based remap would be unsafe: a
    * referenced column missing from the feed, or duplicate output
    * names making the remap ambiguous.
    */
  private def build(cs: GraftChangesScan, projects: Seq[NamedExpression],
      conds: Seq[Expression]): Option[SparkPlan] = {
    val pruned = cs.frame
    val outAttrs = pruned.queryExecution.analyzed.output
    val byName = outAttrs.map(a => a.name -> a).toMap
    val hasDupNames = byName.size != outAttrs.size
    val needed = (projects ++ conds)
      .flatMap(_.collect { case a: AttributeReference => a.name }).toSet
    if (hasDupNames || !needed.forall(byName.contains)) return None
    def remap(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => byName(a.name)
    }
    val filtered = conds.foldLeft(pruned)((df, c) =>
      df.filter(ColumnBridge.column(remap(c))))
    val projected = filtered.select(projects.map { p =>
      ColumnBridge.column(p match {
        // preserve the OUTER exprIds so parent operators' references
        // resolve against this subplan unchanged
        case a: Alias => Alias(remap(a.child), a.name)(exprId = a.exprId)
        case ne => Alias(remap(ne), ne.name)(exprId = ne.exprId)
      })
    }: _*)
    val child = projected.queryExecution.sparkPlan
    val expected = projects.map(_.toAttribute)
    // nested analysis normally keeps pre-resolved alias ids; if it
    // re-aliased anything, re-key explicitly (cheap, no-op otherwise)
    if (child.output.map(_.exprId) == expected.map(_.exprId)) Some(child)
    else Some(ProjectExec(expected.zip(child.output).map { case (exp, got) =>
      Alias(got, exp.name)(exprId = exp.exprId)
    }, child))
  }
}
