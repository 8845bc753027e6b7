package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, MergeIntoTable, OverwritePartitionsDynamic, SubqueryAlias, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.DatasetBridge

import graft.catalog.{GraftFunctionCatalog, GraftV2Table, SnapshotTable}

/** SQL `DELETE` / `UPDATE` / `MERGE INTO` on a graft TEMP VIEW
  * (`CREATE TEMPORARY VIEW v USING graft …`). The view resolves to the
  * same [[graft.catalog.GraftV2Table]] a catalog table does, but
  * Spark's row-level rewrites (`RewriteDeleteFromTable` /
  * `RewriteUpdateTable` / `RewriteMergeIntoTable`) only look through
  * `SubqueryAlias` nodes, and a temp view adds a `View` node — so the
  * statement would fail analysis. This resolution rule drops that
  * `View` (keeping the aliases above it) when it wraps a graft
  * relation; the rewrite then plans the statement natively onto
  * [[graft.catalog.GraftRowLevelOperation]], exactly as for
  * `graft.db.t`. A path-addressed relation has no catalog, so the rule
  * also gives it [[graft.catalog.GraftFunctionCatalog]]: the write's
  * clustering by `months` / `bucket` resolves through it.
  */
object GraftViewDml extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d: DeleteFromTable if wrapsGraft(d.table) =>
      d.copy(table = unwrap(d.table))
    case u: UpdateTable if wrapsGraft(u.table) =>
      u.copy(table = unwrap(u.table))
    case m: MergeIntoTable if wrapsGraft(m.targetTable) =>
      m.copy(targetTable = unwrap(m.targetTable))
  }

  @tailrec private def wrapsGraft(p: LogicalPlan): Boolean = p match {
    case SubqueryAlias(_, child) => wrapsGraft(child)
    case v: View => GraftSqlDml.targetOf(v.child).isDefined
    case _ => false
  }

  private def unwrap(p: LogicalPlan): LogicalPlan = p match {
    case a @ SubqueryAlias(_, child) => a.copy(child = unwrap(child))
    case v: View => withFunctions(v.child)
    case other => other
  }

  private def withFunctions(p: LogicalPlan): LogicalPlan = p match {
    case a @ SubqueryAlias(_, child) => a.copy(child = withFunctions(child))
    case r: DataSourceV2Relation if r.catalog.isEmpty =>
      r.copy(catalog = Some(new GraftFunctionCatalog))
    case other => other
  }
}

/** Dynamic partition overwrite (`INSERT OVERWRITE` under
  * `partitionOverwriteMode=dynamic`, or `writeTo(...)
  * .overwritePartitions`) on a graft table: the V1 write bridge has no
  * dynamic-overwrite exec, so this post-hoc rule lowers the node onto
  * the table's atomic `overwritePartitions` commit.
  */
object GraftDynamicOverwriteRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case o: OverwritePartitionsDynamic if o.query.resolved &&
        GraftSqlDml.targetOf(o.table).isDefined =>
      val t = GraftSqlDml.targetOf(o.table).get
      if (t.pinned.nonEmpty) throw new UnsupportedOperationException(
        "cannot INSERT OVERWRITE (dynamic) a time-travel " +
          "(versionAsOf / tag / timestampAsOf) relation")
      GraftDynamicOverwriteCommand(t.table, o.query)
  }
}

object GraftSqlDml {

  /** The graft table behind a (possibly aliased / view-wrapped) plan;
    * None = not a graft table, leave the plan alone.
    */
  @tailrec private[plans] def targetOf(p: LogicalPlan): Option[GraftV2Table] =
    p match {
      case SubqueryAlias(_, child) => targetOf(child)
      case v: View => targetOf(v.child)
      case r: DataSourceV2Relation => r.table match {
        case g: GraftV2Table => Some(g)
        case _ => None
      }
      case _ => None
    }
}

/** Dynamic partition overwrite lowered to the atomic
  * partition-granularity swap ([[graft.catalog.SnapshotTable
  * .overwritePartitions]]): only hidden partitions present in the
  * incoming rows are replaced, in ONE commit.
  */
final case class GraftDynamicOverwriteCommand(table: SnapshotTable,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    table.overwritePartitions(DatasetBridge.ofRows(session, query))
    Nil
  }
}
