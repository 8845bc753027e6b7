package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}

/** `Dataset.ofRows` — wrap an analyzed logical plan back into a
  * DataFrame — is `private[sql]`. The dynamic partition overwrite
  * ([[graft.plans.GraftDynamicOverwriteCommand]]) needs exactly this
  * to hand the analyzed INSERT query to the table's commit;
  * [[unionByName]] uses it to hand back a union analyzed once. No
  * Spark internals are modified.
  */
object DatasetBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `Dataset.unionByName(_, allowMissingColumns = true)` over n frames
    * at once: one by-name `Union` analyzed once, then its nested plain
    * unions flattened, as `Dataset.combineUnions` (private) flattens
    * after each binary step. Spark's analyzer rejects such a union when
    * a column's type differs between frames — see
    * `SchemaOps.unionByNameAll`.
    */
  def unionByName(dfs: Seq[DataFrame]): DataFrame = {
    val session = dfs.head.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val analyzed = session.sessionState.executePlan(Union(
      dfs.map(_.queryExecution.analyzed), byName = true, allowMissingCol = true)).analyzed
    def plain(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case Union(children, false, false) => children.flatMap(plain)
      case other => Seq(other)
    }
    ofRows(session, analyzed.transformDown {
      case u @ Union(children, false, false) if children.exists(_.isInstanceOf[Union]) =>
        u.copy(children = plain(u))
    })
  }
}
