package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, DeleteFromTable, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{SnapshotLog, SnapshotStreamTable}

/** File-scan BATCH reads for snapshot/catalog tables.
  *
  * The DSv2 table's own batch scan hands rows one file per input
  * partition through Spark's parquet partition reader — the right shape
  * for a micro-batch FEED (tiny per-trigger file sets, per-file
  * deletion-vector composition, version-pinned admission), but the
  * wrong one for `SELECT *` over a large catalog table: no columnar
  * batches into whole-stage codegen, no parquet filter pushdown, no
  * partition pruning, no size statistics.
  *
  * This optimizer rule substitutes every batch [[DataSourceV2Relation]]
  * over a [[SnapshotStreamTable]] with the library's own read plan for
  * the same version ([[SnapshotLog.readForScan]] — the manifest's
  * surviving file list through Spark's native vectorized parquet scan,
  * deletion vector anti-applied, hive partition values re-attached),
  * re-aliased to the relation's output attribute ids so every parent
  * operator's references stay bound. After substitution the plan is a
  * plain `LogicalRelation`, so Spark's whole file-scan arsenal applies
  * for free: columnar batches + whole-stage codegen, parquet
  * predicate/column pushdown, partition pruning (static AND dynamic),
  * AQE statistics from real file sizes.
  *
  * What it deliberately does NOT touch:
  *  - STREAMING relations (`readStream`) — the micro-batch stream keeps
  *    its versions-as-offsets exactly-once contract;
  *  - `DELETE FROM` targets — `SupportsDelete` needs the v2 relation;
  *  - relations whose version has no committed files (declared-empty),
  *    or output columns the substituted plan cannot re-bind — those
  *    keep the v2 scan (correct, just row-based). */
class SnapshotBatchRead(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    // the DELETE target must stay a DSv2 relation: canDeleteWhere /
    // deleteWhere plan against the table, not against a file scan —
    // but the node's own expressions (a condition's subquery reads of
    // OTHER snapshot tables) still vectorize
    case d: DeleteFromTable => rewriteSubqueries(d)
    // ADD CONSTRAINT ... CHECK validates through a v2 scan of the table
    // — the strategy pattern-matches DataSourceV2ScanRelation under it
    case a: AddCheckConstraint => rewriteSubqueries(a)
    case r: DataSourceV2Relation => r.table match {
      case t: SnapshotStreamTable => substitute(r, t)
      case _                      => r
    }
    case other => other.mapChildren(rewrite)
  }

  /** Rewrite the subquery PLANS carried by this node's own expressions
    * (they are not children, so [[rewrite]]'s child recursion never
    * reaches them), leaving the node and its child subtree intact. */
  private def rewriteSubqueries(p: LogicalPlan): LogicalPlan =
    p.transformExpressions {
      case s: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
        s.withNewPlan(rewrite(s.plan))
    }

  private def substitute(rel: DataSourceV2Relation,
      t: SnapshotStreamTable): LogicalPlan =
    SnapshotLog.readForScan(spark, t.dir, t.versionAsOf) match {
      case None => rel
      case Some(df) =>
        val scan = df.queryExecution.analyzed
        val byName = scan.output.map(a => a.name -> a).toMap
        // every relation output column must re-bind by name AND type,
        // or the substitution is unsound — keep the v2 scan then
        val rebindable = rel.output.forall(o =>
          byName.get(o.name).exists(_.dataType == o.dataType))
        if (!rebindable) rel
        else Project(rel.output.map { o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId,
            qualifier = o.qualifier)
        }, scan)
    }
}
