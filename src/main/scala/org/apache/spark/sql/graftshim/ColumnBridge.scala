package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column ↔ Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`, Spark 4.x), so graft's
  * native Catalyst expressions ([[graft.functions.VectorExprs]]) can be
  * used as `Column`s. Lives under the org.apache.spark.sql namespace for
  * visibility only — the standard pattern for Spark extension libraries;
  * no Spark internals are modified.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Render an (unresolved) Column as parseable SQL text: the lazy
    * [[expression]] wrapper prints as `columnnodeexpression(...)` before
    * analysis, so go through the eager node converter instead. */
  def sqlOf(c: Column): String =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node).sql

  /** The EAGERLY-converted expression tree of a Column — what callers
    * that pattern-match the tree (e.g. predicate lowering to manifest
    * probes) need; the lazy [[expression]] wrapper is one opaque leaf
    * until analysis. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Wrap a (resolved) logical plan as a DataFrame — the `Dataset.ofRows`
    * bridge custom operators need to hand their plan node back to the
    * public API ([[graft.plans.AsOfJoin]]). Same visibility-only
    * rationale as the Column converters above. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's UUID (`private[sql]` in Spark 4.x): a key that, unlike
    * the session itself, no memoized plan pins ([[graft.Tables]]). */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID
}
