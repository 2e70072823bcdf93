package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the sql-private Column/Expression conversions (Spark 4 hides
  * them behind the Connect column-node layer) — the same in-package shim
  * pattern OSS Spark extension libraries use to expose native Catalyst
  * Expressions as Columns. */
object GraftColumn {
  def of(e: Expression): Column = classic.ExpressionUtils.column(e)
  def exprOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the executor blocks of an eagerly `localCheckpoint()`ed
    * Dataset (they otherwise live until RDD GC): unpersists the
    * checkpointed RDD behind the frame's LogicalRDD. No-op on frames
    * that aren't checkpoints. Call only after the frame's LAST job —
    * the lineage is truncated, so the blocks are unrecoverable. */
  def releaseLocalCheckpoint(df: Dataset[_]): Unit =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** A streaming frame over a relation — what a V1 streaming `Source`'s
    * `getBatch` returns (Spark's own file stream source does the same). */
  def streamingFrame(spark: SparkSession, rel: sources.BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      execution.datasources.LogicalRelation(rel, isStreaming = true))

  /** A Catalyst predicate as a data source `Filter`, when it has one
    * (`DataSourceStrategy.translateFilter` is sql-private). */
  def translateFilter(e: Expression): Option[sources.Filter] =
    execution.datasources.DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = true)

  /** Register a function into a live session's registry (sessionState is
    * sql-private; the extensions path only runs at session build time). */
  def registerFunction(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(id, info, builder)
}
