package org.apache.spark.sql.graftops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor (Column now
  * wraps a ColumnNode); the converter lives in the sql-private
  * ExpressionUtils. This bridge re-exports just the two conversions the
  * graft custom expressions need, from inside the sql package namespace —
  * the same approach used by open-source Spark extensions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Re-exports of the sql-private pieces of `Dataset.localCheckpoint` for
  * [[graft.scale.Fixpoint]], which materializes a round's checkpoint and
  * its convergence count in one job (see its scaladoc for the
  * accumulator-tap invariant). */
object CheckpointBridge {
  import org.apache.spark.rdd.RDD
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.plans.logical.Statistics
  import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
  import org.apache.spark.sql.execution.LogicalRDD

  /** The origin dataset's physical rows, for the caller to wrap (add
    * accumulator taps), localCheckpoint, and materialize with count(). */
  def internalRows(origin: org.apache.spark.sql.Dataset[_]): RDD[InternalRow] =
    origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.toRdd

  /** Wrap an already-materialized checkpointed RDD of the origin's rows
    * back into a DataFrame, preserving the origin's partitioning and
    * ordering (the `Dataset.localCheckpoint` construction). Statistics:
    * the measured `rowCount` at the row format's width, capped by the
    * origin's estimate, which counts cached inputs' compressed bytes — so
    * a label table does not look larger than the cached edges it joins. */
  def checkpointedFrame(origin: org.apache.spark.sql.Dataset[_],
      rdd: RDD[InternalRow], rowCount: Long): org.apache.spark.sql.DataFrame = {
    val ds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val logical = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val stats = Statistics(
      sizeInBytes = (EstimationUtils.getSizePerRow(logical.output) * rowCount)
        .min(logical.stats.sizeInBytes),
      rowCount = Some(rowCount))
    val measured = logical.copy()(ds.sparkSession, Some(stats), Some(logical.constraints))
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, measured)
  }
}
