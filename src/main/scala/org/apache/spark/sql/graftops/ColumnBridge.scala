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

/** Re-export of the spark-private listener bus for [[graft.scale.JobLedger]]:
  * block until every listener queue has delivered the events posted so
  * far. A job's task, stage and job-end events are posted before its
  * action returns, so after `drain` a listener has seen all of them. */
object ListenerBridge {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}

/** Spark's parquet schema resolution without its inference job, for
  * [[graft.Tables.load]]. Spark's non-merging rule
  * (`ParquetUtils.inferSchema`) reads exactly one footer, picked over
  * Spark's own file listing in path order: `_common_metadata`, else
  * `_metadata`, else the first data file. It reads that footer inside a
  * one-task job; this reads the same footer on the driver and converts it
  * the same way (Spark's row metadata when present, else the session's
  * conversion confs). `None` when there is no footer to read: a missing
  * path or a directory without data files. */
object FooterBridge {
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
    ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  def schema(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[StructType] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val files = new InMemoryFileIndex(session, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    // with neither summary file present, the head is the first data file
    named("_common_metadata").orElse(named("_metadata")).orElse(files.headOption)
      .map { f =>
        val conf = session.sessionState.newHadoopConf()
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(session.sessionState.conf))
      }
  }
}
