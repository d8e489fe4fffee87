package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.sync.{Reconcile, ReconcileQueries}
import graft.metrics.DashboardQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every module's registered operators; `oracleSql`
  * carries the DuckDB-equivalent SQL for each (omitted where semantics are
  * not portably SQL-expressible — those are covered by ScalaTest instead).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reconciliation summary is the reference's headline computation
    * (etl/flows/sync_daily.py:324-436). */
  def entry(spark: SparkSession): DataFrame =
    Reconcile.summary(spark, "/root/testdata/sf0.001")

  /** THE registry module list: each module's (queries, oracles) pair.
    * [[queries]], [[oracleSql]] and RegistrySpec's uniqueness check all
    * read it. */
  private[graft] def modules
      : Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] = Seq(
    ReconcileQueries.queries -> ReconcileQueries.oracles,
    graft.sync.Ivm.queries -> graft.sync.Ivm.oracles,
    DashboardQueries.queries -> DashboardQueries.oracles,
    graft.expr.ExprQueries.queries -> graft.expr.ExprQueries.oracles,
    graft.pipeline.CaseDocs.queries -> graft.pipeline.CaseDocs.oracles,
    graft.ml.TextOps.queries -> graft.ml.TextOps.oracles,
    graft.ml.Dedup.queries -> graft.ml.Dedup.oracles,
    graft.ml.Similarity.queries -> graft.ml.Similarity.oracles,
    graft.ml.Retrieval.queries -> graft.ml.Retrieval.oracles,
    graft.ml.RagFlagship.queries -> graft.ml.RagFlagship.oracles,
    graft.ml.Curation.queries -> graft.ml.Curation.oracles,
    graft.ml.Multimodal.queries -> graft.ml.Multimodal.oracles,
    graft.ml.EntityResolution.queries -> graft.ml.EntityResolution.oracles,
    graft.pipeline.Enricher.queries -> graft.pipeline.Enricher.oracles,
    graft.operators.Temporal.queries -> graft.operators.Temporal.oracles,
    graft.operators.Graph.queries -> graft.operators.Graph.oracles,
    graft.operators.Layout.queries -> graft.operators.Layout.oracles,
    graft.streaming.IncrementalSync.queries -> graft.streaming.IncrementalSync.oracles,
    graft.pipeline.Lineage.queries -> graft.pipeline.Lineage.oracles,
    graft.pipeline.Takedown.queries -> graft.pipeline.Takedown.oracles,
    graft.plans.DataQuality.queries -> graft.plans.DataQuality.oracles)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = modules.map(_._1).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = modules.map(_._2).reduce(_ ++ _)
}
