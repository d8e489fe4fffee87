package graft

import org.apache.spark.sql.SparkSession

/** SQL façade: register the engine's tables and derived pipeline views
  * as temp views so everything is drivable from `spark.sql(...)` — the
  * way the reference's monitoring/dashboard consumers actually work
  * (raw SQL over the mirror tables, monitoring/dashboard.py:249-286).
  *
  * Views are lazy logical plans, not materializations: a SQL query over
  * `recon_categories` compiles into the SAME Catalyst plan as the
  * DataFrame form (one full-outer join), with filters and projections
  * pushed through the view into the scans. Registering runs no Spark
  * job (the tables' schemas come from their footers, see [[Tables]]) and
  * costs nothing at any scale.
  */
object SqlViews {

  /** Base tables (events via the schema-adaptive reader). */
  private val baseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings")

  def register(spark: SparkSession, dir: String): Unit = {
    baseTables.foreach(t =>
      Tables.load(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    // derived pipeline views: the synthesized snapshots and the flagship
    // reconciliation, queryable exactly like the reference's DB mirror
    sync.Reconcile.crmSnapshot(spark, dir).createOrReplaceTempView("crm_snapshot")
    sync.Reconcile.dbSnapshot(spark, dir).createOrReplaceTempView("db_snapshot")
    sync.Reconcile.categories(spark, dir).createOrReplaceTempView("recon_categories")
  }
}
