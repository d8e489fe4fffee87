package graft.scale

import org.apache.spark.sql.SparkSession
import graft.Tables

/** Per-pass wall times for named registry queries — the convergence
  * probe behind spot-bench adjudication: where [[graft.Bench]] reports
  * best-of-two, this main prints EVERY pass so host noise (first-pass
  * cold IO, JIT, the big-heap allocation pathology documented in
  * BASELINE.md "Host re-qualification") separates from real plan cost.
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ONLY=q1,q2, SPARK_GRAFT_PASSES,
  * SPARK_GRAFT_CPUS (default: the host's core count). */
object PassProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "graph_pagerank")
      .split(",").toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config(Tables.NanosAsLongConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    for (name <- names; p <- 1 to passes) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      println(f"PASS $name $p ${(System.nanoTime() - t0) / 1e9}%.2f")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
