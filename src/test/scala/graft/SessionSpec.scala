package graft

import org.apache.spark.sql.execution.LogicalRDD

class SessionSpec extends SparkSpec {

  test("the between-query cleanup frees the Fixpoint checkpoints a " +
      "registry frame sits on") {
    // clearCache() alone leaves these blocks in storage memory until the
    // frame is garbage-collected
    for (name <- Seq("graph_kcore", "graph_bfs_distances")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.queryExecution.toRdd.count()
      val ids = df.queryExecution.analyzed.collect {
        case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
      }.distinct
      assert(ids.nonEmpty, s"$name no longer sits on a Fixpoint checkpoint")
      Session.cleanup(spark, df)
      val left = ids.filter(spark.sparkContext.getPersistentRDDs.contains)
      assert(left.isEmpty, s"$name: checkpointed RDDs $left survive cleanup")
    }
  }
}
