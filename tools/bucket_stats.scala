// Dev diagnostic: LSH bucket-size distribution for a list of data dirs.
// Run with:  scala -cp target/scala-2.13/classes:/opt/spark/jars/'*' tools/bucket_stats.scala <dir> [<dir>...]
// or compile ad hoc; not part of the shipping library (lives in tools/ on purpose).
// The session is graft.Session.local() (SPARK_GRAFT_CPUS sets local[N]).
import org.apache.spark.sql.functions._

object BucketStats {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.01")
    val sp = graft.Session.local()
    for (dir <- dirs) {
      val v = graft.Tables.embeddings(sp, dir)
        .select(col("vec_id"), graft.ml.Dedup.quantized(col("embedding")).as("q"))
      val b = v.select(col("vec_id"), explode(array((0 until 16).map(t =>
        struct(lit(t).as("tbl"), graft.ml.Similarity.lshBucket(col("q"), t, 8).as("bucket"))): _*)).as("tb"))
        .select(col("tb.tbl"), col("tb.bucket"))
      val sz = b.groupBy("tbl", "bucket").agg(count(lit(1)).as("n"))
      val st = sz.agg(max(col("n")), expr("percentile(n, 0.99)"), avg(col("n")), count(lit(1))).collect()(0)
      println(s"STATS $dir max=${st.get(0)} p99=${st.get(1)} avg=${st.get(2)} buckets=${st.get(3)}")
    }
    sp.stop()
  }
}
