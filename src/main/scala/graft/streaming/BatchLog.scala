package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Durable per-micro-batch state: one directory `<dir>/<prefix><id>` per
  * batch, read under one rule. A batch counts only once its writer left
  * Spark's `_SUCCESS` marker, so a torn write is never read; a reader at
  * batch N takes the newest committed id strictly below N, so a replayed
  * batch never reads its own earlier attempt's output.
  *
  * Listed through the session's Hadoop FileSystem, so `dir` may be a plain
  * path or any URI Hadoop resolves (`file:`, `hdfs://`, `s3a://`). A
  * lookup is one `listStatus` plus a newest-first `_SUCCESS` probe that
  * stops at the first hit (one or two requests on an object store), and
  * runs no Spark job. */
private[streaming] final class BatchLog(spark: SparkSession, dir: String,
                                        prefix: String) {
  private val root = new Path(dir)
  private lazy val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def path(id: Long): String = s"$dir/$prefix$id"

  def committed(id: Long): Boolean = fs.exists(new Path(path(id), "_SUCCESS"))

  /** Every batch id strictly below `below`, committed or not, newest
    * first; none when `dir` does not exist yet. */
  private def ids(below: Long): Seq[Long] = {
    val listed =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    listed.filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .flatMap(st => st.getPath.getName.drop(prefix.length).toLongOption)
      .filter(_ < below)
      .sorted(Ordering[Long].reverse)
  }

  /** The newest committed id strictly below `below`. */
  def latest(below: Long): Option[Long] = ids(below).find(committed)

  /** The newest committed batch strictly below `below`, read with
    * `schema` (so no inference job, and an empty batch reads as zero
    * rows); an empty frame before the first commit. */
  def read(below: Long, schema: StructType): DataFrame =
    latest(below).fold(
      spark.createDataFrame(java.util.List.of[Row](), schema))(id =>
      spark.read.schema(schema).parquet(path(id)))

  /** Delete every batch directory below `below` but the newest `keep`. */
  def prune(keep: Int, below: Long): Unit =
    ids(below).drop(keep).foreach(id => fs.delete(new Path(path(id)), true))
}
