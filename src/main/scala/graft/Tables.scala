package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftops.FooterBridge

/** Parquet table readers over the driver's synthetic star schema
  * (see /root/repo/TESTDATA.md). Every query receives the scale-factor
  * directory at call time, so readers stay pure functions of (spark, dir).
  *
  * Scale notes: at 100 TB these reads become partitioned scans; all
  * downstream operators filter/project before shuffling so Catalyst can
  * push predicates and prune columns into the scan.
  *
  * Schemas: [[load]] reads with the schema of the one footer Spark's own
  * inference would pick, read and converted on the driver
  * ([[FooterBridge]]), so no read runs a Spark job and the schema equals
  * `spark.read.parquet(path).schema`. Nothing is cached: each call reads
  * the path's current footer, so a rewritten table reads its new schema.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // no footer (a missing path, a directory without data files): Spark's
    // own read raises its error
    FooterBridge.schema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** events.parquet's `ts` has shipped as both TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) across driver revisions, so
    * the reader adapts to the file's actual schema instead of assuming
    * one: a NANOS column (readable only via the nanos-as-long legacy conf)
    * arrives as LONG and is rebuilt into TIMESTAMP_NTZ (`div 1000` is
    * lossless — the generator populates microsecond precision); a MICROS
    * column arrives as TIMESTAMP_NTZ (or TIMESTAMP under old inference
    * confs, then cast). Downstream, `ts` is always TIMESTAMP_NTZ — naive
    * wall-clock time, matching DuckDB's naive timestamps in the oracles.
    *
    * The nanos conf must be set AT SESSION BUILD (as SparkSpec/Bench/
    * Verify do): it is read both by the footer converter in [[load]] and
    * at physical planning, so a set-and-restore around the read would
    * leak order dependence. With a MICROS file the conf is simply inert. */
  val NanosAsLongConf = "spark.sql.legacy.parquet.nanosAsLong"
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>            // NANOS file read under nanos-as-long
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case TimestampNTZType => raw
      case _ =>                   // TIMESTAMP (LTZ) under legacy inference
        // LTZ -> NTZ renders the instant in the session time zone; anything
        // but UTC would silently shift every event's wall-clock relative to
        // DuckDB's naive timestamps, so fail loudly on misconfiguration.
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_LTZ; casting to NTZ requires a UTC session time zone, got $tz")
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
