package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session builder of the CLI mains ([[Bench]], [[Verify]],
  * [[PlanDump]], [[graft.scale.Probe]], [[graft.scale.HubProbe]]) and of
  * `tools/bucket_stats.scala`, the one reader of their env knobs, and the
  * cleanup they run between queries.
  *
  * Each knob is read here, once, with one default:
  *
  *  - `SPARK_GRAFT_SF_DIR`: directory of the input parquet tables;
  *    default the sf0.1 test tables (`testdata/sf0.1`).
  *  - `SPARK_GRAFT_CPUS`: `local[cpus]` and the shuffle partition count;
  *    default the JVM's `availableProcessors`.
  *  - `SPARK_GRAFT_ONLY=q1,q2`: restrict a run to the named registry
  *    queries; unset means every registered query.
  *  - `SPARK_GRAFT_PASSES`: passes per query of [[graft.scale.Probe]];
  *    default 5.
  *  - `SPARK_GRAFT_HUB_DEG`: in-degree of [[graft.scale.HubProbe]]'s
  *    planted hub; default 1500000.
  *  - `SPARK_GRAFT_ANCHOR=1`: a full-registry [[Bench]] run also writes
  *    the committed anchor `BENCH_FULL.json`; default off. */
object Session {
  lazy val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  lazy val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(names)
  lazy val passes: Int = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt
  lazy val hubDegree: Long = sys.env.getOrElse("SPARK_GRAFT_HUB_DEG", "1500000").toLong
  lazy val anchor: Boolean = sys.env.get("SPARK_GRAFT_ANCHOR").contains("1")

  /** Query names from a comma-separated list. */
  def names(csv: String): Set[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSet

  /** The registry restricted to `names`; `None` keeps every query. */
  def selected(names: Option[Set[String]] = only)
      : Map[String, (SparkSession, String) => DataFrame] =
    names.fold(SparkEntry.queries)(ns =>
      SparkEntry.queries.filter { case (n, _) => ns(n) })

  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // testdata tables are single parquet files; smaller split sizes give
      // the scan stages real parallelism on local[N]
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // events.parquet is TIMESTAMP(NANOS); Tables.events requires this
      .config(Tables.NanosAsLongConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Between queries: drop every `persist()`ed optimization barrier, and
    * free the [[graft.scale.Fixpoint]] checkpoints the finished `frames`
    * sit on, which `clearCache()` does not free. Without it those blocks
    * stay in storage memory until GC, squeezing the next query. */
  def cleanup(spark: SparkSession, frames: DataFrame*): Unit = {
    spark.catalog.clearCache()
    frames.foreach(graft.scale.Fixpoint.release)
  }
}
