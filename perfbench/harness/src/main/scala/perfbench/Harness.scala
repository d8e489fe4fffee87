package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.streaming.IncrementalSync
import graft.streaming.IncrementalSync.SnapshotUpdate

/** Benchmark harness for the graft engine. It times calls into each
  * module's public functions from outside and writes one result file.
  *
  * After set-up, one client thread runs the named calls back to back,
  * once: the flow, cold, as a nightly run in a fresh JVM runs it. Each
  * call is built, planned and collected, with the cache cleared after it.
  * The call `scheduledSyncOnce` is the nightly sync itself:
  * `IncrementalSync.scheduledSyncOnce` draining a fixed backlog of
  * `SnapshotUpdate`s into a fresh directory. Every call's output is
  * written after the flow, untimed, for the checks.
  *
  * With `--trace 1` a [[Tracer]] is attached for the flow and gives the
  * per-layer counters. */
object Harness {

  type Q = (SparkSession, String) => DataFrame

  /** Layers, each the registry of the modules it groups. */
  lazy val layers: Seq[(String, Map[String, Q])] = Seq(
    "sync" -> (graft.sync.ReconcileQueries.queries ++ graft.sync.Ivm.queries),
    "expr" -> graft.expr.ExprQueries.queries,
    "metrics" -> graft.metrics.DashboardQueries.queries,
    "operators" -> (graft.operators.Temporal.queries ++ graft.operators.Layout.queries),
    "operators.graph" -> graft.operators.Graph.queries,
    "plans" -> graft.plans.DataQuality.queries,
    "pipeline" -> (graft.pipeline.CaseDocs.queries ++ graft.pipeline.Enricher.queries ++
      graft.pipeline.Lineage.queries ++ graft.pipeline.Takedown.queries),
    "ml.dedup" -> graft.ml.Dedup.queries,
    "ml.similarity" -> graft.ml.Similarity.queries,
    "ml.text" -> graft.ml.TextOps.queries,
    "ml.curation" -> (graft.ml.Curation.queries ++ graft.ml.EntityResolution.queries ++
      graft.ml.Multimodal.queries),
    "ml.rag" -> (graft.ml.RagFlagship.queries ++ graft.ml.Retrieval.queries),
    "streaming" -> graft.streaming.IncrementalSync.queries)

  /** Name of the call that runs the scheduled sync drain. */
  val SyncCall = "scheduledSyncOnce"

  def layerOf(name: String): String =
    if (name == SyncCall) "streaming"
    else layers.collectFirst { case (l, m) if m.contains(name) => l }
      .getOrElse(sys.error(s"no registered call named $name"))

  private def registered(name: String): Q =
    layers.flatMap(_._2.get(name)).headOption
      .getOrElse(sys.error(s"no registered call named $name"))

  /** One timed call. `groups` are the job groups its jobs run under: the
    * one the harness sets, plus a streaming query's run id. `queueS` is the
    * sync drain's start-up wait: from its feed being filled to the start
    * of the micro-batch that processes it. */
  final case class Call(layer: String, name: String, traced: Boolean,
      groups: Seq[String], startMs: Long, constructS: Double, planS: Double,
      execS: Double, rowsOut: Long, queueS: Double, ok: Boolean) {
    def wallS: Double = constructS + planS + execS
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  // ---------------------------------------------------------------- args
  private var argMap: Map[String, String] = Map.empty
  private def arg(k: String): String =
    argMap.getOrElse(k, sys.error(s"missing --$k"))

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    require(s.nonEmpty, "median of no samples")
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    argMap = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = arg("data")
    val work = arg("work")
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    Files.createDirectories(Paths.get(work))

    // -------------------------------------------------------- set-up
    // Session start, table registration and warm-up, three times: the
    // first timed from JVM start, the next two from the end of stopping the
    // previous session. The median is reported; the last session stays up.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = now()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        // same split sizes as the engine's Bench: single-file tables
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config(Tables.NanosAsLongConf, "true")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings").foreach(t => Tables.load(spark, dataDir, t).schema)
      Tables.events(spark, dataDir).schema
      spark.range(1000000L).selectExpr("sum(id * 2)").collect()
      setupTimes += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                     else secs(t0, now()))
    }
    val setupHeapMb = liveHeapMb()
    val tracer = if (trace) Some(new Tracer) else None

    val result = flow(spark, dataDir, work, tracer, cores)

    val out = Map(
      "setup_s" -> median(setupTimes.toSeq),
      "setup_runs" -> setupTimes.toSeq,
      "setup_heap_mb" -> setupHeapMb,
      "peak_rss_mb" -> statusKb("/proc/self/status", "VmHWM:") / 1024.0,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "cores" -> cores,
        "mem_total_kb" -> statusKb("/proc/meminfo", "MemTotal:"),
        "kernel" -> System.getProperty("os.version"),
        "jdk" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> spark.version,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20)),
      "result" -> result)
    json.writeValue(Paths.get(s"$work/result.json").toFile, out)
    spark.stop()
  }

  // --------------------------------------------------------------- flow

  /** The flow: one pass over the named calls right after set-up, so it
    * runs cold, as a nightly run in a fresh JVM does. Each call is built,
    * planned and collected, and the rows it returned are its output: they
    * are written out after the pass, untimed, for the oracle checks made
    * outside the JVM. The sync drain is checked here, after the pass. */
  private def flow(spark: SparkSession, dir: String, work: String,
      tracer: Option[Tracer], cores: Int): Map[String, Any] = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc = spark.sparkContext
    val names = arg("calls").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val backlog = argMap.get("backlog").map(readBacklog(spark, _)).getOrElse(Nil)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val syncDir = s"$work/sync"
    val outputs = mutable.Map.empty[String, (Array[Row], StructType)]
    var stateRows = 0L

    /** Runs one call, marking the end of construction and of planning;
      * returns its row count, the job groups it ran under besides the
      * harness's own (a streaming query's run id) and the drain's
      * start-up wait. */
    def body(name: String, mark: () => Unit): (Long, Seq[String], Double) =
      if (name == SyncCall) {
        val feed = MemoryStream[SnapshotUpdate]
        feed.addData(backlog)
        val fedMs = System.currentTimeMillis()
        mark(); mark()
        val q = IncrementalSync.scheduledSyncOnce(feed.toDS(), syncDir)
        q.awaitTermination()
        Option(q.lastProgress).foreach(p => stateRows = p.stateOperators.map(_.numRowsTotal).sum)
        val queueS = q.recentProgress.find(_.numInputRows > 0)
          .map(p => (java.time.Instant.parse(p.timestamp).toEpochMilli - fedMs).max(0L) / 1e3)
          .getOrElse(0.0)
        (backlog.size.toLong, Seq(q.runId.toString), queueS)
      } else {
        val df = registered(name)(spark, dir)
        mark()
        df.queryExecution.executedPlan
        mark()
        val rows = df.collect()
        outputs(name) = (rows, df.schema)
        (rows.length.toLong, Nil, 0.0)
      }

    def runCall(name: String): Call = {
      val layer = layerOf(name)
      val group = s"pb|$runId|$layer|$name"
      sc.setJobGroup(group, name)
      val startMs = System.currentTimeMillis()
      val marks = mutable.ArrayBuffer(now())
      var rows = -1L
      var extra: Seq[String] = Nil
      var queueS = 0.0
      val ok = try {
        val (n, g, qw) = body(name, () => marks += now())
        rows = n; extra = g; queueS = qw
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
      }
      while (marks.size < 4) marks += now()
      spark.catalog.clearCache()
      sc.clearJobGroup()
      if (tracer.isDefined) BusBridge.drain(sc)
      Call(layer, name, tracer.isDefined, group +: extra, startMs, secs(marks(0), marks(1)),
        secs(marks(1), marks(2)), secs(marks(2), marks(3)), rows, queueS, ok)
    }

    tracer.foreach(sc.addSparkListener)
    val (cpu0, steal0, gc0, p0) = (processCpuNs(), stealTicks(), gcMillis(), now())
    val calls = names.map(runCall)
    val wall = secs(p0, now())
    val (cpuS, stealS, gcS) = ((processCpuNs() - cpu0) / 1e9, (stealTicks() - steal0) / 100.0,
      (gcMillis() - gc0) / 1e3)
    tracer.foreach(sc.removeSparkListener)

    // untimed: each call's rows written for the checks (from `cores`
    // threads at once, to keep the run short), the drain checked
    val w0 = now()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val written = try {
      names.filter(n => n != SyncCall && outputs.contains(n)).map { name =>
        name -> pool.submit[Boolean] { () =>
          try {
            val (rows, schema) = outputs(name)
            spark.createDataFrame(rows.toSeq.asJava, schema).write.mode("overwrite")
              .parquet(s"$work/out/$name")
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] output of $name: ${e.getMessage}")
            false
          }
        }
      }.map { case (n, f) => n -> f.get() }.toMap
    } finally pool.shutdown()
    val failed = mutable.Set.empty[String] ++ calls.filterNot(_.ok).map(_.name) ++
      written.collect { case (n, false) => n }
    if (names.contains(SyncCall) && !failed(SyncCall) && !syncCheck(spark, syncDir, backlog))
      failed += SyncCall
    val oracles = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    json.writeValue(Paths.get(s"$work/oracle_sql.json").toFile, oracles)
    deleteTree(Paths.get(syncDir))
    writeSpans(work, runId, calls, tracer)

    Map(
      "flow_s" -> wall,
      "flow_cpu_s" -> cpuS,
      "steal_s" -> stealS,
      "gc_s" -> gcS,
      "call_gmean_s" -> math.exp(calls.map(c => math.log(c.wallS)).sum / calls.size),
      "span_coverage" -> calls.map(_.wallS).sum / wall,
      "output_write_s" -> secs(w0, now()),
      "attempted" -> calls.size,
      "call_fail" -> names.map(n => n -> (if (failed(n)) 1 else 0)).toMap,
      "call_rows" -> calls.map(c => c.name -> c.rowsOut).toMap,
      "call_s" -> calls.map(c => c.name -> c.wallS).toMap) ++
      tracer.map { t =>
        Map("layers" -> Map(
          "table" -> layerTable(calls, t, cores),
          "extras" -> Map(
            "streaming.queue_wait_s" -> calls.map(_.queueS).sum,
            "streaming.state_rows" -> stateRows)))
      }.getOrElse(Map.empty)
  }

  /** Per-layer counters over the traced calls. */
  private def layerTable(calls: Seq[Call], t: Tracer, cores: Int)
      : Map[String, Map[String, Double]] =
    calls.groupBy(_.layer).map { case (layer, cs) =>
      val st = cs.flatMap(_.groups.map(t.stats))
      val wall = cs.map(_.wallS).sum
      val run = st.map(_.taskRunMs).sum / 1e3
      val base = wall * cores
      layer -> Map(
        "construct_s" -> cs.map(_.constructS).sum,
        "plan_s" -> cs.map(_.planS).sum,
        "exec_s" -> cs.map(_.execS).sum,
        "jobs" -> st.map(_.jobs).sum.toDouble,
        "task_cpu_s" -> st.map(_.taskCpuNs).sum / 1e9,
        "slot_idle_frac" -> (if (base > 0) 1.0 - run / base else 0.0),
        "slot_base_s" -> base,
        "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
        "rows_read" -> st.map(_.recordsRead).sum.toDouble,
        "rows_out" -> cs.map(_.rowsOut.max(0L)).sum.toDouble,
        "job_ends_missing" -> st.map(s => s.jobs - s.jobEnds).sum.toDouble)
    }

  /** One JSON line per call span and per job span. */
  private def writeSpans(work: String, runId: String, calls: Seq[Call],
      tracer: Option[Tracer]): Unit = {
    val lines = calls.map(c => Map("kind" -> "call", "run" -> runId, "layer" -> c.layer,
      "call" -> c.name, "traced" -> c.traced, "groups" -> c.groups,
      "start_ms" -> c.startMs, "construct_s" -> c.constructS, "plan_s" -> c.planS,
      "exec_s" -> c.execS, "rows_out" -> c.rowsOut, "ok" -> c.ok)) ++
      tracer.toSeq.flatMap(_.spans.map { case (g, id, s, e) =>
        Map("kind" -> "job", "run" -> runId, "group" -> g, "job" -> id,
          "start_ms" -> s, "end_ms" -> e) })
    Files.write(Paths.get(s"$work/spans.jsonl"),
      lines.map(json.writeValueAsString).asJava)
  }

  // -------------------------------------------------------- sync drain

  private def readBacklog(spark: SparkSession, path: String): Seq[SnapshotUpdate] = {
    import spark.implicits._
    spark.read.parquet(path).as[SnapshotUpdate].collect().toSeq
  }

  /** The drain's final watermarks hold the max serial per (tenant, case)
    * and its change log has no duplicate rows. */
  private def syncCheck(spark: SparkSession, dir: String, updates: Seq[SnapshotUpdate]): Boolean = {
    val want = updates.groupBy(u => (u.tenant_id, u.case_ref)).map { case (k, us) =>
      k -> us.map(_.serialno).max }
    val got = IncrementalSync.latestWatermarks(spark, dir).map(_.collect().map(r =>
      (r.getAs[Long]("tenant_id"), r.getAs[Long]("case_ref")) -> r.getAs[Long]("last_serialno"))
      .toMap).getOrElse(Map.empty)
    val changes = spark.read.parquet(s"$dir/changes").select("tenant_id", "case_ref", "serialno")
    val (n, nd) = (changes.count(), changes.distinct().count())
    if (got != want || n != nd) System.err.println(s"[perfbench] sync check failed: " +
      s"watermarks ${got.size} vs ${want.size} keys, equal=${got == want}; change rows $n, distinct $nd")
    got == want && n == nd
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  // ------------------------------------------------------------ host

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Host steal time of all CPUs (USER_HZ ticks, /proc/stat): time the
    * hypervisor ran something else while this machine wanted to run. */
  private def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def statusKb(path: String, key: String): Long =
    scala.io.Source.fromFile(path).getLines().find(_.startsWith(key))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Heap in use after a full collection: taken at the end of set-up, it
    * is the state set-up leaves behind (session, tables). Peak RSS is
    * logged too, but it follows the collector's heap sizing more than the
    * program, so it is not a metric. */
  private def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
