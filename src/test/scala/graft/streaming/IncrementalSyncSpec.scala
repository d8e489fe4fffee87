package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec
import IncrementalSync._

/** Streaming watermark semantics driven through MemoryStream, plus the
  * retry/dead-letter step function. */
class IncrementalSyncSpec extends SparkSpec {

  test("watermark state: first sight emits, stale serial doesn't, advance does") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SnapshotUpdate]
    val q = detectChanges(input.toDS())
      .writeStream.format("memory").queryName("changes")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        SnapshotUpdate(0, 1, 5), SnapshotUpdate(0, 2, 3))
      q.processAllAvailable()
      val b1 = spark.table("changes").as[ChangeEvent].collect().toSet
      assert(b1 == Set(ChangeEvent(0, 1, 5, 0), ChangeEvent(0, 2, 3, 0)))

      input.addData(
        SnapshotUpdate(0, 1, 5),  // unchanged -> no emit
        SnapshotUpdate(0, 2, 7),  // advanced -> emit with prev=3
        SnapshotUpdate(1, 1, 2))  // other tenant, same case_ref -> isolated
      q.processAllAvailable()
      val b2 = spark.table("changes").as[ChangeEvent].collect().toSet -- b1
      assert(b2 == Set(ChangeEvent(0, 2, 7, 3), ChangeEvent(1, 1, 2, 0)))
    } finally q.stop()
  }

  test("multiple serials for one key in a batch emit in order, state keeps max") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SnapshotUpdate]
    val q = detectChanges(input.toDS())
      .writeStream.format("memory").queryName("changes2")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        SnapshotUpdate(0, 9, 4), SnapshotUpdate(0, 9, 2), SnapshotUpdate(0, 9, 6))
      q.processAllAvailable()
      val got = spark.table("changes2").as[ChangeEvent].collect()
        .sortBy(_.serialno).toSeq
      assert(got == Seq(
        ChangeEvent(0, 9, 2, 0), ChangeEvent(0, 9, 4, 2), ChangeEvent(0, 9, 6, 4)))

      input.addData(SnapshotUpdate(0, 9, 5)) // below watermark 6
      q.processAllAvailable()
      assert(spark.table("changes2").count() == 3)
    } finally q.stop()
  }

  test("windowed streaming aggregation with watermark (W4 streaming form)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "event_type")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode(OutputMode.Update).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (t("2024-01-01 10:05:00"), "click"),
        (t("2024-01-01 10:45:00"), "click"),
        (t("2024-01-01 11:05:00"), "view"))
      q.processAllAvailable()
      val rows = spark.table("hourly")
        .select(col("window.start").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2024-01-01 10:00:00", "click", 2L),
        ("2024-01-01 11:00:00", "view", 1L)))
    } finally q.stop()
  }

  test("sliding streaming aggregation with watermark (W5 streaming form)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    // the same window(ts, 1h, 15m) call as the batch w5 query
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sliding")
      .outputMode(OutputMode.Update).start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((t("2024-01-01 10:31:00"), 5.0))
      q.processAllAvailable()
      val rows = spark.table("sliding")
        .select(col("window.start").cast("string"), col("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      // one event -> exactly its 4 overlapping hopping windows
      assert(rows == Set(
        ("2024-01-01 09:45:00", 1L), ("2024-01-01 10:00:00", 1L),
        ("2024-01-01 10:15:00", 1L), ("2024-01-01 10:30:00", 1L)))
    } finally q.stop()
  }

  test("streaming session windows: gap merge, finalize after watermark passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val q = sessionWindows(input.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // one session for user 1 (10-min gap merges), one event for user 2
      input.addData((t("2024-01-01 10:00:00"), 1L), (t("2024-01-01 10:10:00"), 1L),
        (t("2024-01-01 10:00:00"), 2L))
      q.processAllAvailable()
      // push the watermark past those sessions' ends, then one more batch
      // so append-mode finalization fires
      input.addData((t("2024-01-01 12:00:00"), 1L))
      q.processAllAvailable()
      input.addData((t("2024-01-01 12:01:00"), 1L))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select(col("user_id"), col("session_start").cast("string"),
          col("session_end").cast("string"), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      // session end = last event + 30 min gap (streaming convention)
      assert(rows.contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L)))
      assert(rows.contains((2L, "2024-01-01 10:00:00", "2024-01-01 10:30:00", 1L)))
    } finally q.stop()
  }

  test("e2e sync pipeline: change log appends, watermark table versions advance") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-sync").toString
    val input = MemoryStream[SnapshotUpdate]
    val q = syncPipeline(input.toDS(), outDir)
    try {
      input.addData(SnapshotUpdate(0, 1, 5), SnapshotUpdate(0, 2, 3))
      q.processAllAvailable()
      input.addData(
        SnapshotUpdate(0, 1, 5),  // stale -> no change, watermark keeps 5
        SnapshotUpdate(0, 2, 9))  // advance
      q.processAllAvailable()

      val changes = spark.read.parquet(s"$outDir/changes")
      assert(changes.count() == 3) // 2 first sights + 1 advance
      val marks = IncrementalSync.latestWatermarks(spark, outDir).get
        .collect().map(r => (r.getAs[Long]("tenant_id"), r.getAs[Long]("case_ref")) ->
          r.getAs[Long]("last_serialno")).toMap
      assert(marks((0L, 1L)) == 5L)
      assert(marks((0L, 2L)) == 9L)
    } finally q.stop()
  }

  test("ST5 scheduled sync: AvailableNow drains once, exits, resumes from checkpoint") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-once").toString
    val input = MemoryStream[SnapshotUpdate]
    input.addData(SnapshotUpdate(0, 1, 5), SnapshotUpdate(0, 2, 3))
    // "nightly run" #1: drain what's there and EXIT on its own — the
    // cron-launched shape; no explicit stop()
    val q1 = IncrementalSync.scheduledSyncOnce(input.toDS(), outDir)
    assert(q1.awaitTermination(60000), "AvailableNow run must terminate itself")
    assert(spark.read.parquet(s"$outDir/changes").count() == 2)
    // data arriving between runs
    input.addData(SnapshotUpdate(0, 2, 9))
    // "nightly run" #2: same checkpoint — processes ONLY the new data and
    // keeps the merged watermark state across runs
    val q2 = IncrementalSync.scheduledSyncOnce(input.toDS(), outDir)
    assert(q2.awaitTermination(60000))
    assert(spark.read.parquet(s"$outDir/changes").count() == 3)
    val marks = IncrementalSync.latestWatermarks(spark, outDir).get
      .collect().map(r => (r.getAs[Long]("tenant_id"), r.getAs[Long]("case_ref")) ->
        r.getAs[Long]("last_serialno")).toMap
    assert(marks((0L, 1L)) == 5L && marks((0L, 2L)) == 9L)
  }

  test("stream-stream interval join pairs events within the window only") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val browses = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val joined = intervalJoinStreams(
      purchases.toDF().toDF("user_id", "ts", "purchase_id"),
      browses.toDF().toDF("user_id", "ts", "browse_id"),
      key = "user_id", windowSeconds = 1800L)
    val q = joined.writeStream.format("memory").queryName("corr")
      .outputMode(OutputMode.Append).start()
    try {
      browses.addData(
        (1L, t("2024-01-01 09:50:00"), 10L),  // within 30 min of purchase
        (1L, t("2024-01-01 08:00:00"), 11L),  // too old
        (2L, t("2024-01-01 09:55:00"), 12L))  // other user
      purchases.addData((1L, t("2024-01-01 10:00:00"), 100L))
      q.processAllAvailable()
      val rows = spark.table("corr")
        .select(col("purchase_id"), col("browse_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((100L, 10L)))
    } finally q.stop()
  }

  test("session TTL expiry: idle session times out at last-touch + 6h and " +
    "its state is evicted; an active session survives") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[IncrementalSync.SessionTouch]
    val q = IncrementalSync.expireSessions(input.toDS())
      .writeStream.format("memory").queryName("expired")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two touches at 10:00/10:05 -> deadline 16:05.
      // user 2: touch at 10:00, touched again at 17:00 -> deadline 23:00.
      input.addData(
        IncrementalSync.SessionTouch(1L, t("2024-01-01 10:00:00")),
        IncrementalSync.SessionTouch(1L, t("2024-01-01 10:05:00")),
        IncrementalSync.SessionTouch(2L, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // 17:00 touch advances the watermark to 16:50 (10 min lateness) —
      // past user 1's 16:05 deadline, and re-arms user 2 to 23:00
      input.addData(IncrementalSync.SessionTouch(2L, t("2024-01-01 17:00:00")))
      q.processAllAvailable()
      // timeouts fire against the updated watermark on the next batch
      input.addData(IncrementalSync.SessionTouch(2L, t("2024-01-01 17:01:00")))
      q.processAllAvailable()
      val rows = spark.table("expired")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("start_ts").toString,
          r.getAs[java.sql.Timestamp]("last_ts").toString,
          r.getAs[Long]("n_events"))).toSet
      assert(rows.contains(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 2L)),
        s"user 1 must expire: $rows")
      assert(!rows.exists(_._1 == 2L), "active session must not expire")
      // eviction is real: user 1 touching again starts a FRESH session
      // (start = the new touch, count restarts at 1), and expiring it
      // shows none of the evicted state leaked back in
      input.addData(IncrementalSync.SessionTouch(1L, t("2024-01-01 18:00:00")))
      q.processAllAvailable()
      input.addData(IncrementalSync.SessionTouch(2L, t("2024-01-02 02:00:00")))
      q.processAllAvailable()
      input.addData(IncrementalSync.SessionTouch(2L, t("2024-01-02 02:01:00")))
      q.processAllAvailable()
      val rows2 = spark.table("expired")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("start_ts").toString,
          r.getAs[Long]("n_events"))).toSet
      assert(rows2.contains((1L, "2024-01-01 18:00:00.0", 1L)),
        s"re-opened session must start fresh: $rows2")
    } finally q.stop()
  }

  test("e2e worker flagship: watermark state -> retry ladder -> session TTL " +
    "compose across micro-batches through the durable handoff") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e-worker").toString
    val input = MemoryStream[SnapshotUpdate]
    // job succeeds once its attempt count reaches case_ref % 4:
    //   case 20 -> immediate; cases 1, 21 -> one requeue round;
    //   case 3 -> needs 3 attempts but maxAttempts=3 dead-letters it first
    val succeeds = col("attempts") >= col("case_ref") % 4
    val q1 = IncrementalSync.workerPipeline(
      input.toDS(), s"$dir/state", s"$dir/out", succeeds)
    // stage 3: tail the worker's durable output as a stream; each
    // succeeded job is a session touch for its tenant at a
    // deterministic event time (t0 + case_ref hours)
    val jobSchema = org.apache.spark.sql.Encoders.product[Job].schema
    val touches = spark.readStream.schema(jobSchema)
      .parquet(s"$dir/out/succeeded/batch=*")
      .select(col("tenant_id").as("user_id"),
        expr("timestamp'2024-01-01 00:00:00' + " +
          "make_interval(0, 0, 0, 0, cast(case_ref AS int), 0, 0)").as("ts"))
      .as[IncrementalSync.SessionTouch]
    val q2 = IncrementalSync.expireSessions(touches)
      .writeStream.format("memory").queryName("worker_expired")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 0: tenant 0's cases 1 and 3 change -> both jobs fail
      input.addData(SnapshotUpdate(0, 1, 1), SnapshotUpdate(0, 3, 1))
      q1.processAllAvailable()
      // batch 1 (stale update, no new change events): backlog drains —
      // case 1 succeeds at attempts=1, case 3 requeues at attempts=2
      input.addData(SnapshotUpdate(0, 1, 1))
      q1.processAllAvailable()
      // batch 2: case 3 fails its third attempt -> dead letter
      input.addData(SnapshotUpdate(0, 1, 1))
      q1.processAllAvailable()
      // batch 3: tenant 1's case 20 succeeds immediately (touch @20:00,
      // watermark then 19:50 — past tenant 0's 01:00+6h deadline);
      // case 21 requeues once
      input.addData(SnapshotUpdate(1, 20, 1), SnapshotUpdate(1, 21, 1))
      q1.processAllAvailable()
      q2.processAllAvailable() // touches 01:00 (user 0) and 20:00 (user 1)
      // batch 4: case 21 succeeds -> touch @21:00; the new q2 batch
      // evaluates timeouts against the advanced watermark
      input.addData(SnapshotUpdate(1, 20, 1))
      q1.processAllAvailable()
      q2.processAllAvailable()

      // the retry ladder's verdicts, from the durable outputs
      val ok = spark.read.schema(jobSchema)
        .parquet(s"$dir/out/succeeded/batch=*")
        .select("case_ref", "attempts").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSet
      assert(ok == Set(1L -> 1, 20L -> 0, 21L -> 1),
        s"retry ladder must pass 1/20/21 with recorded attempts: $ok")
      val dead = spark.read.schema(jobSchema)
        .parquet(s"$dir/out/dead/batch=*")
        .select("case_ref", "attempts").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toSet
      assert(dead == Set(3L -> 3), s"case 3 must dead-letter at the cap: $dead")

      // the session-TTL stage saw ONLY succeeded jobs: tenant 0's single
      // 01:00 touch expired (one event — the dead case-3 job never
      // touched the session), tenant 1's session is still live
      val expired = spark.table("worker_expired").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("start_ts").toString,
          r.getAs[java.sql.Timestamp]("last_ts").toString,
          r.getAs[Long]("n_events"))).toSet
      assert(expired ==
        Set((0L, "2024-01-01 01:00:00.0", "2024-01-01 01:00:00.0", 1L)),
        s"only tenant 0's session expires, with exactly its one touch: $expired")
    } finally { q1.stop(); q2.stop() }
  }

  test("streaming dedup: duplicate texts collapse, distinct ones pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val q = dedupStream(input.toDF().toDF("ts", "text"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        (t("2024-01-01 10:00:00"), "same doc"),
        (t("2024-01-01 10:01:00"), "same doc"),   // in-batch dup
        (t("2024-01-01 10:02:00"), "other doc"))
      q.processAllAvailable()
      input.addData((t("2024-01-01 10:03:00"), "same doc")) // cross-batch dup
      q.processAllAvailable()
      val texts = spark.table("dedup_stream").collect().map(_.getAs[String]("text"))
      assert(texts.sorted.toSeq == Seq("other doc", "same doc"))
    } finally q.stop()
  }

  test("retry step: priority order, requeue at p3, dead-letter at max attempts") {
    val jobs = Seq(
      Job(1, 0, 10, priority = 3, attempts = 0),
      Job(2, 0, 11, priority = 1, attempts = 0), // fails
      Job(3, 0, 12, priority = 2, attempts = 2)) // fails, at limit
    val r = step(jobs, j => j.job_id != 2 && j.job_id != 3)
    assert(r.succeeded.map(_.job_id) == Seq(1))
    assert(r.retry.map(_.job_id) == Seq(2))
    assert(r.retry.head.priority == 3 && r.retry.head.attempts == 1)
    assert(r.dead.map(_.job_id) == Seq(3))
  }

  test("ST3 batch twin: the declared retry ladder equals iterating step to a fixpoint") {
    import org.apache.spark.sql.functions._
    // the same per-attempt failure model the declared query states
    def failsScala(id: Long, a: Int): Boolean = a match {
      case 1 => id % 5 == 0
      case 2 => id % 7 < 2
      case 3 => id % 11 < 2
    }
    val jobs = graft.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey")).collect().toSeq
      .map { r =>
        val id = r.getLong(0)
        Job(id, r.getLong(1) % 4, id, priority = (id % 3 + 1).toInt, attempts = 0)
      }
    // a job's next attempt number is its failure count + 1
    val r = drain(jobs, j => !failsScala(j.job_id, j.attempts + 1))
    // step re-queues every failure at priority 3, so a job's final
    // priority is simply whatever it carried out of the drain
    val simulated =
      (r.succeeded.map(j => j.job_id -> (("succeeded", j.attempts, j.priority)))
        ++ r.dead.map(j => j.job_id -> (("dead", j.attempts, j.priority)))).toMap
    val declared = retryLadderBatch(spark, sf).collect()
      .map(row => row.getAs[Long]("job_id") ->
        ((row.getAs[String]("status"), row.getAs[Int]("attempts"),
          row.getAs[Int]("priority_final")))).toMap
    assert(declared == simulated)
    assert(declared.values.exists(_._1 == "dead")) // ladder tail is exercised
  }

  test("ST5 cadence: full sync every 7th day, incremental otherwise, dry-run gate") {
    (0L to 13L).foreach { d =>
      val p = syncPlanFor(d)
      assert(p.runSync && p.dryRunFirst)
      assert(p.fullSync == (d % 7 == 0), s"day $d")
    }
    assert(syncPlanFor(3, dailyEnabled = false) ==
      SyncPlan(runSync = false, fullSync = false, dryRunFirst = false))
    assert(syncPlanFor(10, fullSyncFrequencyDays = 5).fullSync)
    assert(!syncPlanFor(10, dryRunBeforeSync = false).dryRunFirst)
  }

  test("drain: transient failures eventually succeed, permanent ones dead-letter") {
    val jobs = (1L to 10L).map(i => Job(i, 0, i, priority = (i % 3).toInt + 1, attempts = 0))
    // job succeeds once attempts >= 1 (transient), except job 7 (permanent)
    def succeeds(j: Job): Boolean = j.job_id != 7 && (j.job_id % 2 == 0 || j.attempts >= 1)
    val r = drain(jobs, succeeds)
    assert(r.succeeded.map(_.job_id).sorted == Seq(1L, 2, 3, 4, 5, 6, 8, 9, 10))
    assert(r.dead.map(_.job_id) == Seq(7))
    assert(r.dead.head.attempts == 3)
  }

  test("streaming retry queue: failures requeue across micro-batches, " +
      "permanent ones dead-letter at max attempts") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft-retry").toString
    val stateDir = java.nio.file.Files.createTempDirectory("graft-retry-st").toString
    val input = MemoryStream[Job]
    // even jobs succeed at once; odd jobs fail once then succeed
    // (transient); job 7 always fails (permanent). Heartbeat jobs 100+
    // exist to fire the drain batches and succeed trivially.
    val succeeds = when(col("job_id") === 7, lit(false))
      .otherwise(col("job_id") % 2 === 0 || col("attempts") >= 1)
    val q = retryPipeline(input.toDS().toDF(), stateDir, outDir, succeeds)
    try {
      input.addData((1L to 10L).map(i =>
        Job(i, 0, i, priority = (i % 3).toInt + 1, attempts = 0)): _*)
      q.processAllAvailable() // batch 0: evens succeed, odds+7 requeue
      input.addData(Job(100, 0, 100, priority = 1, attempts = 0))
      q.processAllAvailable() // batch 1: odds succeed at attempts=1, 7 fails again
      input.addData(Job(102, 0, 102, priority = 1, attempts = 0))
      q.processAllAvailable() // batch 2: 7's third failure dead-letters

      val ok = spark.read.parquet(s"$outDir/succeeded")
      val okIds = ok.select("job_id").as[Long].collect().toSet
      assert(okIds == ((1L to 10L).toSet - 7L) ++ Set(100L, 102L))
      // transient jobs carry the failure count they accumulated
      val attempts = ok.collect()
        .map(r => r.getAs[Long]("job_id") -> r.getAs[Int]("attempts")).toMap
      assert(attempts(2L) == 0 && attempts(1L) == 1 && attempts(9L) == 1)
      // requeued jobs were demoted to priority 3 on their way back
      val prio = ok.collect()
        .map(r => r.getAs[Long]("job_id") -> r.getAs[Int]("priority")).toMap
      assert(prio(1L) == 3 && prio(2L) == ((2 % 3) + 1))
      val dead = spark.read.parquet(s"$outDir/dead").collect()
      assert(dead.map(_.getAs[Long]("job_id")).toSeq == Seq(7L))
      assert(dead.head.getAs[Int]("attempts") == 3)
      // the ladder resolved: the surviving backlog partition is empty
      assert(retryBacklog(spark, stateDir, below = Long.MaxValue).count() == 0)
    } finally q.stop()
  }

  /** The state-dir forms every durable-state reader must accept: a plain
    * path, and the same directory as a `file:` URI (the form an
    * `hdfs://` or `s3a://` dir takes), with the test-name suffix. */
  private def stateDirForms(name: String)
      : Seq[(String, java.nio.file.Path => String)] = Seq(
    (name, _.toString),
    (name + " (file: URI state dir)", _.toUri.toString))

  stateDirForms("retry batch replay is idempotent: same batchId, same " +
      "inputs, same outputs").foreach { case (name, form) => test(name) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val stateRoot = java.nio.file.Files.createTempDirectory("graft-replay-st")
    val stateDir = form(stateRoot)
    val succeeds = col("job_id") % 2 === 0
    def snapshot() = {
      val ok = spark.read.parquet(s"$outDir/succeeded").collect()
        .map(_.getAs[Long]("job_id")).sorted.toSeq
      val backlog = retryBacklog(spark, stateDir, below = Long.MaxValue)
        .collect().map(r => (r.getAs[Long]("job_id"), r.getAs[Int]("attempts"),
          r.getAs[Int]("priority"))).sorted.toSeq
      (ok, backlog)
    }
    val b0 = (1L to 6L).map(i => Job(i, 0, i, priority = 1, attempts = 0)).toDF()
    retryBatch(b0, 0L, stateDir, outDir, succeeds)
    val first = snapshot()
    assert(first._2.map(_._1) == Seq(1L, 3L, 5L), "batch 0's backlog reads back")
    // a crash after batch 0 commits its sink but before the engine
    // records the offset replays the SAME batch: the strictly-below
    // backlog read (below=0 -> empty) and partition overwrites must
    // converge to identical state, not double-increment attempts
    retryBatch(b0, 0L, stateDir, outDir, succeeds)
    assert(snapshot() == first)
    // and the NEXT batch still sees exactly one round of failures
    retryBatch(spark.emptyDataset[Job].toDF(), 1L, stateDir, outDir, succeeds)
    val dead1 = spark.read.parquet(s"$outDir/dead")
    assert(dead1.count() == 0) // attempts=1 < 3, still retrying
    def backlogNow() = retryBacklog(spark, stateDir, below = Long.MaxValue).collect()
      .map(r => r.getAs[Long]("job_id") -> r.getAs[Int]("attempts")).toMap
    assert(backlogNow() == Map(1L -> 2, 3L -> 2, 5L -> 2))
    // a torn batch-1 backlog (no commit marker) is never read: the
    // reader falls back to batch 0's committed backlog
    java.nio.file.Files.delete(stateRoot.resolve("backlog/batch=1/_SUCCESS"))
    assert(backlogNow() == Map(1L -> 1, 3L -> 1, 5L -> 1))
  }}

  test("retry backlog and Misra-Gries state lookups schedule no Spark job") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val outDir = java.nio.file.Files.createTempDirectory("graft-lookup").toString
    val stateDir = java.nio.file.Files.createTempDirectory("graft-lookup-st").toString
    val b0 = (1L to 6L).map(i => Job(i, 0, i, priority = 1, attempts = 0)).toDF()
    retryBatch(b0, 0L, stateDir, outDir, col("job_id") % 2 === 0)
    retryBatch(spark.emptyDataset[Job].toDF(), 1L, stateDir, outDir,
      col("job_id") % 2 === 0)
    Seq(("alpha", 3L), ("beta", 2L)).toDF("token", "est")
      .write.parquet(s"$stateDir/summary/batch=0")
    Seq((1L, 7L, 4L)).toDF("tenant_id", "case_ref", "last_serialno")
      .write.parquet(s"$outDir/watermarks/v0")
    val ((backlog, mg, marks), ledger) = graft.scale.JobLedger.measure(spark) {
      (retryBacklog(spark, stateDir, below = 2L),
        mgState(spark, stateDir, below = 2L),
        latestWatermarks(spark, outDir).get)
    }
    assert(ledger.jobs.isEmpty,
      s"the lookups scheduled ${ledger.jobs.size} jobs")
    // the frames read the newest committed batches, and reading them
    // does run jobs (the ledger sees this thread's work)
    val (rows, control) = graft.scale.JobLedger.measure(spark)(
      (backlog.collect().map(_.getAs[Long]("job_id")).sorted.toSeq,
        mg.collect().map(_.getAs[String]("token")).sorted.toSeq,
        marks.as[(Long, Long, Long)].collect().toSeq))
    assert(control.jobs.nonEmpty, "control: the ledger never saw the reads")
    assert(rows == ((Seq(1L, 3L, 5L), Seq("alpha", "beta"), Seq((1L, 7L, 4L)))))
  }

  test("circuit breaker: opens at threshold, sheds while open, half-open probe decides") {
    val jobs = Seq(Job(1, 0, 1, 1, 0))
    var b = Breaker(failureThreshold = 3, timeoutSeconds = 300L)
    // three failing batches -> breaker opens
    for (t <- 1L to 3L) {
      val (r, nb, shed) = guardedStep(jobs, _ => false, b, now = t)
      assert(shed.isEmpty && (r.retry.nonEmpty || r.dead.nonEmpty))
      b = nb
    }
    assert(b.isOpen(now = 4L))
    // open: jobs shed untouched, attempts NOT burned
    val (rOpen, bOpen, shedOpen) = guardedStep(jobs, _ => false, b, now = 10L)
    assert(rOpen.succeeded.isEmpty && rOpen.retry.isEmpty && rOpen.dead.isEmpty)
    assert(shedOpen == jobs && shedOpen.head.attempts == 0)
    // after the timeout: half-open — a failing probe re-opens from now
    val (_, bReopened, _) = guardedStep(jobs, _ => false, bOpen, now = 304L)
    assert(bReopened.isOpen(now = 305L) && bReopened.isOpen(now = 603L))
    // a succeeding probe after the new window fully closes it
    val (rOk, bClosed, _) = guardedStep(jobs, _ => true, bReopened, now = 605L)
    assert(rOk.succeeded == jobs)
    assert(!bClosed.isOpen(now = 606L) && bClosed.failures == 0)
  }

  test("streaming admission: later batches reject near-dups of earlier " +
    "admissions through the appended index") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-admit").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val novel = (1 to 40).map(i => s"other$i").mkString(" ")
    val third = (1 to 40).map(i => s"third$i").mkString(" ")
    seedAdmissionIndex(
      Seq((0L, base)).toDF("doc_id", "text"), s"$dir/index")
    val input = MemoryStream[(Long, String)]
    val q = admissionPipeline(
      input.toDS().toDF("doc_id", "text"), s"$dir/index", s"$dir/out")
    try {
      input.addData((10L, base), (11L, novel)) // dup of seed; new
      q.processAllAvailable()
      // 20 duplicates batch-0's ADMITTED doc 11 — only the index append
      // can reject it; 21 is new
      input.addData((20L, novel), (21L, third))
      q.processAllAvailable()

      val verdicts = spark.read.parquet(s"$dir/out/verdicts")
        .collect().map { r =>
          r.getAs[Long]("doc_id") ->
            ((r.getAs[String]("status"),
              if (r.isNullAt(r.fieldIndex("dup_of"))) None
              else Some(r.getAs[Long]("dup_of")),
              r.getAs[Int]("batch")))
        }.toMap
      assert(verdicts(10L) == (("reject", Some(0L), 0)))
      assert(verdicts(11L) == (("admit", None, 0)))
      assert(verdicts(20L) == (("reject", Some(11L), 1)))
      assert(verdicts(21L) == (("admit", None, 1)))
      // the index carries exactly seed + admitted docs (8 band rows each)
      val indexed = spark.read.parquet(s"$dir/index")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexed == Set(0L, 11L, 21L))
    } finally q.stop()
  }

  stateDirForms("streaming heavy hitters: merged Misra-Gries sketch keeps the " +
    "one-sided error bound across batches at constant state")
      .foreach { case (name, form) => test(name) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-mg")
    val dir = root.toString
    val k = 10
    val rng = new scala.util.Random(7)
    // three skewed batches with shifting hot sets: the true global
    // heavy hitters are only visible across batches — exactly what a
    // per-batch (unmerged) sketch would get wrong
    def mkBatch(hot: String, n: Int): Seq[(Long, String)] =
      (1 to n).map { i =>
        val ws = Seq.fill(8)(
          if (rng.nextInt(10) < 4) hot + rng.nextInt(2)
          else "tail" + rng.nextInt(400))
        (i.toLong, ws.mkString(" "))
      }
    val batches = Seq(mkBatch("alpha", 60), mkBatch("alpha", 50), mkBatch("beta", 70))
    val input = MemoryStream[(Long, String)]
    val q = heavyHitterStream(
      input.toDS().toDF("doc_id", "text"), form(root.resolve("state")),
      s"$dir/out", k)
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      val exact = batches.flatten
        .flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = exact.values.sum
      val sketch = spark.read.parquet(s"$dir/out/sketch")
        .filter(col("batch") === 2).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("est")).toMap
      assert(sketch.size <= k, s"state size ${sketch.size} > k")
      val nTotal = spark.read.parquet(s"$dir/out/sketch")
        .filter(col("batch") === 2).select("n_total").head().getLong(0)
      assert(nTotal == n)
      // one-sided bound: est never overcounts, undercounts by <= N/(k+1)
      sketch.foreach { case (t, est) =>
        val c = exact(t)
        assert(est <= c, s"$t overcounted: $est > $c")
        assert(c - est <= n / (k + 1), s"$t undercounted past bound")
      }
      // every true heavy hitter above N/(k+1) survives the merges
      exact.filter { case (_, c) => c > n / (k + 1) }.keys.foreach { t =>
        assert(sketch.contains(t), s"true heavy hitter $t lost")
      }
      // the hot tokens of EARLY batches are still present at the end
      assert(sketch.keys.exists(_.startsWith("alpha")))
    } finally q.stop()
  }}

  test("cadence plan: 28 days, weekly fulls, dry-run gate on day one only") {
    import org.apache.spark.sql.functions._
    val plan = IncrementalSync.syncCadencePlan(spark, sf).collect()
      .sortBy(_.getAs[Int]("day_offset"))
    assert(plan.length == 28)
    assert(plan.count(_.getAs[String]("mode") == "full") == 4)
    plan.foreach { r =>
      val full = r.getAs[Int]("day_offset") % 7 == 0
      assert((r.getAs[String]("mode") == "full") == full)
      assert(r.getAs[Boolean]("dry_run_gate") == (r.getAs[Int]("day_offset") == 1))
    }
    // dates are consecutive calendar days
    val dates = plan.map(r => java.time.LocalDate.parse(r.getAs[String]("sync_date")))
    dates.zip(dates.tail).foreach { case (a, b) => assert(a.plusDays(1) == b) }
  }

  test("streaming funnel: per-user step tracker carries state across " +
    "micro-batches and equals the batch A25 join-ladder fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int): java.sql.Timestamp =
      new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // (user, sec, type) — every funnel edge case, three time windows:
    //   u1 full path in order; u2 view BEFORE signup (discarded) plus a
    //   view at the signup's exact ts (strict > excludes it) plus a
    //   later qualifying view; u3 signup only; u4 click before its view
    //   (discarded), then completes; u5 duplicate signups and views
    //   (earliest qualifying wins); u6 purchase first, never views —
    //   stuck at signup; u7 advances ACROSS all three micro-batches —
    //   the state-carry witness; u8 decoy event type ignored.
    val batch1 = Seq( // secs 1-10
      (1L, 1, "signup"), (1L, 3, "view"), (1L, 5, "click"),
      (1L, 7, "purchase"),
      (2L, 1, "view"), (2L, 2, "signup"), (2L, 2, "view"), (2L, 4, "view"),
      (3L, 2, "signup"),
      (4L, 2, "signup"), (4L, 3, "click"), (4L, 5, "view"), (4L, 6, "click"),
      (5L, 1, "signup"), (5L, 2, "signup"), (5L, 2, "view"), (5L, 3, "view"),
      (6L, 1, "purchase"), (6L, 2, "signup"), (6L, 3, "purchase"),
      (7L, 9, "signup"), (8L, 1, "signup"), (8L, 2, "scroll"))
    val batch2 = Seq( // secs 11-20
      (4L, 11, "purchase"), (5L, 12, "click"), (7L, 13, "view"),
      (8L, 14, "view"))
    val batch3 = Seq( // secs 21-30
      (7L, 21, "click"), (7L, 22, "purchase"), (5L, 23, "purchase"),
      (8L, 24, "click"))
    val all = batch1 ++ batch2 ++ batch3
    // the batch A25 fold (join-ladder, oracle-checked at the registry)
    // on the SAME events is the ground truth for step-reach counts
    val batchDf = all.map { case (u, s, t) => (u, ts(s), t) }
      .toDF("user_id", "ts", "event_type")
    val want = graft.metrics.Dashboard.funnelConversionOf(batchDf)
      .collect().map(r => r.getAs[Int]("step") -> r.getAs[Long]("n_users"))
      .toMap
    val input = MemoryStream[FunnelEvent]
    val q = funnelStream(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append).start()
    try {
      // shuffle WITHIN each batch (the tracker must sort); batches are
      // in event-time order across boundaries (the documented
      // precondition, as for cusumStream)
      Seq(batch1, batch2, batch3).foreach { b =>
        input.addData(scala.util.Random.shuffle(b)
          .map { case (u, s, t) => FunnelEvent(u, ts(s), t) })
        q.processAllAvailable()
      }
      val adv = spark.table("funnel").as[FunnelAdvance].collect()
      // one advance per (user, step), never skipping a step
      val byUser = adv.groupBy(_.user_id)
      byUser.values.foreach { a =>
        assert(a.map(_.step).sorted.toSeq == (1 to a.length).toSeq) }
      // step-reach counts equal the batch join-ladder exactly
      val gotCounts = (1 to 4).map(s =>
        s -> adv.count(_.step == s).toLong).toMap
      assert(gotCounts == want, s"stream $gotCounts vs batch $want")
      // the re-anchored minimum chain is replayed: spot-pin the edges
      val at = adv.map(a => (a.user_id, a.step) -> a.ts.getTime).toMap
      assert(at((2L, 2)) == ts(4).getTime,
        "same-ts view must not qualify (strict >); the sec-4 view does")
      assert(at((5L, 1)) == ts(1).getTime &&
        at((5L, 2)) == ts(2).getTime,
        "earliest qualifying event wins on duplicates")
      assert(!at.contains((6L, 2)), "purchase-first user stuck at signup")
      // u7 advanced in every micro-batch: state carried, never restarted
      assert((1 to 4).forall(s => at.contains((7L, s))))
      assert(at((7L, 4)) == ts(22).getTime)
    } finally q.stop()
  }

  test("streaming funnel/retention edges: decoy-only and empty batches " +
    "emit nothing and corrupt no state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Int): java.sql.Timestamp =
      new java.sql.Timestamp(1699833600000L + sec * 1000L)
    val fin = MemoryStream[FunnelEvent]
    val fq = funnelStream(fin.toDS())
      .writeStream.format("memory").queryName("funnel_edges")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: decoys only — no advance, and crucially NO state row
      // that would anchor a wrong step-0 time
      fin.addData(Seq(FunnelEvent(1L, t(1), "scroll"),
        FunnelEvent(1L, t(2), "hover")))
      fq.processAllAvailable()
      assert(spark.table("funnel_edges").count() == 0)
      // batch 2: empty
      fin.addData(Seq.empty[FunnelEvent])
      fq.processAllAvailable()
      // batch 3: the real signup still lands as step 1 at ITS OWN ts
      fin.addData(Seq(FunnelEvent(1L, t(10), "signup")))
      fq.processAllAvailable()
      val adv = spark.table("funnel_edges").as[FunnelAdvance].collect()
      assert(adv.toSeq == Seq(FunnelAdvance(1L, 1, "signup", t(10))))
    } finally fq.stop()
    val rin = MemoryStream[UserEvent]
    val rq = retentionStream(rin.toDS())
      .writeStream.format("memory").queryName("retention_edges")
      .outputMode(OutputMode.Append).start()
    try {
      rin.addData(Seq.empty[UserEvent])
      rq.processAllAvailable()
      assert(spark.table("retention_edges").count() == 0)
      rin.addData(Seq(UserEvent(1L, t(10))))
      rq.processAllAvailable()
      val touches = spark.table("retention_edges").as[RetentionTouch]
        .collect()
      // cohort anchored at the first REAL event's week, offset 0
      assert(touches.toSeq ==
        Seq(RetentionTouch(1L, IncrementalSync.mondayWeekDay(t(10).getTime),
          0L)))
    } finally rq.stop()
  }

  test("streaming CUSUM: accumulator persists across micro-batches and " +
    "replays the batch t22 fold against the fitted mean") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def day(d: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // batch-fitted baseline: tenant 7's history mean is 50500 milli
    // (the same 1x6 + 100x6 series as the batch spec)
    val mu = 50500L
    val counts = Seq(1L, 1L, 1L, 1L, 1L, 1L, 100L, 100L, 100L, 100L, 100L,
      100L)
    // replica of the registered fold
    var (sp, sn) = (0L, 0L)
    val want = counts.zipWithIndex.map { case (n, i) =>
      sp = math.max(0L, sp + n * 1000 - mu - mu / 4)
      sn = math.max(0L, sn - n * 1000 + mu - mu / 4)
      DriftAlarm(7L, day(i + 1), n, sp, sn,
        if (sp > mu * 3 || sn > mu * 3) 1L else 0L)
    }
    val input = MemoryStream[DailyCount]
    val q = cusumStream(input.toDS(), Map(7L -> mu))
      .writeStream.format("memory").queryName("drift")
      .outputMode(OutputMode.Append).start()
    try {
      // three micro-batches: 4 + 4 + 4 days — the accumulator must
      // carry across batch boundaries, not restart
      Seq(0 until 4, 4 until 8, 8 until 12).foreach { slice =>
        input.addData(slice.map(i => DailyCount(7L, day(i + 1), counts(i))))
        q.processAllAvailable()
      }
      // an UNFITTED tenant (no baseline entry -> mu = 0) alarms on its
      // first active day -- the documented conservative default
      input.addData(Seq(DailyCount(9L, day(1), 5L)))
      q.processAllAvailable()
      val unfitted = spark.table("drift").as[DriftAlarm].collect()
        .filter(_.tenant_id == 9L)
      assert(unfitted.length == 1 && unfitted.head.alarm == 1L)

      val got = spark.table("drift").as[DriftAlarm].collect()
        .filter(_.tenant_id == 7L).sortBy(_.day.getTime)
      assert(got.toSeq == want)
      // drift (not spike): alarms begin only after sustained deviation
      assert(got.take(4).forall(_.alarm == 0L))
      assert(got.map(_.alarm).sum > 0)
      assert(got.last.alarm == 1L)
    } finally q.stop()
  }
}
