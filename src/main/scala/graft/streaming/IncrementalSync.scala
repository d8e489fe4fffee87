package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.collection.mutable.ArrayBuffer

/** Streaming form of the incremental-sync semantics (SURVEY.md §2.9).
  *
  * The reference implements change detection as a batch diff against a
  * per-(tenant, case) serial-number watermark stored in Postgres
  * (database/change_tracking.py:51-152) and consumes work through a Redis
  * priority queue with bounded retries and a dead-letter list
  * (etl/worker.py:63-250). Here the watermark lives in Structured
  * Streaming state keyed by (tenant_id, case_ref) —
  * flatMapGroupsWithState — and the retry/dead-letter policy is a pure
  * per-batch step function, drivable from foreachBatch.
  *
  * Scale: state is partitioned by group key across executors (the same
  * key the batch reconciliation shuffles on); no global coordination.
  */
object IncrementalSync {

  /** One snapshot observation of a case's CRM serial number. */
  final case class SnapshotUpdate(tenant_id: Long, case_ref: Long, serialno: Long)

  /** Emitted when a case's serial number moves past the stored watermark
    * (ST1); prev_serialno is the watermark it beat (0 = never processed,
    * matching change_tracking.py:75-84). */
  final case class ChangeEvent(
      tenant_id: Long, case_ref: Long, serialno: Long, prev_serialno: Long)

  /** ST1 + ST2: per-key high-watermark change detection with state
    * advance. Works identically under streaming (MemoryStream/kafka) and
    * batch execution. */
  def detectChanges(updates: Dataset[SnapshotUpdate]): Dataset[ChangeEvent] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(u => (u.tenant_id, u.case_ref))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(processKey)
  }

  /** Emits one event per watermark advance within the batch (processed in
    * serialno order for determinism); conservative on equal serials (no
    * emit — matches needs_processing, change_tracking.py:126-152). */
  def processKey(
      key: (Long, Long),
      rows: Iterator[SnapshotUpdate],
      state: GroupState[Long]): Iterator[ChangeEvent] = {
    var last = state.getOption.getOrElse(0L)
    val out = ArrayBuffer.empty[ChangeEvent]
    rows.toSeq.sortBy(_.serialno).foreach { u =>
      if (u.serialno > last) {
        out += ChangeEvent(key._1, key._2, u.serialno, last)
        last = u.serialno
      }
    }
    state.update(last)
    out.iterator
  }

  // -------------------------------------------------------------------
  // ST3 — priority queue with bounded retry + dead-letter
  // -------------------------------------------------------------------

  /** Queue element (database/models.py:86-101): priority 1 = highest;
    * attempts counts failed tries so far. */
  final case class Job(
      job_id: Long, tenant_id: Long, case_ref: Long,
      priority: Int, attempts: Int)

  /** Result of one micro-batch step. */
  final case class StepResult(
      succeeded: Seq[Job], retry: Seq[Job], dead: Seq[Job])

  /** One worker micro-batch (etl/worker.py:112-250): process jobs in
    * priority order (p1 first — worker.py:63-68); a failure under
    * maxAttempts re-queues at lowered priority (reference re-queues
    * failures into p3 — worker.py:208-250); at maxAttempts it
    * dead-letters. Pure function: drive it from foreachBatch with the
    * retry set unioned into the next batch. */
  def step(jobs: Seq[Job], succeeds: Job => Boolean,
           maxAttempts: Int = 3): StepResult = {
    val ordered = jobs.sortBy(j => (j.priority, j.job_id))
    val (ok, failed) = ordered.partition(succeeds)
    val (dead, retry) = failed.partition(_.attempts + 1 >= maxAttempts)
    StepResult(
      ok,
      retry.map(j => j.copy(attempts = j.attempts + 1, priority = 3)),
      dead.map(j => j.copy(attempts = j.attempts + 1)))
  }

  // -------------------------------------------------------------------
  // Circuit breaker (reference core/error_handling.py:165-177,576-593)
  // -------------------------------------------------------------------

  /** Circuit-breaker state machine: CLOSED counts consecutive failures;
    * at `failureThreshold` it OPENS (callers shed load instead of
    * hammering a down dependency); after `timeoutSeconds` the next probe
    * half-opens, where one success re-closes and one failure re-opens.
    * Pure transition function — drive it from foreachBatch alongside
    * [[step]], persisting the state like the watermark table. */
  final case class Breaker(
      failures: Int = 0, openedAt: Option[Long] = None,
      failureThreshold: Int = 5, timeoutSeconds: Long = 300L) {
    def isOpen(now: Long): Boolean =
      openedAt.exists(t => now - t < timeoutSeconds)
    /** May a call proceed at `now`? (closed, or half-open probe) */
    def allows(now: Long): Boolean = !isOpen(now)
    def onSuccess: Breaker =
      copy(failures = 0, openedAt = None)
    def onFailure(now: Long): Breaker = {
      val n = failures + 1
      if (n >= failureThreshold || openedAt.isDefined)
        copy(failures = n, openedAt = Some(now)) // open (or re-open from half-open)
      else copy(failures = n)
    }
  }

  /** One guarded micro-batch: if the breaker is open, jobs are shed
    * untouched (attempts unchanged — load-shedding is not failure);
    * otherwise run [[step]] and advance the breaker on the batch
    * outcome (any failure counts once; a fully-clean batch resets). */
  def guardedStep(jobs: Seq[Job], succeeds: Job => Boolean, breaker: Breaker,
                  now: Long, maxAttempts: Int = 3): (StepResult, Breaker, Seq[Job]) =
    if (!breaker.allows(now)) (StepResult(Nil, Nil, Nil), breaker, jobs)
    else {
      val r = step(jobs, succeeds, maxAttempts)
      val next =
        if (r.retry.nonEmpty || r.dead.nonEmpty) breaker.onFailure(now)
        else if (r.succeeded.nonEmpty) breaker.onSuccess
        else breaker
      (r, next, Nil)
    }

  /** Drain a job set to completion (bounded by maxAttempts rounds) —
    * the batch-mode equivalent of the worker loop. */
  def drain(jobs: Seq[Job], succeeds: Job => Boolean,
            maxAttempts: Int = 3): StepResult = {
    var pending = jobs
    val ok = ArrayBuffer.empty[Job]
    val dead = ArrayBuffer.empty[Job]
    while (pending.nonEmpty) {
      val r = step(pending, succeeds, maxAttempts)
      ok ++= r.succeeded
      dead ++= r.dead
      pending = r.retry
    }
    StepResult(ok.toSeq, Seq.empty, dead.toSeq)
  }

  /** The durable retry backlog as of (strictly before) `below`: the
    * newest committed `backlog/batch=N` partition ([[BatchLog]]'s rule,
    * as for [[latestWatermarks]] and [[mgState]]) — a replayed batch must
    * never read its own failed attempt's output, and a torn backlog
    * write falls back to the batch before it. The explicit read schema
    * makes a resolved ladder's empty partition read as zero rows, so it
    * supersedes the older non-empty backlog instead of being skipped. */
  def retryBacklog(spark: SparkSession, stateDir: String,
                   below: Long): org.apache.spark.sql.DataFrame =
    backlog(spark, stateDir).read(below, JobSchema)

  private val JobSchema = org.apache.spark.sql.Encoders.product[Job].schema

  private def backlog(spark: SparkSession, stateDir: String) =
    new BatchLog(spark, s"$stateDir/backlog", "batch=")

  // -------------------------------------------------------------------
  // State migration: pre-round-12 arithmetic job ids → xxhash64 ids
  // -------------------------------------------------------------------

  /** Decode/classify plan over an old-format carried backlog — the
    * deterministic core of [[migrateRetryState]], registered as a query
    * so the gate replays the decision arithmetic. The pre-round-12 id
    * packed `tenant·10⁶ + case_ref·10³ + serialno mod 10³`
    * (the encoding the round-12 break note at [[workerPipeline]]
    * retired); the carried row's EXPLICIT tenant/case columns are
    * authoritative, so the serial residue recovers as
    * `job_id − tenant·10⁶ − case_ref·10³` and must land in [0, 1000).
    * A residue outside that range means the id no longer matches the
    * row's own identity columns — state garbled by a consumer that
    * keyed on the old id's structure, exactly the failure mode the
    * break note warns about — and such rows are QUARANTINED rather
    * than silently re-keyed. Output: the carried columns + the decoded
    * residue + the action verdict. */
  def classifyLegacyJobs(jobs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    jobs.select(col("job_id").as("old_job_id"), col("tenant_id"),
      col("case_ref"), col("priority"), col("attempts"),
      (col("job_id") - col("tenant_id") * 1000000L
        - col("case_ref") * 1000L).as("serial_residue"))
      .withColumn("action",
        when(col("serial_residue") >= 0L && col("serial_residue") < 1000L,
          "migrate").otherwise("quarantine"))
  }

  /** Migrate a pre-round-12 `stateDir` in place of starting fresh: the
    * carried backlog's arithmetic ids are re-keyed to
    * `xxhash64(tenant_id, case_ref, serial_residue)` — bit-identical to
    * the id [[workerPipeline]] mints for the same change event whenever
    * serialno < 1000, and a stable unique in-flight identity in every
    * case (the old id had already collapsed serialno mod 10³, so
    * nothing more is recoverable). Decodable rows land in
    * `newStateDir/backlog/batch=N`; garbled rows land in
    * `newStateDir/quarantine/batch=N` for operator review instead of
    * silently re-entering the ladder. The backlog is written last, so
    * its `_SUCCESS` marks the migration complete: a crashed migration
    * leaves nothing [[retryBacklog]] reads, and re-running it converges.
    *
    * THE FRONTIER MUST SIT STRICTLY BELOW THE RESUMING STREAM'S FIRST
    * batchId, or the migrated backlog is never read (retryBacklog reads
    * strictly below) and is eventually clobbered by the stream's own
    * partition overwrite when its batchIds catch up. Two deployment
    * shapes, so the parking batch is explicit:
    *  - resuming with the OLD checkpoint (batchIds continue above the
    *    old frontier): omit `resumeFrom` — state parks at the old
    *    dir's newest committed backlog batch, exactly where the stream
    *    left it;
    *  - resuming with a FRESH checkpoint (batchIds restart at 0 — the
    *    natural move after a breaking upgrade): pass
    *    `resumeFrom = Some(firstBatchId)` (usually `Some(0L)`) — state
    *    parks at `firstBatchId - 1` so the very first micro-batch
    *    carries it.
    * StateMigrationSpec proves a planted old-format dir resumes retries
    * through [[retryBatch]] in BOTH shapes. */
  def migrateRetryState(spark: SparkSession, oldStateDir: String,
                        newStateDir: String,
                        resumeFrom: Option[Long] = None): Unit = {
    import org.apache.spark.sql.functions._
    val old = backlog(spark, oldStateDir)
    val latest = old.latest(below = Long.MaxValue).getOrElse(
      throw new IllegalArgumentException(s"no committed backlog under $oldStateDir"))
    val parkAt = resumeFrom.map(_ - 1L).getOrElse(latest)
    val classified = classifyLegacyJobs(
      spark.read.schema(JobSchema).parquet(old.path(latest))).persist()
    classified.filter(col("action") === "quarantine")
      .write.mode("overwrite")
      .parquet(s"$newStateDir/quarantine/batch=$parkAt")
    classified.filter(col("action") === "migrate")
      .select(
        xxhash64(col("tenant_id"), col("case_ref"), col("serial_residue"))
          .as("job_id"),
        col("tenant_id"), col("case_ref"), col("priority"), col("attempts"))
      .write.mode("overwrite").parquet(s"$newStateDir/backlog/batch=$parkAt")
    classified.unpersist()
    ()
  }

  /** Registered binding for [[classifyLegacyJobs]]: a deterministic
    * old-format backlog derived from orders — tenant/case/serial from
    * order arithmetic, ids packed with the retired stride encoding, and
    * every 13th id garbled by +5000 (the structure-keyed-consumer
    * corruption the quarantine path exists for; the offset pushes the
    * residue out of [0, 1000) without colliding with an honest id). */
  def migrateLegacyBatch(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val legacy = graft.Tables.orders(spark, dir)
      .select(
        (col("o_custkey") % 4).as("tenant_id"),
        (col("o_orderkey") % 1500).as("case_ref"),
        ((col("o_orderkey") * 7) % 1000).as("serial"),
        (col("o_orderkey") % 3 + 1).cast("int").as("priority"),
        (col("o_orderkey") % 3).cast("int").as("attempts"),
        col("o_orderkey"))
      .select(
        ((col("tenant_id") * 1000000L) + (col("case_ref") * 1000L)
          + col("serial")
          + when(col("o_orderkey") % 13 === 0, 5000L).otherwise(0L))
          .as("job_id"),
        col("tenant_id"), col("case_ref"), col("priority"), col("attempts"))
    classifyLegacyJobs(legacy)
  }

  /** ST3 made continuous: the retry/dead-letter queue as a streaming
    * pipeline. Each micro-batch unions its arrivals with the durable
    * backlog, applies the SAME policy as [[step]] — success passes
    * through, a failure under `maxAttempts` re-queues at priority 3
    * with attempts+1, the `maxAttempts`-th failure dead-letters — and
    * persists the next backlog. The retry set crosses micro-batch
    * boundaries through the backlog TABLE, not executor memory, so a
    * worker restart resumes mid-ladder; per-batch partition overwrites
    * plus strictly-below reads make a replayed batch idempotent (the
    * [[admissionPipeline]] contract).
    *
    * `succeeds` is a Column predicate over (job_id, tenant_id,
    * case_ref, priority, attempts) — the policy stays fully
    * distributed (no driver-side job loop, unlike the reference's
    * single-process worker). A quiet stream leaves the backlog parked:
    * foreachBatch only fires on arrivals, so drains ride on traffic
    * (or a heartbeat tick row, as the spec does). */
  def retryPipeline(jobs: org.apache.spark.sql.DataFrame,
                    stateDir: String, outDir: String,
                    succeeds: org.apache.spark.sql.Column,
                    maxAttempts: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    jobs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        retryBatch(batch.toDF(), batchId, stateDir, outDir, succeeds, maxAttempts)
      }
      .start()

  /** One retry-queue micro-batch, exposed so the idempotency contract is
    * directly testable: replaying a batchId reads the SAME strictly-below
    * backlog and overwrites the SAME partitions, so a crashed-and-replayed
    * batch converges to identical outputs (IncrementalSyncSpec proves a
    * literal double-run). */
  def retryBatch(arrivals: org.apache.spark.sql.DataFrame, batchId: Long,
                 stateDir: String, outDir: String,
                 succeeds: org.apache.spark.sql.Column,
                 maxAttempts: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    val spark = arrivals.sparkSession
    val all = arrivals
      .select("job_id", "tenant_id", "case_ref", "priority", "attempts")
      .unionByName(retryBacklog(spark, stateDir, below = batchId))
      .persist()
    val failed = all.filter(!succeeds)
    val retry = failed.filter(col("attempts") + 1 < maxAttempts)
      .withColumn("attempts", (col("attempts") + 1).cast("int"))
      .withColumn("priority", lit(3))
    val dead = failed.filter(col("attempts") + 1 >= maxAttempts)
      .withColumn("attempts", (col("attempts") + 1).cast("int"))
    all.filter(succeeds).write.mode("overwrite")
      .parquet(s"$outDir/succeeded/batch=$batchId")
    dead.write.mode("overwrite").parquet(s"$outDir/dead/batch=$batchId")
    // the backlog is written last: its _SUCCESS commits the batch's
    // state for the next batch's retryBacklog
    retry.write.mode("overwrite").parquet(s"$stateDir/backlog/batch=$batchId")
    all.unpersist()
    ()
  }

  /** The reference's worker loop END-TO-END (etl/worker.py:112-206) as
    * ONE composed streaming pipeline: snapshot updates flow through the
    * ST1 keyed watermark state ([[detectChanges]]), every emitted change
    * event becomes a queued job (the worker enqueues exactly the changed
    * cases), and each micro-batch drains that queue through the ST3
    * retry ladder ([[retryBatch]]) — requeue at lowered priority under
    * `maxAttempts`, dead-letter at the cap, idempotent per-batch
    * parquet handoff. Succeeded jobs land under
    * `outDir/succeeded/batch=N`: the durable boundary a downstream
    * session-TTL stream ([[expireSessions]]) tails, exactly how the
    * reference chains worker output into session activity. The two
    * keyed-state operators CANNOT fuse into one query (Spark forbids a
    * stateful op after flatMapGroupsWithState in append mode) — the
    * durable handoff IS the production composition, and the e2e spec
    * drives all three stages across micro-batches.
    *
    * `succeeds` sees the job columns (job_id, tenant_id, case_ref,
    * priority, attempts); job identity is a deterministic 64-bit mix
    * (xxhash64) of the change event that spawned it — an OPAQUE
    * identity + ordering tiebreak, not an arithmetic encoding: the
    * former stride packing (tenant·10⁶ + case·10³ + serial mod 10³)
    * silently collided once case_ref ≥ 1000 bled into the next
    * tenant's stride or serialno wrapped mod 1000. Distinct in-flight
    * events now collide only at the 64-bit birthday bound (~n²/2⁶⁴ —
    * negligible for any realistic in-flight job count), and the
    * tenant/case identity a downstream consumer should key on rides
    * alongside in its own columns.
    *
    * STATE-COMPATIBILITY BREAK (round 12): the switch from the
    * arithmetic encoding to xxhash64 changes every job_id. A deployment
    * upgrading in place must start a FRESH `stateDir` (or migrate):
    * retryBatch rows persisted under the old ids never match the new
    * ones, so old in-flight jobs would neither retry nor dead-letter —
    * they'd sit orphaned in the carried state. Likewise any
    * caller-supplied `succeeds` predicate that keyed on the old id's
    * STRUCTURE (e.g. `job_id % k` bucketing by serialno) now sees
    * uniformly-mixed bits and must key on the explicit
    * tenant_id/case_ref columns instead. */
  def workerPipeline(updates: Dataset[SnapshotUpdate], stateDir: String,
                     outDir: String, succeeds: org.apache.spark.sql.Column,
                     maxAttempts: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    detectChanges(updates)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: Dataset[ChangeEvent], batchId: Long) =>
        val jobs = batch.toDF()
          .select(
            xxhash64(col("tenant_id"), col("case_ref"), col("serialno"))
              .as("job_id"),
            col("tenant_id"), col("case_ref"),
            lit(1).as("priority"), lit(0).as("attempts"))
        retryBatch(jobs, batchId, stateDir, outDir, succeeds, maxAttempts)
      }
      .start()
  }

  /** Streaming gap-sessionization over (user_id, ts) — Spark's native
    * session_window with an event-time watermark; the streaming twin of
    * graft.operators.Temporal.sessionizeOf (same gap semantics; the
    * session end here is last-event + gap, the streaming convention).
    * State is keyed by (user, session) and evicted once the watermark
    * passes a session's end — bounded memory at any scale. */
  def sessionWindows(events: org.apache.spark.sql.DataFrame,
                     gap: String = "30 minutes",
                     lateness: String = "10 minutes"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark("ts", lateness)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  // -------------------------------------------------------------------
  // Session TTL expiry — EventTimeTimeout keyed state
  // (core/session_manager.py:22 — sessions expire after 6 h idle)
  // -------------------------------------------------------------------

  /** One session touch (any activity on a user's session). */
  final case class SessionTouch(user_id: Long, ts: java.sql.Timestamp)

  /** Keyed session state: first/last activity (epoch millis) + count. */
  final case class SessionLife(start_ms: Long, last_ms: Long, n_events: Long)

  /** Emitted when a session's idle time exceeds the TTL. */
  final case class ExpiredSession(
      user_id: Long, start_ts: java.sql.Timestamp,
      last_ts: java.sql.Timestamp, n_events: Long)

  /** Streaming twin of the batch `t19_session_ttl` audit: per-user
    * session state with an EVENT-TIME timeout — each touch extends the
    * session and re-arms the timeout at last-activity + ttl; when the
    * stream's watermark passes that deadline the state times out, the
    * session is emitted as expired and its state is REMOVED. This is
    * exactly the reference's 6-hour session-manager expiry as keyed
    * streaming state, and the timeout-driven eviction is what keeps
    * state bounded at unbounded input (a session store can only grow
    * with LIVE sessions, never with history). */
  def expireSessions(events: Dataset[SessionTouch],
      ttlHours: Int = 6,
      lateness: String = "10 minutes"): Dataset[ExpiredSession] = {
    import events.sparkSession.implicits._
    val ttlMs = ttlHours * 3600L * 1000L
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[SessionTouch],
         state: GroupState[SessionLife]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ExpiredSession(uid,
              new java.sql.Timestamp(s.start_ms),
              new java.sql.Timestamp(s.last_ms), s.n_events))
          } else {
            val ts = rows.map(_.ts.getTime).toSeq
            val prev = state.getOption
            val st = SessionLife(
              math.min(prev.map(_.start_ms).getOrElse(Long.MaxValue), ts.min),
              math.max(prev.map(_.last_ms).getOrElse(Long.MinValue), ts.max),
              prev.map(_.n_events).getOrElse(0L) + ts.size)
            state.update(st)
            state.setTimeoutTimestamp(st.last_ms + ttlMs)
            Iterator.empty
          }
      }
  }

  // -------------------------------------------------------------------
  // Streaming CUSUM drift monitor — keyed per-tenant accumulator
  // -------------------------------------------------------------------

  /** One finalized per-tenant daily count arriving on the stream. */
  final case class DailyCount(tenant_id: Long, day: java.sql.Timestamp,
      n: Long)

  /** Keyed CUSUM accumulator (milli units, exact longs). */
  final case class CusumState(s_pos: Long, s_neg: Long, n_days: Long)

  /** Per-day drift verdict — same columns as the batch `t22` fold. */
  final case class DriftAlarm(tenant_id: Long, day: java.sql.Timestamp,
      n: Long, s_pos_milli: Long, s_neg_milli: Long, alarm: Long)

  /** Streaming twin of the batch `t22_cusum_daily` fold — the
    * production split: the BATCH job fits the baseline mean per tenant
    * (t22's μ over history); the STREAM carries only the two-sided
    * CUSUM accumulator per tenant and updates it as each finalized
    * daily count arrives, alarming the moment drift accumulates past
    * 3μ — days before any single day would trip a spike detector.
    * State is two longs and a counter per tenant, constant at
    * unbounded input; within a batch rows fold in event-time order
    * (upstream, a watermarked daily aggregation emits finalized days
    * in order — compose with the W4 streaming form). A tenant WITHOUT
    * a fitted baseline gets μ = 0, so its first active day alarms —
    * the conservative default that surfaces "unfitted tenant" to the
    * operator instead of silently monitoring against nothing. */
  def cusumStream(daily: Dataset[DailyCount],
      meanMilliByTenant: Map[Long, Long]): Dataset[DriftAlarm] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_.tenant_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (tid: Long, rows: Iterator[DailyCount],
         state: GroupState[CusumState]) =>
          val mu = meanMilliByTenant.getOrElse(tid, 0L)
          val slack = mu / 4
          val h = mu * 3
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_.day.getTime).map { r =>
            val sp = math.max(0L, st.s_pos + r.n * 1000 - mu - slack)
            val sn = math.max(0L, st.s_neg - r.n * 1000 + mu - slack)
            st = CusumState(sp, sn, st.n_days + 1)
            DriftAlarm(tid, r.day, r.n, sp, sn,
              if (sp > h || sn > h) 1L else 0L)
          }
          state.update(st)
          out.iterator
      }
  }

  // -------------------------------------------------------------------
  // Streaming strict-order funnel — keyed per-user step tracker
  // -------------------------------------------------------------------

  /** One funnel-relevant event arriving on the stream. */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** Per-user funnel state: the earliest strict-order completion time
    * (epoch ms) of each step reached so far — a PREFIX of the step
    * ladder, at most k longs per user, constant at unbounded input. */
  final case class FunnelState(times_ms: Seq[Long])

  /** One emitted step advancement — user X reached step N at ts. */
  final case class FunnelAdvance(user_id: Long, step: Int,
      event_type: String, ts: java.sql.Timestamp)

  /** Streaming twin of the batch A25 strict-order funnel
    * ([[graft.metrics.Dashboard.funnelConversionOf]]) — the incremental
    * form with real production value: the batch join-ladder recomputes
    * k sequential aggregates over the FULL event history every run,
    * while this tracker carries one timestamp per reached step per user
    * and advances the moment the qualifying event arrives.
    *
    * Semantics replayed exactly: step i counts only on the user's
    * EARLIEST event of type steps(i) with ts STRICTLY after the step
    * i−1 completion time (the re-anchored product-funnel rule). A
    * single ascending-ts greedy pass computes that re-anchored min
    * chain exactly — when events are visited in event-time order, the
    * first qualifying event of the next pending step IS that step's
    * min(ts) — so rows sort within each micro-batch, and across
    * batches the state can only extend (a completed step's time never
    * moves). In-order delivery across batches is the documented
    * precondition, same as [[cusumStream]]: an event arriving in a
    * LATER batch than a processed event with greater ts may be missed
    * (compose with an upstream watermarked sort for exactness under
    * bounded lateness). Emitted advances are append-only; the
    * step-reach counts/conversions are a downstream aggregate of this
    * advance log, and the batch twin proves equality in
    * `IncrementalSyncSpec`. */
  def funnelStream(events: Dataset[FunnelEvent],
      steps: Seq[String] = Seq("signup", "view", "click", "purchase"))
      : Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    val stepAt = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent],
         state: GroupState[FunnelState]) =>
          var times = state.getOption.map(_.times_ms).getOrElse(Seq.empty)
          val out = ArrayBuffer.empty[FunnelAdvance]
          // ascending-ts greedy: ties cannot qualify (strict >), so
          // equal-ts visit order is immaterial; non-step events drop
          rows.toSeq.filter(r => stepAt.contains(r.event_type))
            .sortBy(_.ts.getTime)
            .foreach { r =>
              val m = times.length
              if (m < steps.length && r.event_type == steps(m) &&
                  (m == 0 || r.ts.getTime > times.last)) {
                times = times :+ r.ts.getTime
                out += FunnelAdvance(uid, m + 1, r.event_type, r.ts)
              }
            }
          if (times.nonEmpty) state.update(FunnelState(times))
          out.iterator
      }
  }

  // -------------------------------------------------------------------
  // Streaming calendar-week retention — keyed per-user cohort tracker
  // -------------------------------------------------------------------

  /** One user-activity event arriving on the stream. */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp)

  /** Per-user retention state: the Monday-truncated first-seen week
    * (epoch days; MaxValue = unseen) and the weeks already emitted.
    * Bounded by the user's DISTINCT active weeks — the calendar horizon
    * a dashboard renders, never the event volume. */
  final case class RetentionState(cohort_day: Long, seen_weeks: Seq[Long])

  /** One emitted first-activity-of-week touch: user X of cohort C was
    * active in week C + 7·offset. The A26 retention matrix is the
    * count of these per (cohort, offset) — a downstream aggregate of
    * this append-only log. */
  final case class RetentionTouch(user_id: Long, cohort_day: Long,
      week_offset: Long)

  /** Monday-truncated week of an instant, as epoch days (UTC) — epoch
    * day 4 (1970-01-05) is a Monday; floorDiv aligns all earlier and
    * later days to their week's Monday, matching Spark's
    * `date_trunc("week", ts)` under a UTC session. */
  private[streaming] def mondayWeekDay(tsMs: Long): Long =
    Math.floorDiv(Math.floorDiv(tsMs, 86400000L) - 4L, 7L) * 7L + 4L

  /** Streaming twin of the batch A26 calendar-week retention cohorts
    * ([[graft.metrics.Dashboard.retentionCohortsOf]]): the batch form
    * recomputes two full-history aggregates every run, while this
    * tracker keeps (cohort week, active weeks) per user and emits one
    * touch the FIRST time a user is active in a new calendar week —
    * the incremental shape of the worker-metrics A12 pattern. Cohort
    * assignment is the user's first event's week, so in-order delivery
    * across micro-batches is the documented precondition (as for
    * [[cusumStream]] and [[funnelStream]]); within a batch rows fold
    * in event-time order, so same-batch ordering is immaterial.
    * `count(*)` over the emitted log grouped by (cohort_day,
    * week_offset) equals the batch matrix exactly —
    * `RetentionPropSpec` proves it on random corpora. */
  def retentionStream(events: Dataset[UserEvent])
      : Dataset[RetentionTouch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[UserEvent],
         state: GroupState[RetentionState]) =>
          var st = state.getOption
            .getOrElse(RetentionState(Long.MaxValue, Seq.empty))
          var seen = st.seen_weeks.toSet
          val out = ArrayBuffer.empty[RetentionTouch]
          rows.toSeq.sortBy(_.ts.getTime).foreach { r =>
            val wk = mondayWeekDay(r.ts.getTime)
            if (st.cohort_day == Long.MaxValue) st = st.copy(cohort_day = wk)
            if (!seen.contains(wk)) {
              seen += wk
              out += RetentionTouch(uid, st.cohort_day,
                (wk - st.cohort_day) / 7L)
            }
          }
          state.update(RetentionState(st.cohort_day, seen.toSeq))
          out.iterator
      }
  }

  /** Streaming exact dedup for a document feed: key on the content hash
    * (the reference's vector content_hash, database/models.py:81),
    * dropDuplicatesWithinWatermark so dedup state is EVICTED once the
    * event-time watermark passes — bounded state at unbounded input,
    * which plain dropDuplicates cannot promise. Input needs (ts, text);
    * late duplicates beyond `lateness` may re-emit (the documented
    * trade-off of watermarked dedup). */
  def dedupStream(docs: org.apache.spark.sql.DataFrame,
                  lateness: String = "1 hour"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    docs
      .withColumn("content_hash", graft.expr.Exprs.contentHash(col("text")))
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** End-to-end streaming sync (the reference's daily-sync flow made
    * continuous): watermark change detection in stream state, then per
    * micro-batch a durable append-only change log plus a MERGE of the
    * watermark table — written as a new VERSIONED snapshot per batch
    * (v{batchId}), the plain-parquet stand-in for a transactional MERGE
    * (SURVEY §2.1 S9; at 100 TB this becomes dynamic partition
    * overwrite of only the touched tenant partitions, see
    * graft.scale.Scale). Readers pick the highest version — never a
    * half-written table. */
  def syncPipeline(updates: Dataset[SnapshotUpdate], outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    syncPipelineWith(updates, outDir, once = false)

  /** ST5 — the reference's scheduled daily sync (`0 2 * * *`,
    * configs/tenants/fdm_solicitors.json:90-97) in Spark idiom: the
    * external scheduler just launches the job, and `once = true` runs it
    * as a Trigger.AvailableNow drain — process everything that arrived
    * since the last checkpoint, commit, and exit. Same pipeline, same
    * checkpoint, same replay guard; a crashed nightly run resumes from
    * its checkpoint on the next launch. */
  def scheduledSyncOnce(updates: Dataset[SnapshotUpdate], outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    syncPipelineWith(updates, outDir, once = true)

  private def syncPipelineWith(updates: Dataset[SnapshotUpdate],
                               outDir: String, once: Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    val base = detectChanges(updates)
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/checkpoint")
    val triggered =
      if (once) base.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      else base
    triggered
      .foreachBatch { (batch: Dataset[ChangeEvent], batchId: Long) =>
        val spark = batch.sparkSession
        val versions = watermarkLog(spark, outDir)
        // a fully-committed vN means attempt 1 of this batch finished the
        // durable side before the checkpoint commit; the replay is a no-op
        // (rewriting would also yank files from under an external reader
        // who already picked vN as latest)
        if (versions.committed(batchId)) {
          // the skip must still CONSUME the batch: the stateful operator
          // upstream only commits its per-partition state stores when
          // every partition is processed, and Spark validates exactly
          // that at batch commit (STATE_STORE_COMMIT_VALIDATION_FAILED
          // otherwise)
          batch.foreach(_ => ())
        } else {
          val changes = batch.persist()
          // change log: per-batch OVERWRITE path, so a replayed batch
          // replaces rather than double-appends its own events; readers
          // scan $outDir/changes as one batch-partitioned table
          changes.write.mode("overwrite")
            .parquet(s"$outDir/changes/batch=$batchId")
          val newMarks = changes.toDF()
            .select(col("tenant_id"), col("case_ref"),
              col("serialno").as("last_serialno"))
          // merge against the latest version BELOW this batch id: a
          // retried batch must never read the (possibly partial) output
          // of its own failed attempt — re-running the merge from
          // v<batchId is idempotent
          val merged = latestWatermarks(spark, outDir, below = Some(batchId)) match {
            case Some(prev) => prev.unionByName(newMarks)
                .groupBy("tenant_id", "case_ref")
                .agg(max(col("last_serialno")).as("last_serialno"))
            case None => newMarks
              .groupBy("tenant_id", "case_ref")
              .agg(max(col("last_serialno")).as("last_serialno"))
          }
          merged.write.mode("overwrite").parquet(versions.path(batchId))
          changes.unpersist()
          pruneWatermarks(spark, outDir, keep = 3, below = batchId)
        }
        ()
      }
      .start()
  }

  /** Drop committed watermark snapshots older than the newest `keep`
    * below `below` — without retention every micro-batch adds a full
    * snapshot forever and version listing itself becomes the per-batch
    * bottleneck.
    *
    * Retention/reader contract (plain-parquet versioning has no
    * snapshot pinning): an external reader that picked a version via
    * [[latestWatermarks]] can see it deleted by a concurrent prune
    * (read-after-list race). Readers must either tolerate a vanished
    * version by re-listing, or `keep` must exceed the maximum reader
    * latency in batches — same contract as the change-log rewrite race
    * documented on [[syncPipeline]]. */
  def pruneWatermarks(spark: SparkSession, outDir: String,
                      keep: Int, below: Long): Unit =
    watermarkLog(spark, outDir).prune(keep, below)

  /** Highest COMMITTED watermark version (has a _SUCCESS marker, so a
    * torn write is never picked up), optionally only versions strictly
    * below `below`. Listed through [[BatchLog]], so outDir may live on
    * any Hadoop filesystem (HDFS/S3A/local), not just java.io-visible
    * paths. Read with the schema [[syncPipeline]] writes, so the lookup
    * runs no Spark job. */
  def latestWatermarks(spark: SparkSession, outDir: String,
                       below: Option[Long] = None)
      : Option[org.apache.spark.sql.DataFrame] = {
    val versions = watermarkLog(spark, outDir)
    versions.latest(below.getOrElse(Long.MaxValue))
      .map(v => spark.read.schema(WatermarkSchema).parquet(versions.path(v)))
  }

  private val WatermarkSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "tenant_id BIGINT, case_ref BIGINT, last_serialno BIGINT")

  private def watermarkLog(spark: SparkSession, outDir: String) =
    new BatchLog(spark, s"$outDir/watermarks", "v")

  /** Stream-stream interval join: pair each left event with right
    * events of the same key whose timestamp falls in
    * [left.ts - windowSeconds, left.ts]. Both sides carry event-time
    * watermarks, so Spark bounds the join state and evicts rows once
    * they can no longer match — the stateful two-stream correlation
    * (purchase <- preceding browse) that batch as-of performs offline.
    * Inputs need (key, ts, id) with distinct id column names. */
  def intervalJoinStreams(lhs: org.apache.spark.sql.DataFrame,
                          rhs: org.apache.spark.sql.DataFrame,
                          key: String, windowSeconds: Long,
                          lateness: String = "10 minutes")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val l = lhs.withWatermark("ts", lateness)
      .select(col(key).as("l_key") +: col("ts").as("l_ts") +:
        lhs.columns.filterNot(c => c == key || c == "ts").toIndexedSeq.map(col): _*)
    val r = rhs.withWatermark("ts", lateness)
      .select(col(key).as("r_key") +: col("ts").as("r_ts") +:
        rhs.columns.filterNot(c => c == key || c == "ts").toIndexedSeq.map(col): _*)
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") <= col("l_ts") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $windowSeconds SECONDS"))
  }

  /** ST4-flavored file-stream reader: bounds per-trigger intake the way
    * the reference rate-limits jobs/hour (worker.py:283-305). */
  def rateLimitedFileStream(spark: SparkSession, path: String,
                            schema: org.apache.spark.sql.types.StructType,
                            maxFilesPerTrigger: Int = 1): Dataset[org.apache.spark.sql.Row] =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  // -------------------------------------------------------------------
  // Streaming near-dup admission (the streaming twin of
  // graft.ml.Dedup.incrementalAdmitOf)
  // -------------------------------------------------------------------

  /** Seed the durable MinHash admission index with an existing corpus.
    * The index lives as a batch-partitioned parquet table
    * (`$indexDir/batch=N`); the seed takes the pseudo-batch -1 so plain
    * partition discovery reads seed + all micro-batch appends as one
    * table. */
  def seedAdmissionIndex(corpus: org.apache.spark.sql.DataFrame,
                         indexDir: String): Unit =
    graft.ml.Dedup.minhashIndexOf(corpus)
      .write.mode("overwrite").parquet(s"$indexDir/batch=-1")

  /** The admission index as of (strictly before) `below` — a retried
    * micro-batch must never read the possibly-partial output of its own
    * failed attempt, the same rule as [[latestWatermarks]]'s `below`.
    * The filter is on the partition column, so pruning keeps the read
    * to the surviving batch directories. */
  def admissionIndex(spark: SparkSession, indexDir: String,
                     below: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(indexDir)
      .filter(col("batch") < below).drop("batch")
  }

  /** Continuous ingest-time dedup: every micro-batch of (doc_id, text)
    * is probed against the durable index, verdicts land in an
    * append-only log, and the ADMITTED docs' index rows are appended as
    * the batch's own partition — so batch N+1 rejects near-dups of what
    * batch N admitted. Keep-first across batches is arrival order;
    * within a batch it is doc_id order (the batch twin's rule).
    *
    * Idempotency: both writes are per-batch partition OVERWRITES keyed
    * by batchId, and the index read excludes partitions >= batchId, so
    * a replayed batch recomputes identical verdicts and replaces rather
    * than double-appends — same contract as [[syncPipeline]]'s change
    * log. Scale: the corpus-side index is never recomputed, only read
    * (partition-pruned) and appended to; each batch pays its own
    * signature kernel plus one broadcast probe (see incrementalAdmitOf's
    * scale note). */
  def admissionPipeline(docs: org.apache.spark.sql.DataFrame,
                        indexDir: String, outDir: String,
                        threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist()
        // signatures are computed ONCE per batch: the same probe rows
        // serve the verdict join and the index append
        val probe = graft.ml.Dedup.minhashIndexOf(b.toDF()).persist()
        val verdicts = graft.ml.Dedup.incrementalVerdicts(
          admissionIndex(spark, indexDir, below = batchId), probe,
          b.toDF().select("doc_id"), threshold)
          .persist()
        verdicts.write.mode("overwrite")
          .parquet(s"$outDir/verdicts/batch=$batchId")
        probe.join(
          verdicts.filter(col("status") === "admit").select("doc_id"), "doc_id")
          .write.mode("overwrite").parquet(s"$indexDir/batch=$batchId")
        verdicts.unpersist()
        probe.unpersist()
        b.unpersist()
        ()
      }
      .start()
  }

  /** The Misra–Gries state as of (strictly before) `below`: the newest
    * committed `summary/batch=N` partition, the same retry-safe
    * [[BatchLog]] rule as [[retryBacklog]] — a replayed batch must not
    * read its own failed attempt's output. Returns an empty 2-col frame
    * before any batch. */
  def mgState(spark: SparkSession, stateDir: String,
              below: Long): org.apache.spark.sql.DataFrame =
    new BatchLog(spark, s"$stateDir/summary", "batch=").read(below,
      org.apache.spark.sql.types.StructType.fromDDL("token STRING, est BIGINT"))

  private def mgTotal(spark: SparkSession, stateDir: String,
                      below: Long): Long =
    new BatchLog(spark, s"$stateDir/totals", "batch=").read(below,
      org.apache.spark.sql.types.StructType.fromDDL("n_total BIGINT"))
      .collect().headOption.fold(0L)(_.getLong(0))

  /** Streaming heavy hitters at constant state — the unbounded-stream
    * twin of `TextOps.heavyHittersOf`. Each micro-batch of (doc_id,
    * text) runs the per-partition Misra–Gries pass, merges the ≤ k-row
    * batch summary into the ≤ k-row durable summary with the Agarwal
    * et al. mergeability rule (`TextOps.mgMergeOf` — one-sided error
    * bounds ADD across merges, so the global guarantee
    * c(t) − N/(k+1) ≤ est(t) ≤ c(t) holds over the whole stream), and
    * emits the current sketch with the cumulative token count. State is
    * k counters plus one long — constant regardless of stream length or
    * vocabulary size; no per-token keyed state anywhere (a
    * `mapGroupsWithState` per token would BE vocabulary-scale state,
    * the exact thing Misra–Gries exists to avoid).
    *
    * Idempotency: state and output are per-batch partition OVERWRITES
    * and every read is strictly-below-batchId on the newest committed
    * partition — a replayed batch recomputes identical state, the same
    * contract as [[admissionPipeline]]. */
  def heavyHitterStream(docs: org.apache.spark.sql.DataFrame,
                        stateDir: String, outDir: String, k: Int = 200)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.functions._
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val toks = batch.toDF()
          .select(explode(graft.ml.TextOps.tokens(col("text"))).as("token"))
          .persist()
        val nTotal = mgTotal(spark, stateDir, below = batchId) + toks.count()
        val merged = graft.ml.TextOps.mgMergeOf(
          graft.ml.TextOps.mgSummaryOf(toks, k)
            .unionByName(mgState(spark, stateDir, below = batchId)), k)
          .persist()
        merged.write.mode("overwrite")
          .parquet(s"$stateDir/summary/batch=$batchId")
        locally { import spark.implicits._
          Seq(nTotal).toDF("n_total")
            .write.mode("overwrite").parquet(s"$stateDir/totals/batch=$batchId") }
        merged.withColumn("n_total", lit(nTotal))
          .write.mode("overwrite").parquet(s"$outDir/sketch/batch=$batchId")
        merged.unpersist()
        toks.unpersist()
        ()
      }
      .start()
  }

  // -------------------------------------------------------------------
  // ST1 in oracle-checkable batch form
  // -------------------------------------------------------------------

  /** ST1 registered as an oracle query: a multi-observation update stream
    * synthesized from lineitem (several observations per case; duplicate
    * serials included to exercise the no-emit-on-equal rule of
    * change_tracking.py:126-152) pushed through the SAME
    * flatMapGroupsWithState operator that serves streaming. Batch
    * execution starts every key's watermark at 0, so the emitted events
    * are exactly the distinct serials per key in ascending order, each
    * carrying the previous distinct serial (or 0) — which is the DuckDB
    * window form the oracle states. */
  def changeEventsBatch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    detectChanges(changeUpdates(spark, dir)).toDF()

  // -------------------------------------------------------------------
  // The composed worker flagship in oracle-checkable batch form:
  // ST1 change detection → ST3 retry ladder → session TTL buckets
  // -------------------------------------------------------------------

  /** [[workerPipeline]]'s three keyed-state stages composed in ONE batch
    * plan, driver-gated like `e2e_flagship_lineage` (the round-11 ask):
    *
    *  1. **ST1 — change detection**: the SAME [[detectChanges]]
    *     flatMapGroupsWithState operator the stream runs, batch-executed
    *     over the lineitem-synthesized update stream (the
    *     [[changeEventsBatch]] synthesis, duplicates included) — one
    *     emitted event per NEW distinct serial per (tenant, case).
    *  2. **ST3 — retry ladder, closed form**: each change event spawns a
    *     job; the CRT-independent [[failsAt]] chain resolves the ladder
    *     (`IncrementalSyncSpec` proves the closed form equals iterating
    *     [[step]]). Job identity here is the ARITHMETIC encoding
    *     case_ref·1000 + serialno — injective because this synthesis
    *     bounds serialno ≤ 20 (pairs of ≤7 linenumbers × stride ≤ 5),
    *     and oracle-replayable, which the streaming form's xxhash64
    *     identity deliberately is not (unbounded domains there).
    *  3. **Session buckets**: every attempt the ladder actually ran is
    *     an activity touch (deterministic integer schedule: job spread
    *     over a ~116-day window, retries 600 s apart), and Spark's
    *     native `session_window` buckets each tenant's touches with a
    *     30-minute idle gap — the batch shape of [[expireSessions]]'s
    *     TTL state (session end = last activity + gap).
    *
    * A retry never splits a session (600 s backoff < 1800 s gap), so
    * every job lands in exactly one bucket and the per-session distinct
    * job/dead counts are well-defined. All-integer arithmetic end to
    * end; the oracle replays ST1 as the distinct-serial window form,
    * the ladder as the CASE chain, and the buckets as gaps-and-islands.
    *
    * Scale shape: stage 1 shuffles once on (tenant, case), stage 2 is
    * per-row algebra, stage 3 shuffles once on tenant into the session
    * window — three stages, two shuffles, no global window. */
  def workerPipelineBatch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val gapS = 1800L     // session idle gap (30 min)
    val backoffS = 600L  // retry backoff between attempts
    val spreadS = 10000000L // ~116-day activity window
    val jobs = detectChanges(changeUpdates(spark, dir)).toDF()
      .select(col("tenant_id"),
        (col("case_ref") * 1000L + col("serialno")).as("job_id"))
      .withColumn("fs", firstSuccess)
      .withColumn("am", coalesce(col("fs"), lit(3)))
    val touches = jobs
      .select(col("tenant_id"), col("job_id"), col("fs"),
        explode(sequence(lit(1), col("am"))).as("attempt"))
      .select(col("tenant_id"), col("job_id"), col("fs"),
        timestamp_seconds((col("job_id") * 97L) % spreadS +
          (col("attempt") - 1) * backoffS).as("ts"))
    touches
      .groupBy(col("tenant_id"),
        session_window(col("ts"), s"$gapS seconds"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("job_id")).as("n_jobs"),
        countDistinct(when(col("fs").isNull, col("job_id"))).as("n_dead"))
      .select(col("tenant_id"),
        col("session_window.start").cast("long").as("session_start_s"),
        col("session_window.end").cast("long").as("session_end_s"),
        col("n_touches"), col("n_jobs"), col("n_dead"))
  }

  /** The lineitem-synthesized multi-observation update stream shared by
    * [[changeEventsBatch]] and [[workerPipelineBatch]]: pairs of
    * linenumbers share a serial (duplicates, exercising the
    * no-emit-on-equal rule), scaled by a per-case stride so serial
    * values vary across cases. */
  private def changeUpdates(spark: SparkSession,
      dir: String): Dataset[SnapshotUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.Tables.lineitem(spark, dir)
      .select(
        (col("l_orderkey") % 4).as("tenant_id"),
        col("l_orderkey").as("case_ref"),
        (floor((col("l_linenumber") + 1) / 2).cast("long") *
          (col("l_orderkey") % 5 + 1)).as("serialno"))
      .as[SnapshotUpdate]
  }

  // -------------------------------------------------------------------
  // ST5 — sync cadence selection (the scheduling decision itself)
  // -------------------------------------------------------------------

  /** The per-day sync decision (configs/tenants/fdm_solicitors.json:90-97:
    * daily_sync_enabled / full_sync_frequency_days: 7 /
    * dry_run_before_sync): a daily incremental sync when enabled, promoted
    * to a FULL rebuild every `fullSyncFrequencyDays`-th day (day 0 — the
    * onboarding backfill — is full), with every real sync gated behind a
    * dry run when configured. Pure function of the day index (days since
    * onboarding), so the cadence is deterministic and clock-free — the
    * actual firing time belongs to the orchestrator (SURVEY.md §2.8), but
    * WHICH sync runs on a given day is pipeline semantics and lives here. */
  final case class SyncPlan(
      runSync: Boolean, fullSync: Boolean, dryRunFirst: Boolean)

  def syncPlanFor(dayIndex: Long, dailyEnabled: Boolean = true,
                  fullSyncFrequencyDays: Int = 7,
                  dryRunBeforeSync: Boolean = true): SyncPlan = {
    require(fullSyncFrequencyDays > 0, "full-sync frequency must be positive")
    if (!dailyEnabled) SyncPlan(runSync = false, fullSync = false, dryRunFirst = false)
    else SyncPlan(runSync = true,
      fullSync = dayIndex % fullSyncFrequencyDays == 0,
      dryRunFirst = dryRunBeforeSync)
  }

  // -------------------------------------------------------------------
  // Streaming heavy hitters — sharded Misra–Gries over the ingest stream
  // -------------------------------------------------------------------

  /** One token observation on the ingest stream (already exploded —
    * callers flatMap document text through the module tokenizer). */
  final case class TokenEvent(token: String)

  /** One shard's Misra–Gries counter emitted after a micro-batch:
    * `est` is the one-sided MG estimate (est ≤ true count ≤ est +
    * n_seen/k), `n_seen` the shard's total token count so far, `seq`
    * the shard's batch sequence (consumers keep the max-seq snapshot
    * per shard). */
  final case class MgCounter(shard: Int, token: String, est: Long,
      n_seen: Long, seq: Long)

  /** Counters as parallel Seqs; public like the other state classes —
    * the encoder's generated code resolves accessors reflectively and
    * a `private` class hides them from Janino. */
  final case class MgState(tokens: Seq[String], counts: Seq[Long],
      n_seen: Long, seq: Long)

  /** Sharded keyed-state Misra–Gries — the second streaming form of the
    * batch `text_heavy_hitters` pass, complementing [[heavyHitterStream]]
    * (which maintains ONE global k-counter sketch via the Agarwal
    * mergeability rule in foreachBatch + durable parquet state, error
    * bound N/(k+1)). This form partitions the guarantee by token hash
    * into the streaming STATE STORE: P·k counters across the cluster,
    * no external state directory, exactly-once via checkpointed state
    * instead of overwrite idempotency — and a P×-tighter per-token
    * error bound (n_shard/k ≈ N/(P·k) on balanced vocabulary), because
    * a shard only decrements against its own token subset. Pick the
    * global-sketch form when the consumer wants one tiny portable
    * summary table; pick this one when the monitor runs inside a
    * stateful streaming job and accuracy-per-counter matters.
    *
    * Scale shape: tokens shard by hash(token) % `shards`, so a token's
    * global count lives entirely in one shard and state partitions
    * across executors like any keyed aggregation. The MG guarantee
    * SURVIVES sharding at full strength: a token with global freq >
    * N/k has freq > N_shard/k in its own shard (N_shard ≤ N), so
    * k counters per shard suffice — shard count buys parallelism, not
    * accuracy loss. Per batch each shard folds its tokens into the
    * k-counter summary (decrement-all on overflow, the classic MG
    * step) and re-emits its ≤ k counters stamped with a sequence
    * number; the production consumer keeps the latest snapshot per
    * shard and, as in the batch form, runs an exact recount join over
    * the ≤ shards·k candidates to drop false positives. Arrival order
    * shifts which NON-heavy tokens ride along (MG is order-sensitive
    * below the threshold), but the containment guarantee is
    * order-free — HeavyHitterStreamPropSpec proves it on random
    * corpora under random batch splits. */
  def heavyHittersStream(toks: Dataset[TokenEvent], k: Int,
      shards: Int = 32): Dataset[MgCounter] = {
    import toks.sparkSession.implicits._
    require(k > 0 && shards > 0, "k and shards must be positive")
    toks
      .groupByKey(t => math.floorMod(t.token.hashCode, shards))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[TokenEvent],
         state: GroupState[MgState]) =>
          val prev = state.getOption
            .getOrElse(MgState(Seq.empty, Seq.empty, 0L, 0L))
          val counters = scala.collection.mutable.HashMap
            .from(prev.tokens.zip(prev.counts))
          var n = prev.n_seen
          rows.foreach { r =>
            n += 1L
            counters.get(r.token) match {
              case Some(c) => counters(r.token) = c + 1L
              case None if counters.size < k => counters(r.token) = 1L
              case None =>
                val keys = counters.keys.toArray
                var i = 0
                while (i < keys.length) {
                  val c = counters(keys(i)) - 1L
                  if (c == 0L) counters.remove(keys(i))
                  else counters(keys(i)) = c
                  i += 1
                }
            }
          }
          val seq = prev.seq + 1L
          val snap = counters.toSeq
          state.update(MgState(snap.map(_._1), snap.map(_._2), n, seq))
          snap.iterator
            .map { case (t, c) => MgCounter(shard, t, c, n, seq) }
      }
  }

  // -------------------------------------------------------------------
  // ST3 + A12 in oracle-checkable batch form
  // -------------------------------------------------------------------

  /** Deterministic job table for the worker batch twins: one job per
    * order, priority 1..3 (worker.py:63-68's priority classes). */
  private def jobTable(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey").as("job_id"),
      (col("o_custkey") % 4).as("tenant_id"),
      (col("o_orderkey") % 3 + 1).cast("int").as("priority"))
  }

  /** Attempt `a` of a job fails on a residue test against a per-attempt
    * modulus. The moduli are pairwise coprime, so by CRT the three
    * outcomes are genuinely independent over the key space (an affine
    * hash mod ONE prime makes attempt outcomes a constant shift of each
    * other — all-or-nothing ladders, no dead letters) and the dead rate
    * is exactly (1/5)(2/7)(2/11) = 4/385 ≈ 1%. Pure integer arithmetic,
    * so the DuckDB oracle replays the exact outcome. */
  private def failsAt(a: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    a match {
      case 1 => col("job_id") % 5 === 0 // 20% fail
      case 2 => col("job_id") % 7 < 2   // ~29% fail
      case 3 => col("job_id") % 11 < 2  // ~18% fail
    }
  }

  /** First attempt (1-based) at which a job succeeds; null = all three
    * attempts fail (the dead-letter path). */
  private def firstSuccess: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    when(!failsAt(1), 1).when(!failsAt(2), 2).when(!failsAt(3), 3)
  }

  /** ST3 registered as an oracle query — the retry ladder's final state
    * per job (etl/worker.py:208-250: failure under maxAttempts re-queues
    * at priority 3; the third failure dead-letters; [[step]] is the same
    * policy as a per-batch function, and IncrementalSyncSpec proves this
    * closed form equals iterating [[step]] to a fixpoint). `attempts`
    * counts FAILED tries, matching the Job model (database/models.py:
    * 86-101): success at attempt k leaves attempts = k-1; a dead job
    * carries attempts = 3. */
  def retryLadderBatch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    jobTable(spark, dir)
      .withColumn("fs", firstSuccess)
      .select(col("job_id"), col("tenant_id"),
        when(col("fs").isNotNull, "succeeded").otherwise("dead").as("status"),
        coalesce(col("fs") - 1, lit(3)).cast("int").as("attempts"),
        when(col("fs") === 1, col("priority")).otherwise(lit(3))
          .cast("int").as("priority_final"))
  }

  /** A12 — worker performance metrics (etl/worker.py:30-39,179-205):
    * every processing attempt increments jobs_processed; a success
    * increments jobs_successful, a failed attempt jobs_failed; average
    * duration is total/processed. Batch twin over the same deterministic
    * job table, with a fixed per-attempt duration in ms so the average
    * is exact integer arithmetic. */
  def workerMetricsBatch(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    def dur(a: Int) = (col("job_id") * 37L + lit(a * 101L)) % 900 + 100
    jobTable(spark, dir)
      .withColumn("fs", firstSuccess)
      .withColumn("am", coalesce(col("fs"), lit(3))) // attempts actually run
      .select(col("fs"), col("am"),
        (dur(1)
          + when(col("am") >= 2, dur(2)).otherwise(lit(0L))
          + when(col("am") >= 3, dur(3)).otherwise(lit(0L))).as("ms"))
      .agg(
        sum(col("am")).cast("long").as("n_processed"),
        count(col("fs")).as("n_success"),
        (sum(col("am")) - count(col("fs"))).cast("long").as("n_failed"),
        sum(col("ms")).cast("long").as("total_ms"))
      .select(col("n_processed"), col("n_success"), col("n_failed"),
        col("total_ms"), expr("total_ms div n_processed").as("avg_ms"))
  }

  /** ST5 as a declared query: the next 28 days of sync cadence from
    * the corpus end — daily incremental with a weekly full rebuild
    * (configs/tenants/fdm_solicitors.json:90-97's 7-day full-sync
    * cadence) and the dry-run gate flagged on day one (sync must prove
    * the plan before mutating). The base date derives from max(ts), so
    * the plan is deterministic and the oracle replays it; dates travel
    * as ISO strings (the compaction-bins convention). */
  def syncCadencePlan(spark: SparkSession, dir: String,
                      horizonDays: Int = 28): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val base = graft.Tables.events(spark, dir)
      .agg(date_trunc("day", max(col("ts"))).as("base"))
    base
      .select(explode(sequence(lit(1), lit(horizonDays))).as("day_offset"),
        col("base"))
      .select(col("day_offset"),
        date_format(expr("base + make_interval(0, 0, 0, day_offset)"),
          "yyyy-MM-dd").as("sync_date"),
        when(col("day_offset") % 7 === 0, "full")
          .otherwise("incremental").as("mode"),
        (col("day_offset") === 1).as("dry_run_gate"))
  }

  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame

  val queries: Map[String, Q] = Map(
    "st1_change_events" -> ((s, d) => changeEventsBatch(s, d)),
    "st_worker_pipeline" -> ((s, d) => workerPipelineBatch(s, d)),
    "st3_retry_ladder" -> ((s, d) => retryLadderBatch(s, d)),
    "st5_cadence_plan" -> ((s, d) => syncCadencePlan(s, d)),
    "st_migrate_legacy" -> ((s, d) => migrateLegacyBatch(s, d)),
    "a12_worker_metrics" -> ((s, d) => workerMetricsBatch(s, d)))

  val oracles: Map[String, String] = Map(
    "st_migrate_legacy" ->
      """WITH j AS (
        |  SELECT o_custkey % 4 AS tenant_id, o_orderkey % 1500 AS case_ref,
        |         (o_orderkey * 7) % 1000 AS serial,
        |         CAST(o_orderkey % 3 + 1 AS INT) AS priority,
        |         CAST(o_orderkey % 3 AS INT) AS attempts,
        |         o_orderkey
        |  FROM orders),
        |l AS (
        |  SELECT tenant_id * 1000000 + case_ref * 1000 + serial
        |           + CASE WHEN o_orderkey % 13 = 0 THEN 5000 ELSE 0 END
        |           AS job_id,
        |         tenant_id, case_ref, priority, attempts
        |  FROM j)
        |SELECT job_id AS old_job_id, tenant_id, case_ref, priority, attempts,
        |       job_id - tenant_id * 1000000 - case_ref * 1000 AS serial_residue,
        |       CASE WHEN job_id - tenant_id * 1000000 - case_ref * 1000 >= 0
        |             AND job_id - tenant_id * 1000000 - case_ref * 1000 < 1000
        |            THEN 'migrate' ELSE 'quarantine' END AS action
        |FROM l""".stripMargin,
    "st5_cadence_plan" ->
      """WITH b AS (SELECT date_trunc('day', max(ts)) AS base FROM events),
        |d AS (SELECT unnest(range(1, 29)) AS day_offset FROM b)
        |SELECT CAST(day_offset AS INT) AS day_offset,
        |       strftime(base + to_days(CAST(day_offset AS INT)), '%Y-%m-%d')
        |         AS sync_date,
        |       CASE WHEN day_offset % 7 = 0 THEN 'full'
        |            ELSE 'incremental' END AS mode,
        |       day_offset = 1 AS dry_run_gate
        |FROM d CROSS JOIN b""".stripMargin,
    "st1_change_events" ->
      """WITH u AS (
        |  SELECT l_orderkey % 4 AS tenant_id, l_orderkey AS case_ref,
        |         ((l_linenumber + 1) // 2) * (l_orderkey % 5 + 1) AS serialno
        |  FROM lineitem),
        |d AS (SELECT DISTINCT tenant_id, case_ref, serialno FROM u)
        |SELECT tenant_id, case_ref, serialno,
        |       coalesce(lag(serialno) OVER (
        |         PARTITION BY tenant_id, case_ref ORDER BY serialno), 0) AS prev_serialno
        |FROM d""".stripMargin,
    // The composed flagship: ST1's distinct-serial window form → the
    // ladder CASE chain → gaps-and-islands session buckets. Break rule
    // diff >= gap matches session_window's half-open [start, last+gap);
    // BOTH windows order by (touch_s, job_id) — a TOTAL order. touch_s
    // alone is NOT tie-stable: when a session break lands on a tied
    // timestamp, the cumulative-ROWS frame seats the tie PARTNER in the
    // old or the new session depending on which of the pair the engine
    // happens to order first (only one of the two orders puts the break
    // row's brk inside the partner's frame), while Spark's
    // session_window always seats both in the new session. Round 14
    // caught this as an INTERMITTENT hash mismatch — DuckDB's parallel
    // execution order varies run to run on tied keys.
    "st_worker_pipeline" ->
      """WITH u AS (
        |  SELECT l_orderkey % 4 AS tenant_id, l_orderkey AS case_ref,
        |         ((l_linenumber + 1) // 2) * (l_orderkey % 5 + 1) AS serialno
        |  FROM lineitem),
        |d AS (SELECT DISTINCT tenant_id, case_ref, serialno FROM u),
        |j AS (SELECT tenant_id, case_ref * 1000 + serialno AS job_id FROM d),
        |f AS (
        |  SELECT tenant_id, job_id,
        |         CASE WHEN job_id % 5 <> 0 THEN 1
        |              WHEN job_id % 7 >= 2 THEN 2
        |              WHEN job_id % 11 >= 2 THEN 3 END AS fs
        |  FROM j),
        |touches AS (
        |  SELECT tenant_id, job_id, fs,
        |         (job_id * 97) % 10000000 + (a - 1) * 600 AS touch_s
        |  FROM f CROSS JOIN range(1, 4) r(a)
        |  WHERE a <= coalesce(fs, 3)),
        |o AS (
        |  SELECT tenant_id, job_id, fs, touch_s,
        |         CASE WHEN touch_s - lag(touch_s) OVER (
        |             PARTITION BY tenant_id ORDER BY touch_s, job_id) >= 1800
        |           THEN 1 ELSE 0 END AS brk
        |  FROM touches),
        |s AS (
        |  SELECT tenant_id, job_id, fs, touch_s,
        |         sum(brk) OVER (PARTITION BY tenant_id
        |                        ORDER BY touch_s, job_id
        |                        ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT tenant_id,
        |       CAST(min(touch_s) AS BIGINT) AS session_start_s,
        |       CAST(max(touch_s) + 1800 AS BIGINT) AS session_end_s,
        |       CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT job_id) AS BIGINT) AS n_jobs,
        |       CAST(count(DISTINCT CASE WHEN fs IS NULL THEN job_id END)
        |            AS BIGINT) AS n_dead
        |FROM s GROUP BY tenant_id, sid""".stripMargin,
    "st3_retry_ladder" ->
      """WITH j AS (
        |  SELECT o_orderkey AS job_id, o_custkey % 4 AS tenant_id,
        |         CAST(o_orderkey % 3 + 1 AS INT) AS priority
        |  FROM orders),
        |f AS (
        |  SELECT job_id, tenant_id, priority,
        |         CASE WHEN job_id % 5 <> 0 THEN 1
        |              WHEN job_id % 7 >= 2 THEN 2
        |              WHEN job_id % 11 >= 2 THEN 3 END AS fs
        |  FROM j)
        |SELECT job_id, tenant_id,
        |       CASE WHEN fs IS NOT NULL THEN 'succeeded' ELSE 'dead' END AS status,
        |       CAST(coalesce(fs - 1, 3) AS INT) AS attempts,
        |       CAST(CASE WHEN fs = 1 THEN priority ELSE 3 END AS INT) AS priority_final
        |FROM f""".stripMargin,
    "a12_worker_metrics" ->
      """WITH f AS (
        |  SELECT o_orderkey AS job_id,
        |         CASE WHEN o_orderkey % 5 <> 0 THEN 1
        |              WHEN o_orderkey % 7 >= 2 THEN 2
        |              WHEN o_orderkey % 11 >= 2 THEN 3 END AS fs
        |  FROM orders),
        |m AS (
        |  SELECT fs, coalesce(fs, 3) AS am,
        |         ((job_id * 37 + 101) % 900 + 100)
        |         + CASE WHEN coalesce(fs, 3) >= 2
        |                THEN (job_id * 37 + 202) % 900 + 100 ELSE 0 END
        |         + CASE WHEN coalesce(fs, 3) >= 3
        |                THEN (job_id * 37 + 303) % 900 + 100 ELSE 0 END AS ms
        |  FROM f)
        |SELECT CAST(sum(am) AS BIGINT) AS n_processed,
        |       CAST(count(fs) AS BIGINT) AS n_success,
        |       CAST(sum(am) - count(fs) AS BIGINT) AS n_failed,
        |       CAST(sum(ms) AS BIGINT) AS total_ms,
        |       CAST(sum(ms) // sum(am) AS BIGINT) AS avg_ms
        |FROM m""".stripMargin)
}
