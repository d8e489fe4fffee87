package graft.scale

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd,
  StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftops.ListenerBridge

/** The one job listener: what the jobs of a measured body cost, job by
  * job and stage by stage — the local stand-in for the Spark UI's Jobs
  * and Stages pages (the UI is off in every session). Wall time alone
  * cannot tell which exchange is expensive, so each stage keeps its
  * input, shuffle-read and shuffle-write bytes next to CPU, spill and the
  * per-task run times and shuffle-read records that expose a skewed task.
  *
  * Scoped to one job group, set by [[JobLedger.measure]] on the calling
  * thread: a job start carries the group and the job's stage ids, and
  * task and stage events are kept by stage membership, so a concurrent
  * job on a shared session (another thread or suite) is never counted.
  * Threads the body creates inherit the group (Spark's local properties
  * are inheritable), and Spark SQL carries it into its broadcast and
  * subquery threads, so their jobs count too. The ledger is read after
  * draining the listener bus, so no event of the body's jobs is still in
  * flight. */
final class JobLedger private (group: String) extends SparkListener {
  import JobLedger._

  private val starts = mutable.Map[Int, (Long, Seq[Int])]()
  private val ended = mutable.ArrayBuffer[(Int, Long, Seq[Int])]()
  private val stageIds = mutable.Set[Int]()
  private val infos = mutable.Map[Int, StageInfo]()
  private val taskRunMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val taskReads = mutable.Map[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (e.properties != null && e.properties.getProperty(GroupKey) == group) {
      starts(e.jobId) = (e.time, e.stageIds)
      stageIds ++= e.stageIds
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, ids) =>
      ended += ((e.jobId, e.time - t0, ids))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null && stageIds(e.stageId)) {
      taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        m.executorRunTime
      taskReads(e.stageId) = math.max(taskReads.getOrElse(e.stageId, 0L),
        m.shuffleReadMetrics.recordsRead)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (stageIds(e.stageInfo.stageId)) infos(e.stageInfo.stageId) = e.stageInfo
    }

  private def report: Report = synchronized {
    val stages = infos.map { case (id, si) =>
      val m = si.taskMetrics
      id -> Stage(id, si.name.takeWhile(_ != '\n'), si.numTasks,
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.executorCpuTime / 1000000,
        si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
        m.memoryBytesSpilled,
        taskRunMs.get(id).fold(Vector.empty[Long])(_.toVector),
        taskReads.getOrElse(id, 0L))
    }
    // skipped stages (shuffle output reused from an earlier job) never
    // complete and are left out of their job
    Report(ended.toVector.map { case (id, wallMs, ids) =>
      Job(id, wallMs, ids.flatMap(stages.get))
    })
  }
}

object JobLedger {

  /** One completed stage: bytes, CPU and wall time in ms, spill, and per
    * task the executor run time and the most shuffle records one task
    * read (a skew funnel shows as one task reading far more than the
    * rest). */
  final case class Stage(id: Int, name: String, tasks: Int, inputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, cpuMs: Long,
      wallMs: Long, spillBytes: Long, taskRunMs: Seq[Long],
      maxTaskShuffleRecords: Long)

  /** One finished job of the measured body with its completed stages. */
  final case class Job(id: Int, wallMs: Long, stages: Seq[Stage])

  final case class Report(jobs: Seq[Job]) {
    /** Every completed stage once (a stage can belong to several jobs). */
    def stages: Seq[Stage] = jobs.flatMap(_.stages).distinctBy(_.id)
    def maxTaskShuffleRecords: Long =
      stages.map(_.maxTaskShuffleRecords).foldLeft(0L)(math.max)
  }

  // SparkContext.SPARK_JOB_GROUP_ID is spark-private
  private val GroupKey = "spark.jobGroup.id"
  private val groups = new AtomicInteger

  /** Run `body` under a fresh job group with a ledger attached and return
    * its result with the ledger of the jobs it ran. The calling thread's
    * job group is cleared afterwards. */
  def measure[A](spark: SparkSession)(body: => A): (A, Report) = {
    val sc = spark.sparkContext
    val group = s"graft-ledger-${groups.incrementAndGet()}"
    val ledger = new JobLedger(group)
    sc.addSparkListener(ledger)
    try {
      sc.setJobGroup(group, "job ledger")
      val out = try body finally sc.clearJobGroup()
      ListenerBridge.drain(sc)
      (out, ledger.report)
    } finally sc.removeSparkListener(ledger)
  }
}
