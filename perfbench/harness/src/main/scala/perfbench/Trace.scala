package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-job-group counters, filled from Spark listener events. */
final class GroupStats {
  var jobs = 0
  var jobEnds = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var recordsRead = 0L
}

/** Spark listener the harness attaches for a traced run. Jobs are
  * attributed to calls through their job group: the harness sets one
  * group per call, and a streaming query runs its batches under its run
  * id. Tasks are attributed through the stage -> group map recorded at
  * job start. Every job also becomes a span (group, job id, start, end). */
final class Tracer extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]
  private val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]

  def spans: List[(String, Int, Long, Long)] = synchronized(jobSpans.toList)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElseUpdate(group, new GroupStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    stats(g).jobs += 1
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    jobGroup(e.jobId) = (g, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      stats(g).jobEnds += 1
      jobSpans += ((g, e.jobId, start, e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrElse(e.stageId, ""))
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.recordsRead += m.inputMetrics.recordsRead
    }
  }
}
