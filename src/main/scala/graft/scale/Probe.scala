package graft.scale

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.Session

/** Per-pass layer split of named registry queries — the probe behind
  * spot-bench adjudication. Where [[graft.Bench]] reports best-of, this
  * prints EVERY pass, so host noise (first-pass cold IO, JIT) separates
  * from real plan cost, as one line
  *
  *   `PASS <name> <pass> <total> construct= plan= exec= jobs=`
  *
  * `total` is Bench's timed region. `construct` runs the registered
  * function, its iterative loops and their jobs included; `plan` is
  * `queryExecution.toRdd`, analysis through physical planning (under AQE
  * it also runs the shuffle stages); `exec` is the `count()` on it. The
  * three need three different fixes. `jobs` counts every job of the pass
  * ([[JobLedger]]). A run of several queries ends with one
  * `TOTAL jobs=<n>` line, the jobs of all its passes: with
  * SPARK_GRAFT_PASSES=1 and SPARK_GRAFT_ONLY unset, the registry's cold
  * job census.
  *
  * The last pass of each query also prints its 20 slowest jobs, each with
  * its 3 slowest stages, and walks the executed plan (through query
  * stages, reused exchanges and cached plans), printing every operator
  * whose SQL metrics show time or many rows — the local stand-in for the
  * Spark UI's SQL tab.
  *
  * Env ([[graft.Session]]): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ONLY,
  * SPARK_GRAFT_PASSES, SPARK_GRAFT_CPUS. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    spark.range(1000000L).selectExpr("sum(id * 2)").collect()
    val queries = Session.selected().toSeq.sortBy(_._1)
    var total = 0
    for ((name, fn) <- queries; p <- 1 to Session.passes) {
      val ((df, t), ledger) = JobLedger.measure(spark) {
        val t0 = System.nanoTime()
        val df = fn(spark, Session.sfDir)
        val t1 = System.nanoTime()
        val rdd = df.queryExecution.toRdd
        val t2 = System.nanoTime()
        rdd.count()
        (df, Seq(t0, t1, t2, System.nanoTime()))
      }
      def s(from: Int, to: Int) = (t(to) - t(from)) / 1e9
      println(f"PASS $name $p ${s(0, 3)}%.2f construct=${s(0, 1)}%.2f " +
        f"plan=${s(1, 2)}%.2f exec=${s(2, 3)}%.2f jobs=${ledger.jobs.size}")
      total += ledger.jobs.size
      if (p == Session.passes) {
        printJobs(ledger)
        walk(df.queryExecution.executedPlan, 0,
          new java.util.IdentityHashMap[SparkPlan, Boolean]())
      }
      Session.cleanup(spark, df)
    }
    if (queries.size > 1) println(s"TOTAL jobs=$total")
    spark.stop()
  }

  private def printJobs(ledger: JobLedger.Report): Unit = {
    def mb(b: Long) = f"${b / 1048576.0}%.1f"
    for (job <- ledger.jobs.sortBy(-_.wallMs).take(20)) {
      println(f"  job ${job.id}%3d ${job.wallMs / 1000.0}%6.2fs")
      for (r <- job.stages.sortBy(-_.wallMs).take(3))
        println(f"    stage ${r.wallMs / 1000.0}%6.2fs tasks=${r.tasks}%4d " +
          f"in=${mb(r.inputBytes)}MB sr=${mb(r.shuffleReadBytes)}MB " +
          f"sw=${mb(r.shuffleWriteBytes)}MB cpu=${r.cpuMs / 1000.0}%.1fs " +
          f"spill=${mb(r.spillBytes)}MB ${r.name.take(90)}")
    }
  }

  private def walk(p: SparkPlan, depth: Int,
      seen: java.util.IdentityHashMap[SparkPlan, Boolean]): Unit = {
    if (seen.containsKey(p)) return
    seen.put(p, true)
    val ms = p.metrics.map { case (k, m) => (k, m.value) }.filter(_._2 > 0)
    val interesting = ms.filter { case (k, _) =>
      k.contains("Time") || k.contains("duration") || k == "numOutputRows" ||
        k.contains("build") || k.contains("sort") || k.contains("agg") ||
        k.contains("collect")
    }
    val timeish = ms.filter { case (k, v) =>
      (k.toLowerCase.contains("time") || k.contains("duration")) && v > 50
    }
    if (timeish.nonEmpty || ms.getOrElse("numOutputRows", 0L) > 100000L) {
      val s = interesting.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      println("  " * depth + f"${p.nodeName}%-40s $s")
    }
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, seen)
      case q: QueryStageExec => walk(q.plan, depth + 1, seen)
      case im: InMemoryTableScanExec =>
        walk(im.relation.cachedPlan, depth + 1, seen)
      case _ => p.children.foreach(walk(_, depth + 1, seen))
    }
    p.subqueries.foreach(walk(_, depth + 1, seen))
  }
}
