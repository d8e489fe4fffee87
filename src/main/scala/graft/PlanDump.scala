package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Dump `.explain("formatted")` of named registry queries to
  * `<outDir>/<name>_<suffix>.txt`, on demand: a plan-affecting change
  * dumps its before and after plans into the git-ignored `tmp/` and
  * diffs them; the dumps are not committed.
  *
  * Usage: runMain graft.PlanDump <sfDir> tmp/plans <suffix> [names-csv]
  * (no names = every registered query). The session is Bench's
  * ([[Session.local]]), so the dumped plan is the one the bench executes.
  * The dump is taken before execution, so an adaptive plan shows its
  * initial form; [[graft.scale.Probe]]'s operator walk shows the final
  * one.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    val selected = Session.selected(args.lift(3).map(Session.names))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      var df: Option[DataFrame] = None
      try {
        df = Some(fn(spark, sfDir))
        val txt = df.get.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
      Session.cleanup(spark, df.toSeq: _*)
    }
    spark.stop()
  }
}
