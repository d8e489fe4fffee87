package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftops.CheckpointBridge

/** The one iteration combinator behind the barriered driver loops
  * (connected components, label propagation, BFS, k-core, BPE training).
  * It alone owns a round's materialization, in exactly one job: copy the
  * step's rows, tap the count of rows flagged [[Changed]] as the last
  * narrow operation, `localCheckpoint`, then one `count()`. The rows are
  * re-wrapped through [[CheckpointBridge]], which keeps the step's output
  * partitioning (joins against the next round stay exchange-free) and
  * gives the planner the measured row count as statistics. Then the
  * previous round's blocks are freed. Lineage is cut every round, so
  * plans do not grow with the round count.
  *
  * Exactly-once invariant of the tap: the tapped RDD is created here and
  * its first and only action is the round's `count()`, with no shuffle
  * after the tap, so every update comes from a result task; the scheduler
  * merges those once per partition and drops failed attempts
  * (`countFailedValues` is false). Later reads come from the checkpoint
  * blocks, never from the tap. Callers supply only the step and the stop
  * rule, so none can move the tap or add an action before it. A
  * recomputed partition could only over-count, so `changed == 0` stays
  * exact either way.
  *
  * Cache contract: the returned frame's blocks belong to the caller, and
  * `spark.catalog.clearCache()` does not free them. Free them with
  * [[release]] after the last action, or leave them to Spark's
  * `ContextCleaner`, which drops them once the frame is garbage. */
object Fixpoint {

  /** Optional boolean column a step may emit to flag the rows it changed;
    * the combinator counts the true values and drops the column. */
  val Changed = "_changed"

  /** What one round's materializing job measured. `prevRows` is the
    * previous round's row count; `changed` is the number of rows flagged
    * by [[Changed]], `None` when the step emits no flag. */
  final case class Round(rows: Long, prevRows: Long, changed: Option[Long])

  /** Materialize `init` as round 0, then apply `step` to the last
    * materialized frame until `stop` holds for a round or `maxRounds`
    * steps have run. Returns the last materialized frame. */
  def iterate(init: DataFrame, maxRounds: Int)(step: DataFrame => DataFrame)(
      stop: Round => Boolean): DataFrame = {
    @scala.annotation.tailrec
    def loop(cur: DataFrame, rows: Long, left: Int): DataFrame =
      if (left <= 0) cur
      else {
        val (next, n, changed) = materialize(step(cur))
        release(cur)
        if (stop(Round(n, rows, changed))) next else loop(next, n, left - 1)
      }
    val (first, rows, _) = materialize(init)
    loop(first, rows, maxRounds)
  }

  /** Free the blocks of every checkpointed leaf under `df`. Scoped to the
    * frame's own plan, so a concurrent thread's caches in a shared
    * session are never touched. */
  def release(df: DataFrame): Unit = {
    val ids = df.queryExecution.analyzed.collect {
      case r: LogicalRDD if r.rdd.isCheckpointed => r.rdd.id
    }.toSet
    df.sparkSession.sparkContext.getPersistentRDDs
      .foreach { case (id, rdd) => if (ids(id)) rdd.unpersist(blocking = false) }
  }

  private def materialize(df: DataFrame): (DataFrame, Long, Option[Long]) = {
    val flag = Some(df.columns.indexOf(Changed)).filter(_ >= 0)
    val acc = df.sparkSession.sparkContext.longAccumulator("fixpoint_changed")
    val rows = CheckpointBridge.internalRows(df).mapPartitions { it =>
      it.map { r =>
        flag.foreach(i => if (!r.isNullAt(i) && r.getBoolean(i)) acc.add(1L))
        r.copy()
      }
    }
    rows.localCheckpoint()
    val n = rows.count()
    val frame = CheckpointBridge.checkpointedFrame(df, rows, n)
    (if (flag.isDefined) frame.drop(Changed) else frame, n, flag.map(_ => acc.sum))
  }
}
