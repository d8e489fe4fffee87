package graft.scale

import org.apache.spark.sql.functions._

import graft.Session

/** Planted mega-hub skew probe for the argmax LPA round (VERDICT r12 #2).
  *
  * ScaleSpec proves at test scale that the round-12 rewrite of
  * [[graft.operators.Graph.labelPropagationOf]] — per-dst argmax as
  * `max(struct(n, -community))`, a map-side-combinable aggregate —
  * collapses a hub's vote fan-in BEFORE the shuffle, where the old
  * `row_number().over(partitionBy(dst))` funneled the full in-degree
  * through one reducer. This main re-runs that proof where it matters:
  * the REAL registered edge table at the 100x synthetic scale-up
  * (`SPARK_GRAFT_SF_DIR=tmp/sf10synth`, ~50M directed purchase edges)
  * plus one planted hub with `SPARK_GRAFT_HUB_DEG` (default 1.5M)
  * distinct-labeled in-neighbors — round 1 labels are unique per node,
  * so the hub's vote set is the full spoke count by construction.
  *
  * It runs the full library LPA (default rounds) in a [[graft.Session]],
  * records per-stage task metrics in a [[JobLedger]], and prints ONE
  * JSON line with, per qualifying stage (median task runtime >= 200 ms —
  * below that, scheduler jitter dominates and a ratio is noise):
  * task count, median/max executor run time, max shuffle-read records.
  * The headline fields:
  *
  *  - `worst_ratio`: max over qualifying stages of maxMs/medianMs — the
  *    verdict gate is ~2x (no task, on any round's shuffle, is left
  *    holding the hub);
  *  - `max_shuffle_records`: max records any single task read — must sit
  *    far below `hub_deg` (the old window form's single-reducer read).
  *
  * Results are recorded in BENCH_sf10_spot.json (`round13_hub_probe`).
  * AQE stays ON (production conf): the claim is that the PLAN is
  * skew-immune by aggregate algebra, not that AQE rescues it — AQE skew
  * splitting only acts on sort-merge join, not on aggregate exchanges,
  * so a funneling argmax would still show a hot task here.
  */
object HubProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.sfDir
    val hubDeg = Session.hubDegree
    val spark = Session.local()

    val base = graft.operators.Graph.edgesOf(spark, sfDir)
    val hub = base.agg(max(greatest(col("src"), col("dst"))))
      .head().getLong(0) + 1
    // hubDeg fresh spoke nodes, each with its own round-1 label; the hub
    // edge set is symmetrized like the registered purchase graph
    val spokes = spark.range(hubDeg).select((lit(hub) + 1 + col("id")).as("s"))
    val hubEdges = spokes.select(col("s").as("src"), lit(hub).as("dst"))
      .union(spokes.select(lit(hub).as("src"), col("s").as("dst")))
    val edges = base.union(hubEdges)

    val ((nNodes, hubCommunity, wallSec), ledger) = JobLedger.measure(spark) {
      val t0 = System.nanoTime()
      val labels =
        graft.operators.Graph.labelPropagationOf(edges, symmetric = true)
      val n = labels.count()
      // sanity: the hub resolved to ONE community and its spokes followed
      // it (all-n=1 votes tie-break to the lowest in-neighbor community)
      val community = labels.filter(col("node") === hub).head().getLong(1)
      val wall = (System.nanoTime() - t0) / 1e9
      Fixpoint.release(labels)
      (n, community, wall)
    }

    def med(xs: Seq[Long]): Long = {
      val s = xs.sorted; s(s.length / 2)
    }
    case class St(stage: Int, n: Int, medMs: Long, maxMs: Long, maxRead: Long)
    val stats = ledger.stages.filter(_.taskRunMs.nonEmpty).map(s =>
      St(s.id, s.taskRunMs.length, med(s.taskRunMs), s.taskRunMs.max,
        s.maxTaskShuffleRecords)).sortBy(-_.maxMs)
    // qualifying = stages where a skew funnel would be visible; tiny
    // stages (driver folds, barrier counts) are scheduler noise
    val qual = stats.filter(_.medMs >= 200L)
    val worst = qual.map(s => s.maxMs.toDouble / s.medMs.toDouble)
      .foldLeft(0.0)(math.max)
    val maxRead = ledger.maxTaskShuffleRecords
    val stageJson = qual.take(12).map(s =>
      s"""{"stage":${s.stage},"tasks":${s.n},"med_ms":${s.medMs},""" +
      s""""max_ms":${s.maxMs},"max_read":${s.maxRead}}""").mkString(",")
    println(
      s"""{"probe":"lpa_mega_hub","sf_dir":"$sfDir","hub_deg":$hubDeg,""" +
      s""""nodes":$nNodes,"hub_community":$hubCommunity,""" +
      s""""wall_sec":${math.round(wallSec * 100) / 100.0},""" +
      s""""worst_ratio":${math.round(worst * 100) / 100.0},""" +
      s""""max_shuffle_records":$maxRead,""" +
      s""""qual_stages":[$stageJson]}""")
    spark.stop()
  }
}
