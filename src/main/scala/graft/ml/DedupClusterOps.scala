package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.expr.Exprs
import graft.functions.ArrayOps
import graft.scale.Fixpoint

/** Cluster-level dedup surface of [[Dedup]]: connected components over
  * the pair graph (fused label-prop on [[Fixpoint]]),
  * dedup-aware splits, and quality survivorship (round-11 split;
  * registration stays on the object).
  */
private[graft] trait DedupClusterOps extends DedupShingleOps {
  // -------------------------------------------------------------------
  // Near-dup clusters: connected components over the pair graph
  // -------------------------------------------------------------------

  /** Connected components over near-dup pairs by iterative min-label
    * propagation (the DataFrame form of large-star/small-star): each doc
    * starts as its own cluster, every round adopts the minimum of its
    * neighborhood labels AND its label's label (pointer jumping — path
    * lengths halve each round, so convergence is O(log diameter), and
    * maxIters=20 covers components with diameters up to ~2^19, not 20
    * hops). This is the step that turns pairwise similarity into dedup
    * groups with a canonical survivor — cluster_id IS the minimum
    * (surviving) doc_id. Only documents that appear in some pair are
    * emitted; singletons are their own trivial cluster. */
  def clustersOf(pairsIn: DataFrame, maxIters: Int = 20): DataFrame = {
    // both union branches read the pair pipeline — materialize it once
    val pairs = pairsIn.persist()
    // edges are re-joined on dst EVERY round — shuffle them onto the join
    // key once here, so each round's neighbor-min join is exchange-free on
    // the edge side (labels below are checkpointed hash-partitioned on
    // doc_id, and the checkpointed frame preserves outputPartitioning)
    val edges = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("dst"))
      .persist()
    // Fixpoint checkpoints each round: the label table is referenced three
    // times per iteration (neighbor-min, both sides of the pointer-jump
    // self-join), so without lineage TRUNCATION the logical plan grows
    // 3^iterations and plan handling itself OOMs.
    val init = edges.select(col("dst").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
    val labels = Fixpoint.iterate(init, maxIters) { labels =>
      // FUSED pass: neighbor-min and pointer-jump both probe the SAME
      // label table, so resolve both in one union + grouped min instead
      // of two probe joins feeding a 3-way reassembly join (the round-8
      // shape — ~2x the jobs/round of this one). The pointer arm is the
      // label table joined to itself (my label's current label); its rows
      // also carry the OLD label, so change detection falls out of the
      // same aggregate with no compare-with-old join. Labels obey
      // cluster_id <= doc_id (init equal, updates are mins), so the
      // pointer arm covers every doc and the grouped output is total.
      val nbrHit = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .select(edges("src").as("src"), col("cluster_id").as("cand"),
          lit(null).cast("long").as("old"))
      val ptrHit = labels.as("a")
        .join(labels.as("b"), col("a.cluster_id") === col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.cluster_id").as("cand"),
          col("a.cluster_id").as("old"))
      // min(cand) <= old always (the pointer arm's cand is <= the old
      // label), so the grouped min IS the new label; min(old) ignores the
      // neighbor arm's nulls and recovers the unique old label per doc.
      // The changed flag rides the round's checkpoint job as Fixpoint's
      // tap, so convergence costs no second job.
      nbrHit.unionByName(ptrHit)
        .groupBy(col("src"))
        .agg(min(col("cand")).as("cluster_id"), min(col("old")).as("old_cid"))
        .select(col("src").as("doc_id"), col("cluster_id"),
          (col("cluster_id") < col("old_cid")).as(Fixpoint.Changed))
    }(_.changed.contains(0L))
    edges.unpersist()
    pairs.unpersist()
    labels
  }

  /** Registered form: clusters of the n-gram Jaccard pairs. */
  def ngramClusters(spark: SparkSession, dir: String): DataFrame =
    clustersOf(ngramJaccardPairs(spark, dir))

  /** O11 — leakage-safe dataset split: near-duplicate CLUSTERS (not
    * documents) are the unit of assignment, so two near-copies can never
    * straddle train and test — the contamination channel a plain per-doc
    * hash split (o7) leaves open. Unclustered docs are their own
    * singleton cluster; the split arithmetic is o7's portable hash
    * applied to the canonical cluster id. One left join against the
    * (small) cluster table on top of the cluster pipeline's cost. */
  def dedupAwareSplit(spark: SparkSession, dir: String): DataFrame =
    dedupAwareSplitOf(Tables.documents(spark, dir), ngramClusters(spark, dir))

  /** Library form over a PRECOMPUTED cluster table — a real pipeline
    * materializes clusters once (they feed survivor selection, stats,
    * and the split), so the split must not re-run the whole pair+cluster
    * pipeline the way the self-contained registered query does. */
  def dedupAwareSplitOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val cid = coalesce(col("cluster_id"), col("doc_id"))
    val bucket = (cid * 48271) % 100000 % 100
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), cid.as("cid"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
  }

  /** Soft dedup — cluster-size-downweighted sampling weights, the
    * non-destructive alternative to dropping near-duplicates: every doc
    * keeps weight `1000 div |cluster|` milli (singletons keep 1000), so
    * a family of n near-copies contributes ~one document's worth of
    * probability mass to the training mix instead of n (the
    * D4/SemDeDup-style "duplication-aware sampling" knob). Reported per
    * source: doc count, total retained mass, the EFFECTIVE sample size
    * `(Σw)² div Σw²` (the number that says how many independent docs
    * the source really contributes), and the mean weight — a source
    * whose mean collapses toward its reciprocal family size is a mirror
    * farm.
    *
    * Scale shape: one left join of the corpus against the (small)
    * cluster table, one grouped count for family sizes, one join back,
    * one grouped sum per source — all hash-partitioned, nothing
    * quadratic, bounded output. */
  def softDedupWeightsOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val withC = docs.select(col("doc_id"), col("source"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"))
    // family size via a window keyed on the cluster id (state bounded
    // by one family) instead of a groupBy + join-back, so the
    // docs-join-clusters branch is computed once, not twice
    val wcid = org.apache.spark.sql.expressions.Window.partitionBy(col("cid"))
    withC.withColumn("csize", count(lit(1)).over(wcid))
      .select(col("source"), expr("1000 div csize").as("w_milli"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w_milli")).as("sum_w_milli"),
        sum(expr("w_milli * w_milli")).as("sum_w2"))
      .select(col("source"), col("n_docs"), col("sum_w_milli"),
        expr("sum_w_milli * sum_w_milli div nullif(sum_w2, 0)")
          .as("ess_docs"),
        expr("sum_w_milli div nullif(n_docs, 0)").as("mean_w_milli"))
  }

  /** Registered self-contained form over the n-gram Jaccard clusters. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame =
    softDedupWeightsOf(Tables.documents(spark, dir), ngramClusters(spark, dir))

  /** Quality-aware survivor selection: within each near-dup cluster keep
    * the LONGEST member (tie-break min doc_id) instead of the min-id
    * canonical — the standard curation policy (near-dups are usually
    * truncations/extractions of one another, so length is the cheap
    * quality proxy; swap the order column for a model score without
    * changing the shape). A window over cluster_id — cluster tables are
    * tiny relative to the corpus, so the exchange is negligible. */
  def qualitySurvivorsOf(clusters: DataFrame, docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"), col("n_chars"))
  }

  /** Registered self-contained form (the oracle re-runs the cluster
    * pipeline; a real pipeline feeds [[qualitySurvivorsOf]] the
    * materialized cluster table). */
  def qualitySurvivors(spark: SparkSession, dir: String): DataFrame =
    qualitySurvivorsOf(ngramClusters(spark, dir), Tables.documents(spark, dir))
}
