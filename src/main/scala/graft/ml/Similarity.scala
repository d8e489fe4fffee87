package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.ArrayOps

/** Similarity search over the embedding column — operationalizes the
  * reference's (simulated) vector-index path (etl/flows/process_case.py:
  * 284-318, S12): brute-force cosine top-k as the exactness baseline, and
  * a random-hyperplane LSH bucketing as the scale path.
  *
  * Determinism/oracle strategy: vectors are L2-normalized then quantized
  * to integers (Dedup.quantized), so ranking keys are exact integer dot
  * products — reproducible in any engine, no FP-order sensitivity.
  *
  * Scale design: brute-force is queries × corpus — fine when the query
  * side is small (broadcast it); the LSH path shrinks the candidate set
  * to same-bucket vectors (equi-join on bucket id), which is the standard
  * first cut for ANN at 100 TB corpus scale. Both rerank identically.
  *
  * Cache contract: [[ivfIndex]] persists the quantized corpus and its
  * trained quantizer for its callers [[ivfTopK]], [[tenantIvfCandidatesOf]],
  * [[ivfSplitListsOf]], [[ivfSplitMaintenanceOf]], [[ivfTakedownAuditOf]]
  * and [[semanticPruneOf]]; those, [[ivfAppendAuditOf]], [[labelOutliers]]
  * and [[tenantAnnCandidatesOf]] persist() load-bearing intermediates
  * that the RETURNED lazy plan still references, so they cannot
  * unpersist before the caller's action. In a long-lived session the
  * caller must release them after its final action
  * (`spark.catalog.clearCache()`, as Bench/Verify do between queries) or
  * the cached blocks accumulate across queries.
  */
object Similarity {

  /** Query-vector predicate: every 200th vector is a "query"
    * ([[Retrieval.QueryStride]] — the shared fixture constant). */
  private def isQuery(id: Column): Column = Retrieval.isQuery(id)

  /** Fixed-panel variant: the first [[FixedPanelSize]] query vectors only
    * (vec_id ∈ {0, 200, …, 12600}). The panel is CONSTANT as the corpus
    * grows — the production audit shape: the corpus-proportional
    * [[isQuery]] form makes the truth arm queries × corpus (quadratic
    * under co-scaling, the one near-quadratic row in the two-decade
    * bench matrix), while this panel keeps it panel × corpus — linear in
    * the corpus, the number a rollout dashboard can afford to watch. */
  private val FixedPanelSize = Retrieval.FixedPanelSize
  private def isPanelQuery(id: Column): Column =
    isQuery(id) && id < lit(FixedPanelSize * Retrieval.QueryStride)

  private def quantizedVectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), Dedup.quantized(col("embedding")).as("q"))

  /** codegen'd integer dot product (graft.functions.DotProductLong). */
  private def dot(a: Column, b: Column): Column = ArrayOps.dot_long(a, b)

  /** Library surface: exact cosine top-k of `queries` against `corpus`
    * (both (vec_id, embedding)); ranked by integer dot over normalized
    * quantized vectors, deterministic tie-break on neighbor id. The query
    * side must be small enough to broadcast. */
  def bruteForceTopKOf(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val qs = queries
      .select(col("vec_id").as("query_id"),
        Dedup.quantized(col("embedding")).as("qv"))
    val scored = corpus
      .select(col("vec_id"), Dedup.quantized(col("embedding")).as("q"))
      .transform(graft.scale.Scale.spread) // parallelize the scan side
      .join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("qv"), col("q")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dot", "rank")
  }

  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 10,
      pred: Column => Column = isQuery): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    bruteForceTopKOf(emb, emb.filter(pred(col("vec_id"))), k)
  }

  // -------------------------------------------------------------------
  // LSH-bucketed ANN (ScalaTest-verified recall vs brute force)
  // -------------------------------------------------------------------

  // OR-amplified multi-table LSH: L tables of `LshPlanes` sign bits each.
  // A pair is a candidate if it collides in ANY table — more tables raise
  // recall at linear candidate cost. On top of that, the QUERY side is
  // multi-probed: each query also looks in the neighbor bucket reached by
  // flipping its lowest-margin sign bit (the plane it sits closest to —
  // the likeliest single bit to disagree with a true neighbor's). That
  // raises recall at fixed table count for ~2x the probe volume on the
  // tiny query side only; the corpus is bucketed exactly once either way.
  val LshPlanes = 4
  val LshTables = 4

  /** Deterministic pseudo-random hyperplane for (table t, plane k): the
    * components are pure constants, so they're materialized as a literal
    * array and the per-row work is one codegen'd integer dot product.
    * Public at the generalized arity so other blockers (Dedup's near-dup
    * candidate generation) and their SQL oracles can reproduce the exact
    * same planes. */
  def plane(t: Int, k: Int, planesPerTable: Int, dims: Int = 64): Seq[Long] =
    (0 until dims).map { j =>
      val raw = (j + 1).toLong * (2654435761L % 100003L) * (t * planesPerTable + k + 7) +
        k * 131L + t * 977L
      ((raw % 2001L) + 2001L) % 2001L - 1000L
    }

  private def plane(t: Int, k: Int): Seq[Long] = plane(t, k, LshPlanes)

  /** Sign-bit bucket id within table `t` (generalized arity). */
  def lshBucket(q: Column, t: Int, planesPerTable: Int): Column =
    (0 until planesPerTable).map { k =>
      val planeDot = ArrayOps.dot_long(q, typedLit(plane(t, k, planesPerTable).toArray))
      when(planeDot >= 0, shiftleft(lit(1L), k)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))

  /** Sign-bit bucket id within table `t` at this object's table shape. */
  def lshBucket(q: Column, t: Int): Column = lshBucket(q, t, LshPlanes)

  /** Sign-bit bucket over the first `pl` (a COLUMN — data-adaptive) of
    * up to `maxPlanes` planes, with every plane drawn at the FIXED
    * `baseArity` seed: bit k comes from plane(t, k, baseArity), which is
    * defined for any k, so growing `pl` appends high bits while bits
    * 0..baseArity-1 stay bit-identical to [[lshBucket]] — a corpus small
    * enough for the base arity hashes exactly as before. Bits k >= pl
    * sit behind the conditional, so codegen evaluates only `pl` plane
    * dots per row, not `maxPlanes`. */
  def lshBucketAdaptive(q: Column, t: Int, baseArity: Int, maxPlanes: Int,
      pl: Column): Column =
    ArrayOps.lsh_sign_bits(q, pl,
      (0 until maxPlanes).map(k => plane(t, k, baseArity).toArray).toArray)

  /** The multi-probe neighbor of table `t`'s bucket: flip the sign bit of
    * the plane with the LOWEST absolute dot (the query's tightest margin).
    * Ties break to the lowest plane index via lexicographic struct-min, so
    * the probe set is deterministic and an oracle can mirror it. */
  def lshNeighborBucket(q: Column, t: Int, planesPerTable: Int): Column = {
    val dots = (0 until planesPerTable).map(k =>
      ArrayOps.dot_long(q, typedLit(plane(t, k, planesPerTable).toArray)))
    val minIdx = array_min(array(dots.zipWithIndex.map { case (d, k) =>
      struct(abs(d).as("m"), lit(k).as("k"))
    }: _*)).getField("k")
    val flipMask = (0 until planesPerTable).map(k =>
      when(minIdx === k, lit(1L << k)).otherwise(0L)).reduce(_ + _)
    lshBucket(q, t, planesPerTable).bitwiseXOR(flipMask)
  }

  /** (vec_id, q, table, bucket) — one row per table per vector. The
    * persist() on the caller's `v` stops Catalyst from inlining the
    * (interpreted, expensive) quantization HOF into each of the 16
    * plane-dot expressions. */
  private def withBuckets(v: DataFrame): DataFrame =
    v.select(col("vec_id"), col("q"),
      explode(array((0 until LshTables).map(t =>
        struct(lit(t).as("tbl"), lshBucket(col("q"), t).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("q"), col("tb.tbl"), col("tb.bucket"))

  /** Query-side probe rows: per table, the home bucket AND the
    * flip-1-lowest-margin-bit neighbor — 2L rows per query. */
  private def withProbeBuckets(v: DataFrame): DataFrame =
    v.select(col("vec_id"), col("q"),
      explode(array((0 until LshTables).flatMap(t => Seq(
        struct(lit(t).as("tbl"), lshBucket(col("q"), t).as("bucket")),
        struct(lit(t).as("tbl"),
          lshNeighborBucket(col("q"), t, LshPlanes).as("bucket")))): _*)).as("tb"))
      .select(col("vec_id"), col("q"), col("tb.tbl"), col("tb.bucket"))

  /** ANN via multi-table, multi-probe LSH: candidates collide with the
    * query's home or neighbor bucket in some table; dedup, rerank by
    * exact integer dot. Recall < 1 by construction; the ScalaTest suite
    * measures it against [[bruteForceTopK]]. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 10,
      pred: Column => Column = isQuery): DataFrame = {
    val v = quantizedVectors(spark, dir).persist()
    val b = withBuckets(v)
    val queries = withProbeBuckets(v.filter(pred(col("vec_id"))))
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    val cand = b
      .join(broadcast(queries),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("q"))
      .dropDuplicates("query_id", "vec_id")
    val scored = cand.select(col("query_id"), col("vec_id"),
      dot(col("qv"), col("q")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dot", "rank")
  }

  /** ANN recall@k audit — the acceptance number a vector-serving rollout
    * gates on: the exact [[bruteForceTopK]] lists are ground truth, the
    * multi-probe LSH [[annTopK]] is the production arm under audit, and
    * the report is one row of exact counts — corpus recall in milli plus
    * the WORST single query's recall (tail recall is what users feel;
    * the mean hides it). The ANN twin of [[DedupSignatureOps
    * .blockingRecallOf]]'s blocker audit, same eager-materialize /
    * release-before-return cache discipline: the two top-k frames are
    * persisted (each feeds two counts), collapsed to one local row, and
    * unpersisted before returning — a caller looping the audit
    * accumulates nothing.
    *
    * Scale: both arms are the existing bounded top-k plans (truth is the
    * O(n·q) exactness yardstick — audits run on a query SAMPLE, which is
    * exactly what the every-200th-vector query subset is); the audit
    * itself adds one co-partitioned semi join on (query_id, vec_id) and
    * two bounded aggregates. */
  def annRecallAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k), annTopK(spark, dir, k))

  /** The same audit over the IVF arm — probing [[IvfProbes]] coarse
    * lists trades recall against scan volume, and THIS row is where
    * that trade is read off before changing the probe count. */
  def ivfRecallAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k), ivfTopK(spark, dir, k))

  /** And over the PQ arm: quantization-era recall loss (ADC short-list
    * misses that the exact rerank cannot recover) read off the same
    * report — the codebook-size / pool-size tuning number. */
  def pqRecallAudit(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k), pqTopK(spark, dir, k))

  /** The constant-panel production twin of [[pqRecallAudit]]: the same
    * audit, but over the FIXED [[FixedPanelSize]]-query panel instead of
    * the corpus-proportional every-200th subset. The gate form above
    * grows its truth arm queries × corpus (near-quadratic under
    * co-scaling — the 28.6× decade-2 bench row); this twin's truth arm
    * is panel × corpus, linear in the corpus forever, so THIS is the
    * row a production rollout dashboard watches continuously while the
    * proportional form stays the occasional exhaustive gate. Same audit
    * core, same cache discipline, same oracle nesting — only the query
    * predicate differs on both arms. */
  def pqRecallAuditFixedQ(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k, isPanelQuery),
      pqTopK(spark, dir, k, isPanelQuery))

  /** Constant-panel twins of the LSH and IVF audits — the full audit
    * family in production shape, one per serving arm, so a rollout
    * watches every arm's recall at panel × corpus cost. */
  def annRecallAuditFixedQ(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k, isPanelQuery),
      annTopK(spark, dir, k, isPanelQuery))

  def ivfRecallAuditFixedQ(spark: SparkSession, dir: String,
      k: Int = 10): DataFrame =
    recallReport(spark, bruteForceTopK(spark, dir, k, isPanelQuery),
      ivfTopK(spark, dir, k, isPanelQuery))

  /** Public library form of the audit core: recall report of ANY
    * detector top-k frame against ANY truth top-k frame (both keyed
    * (query_id, vec_id)) — callers audit their own serving arms with
    * a fixed query panel, which keeps the truth arm linear at scale.
    * Empty truth yields the all-zeros report, not an error. */
  def recallReportOf(truth: DataFrame, det: DataFrame): DataFrame =
    recallReport(truth.sparkSession, truth, det)

  /** Shared audit core: exact counts + recall milli + worst-query tail
    * over any (query_id, vec_id) truth/detector top-k pair. */
  private def recallReport(spark: SparkSession, truthDf: DataFrame,
      detDf: DataFrame): DataFrame = {
    val truth = truthDf.select("query_id", "vec_id").persist()
    val det = detDf.select("query_id", "vec_id").persist()
    try {
      val hits = truth.join(det, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
      val perQ = truth.groupBy("query_id").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("query_id"), "left")
        .select(col("n_true"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      val row = perQ.agg(
          count(lit(1)).as("n_queries"),
          // coalesce: an empty truth set (empty corpus/tenant) must
          // report zeros, not NPE on null sums when the row is read
          coalesce(sum(col("n_true")), lit(0L)).as("n_truth"),
          coalesce(sum(col("n_hit")), lit(0L)).as("n_hits"),
          coalesce(min(expr("n_hit * 1000 div n_true")), lit(0L))
            .as("worst_recall_milli"))
        .crossJoin(broadcast(det.agg(count(lit(1)).as("n_detected"))))
        .head()
      import spark.implicits._
      Seq((row.getLong(0), row.getLong(1), row.getLong(4), row.getLong(2),
          row.getLong(3)))
        .toDF("n_queries", "n_truth", "n_detected", "n_hits",
          "worst_recall_milli")
        .select(col("n_queries"), col("n_truth"), col("n_detected"),
          col("n_hits"),
          expr("n_hits * 1000 div nullif(n_truth, 0)").as("recall_milli"),
          col("worst_recall_milli"))
    } finally {
      truth.unpersist(blocking = false)
      det.unpersist(blocking = false)
    }
  }

  // -------------------------------------------------------------------
  // Tenant-scoped ANN: tenant-prefixed LSH buckets (multi-tenant serving)
  // -------------------------------------------------------------------

  /** Tenants in the synthetic corpus derivation (mirrors the snapshot
    * convention `key % 4`, but on `vec_id div 7` so the every-200th
    * query vectors spread across ALL tenants instead of collapsing onto
    * tenant 0). */
  val SimTenants = 4L

  /** The reference's vector queries always carry a mandatory tenant
    * metadata filter (core/tenant_manager.py:176-188 — Pinecone queries
    * filtered to the session tenant). Bolting a post-filter onto a
    * tenant-global index would be both wasteful (cross-tenant candidates
    * mined then discarded) and a leak surface (candidates themselves
    * cross tenants). Here the tenant id occupies the HIGH BITS of every
    * LSH bucket key — `tenant_id · 2^LshPlanes + signBucket` — so bucket
    * equality REQUIRES tenant equality and candidate mining can never
    * cross tenants by construction, not by filter. At 100 TB this is
    * also the partition story: bucket keys cluster by tenant, so a
    * tenant's postings co-locate and per-tenant probe volume is
    * unchanged from the single-tenant index.
    *
    * Exposed candidate surface (query + corpus tenant on every row) so
    * the isolation claim is spec-checked on CANDIDATES, not just on the
    * reranked results. */
  def tenantAnnCandidatesOf(vectors: DataFrame): DataFrame = {
    val v = vectors.select(col("vec_id"), col("tenant_id"),
      Dedup.quantized(col("embedding")).as("q")).persist()
    val prefix = col("tenant_id") * (1L << LshPlanes)
    val b = v.select(col("vec_id"), col("tenant_id"), col("q"),
      explode(array((0 until LshTables).map(t =>
        struct(lit(t).as("tbl"),
          (prefix + lshBucket(col("q"), t)).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tenant_id"), col("q"),
        col("tb.tbl"), col("tb.bucket"))
    // query probes: home bucket + flip-1-lowest-margin-bit neighbor, both
    // under the SAME tenant prefix (the flip mask only touches sign bits)
    val qb = v.filter(isQuery(col("vec_id")))
      .select(col("vec_id"), col("tenant_id"), col("q"),
        explode(array((0 until LshTables).flatMap(t => Seq(
          struct(lit(t).as("tbl"),
            (prefix + lshBucket(col("q"), t)).as("bucket")),
          struct(lit(t).as("tbl"),
            (prefix + lshNeighborBucket(col("q"), t, LshPlanes))
              .as("bucket")))): _*)).as("tb"))
      .select(col("vec_id").as("query_id"), col("tenant_id").as("q_tenant"),
        col("q").as("qv"), col("tb.tbl").as("qtbl"), col("tb.bucket").as("qbucket"))
    b.join(broadcast(qb),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_tenant"), col("qv"),
        col("vec_id"), col("tenant_id").as("c_tenant"), col("q"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** Tenant-scoped ANN over any (vec_id, tenant_id, embedding) frame:
    * candidates from [[tenantAnnCandidatesOf]]'s tenant-prefixed
    * buckets, reranked by exact integer dot with the standard
    * (dot desc, vec_id asc) tie-break. Every result row carries the
    * query's tenant — identical to it's candidates' by construction. */
  def tenantAnnTopKOf(vectors: DataFrame, k: Int = 10): DataFrame = {
    val scored = tenantAnnCandidatesOf(vectors)
      .select(col("query_id"), col("q_tenant").as("tenant_id"),
        col("vec_id"), dot(col("qv"), col("q")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "tenant_id", "vec_id", "dot", "rank")
  }

  /** Registered form: embeddings corpus with the derived tenant column. */
  def tenantAnnTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    tenantAnnTopKOf(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr(s"(vec_id div 7) % $SimTenants").as("tenant_id"),
          col("embedding")),
      k)

  /** Tenant-scoped IVF — the same composition proof on the OTHER index
    * family: the coarse quantizer stays tenant-GLOBAL (one shared
    * codebook — the per-tenant-namespace layout of a multi-tenant
    * vector store), but the inverted lists are keyed
    * (tenant_id, centroid_id), so a list lookup requires tenant
    * equality and candidates cannot cross tenants by construction.
    * At 100 TB the list key is also the storage partition key: a
    * tenant's postings co-locate and a query touches only its own
    * tenant's slices of its probed lists. */
  def tenantIvfCandidatesOf(vectors: DataFrame): DataFrame = {
    val tenants = vectors.select(col("vec_id"), col("tenant_id"))
    val (v, cents) = ivfIndex(vectors)
    val lists = assignTo(v, cents, probes = 1)
      .join(tenants, "vec_id")
      .select(col("tenant_id"), col("centroid_id"), col("vec_id"), col("q"))
    val queryLists = assignTo(v.filter(isQuery(col("vec_id"))), cents,
        probes = IvfProbes)
      .join(tenants, "vec_id")
      .select(col("tenant_id").as("q_tenant"),
        col("centroid_id").as("q_centroid"),
        col("vec_id").as("query_id"), col("q").as("qv"))
    lists
      .join(broadcast(queryLists),
        col("tenant_id") === col("q_tenant") &&
          col("centroid_id") === col("q_centroid") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_tenant"), col("qv"),
        col("vec_id"), col("tenant_id").as("c_tenant"), col("q"))
      .dropDuplicates("query_id", "vec_id")
  }

  /** Tenant-scoped IVF top-k over any (vec_id, tenant_id, embedding)
    * frame; result rows carry the query's tenant, equal to every
    * candidate's by construction. */
  def tenantIvfTopKOf(vectors: DataFrame, k: Int = 10): DataFrame = {
    val scored = tenantIvfCandidatesOf(vectors)
      .select(col("query_id"), col("q_tenant").as("tenant_id"),
        col("vec_id"), dot(col("qv"), col("q")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "tenant_id", "vec_id", "dot", "rank")
  }

  def tenantIvfTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    tenantIvfTopKOf(
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          expr(s"(vec_id div 7) % $SimTenants").as("tenant_id"),
          col("embedding")),
      k)

  // -------------------------------------------------------------------
  // IVF-style ANN: coarse quantizer + probed inverted lists
  // -------------------------------------------------------------------

  /** Every `stride`-th vector seeds a coarse centroid; `IvfIters` rounds
    * of Lloyd refinement (spherical k-means) follow, trained on a
    * deterministic 1-in-`IvfTrainStride` sample. The stride ADAPTS to
    * the corpus: max(IvfCentroidStride, floor(sqrt(n))), so the list
    * count is ~n/97 on small corpora (constant cluster size) but caps
    * at ~sqrt(n) as the corpus grows. sqrt(n) lists is the single-level
    * IVF optimum: assignment cost n·c and per-cluster pair work n²/c
    * meet at c = sqrt(n), keeping BOTH the index build and the SemDeDup
    * prune at O(n^1.5) — a fixed stride makes assignment Θ(n²/97),
    * measured 24x at a 10x scale-up before this adapted. */
  val IvfCentroidStride = 97
  val IvfProbes = 3
  val IvfIters = 1

  /** Embedding width of the corpus (TESTDATA.md: 64-dim integer-quantized
    * vectors at every scale factor). Lets per-dimension sums run as ONE
    * wide aggregation instead of a posexplode row multiplication; if the
    * width ever changed, every oracle comparison over the vector family
    * would fail loudly on the first run. */
  val EmbDims = 64
  val IvfTrainStride = 3

  // private[ml]: AdaptiveIndexSpec pins the sqrt(n) stride at two corpus
  // sizes so a constant-stride revert fails CI (it would pass every
  // sf0.01 oracle while turning assignment Θ(n²/97) at scale)
  private[ml] def seedCentroids(v: DataFrame): DataFrame = {
    // scalar anchor (broadcast 1-row cross join) keeps the count lazy
    // and the plan a single job — no driver-side action
    val stride = v.agg(
      greatest(lit(IvfCentroidStride.toLong),
        floor(sqrt(count(lit(1)).cast("double"))).cast("long")).as("stride"))
    v.crossJoin(broadcast(stride))
      .filter(col("vec_id") % col("stride") === 0)
      .select(col("vec_id").as("centroid_id"), col("q").as("cv"))
  }

  /** The trained coarse quantizer: stride seeds, then `iters` rounds of
    * spherical k-means ([[lloyd]] with max-dot assignment) on a
    * deterministic 1-in-[[IvfTrainStride]] sample. The new centroid is
    * the re-quantized member SUM: normalizing the sum equals normalizing
    * the mean (the 1/n scale cancels), so the refinement aggregates
    * exact longs and replays in any engine (see [[ivfOracle]]). Seeds
    * come from the full corpus, so the centroid count is independent of
    * the training stride. */
  private def trainedCentroids(v: DataFrame, iters: Int = IvfIters): DataFrame = {
    // vector width for the wide refinement aggregation — one bounded
    // driver fold (the [[topDirection]] dim-probe convention; library
    // callers train on arbitrary-width vectors). Empty corpus: any width
    // yields empty refinements.
    val dims = v.select(size(col("q")).as("d")).take(1)
      .headOption.map(_.getInt(0)).getOrElse(EmbDims)
    lloyd(seedCentroids(v), v.filter(col("vec_id") % IvfTrainStride === 0),
      "q", Nil, "centroid_id", dims, maxDot = true, iters)(sphericalCentre)
  }

  /** IVF centre update: the re-quantized member sum. */
  private[ml] def sphericalCentre(sums: Seq[Column], n: Column): Column =
    ArrayOps.quantize_vec(array(sums.map(_.cast("double")): _*), 10000)

  /** PQ centre update: the rounded integer member mean (one rounding
    * division per dimension, replayable in any engine). */
  private[ml] def roundedMean(sums: Seq[Column], n: Column): Column =
    array(sums.map(s => round(s.cast("double") / n).cast("long")): _*)

  /** THE Lloyd trainer for every codebook in this module: `iters` rounds
    * of assign-to-nearest ([[nearest]] over `sample`'s vector column `x`)
    * followed by a per-(`keys`, `id`) member count and element-wise sum,
    * from which `centre` builds each refined vector. `seeds` is
    * (`keys`…, `id`, cv); so is the result. The refined vectors are
    * LEFT-joined onto the previous round, so a centroid with no sample
    * member keeps its previous vector instead of vanishing — the
    * codebook size never depends on the sample. `dims` is the vector
    * width: the sums are `dims` ordinary map-side-combinable columns
    * reassembled as an array, one aggregation and no row
    * multiplication. LloydPropSpec checks it against a driver-side
    * reference over several rounds and both metrics. */
  private[ml] def lloyd(seeds: DataFrame, sample: DataFrame, x: String,
      keys: Seq[String], id: String, dims: Int, maxDot: Boolean, iters: Int)(
      centre: (Seq[Column], Column) => Column): DataFrame = {
    val cell = (keys :+ id).map(col)
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val refined = nearest(sample, x, cents, keys, id, maxDot)
        .groupBy(cell: _*)
        .agg(count(lit(1)).as("n"), (0 until dims).map(d =>
          sum(element_at(col(x), d + 1)).as(s"s$d")): _*)
        .select(cell :+
          centre((0 until dims).map(d => col(s"s$d")), col("n")).as("rcv"): _*)
      cents.join(refined, keys :+ id, "left_outer")
        .select(cell :+ coalesce(col("rcv"), col("cv")).as("cv"): _*)
    }
  }

  /** Nearest centroid per row of `rows` as ONE generated pass
    * ([[graft.functions.NearestVec]]) against the centroid table packed,
    * per `keys` group, into an id-sorted broadcast array: adds `id` and
    * its score `s` to `rows`' columns. `maxDot` picks max integer dot
    * (IVF) or min squared L2 (PQ; the per-row constant ⟨x,x⟩ is dropped,
    * which keeps order and ties); the id-sorted iteration with a strict
    * compare breaks ties to the smallest id. Where the join against
    * every centroid ROW would multiply the corpus by the codebook size
    * and argmax through a hash aggregate, this visits the same centroids
    * in place. A group with no centroids yields no row. */
  private[ml] def nearest(rows: DataFrame, x: String, cents: DataFrame,
      keys: Seq[String], id: String, maxDot: Boolean): DataFrame = {
    val pack = cents.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(id).as("id"), col("cv"))))
        .as("cands"))
    val out = rows.columns.toSeq.map(col)
    rows.join(broadcast(pack), keys)
      .select(out :+ ArrayOps.nearest_vec(col(x), col("cands"), maxDot)
        .as("best"): _*)
      // on the id: the optimizer infers that test anyway, and a struct
      // test adds a second kernel call to the pushed-down join condition
      .filter(col("best.id").isNotNull)
      .select(out ++ Seq(col("best.id").as(id), col("best.s").as("s")): _*)
  }

  /** The IVF index every list-based arm builds on: the corpus quantized,
    * spread and persisted as (vec_id, q), and its trained coarse
    * quantizer (centroid_id, cv), persisted because the list build and
    * the query probing both re-read it. [[ivfAppendAuditOf]] trains on
    * its base split only and builds its own. */
  private def ivfIndex(vectors: DataFrame): (DataFrame, DataFrame) = {
    val v = graft.scale.Scale.spread(
      vectors.select(col("vec_id"), Dedup.quantized(col("embedding")).as("q")))
      .persist()
    (v, trainedCentroids(v).persist())
  }

  /** Assign each vector to its `probes` nearest centroids (by integer
    * dot). probes == 1 (the bulk corpus pass) is [[nearest]]; multi-probe
    * (the small query side) keeps the windowed form. */
  private def assignTo(v: DataFrame, cents: DataFrame, probes: Int): DataFrame = {
    if (probes == 1) {
      nearest(v, "q", cents, Nil, "centroid_id", maxDot = true)
        .withColumnRenamed("s", "cdot")
    } else {
      val scored = v.join(broadcast(cents), lit(true))
        .select(col("vec_id"), col("q"), col("centroid_id"),
          dot(col("q"), col("cv")).as("cdot"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cdot").desc, col("centroid_id").asc)
      scored.withColumn("crank", row_number().over(w))
        .filter(col("crank") <= probes)
    }
  }

  /** ANN via IVF: corpus vectors live in their single nearest centroid's
    * list; queries probe their `IvfProbes` nearest lists; candidates are
    * reranked by exact integer dot. */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 10,
      pred: Column => Column = isQuery): DataFrame = {
    val (v, cents) = ivfIndex(Tables.embeddings(spark, dir))
    val lists = assignTo(v, cents, probes = 1)
      .select(col("centroid_id"), col("vec_id"), col("q"))
    val queryLists = assignTo(
      v.filter(pred(col("vec_id"))), cents, probes = IvfProbes)
      .select(col("centroid_id"), col("vec_id").as("query_id"), col("q").as("qv"))
    val scored = lists
      .join(broadcast(queryLists), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), dot(col("qv"), col("q")).as("dot"))
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dot", "rank")
  }

  // -------------------------------------------------------------------
  // Incremental index maintenance: frozen-quantizer append + staleness
  // -------------------------------------------------------------------

  /** Append split: vec_id % 10 < 8 is the corpus the index was BUILT on;
    * the remaining 20% arrives afterwards (the production append). */
  val IvfAppendMod = 10L
  val IvfAppendBaseLt = 8L

  /** Incremental IVF maintenance audit — the operational question a
    * vector index at 100 TB answers every ingest cycle: new vectors are
    * APPENDED to the existing lists by assigning them to the FROZEN
    * coarse quantizer (re-training on every append is a full O(n·c)
    * rebuild; appending is |delta|·c), and a staleness gate decides when
    * the cheap path has degraded enough to pay for a re-train. Two
    * integer verdicts, both engine-replayable:
    *
    *  - `retrain_balance`: the fill skew after append —
    *    max_list_after · n_lists > 4 · n_total means the hottest list
    *    holds > 4x its fair share, so probe cost is skew-bound
    *    (appends concentrating in few lists is the classic drift
    *    signature when the corpus distribution moves);
    *  - `retrain_quality`: assignment fit of the delta vs the base —
    *    mean best-centroid dot of appended vectors below 90% of the
    *    base members' (means via integral div, so the comparison
    *    replays exactly; cross-multiplying raw sums would overflow
    *    long at ~10^5 vectors).
    *
    * One row: (n_base, n_delta, n_lists, max_list_base, max_list_after,
    * mean_cdot_base, mean_cdot_delta, retrain_balance, retrain_quality).
    * The centroid count depends ONLY on the base (frozen quantizer —
    * IvfAppendSpec pins that invariance and both gate polarities). */
  def ivfAppendAuditOf(vectors: DataFrame): DataFrame = {
    val v = graft.scale.Scale.spread(
      vectors.select(col("vec_id"), Dedup.quantized(col("embedding")).as("q")))
      .persist()
    val base = v.filter(col("vec_id") % IvfAppendMod < IvfAppendBaseLt)
    val delta = v.filter(col("vec_id") % IvfAppendMod >= IvfAppendBaseLt)
    val cents = trainedCentroids(base).persist()
    val ba = assignTo(base, cents, probes = 1)
      .select(col("centroid_id"), col("cdot")).persist()
    val da = assignTo(delta, cents, probes = 1)
      .select(col("centroid_id"), col("cdot")).persist()
    val nLists = cents.agg(count(lit(1)).as("n_lists"))
    // cdot is this library's one SIGNED dividend (appends anti-aligned
    // with every centroid sum negative). Verified on the gate's DuckDB
    // (1.0.0): `//` TRUNCATES toward zero exactly like Spark `div`
    // (-5 // 4 = -1, -7 // 2 = -3), so the two engines agree on
    // negative means too — no floor-vs-trunc skew to reconcile here.
    val bStats = ba.agg(count(lit(1)).as("n_base"),
      expr("sum(cdot) div count(1)").as("mean_cdot_base"))
    val dStats = da.agg(count(lit(1)).as("n_delta"),
      expr("sum(cdot) div count(1)").as("mean_cdot_delta"))
    val maxB = ba.groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_list_base"))
    val maxA = ba.union(da).groupBy("centroid_id").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_list_after"))
    bStats.crossJoin(broadcast(dStats))
      .crossJoin(broadcast(nLists))
      .crossJoin(broadcast(maxB))
      .crossJoin(broadcast(maxA))
      .select(col("n_base"), col("n_delta"), col("n_lists"),
        col("max_list_base"), col("max_list_after"),
        col("mean_cdot_base"), col("mean_cdot_delta"),
        expr("CAST(CASE WHEN max_list_after * n_lists > 4 * (n_base + n_delta)" +
          " THEN 1 ELSE 0 END AS BIGINT)").as("retrain_balance"),
        expr("CAST(CASE WHEN mean_cdot_delta * 10 < mean_cdot_base * 9" +
          " THEN 1 ELSE 0 END AS BIGINT)").as("retrain_quality"))
  }

  def ivfAppendAudit(spark: SparkSession, dir: String): DataFrame =
    ivfAppendAuditOf(Tables.embeddings(spark, dir))

  // -------------------------------------------------------------------
  // Incremental re-train: split overflowing lists, keep the rest frozen
  // -------------------------------------------------------------------

  /** Maintenance trigger (2× fair share) vs. alarm gate (4× — the
    * [[ivfAppendAuditOf]] `retrain_balance` threshold). The hysteresis
    * is what makes the guarantee provable: splitting every list above
    * 2× into `s = ⌈m·L / (2N)⌉` rank-contiguous chunks (L lists, N
    * vectors) bounds every chunk by ⌈2N/L⌉, and the list count grows by
    * Σ(s−1) ≤ L/2, so post-maintenance `max·L' ≤ (2N/L + 1)·1.5L =
    * 3N + 1.5L ≤ 4N` whenever the fair share N/L ≥ 1.5 — true for any
    * real index (ours is ≥ [[IvfCentroidStride]]). A trigger AT the
    * alarm threshold would leave no such margin. */
  val IvfSplitTriggerX = 2L
  val IvfAlarmX = 4L

  /** The split decision + act for ONE overflowing list, relationally:
    * order its members along the direction of the member FARTHEST from
    * the centroid (min assignment dot — the drift direction that caused
    * the overflow; ties by vec_id) and cut the rank order into `s`
    * equal contiguous chunks. A 1-D k-means along the principal drift
    * axis: deterministic, integer-exact, and engine-replayable where a
    * full Lloyd re-train of the hot list is neither. Non-overflowing
    * lists and the quantizer itself stay FROZEN — the maintenance cost
    * is proportional to the overflow mass, not the corpus.
    *
    * Returns per-member rows (vec_id, centroid_id, chunk): the
    * post-maintenance list identity is (centroid_id, chunk), chunk 0
    * for every untouched list. The per-list window sorts only the
    * overflowing lists' members — the hottest list IS the work item,
    * and that funnel is exactly what the split removes for every query
    * after this one. */
  def ivfSplitListsOf(base: DataFrame, delta: DataFrame): DataFrame = {
    val parts = splitParts(base, delta)
    parts.splitMembers.unionByName(parts.keptMembers)
  }

  private case class SplitParts(aa: DataFrame, sized: DataFrame,
      nLists: DataFrame, nTotal: DataFrame,
      splitMembers: DataFrame, keptMembers: DataFrame)

  /** Shared internals: frozen quantizer trained on `base`, full
    * assignment of base ∪ delta, 2× trigger, per-list split. */
  private def splitParts(base: DataFrame, delta: DataFrame): SplitParts = {
    val (vb, cents) = ivfIndex(base)
    // the delta is an append batch, not a scan (the registered binding
    // derives it with a join), so Scale.spread's scan-only contract
    // excludes it — and an append batch is delta-sized, not
    // corpus-sized, so it needs no spreading
    val vd = delta.select(col("vec_id"), Dedup.quantized(col("embedding")).as("q"))
    val aa = assignTo(vb.unionByName(vd), cents, probes = 1).persist()
    val nLists = cents.agg(count(lit(1)).as("n_lists"))
    val nTotal = aa.agg(count(lit(1)).as("n_total"))
    val sized = aa.groupBy("centroid_id").agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(nLists)).crossJoin(broadcast(nTotal))
      .withColumn("overflow",
        col("m") * col("n_lists") > lit(IvfSplitTriggerX) * col("n_total"))
      .withColumn("s", when(col("overflow"), expr(
          s"(m * n_lists + $IvfSplitTriggerX * n_total - 1)" +
            s" div ($IvfSplitTriggerX * n_total)"))
        .otherwise(lit(1L)))
      .persist()
    val over = sized.filter(col("overflow")).select("centroid_id", "m", "s")
    // split axis seed: the member farthest from its centroid
    val seedA = aa.join(broadcast(over.select("centroid_id")), "centroid_id")
      .groupBy("centroid_id")
      .agg(min_by(col("q"), struct(col("cdot"), col("vec_id"))).as("aq"))
    val wList = Window.partitionBy(col("centroid_id"))
      .orderBy(col("adot").desc, col("vec_id").asc)
    val splitMembers = aa.join(broadcast(over), "centroid_id")
      .join(broadcast(seedA), "centroid_id")
      .withColumn("adot", dot(col("q"), col("aq")))
      .withColumn("rn", row_number().over(wList))
      .select(col("vec_id"), col("centroid_id"),
        expr("(rn - 1) * s div m").as("chunk"))
    val keptMembers = aa
      .join(broadcast(sized.filter(!col("overflow")).select("centroid_id")),
        "centroid_id")
      .select(col("vec_id"), col("centroid_id"), lit(0L).as("chunk"))
    SplitParts(aa, sized, nLists, nTotal, splitMembers, keptMembers)
  }

  /** The maintenance audit row — closes the loop [[ivfAppendAuditOf]]
    * opens: the append audit decides WHEN the cheap frozen-quantizer
    * append has degraded; this runs the act (split the hot lists, keep
    * the rest frozen) and proves the balance alarm is off afterwards.
    * One row: (n_total, n_lists, n_overflow, n_lists_after,
    * max_list_before, max_list_after, alarm_before, alarm_after) —
    * alarm_after = 0 is GUARANTEED (see [[IvfSplitTriggerX]]) whenever
    * fair share ≥ 1.5; IvfAppendSpec pins it on planted pathologies. */
  def ivfSplitMaintenanceOf(base: DataFrame, delta: DataFrame): DataFrame = {
    val parts = splitParts(base, delta)
    val beforeStats = parts.sized.agg(
      max(col("m")).as("max_list_before"),
      sum(when(col("overflow"), 1L).otherwise(0L)).as("n_overflow"),
      sum(when(col("overflow"), col("s") - 1).otherwise(0L))
        .as("n_splits_added"))
    val afterMax = parts.splitMembers.unionByName(parts.keptMembers)
      .groupBy("centroid_id", "chunk").agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("max_list_after"))
    parts.nTotal.crossJoin(broadcast(parts.nLists))
      .crossJoin(broadcast(beforeStats))
      .crossJoin(broadcast(afterMax))
      .select(col("n_total"), col("n_lists"), col("n_overflow"),
        (col("n_lists") + col("n_splits_added")).as("n_lists_after"),
        col("max_list_before"), col("max_list_after"),
        expr(s"CAST(CASE WHEN max_list_before * n_lists >" +
          s" $IvfAlarmX * n_total THEN 1 ELSE 0 END AS BIGINT)")
          .as("alarm_before"),
        expr(s"CAST(CASE WHEN max_list_after * (n_lists + n_splits_added) >" +
          s" $IvfAlarmX * n_total THEN 1 ELSE 0 END AS BIGINT)")
          .as("alarm_after"))
  }

  /** Registered binding: the real corpus is the base; the delta is a
    * PLANTED hot-drift append — [[IvfDriftClones]] re-arrivals of the
    * anchor vector's embedding at fresh ids (the classic drift
    * signature: near-identical new content flooding one list). The
    * plant is what makes the split path EXERCISED on the driver's real
    * data at every checked scale — the un-drifted corpus is balanced
    * (append audit measures 1.1× fair share), so maintenance on it
    * would be a no-op row proving nothing. Oracle replays the clone
    * union verbatim.
    *
    * Clone ids start at `max(vec_id) + 1` — DATA-DERIVED (the synth
    * scale-up's own id rule), never a constant: a fixed base sat below
    * real ids at the 100x scale-up (max 199,999), which would both
    * collide clone ids with real vectors (silently collapsed by the
    * per-id argmax on BOTH engines) and desynchronize the oracle's
    * base predicate from the Spark binding's base frame. */
  val IvfDriftClones = 400L

  def ivfSplitMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val idBase = emb.agg((max(col("vec_id")) + 1L).as("id_base"))
    val anchor = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("aemb"))
    val drift = emb.filter(col("vec_id") < IvfDriftClones)
      .crossJoin(broadcast(anchor))
      .crossJoin(broadcast(idBase))
      .select((col("vec_id") + col("id_base")).as("vec_id"),
        col("aemb").as("embedding"))
    ivfSplitMaintenanceOf(emb, drift)
  }

  // -------------------------------------------------------------------
  // Index takedown: tombstone vs compact under a revocation list
  // -------------------------------------------------------------------

  /** Revocation predicate — the SAME list the document-side
    * [[graft.pipeline.Takedown]] propagates (vec_id % 131 == 5; a spec
    * pins the constants equal), so one governance event drives both the
    * corpus and the index maintenance. */
  val TakedownMod = 131L
  val TakedownRem = 5L

  /** Compaction trigger: rewrite a list when revoked rows are >= 1/8 of
    * it — below that, tombstones (skip-at-read markers) cost less than
    * the rewrite; above it, the read-side waste compounds every query. */
  val TakedownCompactDenom = 8L

  /** Index-side takedown audit — the tombstone-vs-compact decision a
    * vector index makes per inverted list when a revocation list lands:
    * lists barely touched keep tombstones (delete markers the scanner
    * skips — O(1) per revocation), lists past the 1/8 waste threshold
    * are rewritten (compaction cost proportional to the LIST, never the
    * corpus). One row: totals, lists hit, the compact/tombstone split,
    * tombstones left resident vs rows reclaimed, and the largest live
    * list after deletion. One full-corpus assignment (the index build's
    * own pass), one bounded per-list aggregate — the decision adds
    * nothing beyond a flag fold to the existing build shape. */
  def ivfTakedownAuditOf(vectors: DataFrame): DataFrame = {
    val (v, cents) = ivfIndex(vectors)
    val pl = assignTo(v, cents, probes = 1)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("m"),
        sum(when(col("vec_id") % TakedownMod === TakedownRem, 1L)
          .otherwise(0L)).as("r"))
    val compact = col("r") > 0 &&
      col("r") * TakedownCompactDenom >= col("m")
    val tombstone = col("r") > 0 &&
      col("r") * TakedownCompactDenom < col("m")
    pl.agg(
      sum(col("m")).as("n_total"),
      sum(col("r")).as("n_revoked"),
      count(lit(1)).as("n_lists"),
      sum(when(col("r") > 0, 1L).otherwise(0L)).as("n_lists_hit"),
      sum(when(compact, 1L).otherwise(0L)).as("n_lists_compact"),
      sum(when(tombstone, 1L).otherwise(0L)).as("n_lists_tombstone"),
      sum(when(tombstone, col("r")).otherwise(0L)).as("n_tombstones_kept"),
      sum(when(compact, col("r")).otherwise(0L)).as("n_reclaimed"),
      max(col("m") - col("r")).as("max_live_list"))
  }

  def ivfTakedownAudit(spark: SparkSession, dir: String): DataFrame =
    ivfTakedownAuditOf(Tables.embeddings(spark, dir))

  // -------------------------------------------------------------------
  // SemDeDup-style semantic prune: cluster, then near-dup within cluster
  // -------------------------------------------------------------------

  /** Semantic deduplication in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the SAME trained IVF
    * coarse quantizer [[ivfTopK]] uses, then mark as `pruned` every
    * vector that has a cos>0.4 neighbor of smaller id INSIDE its
    * cluster (keep-lowest-id survivor rule — deterministic where the
    * paper keeps a random/centroid-farthest exemplar). Output one row
    * per corpus vector: (vec_id, centroid_id, pruned). This is the
    * semantic complement to [[graft.ml.Dedup]]'s lexical near-dup
    * family: paraphrases land in the same cluster even when they share
    * no shingles.
    *
    * Scale design: the quadratic pair test runs per cluster. With the
    * adaptive seed stride (see [[seedCentroids]]) the cluster size is
    * ~[[IvfCentroidStride]] on small corpora and ~sqrt(n) beyond the
    * crossover, so total pair work is O(n·97) small / O(n^1.5) large —
    * the same bound as the assignment pass itself, and each cluster's
    * block is an independent equi-join task (one hash shuffle on
    * centroid_id) where corpus-global pair mining is Θ(n²).
    * The near-dup gate reuses Dedup.embeddingPairsOf's exact integer
    * cosine arithmetic (dot>0 && 25·dot² > 4·|a|²·|b|²), so the
    * decision replays bit-for-bit in the DuckDB oracle, which shares
    * the trained quantizer's generated SQL via [[ivfListsPrefix]]. */
  def semanticPrune(spark: SparkSession, dir: String): DataFrame =
    semanticPruneOf(Tables.embeddings(spark, dir))

  /** Library surface: [[semanticPrune]] over any (vec_id, embedding)
    * frame — SimilaritySpec plants near-identical vectors through this
    * form and proves they are clustered together and pruned. */
  def semanticPruneOf(vectors: DataFrame): DataFrame = {
    val (v, cents) = ivfIndex(vectors)
    val lists = assignTo(v, cents, probes = 1)
      .select(col("centroid_id"), col("vec_id"), col("q"),
        ArrayOps.dot_long(col("q"), col("q")).as("nsq"))
      .persist() // both self-join sides and the final left join re-read it
    val aSide = lists.select(col("centroid_id"), col("vec_id").as("aid"),
      col("q").as("qa"), col("nsq").as("na"))
    val bSide = lists.select(col("centroid_id"), col("vec_id").as("bid"),
      col("q").as("qb"), col("nsq").as("nb"))
    val prunedIds = aSide.join(bSide, Seq("centroid_id"))
      .filter(col("aid") < col("bid"))
      .select(col("bid"), ArrayOps.dot_long(col("qa"), col("qb")).as("dot"),
        col("na"), col("nb"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * 25 > col("na") * col("nb") * 4)
      .select(col("bid").as("vec_id"))
      .distinct()
    lists
      .join(prunedIds.withColumn("hit", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("centroid_id"),
        coalesce(col("hit"), lit(false)).as("pruned"))
  }

  // -------------------------------------------------------------------
  // Embedding quality audit: per-label centroid outliers, exact integers
  // -------------------------------------------------------------------

  /** Top-3 outliers per label by distance to the label centroid — the
    * mislabeled-example audit of an embedding pipeline.
    *
    * Exactness trick: with quantized integer vectors x and the label's
    * element-wise sum S over n members, the (scaled) squared distance to
    * the centroid  Σ_i (x_i·n − S_i)²  expands to
    * n²·⟨x,x⟩ − 2n·⟨x,S⟩ + ⟨S,S⟩ — three integer dot products, no
    * floating point anywhere, so the ranking is bit-identical in any
    * engine. The element-wise sum is a posexplode aggregate (64·|corpus|
    * rows, map-side combined); everything after joins against the tiny
    * per-label centroid table. */
  def labelOutliers(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), Dedup.quantized(col("embedding")).as("q"))
      .transform(graft.scale.Scale.spread)
      .persist()
    // count + element-wise sums in ONE wide aggregation (round-18, guide
    // §1.2): replaces posexplode -> per-(label,dim) groupBy ->
    // collect_list -> re-join with the count aggregate — same exact sums
    val cents = v.groupBy("label")
      .agg(count(lit(1)).as("n"),
        (0 until EmbDims).map(d =>
          sum(element_at(col("q"), d + 1)).as(s"s$d")): _*)
      .select(col("label"), col("n"),
        array((0 until EmbDims).map(d => col(s"s$d")): _*).as("svec"))
    val scored = v.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"),
        (col("n") * col("n") * ArrayOps.dot_long(col("q"), col("q"))
          - lit(2L) * col("n") * ArrayOps.dot_long(col("q"), col("svec"))
          + ArrayOps.dot_long(col("svec"), col("svec"))).as("score"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("label", "rank", "vec_id", "score")
  }

  /** Per-dimension profile of the quantized embedding space — the
    * health check an index build runs before anything else: dead
    * dimensions (min == max — contribute nothing to any distance and
    * should be dropped before bucketing), integer moments for whitening
    * decisions. All outputs are RAW integer sums plus a milli mean —
    * exact at any corpus size the sums fit (sumsq grows as n·1e8, so
    * longs hold ~9e10 vectors), and bit-identical in any engine.
    *
    * Scale shape: the posexplode multiplies rows by the dimension count
    * but the per-dim aggregate combines MAP-SIDE — each task hands the
    * exchange at most d partial rows, so the shuffle carries
    * tasks × dims rows regardless of corpus size. */
  def dimStatsOf(vectors: DataFrame): DataFrame =
    vectors.select(Dedup.quantized(col("embedding")).as("q"))
      .select(posexplode(col("q")).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_q"),
        sum(col("x") * col("x")).as("sumsq_q"),
        min(col("x")).as("min_q"), max(col("x")).as("max_q"))
      .select(col("dim"), col("n"), col("sum_q"), col("sumsq_q"),
        col("min_q"), col("max_q"),
        expr("sum_q * 1000 div n").as("mean_milli"),
        (col("min_q") === col("max_q")).as("is_dead"))

  def dimStats(spark: SparkSession, dir: String): DataFrame =
    dimStatsOf(Tables.embeddings(spark, dir))

  /** Embedding-norm screen over the RAW (pre-normalization) vectors:
    * the distribution of squared norms in exact milli-component
    * integers, bucketed — the intake check that catches zero vectors
    * (which normalization would turn into NaN), truncated uploads, and
    * scale drift between embedding-model versions before anything
    * downstream consumes them. One narrow projection + one
    * map-side-combined groupBy over a bounded bucket domain. */
  def normStatsOf(vectors: DataFrame): DataFrame = {
    val milli = transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long"))
    vectors.select(ArrayOps.dot_long(milli, milli).as("norm2"))
      .groupBy(expr("norm2 div 1000000").as("bucket"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("norm2")).as("min_norm2"), max(col("norm2")).as("max_norm2"),
        sum(when(col("norm2") === 0L, 1L).otherwise(0L)).as("n_zero"))
  }

  def normStats(spark: SparkSession, dir: String): DataFrame =
    normStatsOf(Tables.embeddings(spark, dir))

  /** Dominant embedding direction by MATRIX-FREE power iteration — the
    * anisotropy diagnostic behind "all-but-the-top" post-processing:
    * embedding corpora concentrate mass on one dominant direction, and
    * retrieval quality improves when it is measured (and often
    * projected out). Each round is the classic distributed matvec
    * vᵣ₊₁ ∝ Aᵀ(Avᵣ): ONE scan computing per-row s = q·v (the broadcast
    * literal v), then dim-bounded partial sums Σ qⱼ·s map-side-combined
    * into 64 accumulators per partition — no shuffle wider than the
    * dimension count, at any corpus size. The driver folds only the
    * dim-length accumulator vector per round (a control scalar, like
    * the foreachBatch manifests) and milli-renormalizes by max|w| in
    * exact BigInt magnitude-with-sign arithmetic so the next round's
    * operands stay in long range.
    *
    * Exactness: quantized integer vectors, integer dots, floor
    * renormalization — the fixed-round chain replays bit-for-bit in the
    * oracle (HUGEINT intermediates there). Range analysis: the per-row
    * product qⱼ·s is bounded by q_max·s_max ≈ 10⁴·6.4·10⁸ = 6.4·10¹²
    * (safe in long), but the SUM over n rows reaches n·6.4·10¹² — a
    * plain long sum would wrap silently from n ≈ 1.4·10⁶ adversarial
    * rows. The accumulator therefore sums in DECIMAL(38,0) — exact to
    * 10³⁸, i.e. ~10²⁵ rows — and each round renormalizes from the
    * exact BigInt, so the ITERATION is exact at any corpus size. Only
    * the reported `w_raw` output column is long-typed; if the final
    * exact accumulator exceeds long range the fold THROWS
    * (ArithmeticException via longValueExact) rather than wrapping —
    * the caller's signal to pre-rescale the corpus or report v_milli
    * only.
    *
    * Output: one row per dimension — the final unnormalized accumulator
    * and the milli-normalized direction component. */
  def topDirectionOf(vectors: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = vectors.sparkSession
    val q = vectors.select(Dedup.quantized(col("embedding")).as("q")).persist()
    try {
      val first = q.select(size(col("q")).as("d")).take(1)
      if (first.isEmpty) {
        // empty corpus: a library caller's empty partition/tenant must
        // get an empty report, not a NoSuchElementException
        import spark.implicits._
        return Seq.empty[(Int, Long, Long)].toDF("dim", "w_raw", "v_milli")
      }
      val dim = first.head.getInt(0)
      var v = Array.fill(dim)(1L)
      var w = Array.fill(dim)(BigInt(0))
      for (_ <- 1 to rounds) {
        val vlit = array(v.toIndexedSeq.map(lit): _*)
        val rows = q
          .select(col("q"), ArrayOps.dot_long(col("q"), vlit).as("s"))
          .select(posexplode(col("q")).as(Seq("j", "qj")), col("s"))
          // product is long-safe (≤ ~6.4e12/row); the SUM is not — cast
          // to DECIMAL(38,0) so the accumulator is exact to 10³⁸. The
          // oracle keeps each round's w in HUGEINT (exact to 2¹²⁷) and
          // casts to BIGINT only in the final w_raw projection, so both
          // engines iterate exactly and fail loudly at the same place:
          // the long-typed output column (longValueExact below)
          .groupBy("j")
          .agg(sum((col("qj") * col("s")).cast("decimal(38,0)")).as("w"))
          .collect()
        w = Array.fill(dim)(BigInt(0))
        rows.foreach(r => w(r.getAs[Int]("j")) =
          BigInt(r.getAs[java.math.BigDecimal]("w").toBigIntegerExact))
        val wmax = w.iterator.map(_.abs).max max BigInt(1)
        // renormalize on MAGNITUDES with an explicit sign: |w|·1000/wmax
        // divides non-negatives, where floor and truncate agree in every
        // engine (negative integer division is floor in some engines,
        // truncate in others). Quotient ≤ 1000, so toLong is safe.
        v = w.map(x => x.signum * ((x.abs * 1000) / wmax).toLong)
      }
      import spark.implicits._
      // w_raw is long-typed output: fail loudly (never wrap) if the
      // exact accumulator outgrew long range — see the range note above
      v.indices.map(j => (j, w(j).bigInteger.longValueExact(), v(j)))
        .toDF("dim", "w_raw", "v_milli")
    } finally q.unpersist(blocking = false)
  }

  def topDirection(spark: SparkSession, dir: String): DataFrame =
    topDirectionOf(Tables.embeddings(spark, dir))

  /** K-CENTER CORESET (Gonzalez farthest-point greedy) — diversity
    * selection for training-data curation and active learning: starting
    * from the smallest id, each round adds the vector FARTHEST from the
    * chosen set (exact integer squared distance |v|² − 2v·c + |c|²,
    * deterministic min-id tie-break). The selected ids are the 2-approx
    * k-center cover; `d2_from_set` is the covering radius ladder — the
    * number a curation pipeline watches to choose k.
    *
    * Scale shape: each round is ONE scan computing a least() over ≤ k
    * codegen'd dots against broadcast literal centers, topped by
    * TakeOrderedAndProject(1) — no global sort, no shuffle beyond the
    * top-1 reduction; the driver holds only the k chosen vectors
    * (control scalars). Cost is k scans — the standard trade for exact
    * farthest-point at corpus scale. */
  def kcenterCoresetOf(vectors: DataFrame, k: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    val q = vectors
      .select(col("vec_id"), Dedup.quantized(col("embedding")).as("q"))
      .withColumn("n2", dot(col("q"), col("q")))
      .persist()
    try {
      val seedRows = q.orderBy(col("vec_id").asc).limit(1).collect()
      if (seedRows.isEmpty) {
        import spark.implicits._
        return Seq.empty[(Long, Long, Long)]
          .toDF("round", "center_id", "d2_from_set")
      }
      val seed = seedRows.head
      var chosen = List((seed.getAs[Long]("vec_id"),
        seed.getSeq[Long](1).toArray, seed.getAs[Long]("n2"), 0L))
      var exhausted = false
      for (_ <- 2 to k if !exhausted) {
        val dCol = chosen.map { case (_, cv, cn2, _) =>
          col("n2") - lit(2L) * dot(col("q"),
            array(cv.toIndexedSeq.map(lit): _*)) + lit(cn2)
        }.reduce(least(_, _))
        val top = q.select(col("vec_id"), col("q"), col("n2"), dCol.as("d"))
          .orderBy(col("d").desc, col("vec_id").asc).limit(1).head()
        val id = top.getAs[Long]("vec_id")
        // k > corpus size: once every vector is chosen the argmax
        // re-picks a chosen row at d = 0 — stop instead of duplicating
        if (chosen.exists(_._1 == id)) exhausted = true
        else chosen = chosen :+ ((id, top.getSeq[Long](1).toArray,
          top.getAs[Long]("n2"), top.getAs[Long]("d")))
      }
      import spark.implicits._
      chosen.zipWithIndex.map { case ((id, _, _, d), i) => (i + 1L, id, d) }
        .toDF("round", "center_id", "d2_from_set")
    } finally q.unpersist(blocking = false)
  }

  def kcenterCoreset(spark: SparkSession, dir: String): DataFrame =
    kcenterCoresetOf(Tables.embeddings(spark, dir))

  // -------------------------------------------------------------------
  // MMR diversified re-ranking
  // -------------------------------------------------------------------

  /** Input/output rows for the typed per-query MMR fold (public — the
    * deserializer's generated code instantiates them). */
  case class MmrCand(query_id: Long, vec_id: Long, rel: Long,
      qv: Array[Long])
  case class MmrPick(query_id: Long, sel_rank: Int, vec_id: Long,
      rel: Long, mmr: Long)

  val MmrPool = 30
  val MmrK = 10
  val MmrLambdaMilli = 700L

  /** Maximal-marginal-relevance re-rank: from each query's brute-force
    * top-[[MmrPool]] pool, greedily select [[MmrK]] results maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)` — the standard
    * redundancy-penalized retrieval diversifier (RAG context assembly
    * wants coverage, not 10 near-copies of the same passage). λ is in
    * milli-units and rel/sim are the exact integer dots of the quantized
    * vectors, so every comparison replays bit-for-bit in the oracle's
    * generated fixed-round SQL.
    *
    * Scale design: the greedy loop is inherently sequential PER QUERY but
    * embarrassingly parallel ACROSS queries, so it runs as a typed
    * flatMapGroups over query_id: per-group state is the bounded
    * pool (≤ pool·64 longs), work is O(k·pool) integer dots, and groups
    * spread over all executors — the idiomatic home for imperative
    * per-key logic no Column expression expresses. The corpus-sized part
    * (candidate generation) stays declarative in [[bruteForceTopKOf]]. */
  def mmrTopK(spark: SparkSession, dir: String, pool: Int = MmrPool,
      k: Int = MmrK, lambdaMilli: Long = MmrLambdaMilli,
      pred: Column => Column = isQuery): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    mmrTopKOf(emb, emb.filter(pred(col("vec_id"))), pool, k, lambdaMilli)
  }

  /** Library surface: MMR over arbitrary (vec_id, embedding) corpus +
    * query frames. */
  def mmrTopKOf(corpus: DataFrame, queries: DataFrame, pool: Int = MmrPool,
      k: Int = MmrK, lambdaMilli: Long = MmrLambdaMilli): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qcorpus = corpus
      .select(col("vec_id"), Dedup.quantized(col("embedding")).as("q"))
    val cands = bruteForceTopKOf(corpus, queries, pool)
      .join(qcorpus, "vec_id")
      .select(col("query_id"), col("vec_id"), col("dot").as("rel"),
        col("q").as("qv"))
      .as[MmrCand]
    mmrSelect(cands, k, lambdaMilli)
  }

  /** The greedy MMR fold over an ALREADY-BUILT candidate pool — public
    * so composed serving pipelines (the RAG flagship) can diversify a
    * fused ranking whose relevance is not a raw dot product (e.g. RRF
    * scores). Same per-key bounded fold as [[mmrTopKOf]]. */
  def mmrSelect(cands: org.apache.spark.sql.Dataset[MmrCand],
      k: Int = MmrK, lambdaMilli: Long = MmrLambdaMilli): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(_.vec_id) // ascending scan = lowest-id tie-break
      val n = cs.length
      def dotLL(a: Array[Long], b: Array[Long]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) { s += a(i) * b(i); i += 1 }
        s
      }
      val taken = new Array[Boolean](n)
      val maxSim = new Array[Long](n) // valid from round 2 on
      val out = Seq.newBuilder[MmrPick]
      var t = 1
      while (t <= math.min(k, n)) {
        var bi = -1; var best = Long.MinValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val ms = if (t == 1) 0L else maxSim(i)
            val sc = lambdaMilli * cs(i).rel - (1000L - lambdaMilli) * ms
            if (sc > best) { best = sc; bi = i }
          }
          i += 1
        }
        taken(bi) = true
        out += MmrPick(qid, t, cs(bi).vec_id, cs(bi).rel, best)
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val s = dotLL(cs(j).qv, cs(bi).qv)
            if (t == 1 || s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        t += 1
      }
      out.result().iterator
    }.toDF()
  }

  /** Generated fixed-round oracle for [[mmrTopK]]: round 1 is pure
    * max-rel; each later round anti-joins the selected set out, computes
    * max-sim-to-selected with one grouped join, scores
    * `λ·rel − (1−λ)·maxsim`, and picks the window argmax with the same
    * (score desc, vec_id asc) tie-break. All BIGINT arithmetic —
    * identical to the Spark fold's. */
  private def mmrOracle: String = mmrOracleFor(defaultQPred)

  private def mmrOracleFor(qpred: String => String): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH q AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(
      |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |scored AS (
      |  SELECT qs.vec_id AS query_id, c.vec_id,
      |         CAST(list_dot_product(qs.qv, c.qv) AS BIGINT) AS rel
      |  FROM q qs JOIN q c ON ${qpred("qs.vec_id")} AND c.vec_id <> qs.vec_id),
      |cand AS MATERIALIZED (
      |  SELECT query_id, r.vec_id, rel, q.qv FROM (
      |    SELECT query_id, vec_id, rel,
      |           row_number() OVER (PARTITION BY query_id
      |                              ORDER BY rel DESC, vec_id ASC) AS rank
      |    FROM scored) r JOIN q ON q.vec_id = r.vec_id
      |  WHERE r.rank <= $MmrPool),
      |sims AS MATERIALIZED (
      |  SELECT a.query_id, a.vec_id AS ai, b.vec_id AS bi,
      |         CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS sim
      |  FROM cand a JOIN cand b
      |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
      |sel1 AS MATERIALIZED (
      |  SELECT query_id, vec_id, rel, $MmrLambdaMilli * rel AS mmr,
      |         1 AS sel_rank
      |  FROM (SELECT query_id, vec_id, rel,
      |               row_number() OVER (PARTITION BY query_id
      |                                  ORDER BY rel DESC, vec_id ASC) AS rn
      |        FROM cand) WHERE rn = 1)""".stripMargin
    val oneMinus = 1000L - MmrLambdaMilli
    for (t <- 2 to MmrK) {
      val prev = s"sel${t - 1}"
      sb ++= s""",
        |ms$t AS (
        |  SELECT m.query_id, m.ai AS vec_id, max(m.sim) AS maxsim
        |  FROM sims m JOIN $prev s
        |    ON m.query_id = s.query_id AND m.bi = s.vec_id
        |  GROUP BY 1, 2),
        |pick$t AS (
        |  SELECT query_id, vec_id, rel, mmr, $t AS sel_rank FROM (
        |    SELECT c.query_id, c.vec_id, c.rel,
        |           $MmrLambdaMilli * c.rel - $oneMinus * ms$t.maxsim AS mmr,
        |           row_number() OVER (
        |             PARTITION BY c.query_id
        |             ORDER BY $MmrLambdaMilli * c.rel - $oneMinus * ms$t.maxsim DESC,
        |                      c.vec_id ASC) AS rn
        |    FROM cand c
        |    JOIN ms$t ON ms$t.query_id = c.query_id AND ms$t.vec_id = c.vec_id
        |    ANTI JOIN $prev s
        |      ON s.query_id = c.query_id AND s.vec_id = c.vec_id)
        |  WHERE rn = 1),
        |sel$t AS MATERIALIZED (
        |  SELECT * FROM $prev UNION ALL
        |  SELECT query_id, vec_id, rel, mmr, sel_rank FROM pick$t)""".stripMargin
    }
    sb ++= s"""
      |SELECT query_id, CAST(sel_rank AS INT) AS sel_rank, vec_id, rel, mmr
      |FROM sel$MmrK""".stripMargin
    sb.toString
  }

  // -------------------------------------------------------------------
  // Scalar quantization (SQ8) — 8-bit compressed corpus, asymmetric
  // distance
  // -------------------------------------------------------------------

  /** SQ8 asymmetric top-k: the corpus is compressed to PER-DIMENSION
    * 8-bit codes (linear [min, max] grid learned from the corpus — the
    * standard scalar-quantization index layout, 4 bytes → 1 byte per
    * dim) and queries stay full precision; scoring dequantizes the code
    * back to the grid point and takes the exact integer dot product. At
    * 100 TB the codes table is what fits in memory/SSD — this operator
    * IS the memory-budget story for the ANN family, and the one-off
    * code-build (a narrow pass + a dims-sized broadcast join + one
    * per-vector reassembly shuffle) amortizes like IVF training.
    *
    * Every step is integer floor arithmetic on the already-quantized
    * fixed-point vectors, so the DuckDB oracle replays the codes, the
    * dequantization and the ranking bit-for-bit. Recall vs the exact
    * arm is spec-checked ([[bruteForceTopK]] as yardstick). */
  def sq8TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val v = quantizedVectors(spark, dir).persist()
    val ex = v.select(col("vec_id"), posexplode(col("q")).as(Seq("pos", "x")))
    val dims = ex.groupBy("pos").agg(min("x").as("lo"), max("x").as("hi"))
    val recon = ex.join(broadcast(dims), "pos")
      .select(col("vec_id"), col("pos"),
        expr("lo + ((x - lo) * 255 div greatest(hi - lo, 1))" +
          " * (hi - lo) div 255").as("recon"))
    val ra = recon.groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("recon")))),
        s => s.getField("recon")).as("rq"))
    val qs = v.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    val scored = ra.join(broadcast(qs), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        dot(col("qv"), col("rq")).as("sq_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sq_dot", "rank")
  }

  // -------------------------------------------------------------------
  // Product quantization (PQ) — per-subspace codebooks, ADC scoring
  // -------------------------------------------------------------------

  /** The 64-dim space splits into `PqSubs` subspaces of `PqSubDim` dims;
    * each subspace gets a `PqCodebook`-entry codebook (seeded from the
    * first codewords at a fixed id step, then `PqIters` Lloyd rounds on
    * a 1-in-`PqTrainStride` sample). A corpus vector is stored as
    * `PqSubs` small codes — the Jégou et al. 2011 (TPAMI, "Product
    * Quantization for Nearest Neighbor Search") index layout. */
  val PqSubs = 8
  val PqSubDim = 8
  val PqCodebook = 64
  val PqSeedStep = 7
  val PqTrainStride = 3
  val PqIters = 1

  /** ADC short-list size per query, exact-reranked down to k — the
    * standard PQ serving split (codes select, originals confirm). */
  val PqPool = 50

  /** (vec_id, sub, sq): the corpus split into per-subspace slices — one
    * narrow row per (vector, subspace). */
  private def subVectors(v: DataFrame): DataFrame =
    v.select(col("vec_id"), explode(array((0 until PqSubs).map(m =>
      struct(lit(m).as("sub"),
        slice(col("q"), m * PqSubDim + 1, PqSubDim).as("sq"))): _*)).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.sq").as("sq"))

  /** Codebooks after `iters` [[lloyd]] rounds per subspace: min-L2
    * assignment on the sample, each codeword becoming the rounded
    * integer mean of its members. */
  private def pqCodebooks(v: DataFrame, iters: Int = PqIters): DataFrame = {
    val subs = subVectors(v)
    val seeds = subs
      .filter(col("vec_id") % PqSeedStep === 0 &&
        col("vec_id") < PqSeedStep * PqCodebook)
      .select(col("sub"), col("vec_id").as("code"), col("sq").as("cv"))
    lloyd(seeds, subs.filter(col("vec_id") % PqTrainStride === 0), "sq",
      Seq("sub"), "code", PqSubDim, maxDot = false, iters)(roundedMean)
  }

  /** ANN via PQ + asymmetric distance computation (ADC): the corpus is
    * stored as `PqSubs` codebook codes per vector (64 ints → 8 codes —
    * the byte-budget layout that keeps a 100 TB corpus's index in
    * memory); queries stay full precision. The candidate scan never
    * touches the original corpus vectors: a per-query lookup table
    * (query × sub × codeword partial dots — `queries·PqSubs·PqCodebook`
    * rows, broadcast) joins the code table on (sub, code) and the ADC
    * score is the SUM of partial dots — a map-side-combinable aggregate,
    * so the shuffle carries one row per (query, candidate). The ADC
    * top-`PqPool` short-list is then reranked by the EXACT integer dot
    * (the original vectors are fetched for `queries·PqPool` rows only —
    * the standard serving split: codes select, originals confirm).
    * Every step is deterministic integer arithmetic; the DuckDB oracle
    * ([[pqOracle]]) replays seeds, Lloyd rounds, encode, ADC and the
    * rerank bit-for-bit. Recall vs [[bruteForceTopK]] is spec-checked. */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 10,
      pred: Column => Column = isQuery): DataFrame = {
    val v = graft.scale.Scale.spread(quantizedVectors(spark, dir)).persist()
    val cents = pqCodebooks(v).persist()
    val codes = nearest(subVectors(v), "sq", cents, Seq("sub"), "code",
        maxDot = false)
      .select(col("vec_id"), col("sub"), col("code"))
    val qs = v.filter(pred(col("vec_id")))
    val lut = subVectors(qs)
      .join(cents, Seq("sub"))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"),
        dot(col("sq"), col("cv")).as("pdot"))
    val adc = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc_dot"))
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dot").desc, col("vec_id").asc)
    val pool = adc.withColumn("arank", row_number().over(wPool))
      .filter(col("arank") <= PqPool)
      .select("query_id", "vec_id")
    val scored = pool
      .join(v, "vec_id")
      .join(broadcast(qs.select(col("vec_id").as("query_id"),
        col("q").as("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"), dot(col("qv"), col("q")).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dot", "rank")
  }

  // -------------------------------------------------------------------
  // Registration
  // -------------------------------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "sim_topk_pq" -> ((s, d) => pqTopK(s, d)),
    "sim_topk_sq8" -> ((s, d) => sq8TopK(s, d)),
    "sim_topk_bruteforce" -> ((s, d) => bruteForceTopK(s, d)),
    "sim_topk_ann" -> ((s, d) => annTopK(s, d)),
    "sim_recall_audit" -> ((s, d) => annRecallAudit(s, d)),
    "sim_ivf_recall_audit" -> ((s, d) => ivfRecallAudit(s, d)),
    "sim_pq_recall_audit" -> ((s, d) => pqRecallAudit(s, d)),
    "sim_pq_recall_audit_fixedq" -> ((s, d) => pqRecallAuditFixedQ(s, d)),
    "sim_recall_audit_fixedq" -> ((s, d) => annRecallAuditFixedQ(s, d)),
    "sim_ivf_recall_audit_fixedq" -> ((s, d) => ivfRecallAuditFixedQ(s, d)),
    // Fixed-panel PRODUCTION twins of the serving arms (same fixture as
    // the recall-audit twins): the proportional forms co-scale queries
    // with the corpus — the occasional exhaustive gate, quadratic under
    // co-scaling by construction — while these serve the constant
    // 64-query panel at panel × corpus cost, linear in the corpus, the
    // shape a deployment actually runs continuously.
    "sim_topk_ann_fixedq" -> ((s, d) => annTopK(s, d, pred = isPanelQuery)),
    "sim_topk_pq_fixedq" -> ((s, d) => pqTopK(s, d, pred = isPanelQuery)),
    "sim_topk_mmr_fixedq" -> ((s, d) => mmrTopK(s, d, pred = isPanelQuery)),
    "sim_topk_tenant" -> ((s, d) => tenantAnnTopK(s, d)),
    "sim_topk_tenant_ivf" -> ((s, d) => tenantIvfTopK(s, d)),
    "sim_topk_ivf" -> ((s, d) => ivfTopK(s, d)),
    "sim_ivf_append_audit" -> ((s, d) => ivfAppendAudit(s, d)),
    "sim_ivf_split_maintenance" -> ((s, d) => ivfSplitMaintenance(s, d)),
    "sim_ivf_takedown_audit" -> ((s, d) => ivfTakedownAudit(s, d)),
    "sim_topk_mmr" -> ((s, d) => mmrTopK(s, d)),
    "dedup_semantic_prune" -> ((s, d) => semanticPrune(s, d)),
    "emb_label_outliers" -> ((s, d) => labelOutliers(s, d)),
    "emb_dim_stats" -> ((s, d) => dimStats(s, d)),
    "emb_norm_stats" -> ((s, d) => normStats(s, d)),
    "emb_top_direction" -> ((s, d) => topDirection(s, d)),
    "curation_coreset_kcenter" -> ((s, d) => kcenterCoreset(s, d)))

  private def bruteForceOracle: String = bruteForceOracleFor(defaultQPred)

  /** Query-predicate SQL fragments: given a qualified vec_id column
    * reference, return the query-membership condition. The fixed-panel
    * variant mirrors [[isPanelQuery]] exactly. */
  private val defaultQPred: String => String = c => s"$c % 200 = 0"
  private val panelQPred: String => String =
    c => s"$c % 200 = 0 AND $c < ${FixedPanelSize * 200L}"

  private def bruteForceOracleFor(qpred: String => String): String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(
      |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |scored AS (
      |  SELECT qs.vec_id AS query_id, c.vec_id,
      |         CAST(list_dot_product(qs.qv, c.qv) AS BIGINT) AS dot
      |  FROM q qs JOIN q c ON ${qpred("qs.vec_id")} AND c.vec_id <> qs.vec_id),
      |r AS (
      |  SELECT query_id, vec_id, dot,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY dot DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
      |FROM r WHERE rank <= 10""".stripMargin

  /** Replays [[annRecallAudit]] by nesting the two arms' full oracles as
    * CTE bodies — the truth and detector sets are therefore the SAME
    * rows the per-arm correctness gates already hash-check, and the
    * audit reduces to exact counting on top. */
  private def recallAuditOracle: String = recallAuditOracleFor(annOracle)

  private def ivfRecallAuditOracle: String = recallAuditOracleFor(ivfOracle)

  private def pqRecallAuditOracle: String = recallAuditOracleFor(pqOracle)

  /** Fixed-panel twin oracles: the SAME nested-arm construction with the
    * panel predicate substituted into BOTH arms' query selection. */
  private def pqRecallAuditFixedQOracle: String =
    recallAuditOracleFor(pqOracleFor(panelQPred),
      bruteForceOracleFor(panelQPred))

  private def annRecallAuditFixedQOracle: String =
    recallAuditOracleFor(annOracleFor(panelQPred),
      bruteForceOracleFor(panelQPred))

  private def ivfRecallAuditFixedQOracle: String =
    recallAuditOracleFor(ivfOracleFor(panelQPred),
      bruteForceOracleFor(panelQPred))

  /** Replays [[topDirectionOf]]'s fixed-round power iteration: the same
    * quantized vectors, the same all-ones start (round 1's s is just
    * list_sum), HUGEINT intermediates for the renormalization product,
    * and `//` floor division matching the driver's BigInt floor. */
  private def topDirectionOracle(rounds: Int = 3): String = {
    val sb = new StringBuilder
    sb ++= """WITH q AS (
      |  SELECT list_transform(embedding, x -> CAST(round(
      |    CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |      (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |s1 AS (SELECT qv, CAST(list_sum(qv) AS BIGINT) AS s FROM q)"""
      .stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |u$r AS (
        |  SELECT s, unnest([{'j': i - 1, 'qj': qv[i]}
        |                    for i in range(1, len(qv) + 1)]) AS u
        |  FROM s$r),
        |w$r AS (
        |  SELECT CAST(u.j AS INT) AS j, CAST(sum(u.qj * s) AS HUGEINT) AS w
        |  FROM u$r GROUP BY 1),
        |m$r AS (SELECT greatest(max(abs(w)), 1) AS wmax
        |        FROM w$r)""".stripMargin
      if (r < rounds) sb ++= s""",
        |v$r AS (
        |  SELECT list(CAST(CAST(sign(w) AS HUGEINT)
        |              * (abs(w) * 1000 // wmax) AS BIGINT)
        |              ORDER BY j) AS v
        |  FROM w$r CROSS JOIN m$r),
        |s${r + 1} AS (
        |  SELECT qv, CAST(list_dot_product(qv, v$r.v) AS BIGINT) AS s
        |  FROM q CROSS JOIN v$r)""".stripMargin
    }
    sb ++= s"""
      |SELECT j AS dim, CAST(w AS BIGINT) AS w_raw,
      |       CAST(CAST(sign(w) AS HUGEINT)
      |         * (abs(w) * 1000 // wmax) AS BIGINT)
      |         AS v_milli
      |FROM w$rounds CROSS JOIN m$rounds""".stripMargin
    sb.toString
  }

  private def recallAuditOracleFor(detSql: String,
      truthSql: String = bruteForceOracle): String =
    s"""WITH truth AS ($truthSql),
      |det AS ($detSql),
      |pq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_true
      |       FROM truth GROUP BY 1),
      |hq AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hit
      |       FROM truth t JOIN det d
      |         ON t.query_id = d.query_id AND t.vec_id = d.vec_id
      |       GROUP BY 1),
      |j AS (SELECT pq.query_id, n_true, coalesce(n_hit, 0) AS n_hit
      |      FROM pq LEFT JOIN hq USING (query_id))
      |SELECT count(*) AS n_queries,
      |       CAST(sum(n_true) AS BIGINT) AS n_truth,
      |       (SELECT CAST(count(*) AS BIGINT) FROM det) AS n_detected,
      |       CAST(sum(n_hit) AS BIGINT) AS n_hits,
      |       CAST(sum(n_hit) * 1000 // NULLIF(sum(n_true), 0) AS BIGINT)
      |         AS recall_milli,
      |       CAST(min(n_hit * 1000 // n_true) AS BIGINT)
      |         AS worst_recall_milli
      |FROM j""".stripMargin

  /** Oracle for the multi-table, multi-probe LSH ANN: the hyperplanes are
    * inlined as the SAME integer constants the Spark plan uses ([[plane]]),
    * and the query side replays the probe expansion (home bucket + the
    * flip-1-lowest-margin-bit neighbor, ties to the lowest plane index) —
    * so the candidate set, and therefore the (approximate) top-k itself,
    * is engine-independent and hash-exact. The plane dots are
    * integer-valued and bounded (|q|<=10000, |plane|<=1000, 64 dims →
    * <= 6.4e8), so DuckDB's double list_dot_product is exact and the
    * sign/margin comparisons are bit-identical to Spark's long
    * arithmetic. */
  private def annOracle: String = annOracleSql(tenantPrefixed = false)

  private def annOracleFor(qpred: String => String): String =
    annOracleSql(tenantPrefixed = false, qpred)

  /** Shared generator for [[annOracle]] and [[tenantAnnOracle]]: with
    * `tenantPrefixed`, every bucket expression gains the SAME high-bit
    * tenant prefix the Spark plan uses (`(vec_id // 7) % SimTenants`
    * shifted past the sign bits), and the output carries the query's
    * tenant — so candidate mining in the oracle, too, cannot cross
    * tenants. The flip mask only touches the low sign bits, so the
    * multi-probe XOR composes with the prefix unchanged. */
  private def annOracleSql(tenantPrefixed: Boolean,
      qpred: String => String = defaultQPred): String = {
    def planeLit(t: Int, k: Int) = plane(t, k, LshPlanes).mkString("[", ", ", "]")
    def pfx(idCol: String) =
      if (tenantPrefixed)
        s"(($idCol // 7) % $SimTenants) * ${1L << LshPlanes} + " else ""
    val bucketSelects = (0 until LshTables).map { t =>
      val bucket = (0 until LshPlanes).map { k =>
        s"(CASE WHEN list_dot_product(qv, ${planeLit(t, k)}) >= 0 THEN ${1 << k} ELSE 0 END)"
      }.mkString(" + ")
      s"  SELECT vec_id, qv, $t AS tbl, ${pfx("vec_id")}$bucket AS bucket FROM q"
    }.mkString("\n  UNION ALL\n")
    val queryProbeSelects = (0 until LshTables).map { t =>
      val ds = (0 until LshPlanes).map(k =>
        s"list_dot_product(qv, ${planeLit(t, k)}) AS d$k").mkString(",\n           ")
      val bucket = (0 until LshPlanes).map(k =>
        s"(CASE WHEN d$k >= 0 THEN ${1 << k} ELSE 0 END)").mkString(" + ")
      val flipArms = (0 until LshPlanes - 1).map { k =>
        val later = (k + 1 until LshPlanes).map(j => s"abs(d$k) <= abs(d$j)")
          .mkString(" AND ")
        s"WHEN $later THEN ${1 << k}"
      }.mkString(" ")
      val flip = s"CASE $flipArms ELSE ${1 << (LshPlanes - 1)} END"
      s"""  SELECT vec_id, $t AS tbl, ${pfx("vec_id")}$bucket AS bucket, $flip AS flip
         |  FROM (SELECT vec_id,
         |           $ds
         |        FROM q WHERE ${qpred("vec_id")})""".stripMargin
    }.mkString("\n  UNION ALL\n")
    // tenant_id sits SECOND, matching tenantAnnTopKOf's (query_id,
    // tenant_id, vec_id, dot, rank) — the driver compares by name, but
    // positional consumers and the sibling tenantIvfOracle expect the
    // same shape
    val tenantOut =
      if (tenantPrefixed) s"(query_id // 7) % $SimTenants AS tenant_id, " else ""
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(
       |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
       |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |bk AS (
       |$bucketSelects),
       |qp AS (
       |$queryProbeSelects),
       |qbk AS (
       |  SELECT vec_id, tbl, bucket FROM qp
       |  UNION ALL
       |  SELECT vec_id, tbl, xor(bucket, flip) AS bucket FROM qp),
       |cand AS (
       |  SELECT DISTINCT qs.vec_id AS query_id, c.vec_id
       |  FROM qbk qs JOIN bk c
       |    ON qs.tbl = c.tbl AND qs.bucket = c.bucket
       |   AND c.vec_id <> qs.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |         CAST(list_dot_product(qq.qv, cc.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN q qq ON qq.vec_id = cand.query_id
       |  JOIN q cc ON cc.vec_id = cand.vec_id),
       |r AS (
       |  SELECT query_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY dot DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, ${tenantOut}vec_id, dot, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  private def tenantAnnOracle: String = annOracleSql(tenantPrefixed = true)

  /** Oracle for the IVF ANN: the whole pipeline — stride seeds,
    * `IvfIters` integer-exact Lloyd rounds (member SUMs, not avg, so the
    * aggregate is exact long arithmetic; normalizing the sum vector
    * equals normalizing the mean), re-quantization, single-probe corpus
    * assignment and 3-probe query assignment — is deterministic
    * arithmetic, so DuckDB replays it bit-exactly. The refinement CTE
    * chain is GENERATED per round from the same `IvfIters` constant the
    * Spark side trains with (validated green at both 1 and 2), so
    * raising the iteration count never forks the oracle. */
  /** Final centroid CTE name after `IvfIters` generated Lloyd rounds. */
  private def centsCte: String =
    if (IvfIters == 0) "seeds" else s"cents_$IvfIters"

  /** Shared oracle prefix ending at `lists(vec_id, centroid_id)` — the
    * quantization, stride seeds, generated Lloyd chain, and single-probe
    * corpus assignment. [[ivfOracle]] and [[semanticPruneOracle]] both
    * splice onto this, so "the prune uses the SAME trained quantizer as
    * the index" is true by construction in the oracle too. */
  /** `basePred` restricts which vectors the quantizer is trained on and
    * which populate `lists` (default: all) — the append audit trains on
    * the base split only, everything else keeps the full corpus.
    * `source` is the relation the vectors come from (default the
    * embeddings table; the split-maintenance oracle passes the
    * clone-drift union). */
  private def ivfListsPrefix(
      basePred: String => String = _ => "TRUE",
      source: String = "embeddings"): String = {
    val qCte =
      s"""  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(
        |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
        |  FROM $source""".stripMargin
    // one Lloyd round = assign-to-prev -> dim sums -> renormalize ->
    // left-join carry-through; cents_0 is the seed table
    def round(i: Int): String = {
      val prev = if (i == 1) "seeds" else s"cents_${i - 1}"
      s"""sassign_$i AS (
         |  SELECT vec_id, centroid_id, qv FROM (
         |    SELECT s.vec_id, c.centroid_id, s.qv,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY CAST(list_dot_product(s.qv, c.cv) AS BIGINT) DESC,
         |                      c.centroid_id ASC) AS rn
         |    FROM samp s CROSS JOIN $prev c) WHERE rn = 1),
         |dsum_$i AS (
         |  SELECT centroid_id, i, CAST(sum(qv[i]) AS BIGINT) AS s
         |  FROM sassign_$i CROSS JOIN range(1, 65) t(i)
         |  GROUP BY centroid_id, i),
         |sv_$i AS (
         |  SELECT centroid_id, list(s ORDER BY i) AS svec
         |  FROM dsum_$i GROUP BY centroid_id),
         |refined_$i AS (
         |  SELECT centroid_id,
         |         list_transform(svec, x -> CASE WHEN norm = 0 THEN CAST(0 AS BIGINT)
         |           ELSE CAST(round(CAST(x AS DOUBLE) / norm * 10000) AS BIGINT) END) AS rcv
         |  FROM (SELECT centroid_id, svec,
         |          sqrt(list_reduce(list_prepend(0.0::DOUBLE,
         |            list_transform(svec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
         |            (a, b) -> a + b)) AS norm
         |        FROM sv_$i)),
         |cents_$i AS (
         |  SELECT c.centroid_id, COALESCE(r.rcv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN refined_$i r ON c.centroid_id = r.centroid_id)""".stripMargin
    }
    val refineChain = if (IvfIters == 0) "" else
      (1 to IvfIters).map(round).mkString("", ",\n", ",\n")
    s"""WITH q AS (
       |$qCte),
       |st AS (
       |  SELECT greatest($IvfCentroidStride,
       |           CAST(floor(sqrt(count(*))) AS BIGINT)) AS stride FROM q
       |  WHERE ${basePred("vec_id")}),
       |seeds AS (
       |  SELECT vec_id AS centroid_id, qv AS cv FROM q, st
       |  WHERE vec_id % stride = 0 AND ${basePred("vec_id")}),
       |samp AS (SELECT vec_id, qv FROM q
       |  WHERE vec_id % $IvfTrainStride = 0 AND ${basePred("vec_id")}),
       |$refineChain""".stripMargin +
    s"""lists AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT v.vec_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY CAST(list_dot_product(v.qv, c.cv) AS BIGINT) DESC,
       |                      c.centroid_id ASC) AS rn
       |    FROM q v CROSS JOIN $centsCte c
       |    WHERE ${basePred("v.vec_id")}) WHERE rn = 1)""".stripMargin
  }

  /** Oracle for [[ivfAppendAudit]]: the shared prefix trained on the
    * BASE split only (the frozen quantizer), then one full-corpus
    * single-probe assignment WITH dots, split into base/delta
    * aggregates and the two integer staleness gates. */
  private def ivfAppendOracle: String =
    ivfListsPrefix(id => s"$id % $IvfAppendMod < $IvfAppendBaseLt") + s""",
       |aa AS (
       |  SELECT vec_id, centroid_id, cdot FROM (
       |    SELECT v.vec_id, c.centroid_id,
       |           CAST(list_dot_product(v.qv, c.cv) AS BIGINT) AS cdot,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY CAST(list_dot_product(v.qv, c.cv) AS BIGINT) DESC,
       |                      c.centroid_id ASC) AS rn
       |    FROM q v CROSS JOIN $centsCte c) WHERE rn = 1),
       |b AS (SELECT * FROM aa WHERE vec_id % $IvfAppendMod < $IvfAppendBaseLt),
       |d AS (SELECT * FROM aa WHERE vec_id % $IvfAppendMod >= $IvfAppendBaseLt),
       |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_base,
       |              CAST(sum(cdot) // count(*) AS BIGINT) AS mean_cdot_base
       |       FROM b),
       |mb AS (SELECT CAST(max(n) AS BIGINT) AS max_list_base
       |       FROM (SELECT count(*) AS n FROM b GROUP BY centroid_id)),
       |sd AS (SELECT CAST(count(*) AS BIGINT) AS n_delta,
       |              CAST(sum(cdot) // count(*) AS BIGINT) AS mean_cdot_delta
       |       FROM d),
       |sa AS (SELECT CAST(max(n) AS BIGINT) AS max_list_after
       |       FROM (SELECT count(*) AS n FROM aa GROUP BY centroid_id)),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM $centsCte)
       |SELECT n_base, n_delta, n_lists, max_list_base, max_list_after,
       |       mean_cdot_base, mean_cdot_delta,
       |       CAST(CASE WHEN max_list_after * n_lists > 4 * (n_base + n_delta)
       |            THEN 1 ELSE 0 END AS BIGINT) AS retrain_balance,
       |       CAST(CASE WHEN mean_cdot_delta * 10 < mean_cdot_base * 9
       |            THEN 1 ELSE 0 END AS BIGINT) AS retrain_quality
       |FROM sb CROSS JOIN mb CROSS JOIN sd CROSS JOIN sa CROSS JOIN nl""".stripMargin

  /** Oracle for [[ivfSplitMaintenance]]: the shared prefix over the
    * clone-drift UNION (trained on base ids only — the frozen
    * quantizer), full assignment with dots, the 2× trigger, the
    * farthest-member split axis, rank-contiguous chunking, and both
    * alarm verdicts — every step integral, replaying [[splitParts]]
    * decision for decision. */
  private def ivfSplitOracle: String = {
    val driftSource =
      s"""(SELECT vec_id, embedding FROM embeddings
         |   UNION ALL
         |   SELECT e.vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
         |          a.embedding
         |   FROM embeddings e CROSS JOIN
         |     (SELECT embedding FROM embeddings WHERE vec_id = 0) a
         |   WHERE e.vec_id < $IvfDriftClones)""".stripMargin
    ivfListsPrefix(
      id => s"$id <= (SELECT max(vec_id) FROM embeddings)", driftSource) + s""",
       |aa AS (
       |  SELECT vec_id, centroid_id, cdot, qv FROM (
       |    SELECT v.vec_id, c.centroid_id, v.qv,
       |           CAST(list_dot_product(v.qv, c.cv) AS BIGINT) AS cdot,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY CAST(list_dot_product(v.qv, c.cv) AS BIGINT) DESC,
       |                      c.centroid_id ASC) AS rn
       |    FROM q v CROSS JOIN $centsCte c) WHERE rn = 1),
       |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_lists FROM $centsCte),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM aa),
       |szx AS (
       |  SELECT centroid_id, m,
       |         m * n_lists > $IvfSplitTriggerX * n_total AS overflow,
       |         CASE WHEN m * n_lists > $IvfSplitTriggerX * n_total
       |              THEN (m * n_lists + $IvfSplitTriggerX * n_total - 1)
       |                   // ($IvfSplitTriggerX * n_total)
       |              ELSE 1 END AS s
       |  FROM (SELECT centroid_id, CAST(count(*) AS BIGINT) AS m
       |        FROM aa GROUP BY 1) CROSS JOIN nl CROSS JOIN tot),
       |seed AS (
       |  SELECT centroid_id, qv AS aq FROM (
       |    SELECT a.centroid_id, a.qv,
       |           row_number() OVER (PARTITION BY a.centroid_id
       |             ORDER BY a.cdot ASC, a.vec_id ASC) AS rn
       |    FROM aa a JOIN szx USING (centroid_id) WHERE szx.overflow)
       |  WHERE rn = 1),
       |sm AS (
       |  SELECT centroid_id, vec_id, (rn - 1) * s // m AS chunk FROM (
       |    SELECT a.centroid_id, a.vec_id, szx.s, szx.m,
       |           row_number() OVER (PARTITION BY a.centroid_id
       |             ORDER BY CAST(list_dot_product(a.qv, seed.aq) AS BIGINT) DESC,
       |                      a.vec_id ASC) AS rn
       |    FROM aa a JOIN szx USING (centroid_id) JOIN seed USING (centroid_id)
       |    WHERE szx.overflow)),
       |km AS (
       |  SELECT a.centroid_id, a.vec_id, CAST(0 AS BIGINT) AS chunk
       |  FROM aa a JOIN szx USING (centroid_id) WHERE NOT szx.overflow),
       |aft AS (
       |  SELECT CAST(max(n) AS BIGINT) AS max_list_after FROM (
       |    SELECT centroid_id, chunk, count(*) AS n
       |    FROM (SELECT * FROM sm UNION ALL SELECT * FROM km)
       |    GROUP BY 1, 2)),
       |bef AS (
       |  SELECT CAST(max(m) AS BIGINT) AS max_list_before,
       |         CAST(sum(CASE WHEN overflow THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_overflow,
       |         CAST(sum(CASE WHEN overflow THEN s - 1 ELSE 0 END) AS BIGINT)
       |           AS n_splits_added
       |  FROM szx)
       |SELECT n_total, n_lists, n_overflow,
       |       n_lists + n_splits_added AS n_lists_after,
       |       max_list_before, max_list_after,
       |       CAST(CASE WHEN max_list_before * n_lists > $IvfAlarmX * n_total
       |            THEN 1 ELSE 0 END AS BIGINT) AS alarm_before,
       |       CAST(CASE WHEN max_list_after * (n_lists + n_splits_added) >
       |                      $IvfAlarmX * n_total
       |            THEN 1 ELSE 0 END AS BIGINT) AS alarm_after
       |FROM tot CROSS JOIN nl CROSS JOIN bef CROSS JOIN aft""".stripMargin
  }

  /** Oracle for [[tenantIvfTopK]]: the shared [[ivfListsPrefix]]
    * (tenant-GLOBAL quantizer — true in SQL exactly as in the plan)
    * plus the tenant-equality key on the candidate join, with the
    * registered binding's arithmetic tenant derivation. */
  private def tenantIvfOracle: String =
    ivfListsPrefix() + s""",
       |qlists AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT v.vec_id AS query_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY CAST(list_dot_product(v.qv, c.cv) AS BIGINT) DESC,
       |                      c.centroid_id ASC) AS rn
       |    FROM q v CROSS JOIN $centsCte c WHERE v.vec_id % 200 = 0) WHERE rn <= $IvfProbes),
       |cand AS (
       |  SELECT DISTINCT ql.query_id, l.vec_id
       |  FROM qlists ql JOIN lists l ON ql.centroid_id = l.centroid_id
       |   AND (l.vec_id // 7) % $SimTenants = (ql.query_id // 7) % $SimTenants
       |  WHERE l.vec_id <> ql.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |         CAST(list_dot_product(qq.qv, cc.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN q qq ON qq.vec_id = cand.query_id
       |  JOIN q cc ON cc.vec_id = cand.vec_id),
       |r AS (
       |  SELECT query_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY dot DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, (query_id // 7) % $SimTenants AS tenant_id,
       |       vec_id, dot, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin

  /** Oracle for [[ivfTakedownAudit]]: the shared full-corpus prefix,
    * per-list member/revoked counts, and the same 1/8 compaction
    * threshold — every verdict a pure integer fold over `lists`. */
  private[graft] def ivfTakedownOracle: String =
    ivfListsPrefix() + s""",
       |pl AS (
       |  SELECT centroid_id, CAST(count(*) AS BIGINT) AS m,
       |         CAST(sum(CASE WHEN vec_id % $TakedownMod = $TakedownRem
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS r
       |  FROM lists GROUP BY 1)
       |SELECT CAST(sum(m) AS BIGINT) AS n_total,
       |       CAST(sum(r) AS BIGINT) AS n_revoked,
       |       CAST(count(*) AS BIGINT) AS n_lists,
       |       CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_lists_hit,
       |       CAST(sum(CASE WHEN r > 0 AND r * $TakedownCompactDenom >= m
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lists_compact,
       |       CAST(sum(CASE WHEN r > 0 AND r * $TakedownCompactDenom < m
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lists_tombstone,
       |       CAST(sum(CASE WHEN r > 0 AND r * $TakedownCompactDenom < m
       |                     THEN r ELSE 0 END) AS BIGINT) AS n_tombstones_kept,
       |       CAST(sum(CASE WHEN r > 0 AND r * $TakedownCompactDenom >= m
       |                     THEN r ELSE 0 END) AS BIGINT) AS n_reclaimed,
       |       CAST(max(m - r) AS BIGINT) AS max_live_list
       |FROM pl""".stripMargin

  private def ivfOracle: String = ivfOracleFor(defaultQPred)

  private def ivfOracleFor(qpred: String => String): String =
    ivfListsPrefix() + s""",
       |qlists AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT v.vec_id AS query_id, c.centroid_id,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY CAST(list_dot_product(v.qv, c.cv) AS BIGINT) DESC,
       |                      c.centroid_id ASC) AS rn
       |    FROM q v CROSS JOIN $centsCte c WHERE ${qpred("v.vec_id")}) WHERE rn <= $IvfProbes),
       |cand AS (
       |  SELECT DISTINCT ql.query_id, l.vec_id
       |  FROM qlists ql JOIN lists l ON ql.centroid_id = l.centroid_id
       |  WHERE l.vec_id <> ql.query_id),
       |scored AS (
       |  SELECT cand.query_id, cand.vec_id,
       |         CAST(list_dot_product(qq.qv, cc.qv) AS BIGINT) AS dot
       |  FROM cand
       |  JOIN q qq ON qq.vec_id = cand.query_id
       |  JOIN q cc ON cc.vec_id = cand.vec_id),
       |r AS (
       |  SELECT query_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY dot DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin

  /** Oracle for [[semanticPrune]]: the shared [[ivfListsPrefix]] replays
    * the trained quantizer + corpus assignment; the within-cluster gate
    * replays Dedup's integer cosine test. Bounded: dot <= ~1.01e8, so
    * 25·dot² <= 2.6e17 < 2^63 — exact in BIGINT. */
  private def semanticPruneOracle: String =
    ivfListsPrefix() + s""",
       |pr AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM lists a
       |  JOIN lists b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |  JOIN q qa ON qa.vec_id = a.vec_id
       |  JOIN q qb ON qb.vec_id = b.vec_id
       |  WHERE CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT) > 0
       |    AND CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT)
       |        * CAST(list_dot_product(qa.qv, qb.qv) AS BIGINT) * 25
       |        > CAST(list_dot_product(qa.qv, qa.qv) AS BIGINT)
       |        * CAST(list_dot_product(qb.qv, qb.qv) AS BIGINT) * 4)
       |SELECT l.vec_id, l.centroid_id, (pr.vec_id IS NOT NULL) AS pruned
       |FROM lists l LEFT JOIN pr ON l.vec_id = pr.vec_id""".stripMargin

  /** Final codebook CTE name after `PqIters` generated Lloyd rounds. */
  private def pqCentsCte: String =
    if (PqIters == 0) "seeds" else s"pcents_$PqIters"

  /** Oracle for [[pqTopK]]: subspace slicing, seed codebooks, `PqIters`
    * generated Lloyd rounds (integer SUM/COUNT; the one rounded mean
    * division replays with the same half-away-from-zero rule), encode,
    * the per-query LUT and the ADC sum — all deterministic arithmetic,
    * generated from the SAME constants the Spark side trains with. */
  private def pqOracle: String = pqOracleFor(defaultQPred)

  private def pqOracleFor(qpred: String => String): String = {
    val subSelects = (0 until PqSubs).map { m =>
      s"  SELECT vec_id, $m AS sub, list_slice(qv, ${m * PqSubDim + 1}, " +
        s"${(m + 1) * PqSubDim}) AS sq FROM q"
    }.mkString("\n  UNION ALL\n")
    def d2(v: String, c: String) =
      s"CAST(list_dot_product($v.sq, $v.sq) - 2 * list_dot_product($v.sq, $c.cv)" +
        s" + list_dot_product($c.cv, $c.cv) AS BIGINT)"
    def round(i: Int): String = {
      val prev = if (i == 1) "seeds" else s"pcents_${i - 1}"
      s"""passign_$i AS (
         |  SELECT vec_id, sub, code, sq FROM (
         |    SELECT s.vec_id, s.sub, c.code, s.sq,
         |           row_number() OVER (PARTITION BY s.vec_id, s.sub
         |             ORDER BY ${d2("s", "c")} ASC, c.code ASC) AS rn
         |    FROM psamp s JOIN $prev c ON s.sub = c.sub) WHERE rn = 1),
         |pdsum_$i AS (
         |  SELECT sub, code, i, CAST(sum(sq[i]) AS BIGINT) AS s, count(*) AS n
         |  FROM passign_$i CROSS JOIN range(1, ${PqSubDim + 1}) t(i)
         |  GROUP BY sub, code, i),
         |prefined_$i AS (
         |  SELECT sub, code,
         |         list(CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS rcv
         |  FROM pdsum_$i GROUP BY sub, code),
         |pcents_$i AS (
         |  SELECT c.sub, c.code, COALESCE(r.rcv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN prefined_$i r
         |    ON c.sub = r.sub AND c.code = r.code)""".stripMargin
    }
    val refineChain = if (PqIters == 0) "" else
      (1 to PqIters).map(round).mkString("", ",\n", ",\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(
       |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
       |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |subs AS (
       |$subSelects),
       |seeds AS (
       |  SELECT sub, vec_id AS code, sq AS cv FROM subs
       |  WHERE vec_id % $PqSeedStep = 0 AND vec_id < ${PqSeedStep * PqCodebook}),
       |psamp AS (SELECT vec_id, sub, sq FROM subs WHERE vec_id % $PqTrainStride = 0),
       |$refineChain""".stripMargin +
    s"""codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT s.vec_id, s.sub, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.sub
       |             ORDER BY ${d2("s", "c")} ASC, c.code ASC) AS rn
       |    FROM subs s JOIN $pqCentsCte c ON s.sub = c.sub) WHERE rn = 1),
       |lut AS (
       |  SELECT s.vec_id AS query_id, s.sub, c.code,
       |         CAST(list_dot_product(s.sq, c.cv) AS BIGINT) AS pdot
       |  FROM subs s JOIN $pqCentsCte c ON s.sub = c.sub
       |  WHERE ${qpred("s.vec_id")}),
       |adc AS (
       |  SELECT l.query_id, k.vec_id, CAST(sum(l.pdot) AS BIGINT) AS adc_dot
       |  FROM codes k JOIN lut l ON k.sub = l.sub AND k.code = l.code
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2),
       |pool AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adc_dot DESC, vec_id ASC) AS arank
       |    FROM adc) WHERE arank <= $PqPool),
       |scored AS (
       |  SELECT p.query_id, p.vec_id,
       |         CAST(list_dot_product(qq.qv, cc.qv) AS BIGINT) AS dot
       |  FROM pool p
       |  JOIN q qq ON qq.vec_id = p.query_id
       |  JOIN q cc ON cc.vec_id = p.vec_id),
       |r AS (
       |  SELECT query_id, vec_id, dot,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY dot DESC, vec_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** Replays the greedy farthest-point rounds: the same min-id seed,
    * the same cumulative least() distance chain, the same
    * (d DESC, vec_id ASC) argmax — all integer. Degenerate corpora
    * (n < k): the Spark side stops at the first re-picked center
    * (`exhausted`); here the fixed k-round chain keeps re-picking the
    * min-id row at d = 0, so a first-occurrence-per-center filter over
    * the union is EXACTLY that stop — once every vector is chosen (or
    * duplicated at distance 0) every later round's argmax lands on the
    * seed, which round 1 already owns. Surviving rounds stay the
    * consecutive prefix 1..m, matching the Spark numbering. */
  private def kcenterOracle(k: Int = 8): String = {
    val sb = new StringBuilder
    sb ++= """WITH q0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(round(
      |    CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      |      list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
      |      (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |             CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q0),
      |c1 AS (SELECT vec_id, qv, n2, CAST(0 AS BIGINT) AS d
      |       FROM n ORDER BY vec_id ASC LIMIT 1),
      |d1 AS (
      |  SELECT t.vec_id, t.qv, t.n2,
      |         t.n2 - 2 * CAST(list_dot_product(t.qv, c.qv) AS BIGINT) + c.n2
      |           AS d
      |  FROM n t CROSS JOIN c1 c)""".stripMargin
    for (r <- 2 to k) {
      sb ++= s""",
        |c$r AS (SELECT vec_id, qv, n2, d FROM d${r - 1}
        |        ORDER BY d DESC, vec_id ASC LIMIT 1)""".stripMargin
      if (r < k) sb ++= s""",
        |d$r AS (
        |  SELECT t.vec_id, t.qv, t.n2,
        |         least(t.d, t.n2
        |           - 2 * CAST(list_dot_product(t.qv, c.qv) AS BIGINT) + c.n2)
        |           AS d
        |  FROM d${r - 1} t CROSS JOIN c$r c)""".stripMargin
    }
    sb ++= (1 to k).map(r =>
      s"SELECT CAST($r AS BIGINT) AS round, vec_id AS center_id," +
        s" d AS d2_from_set FROM c$r")
      .mkString(",\npicked AS (\n", "\nUNION ALL\n", ")")
    sb ++= """
      |SELECT round, center_id, d2_from_set FROM (
      |  SELECT round, center_id, d2_from_set,
      |         row_number() OVER (PARTITION BY center_id
      |                            ORDER BY round ASC) AS rn
      |  FROM picked) WHERE rn = 1""".stripMargin
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "curation_coreset_kcenter" -> kcenterOracle(),
    "sim_topk_pq" -> pqOracle,
    "sim_topk_sq8" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(
        |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, unnest([{'pos': i - 1, 'x': qv[i]}
        |                         for i in range(1, len(qv) + 1)]) AS u
        |  FROM q),
        |f AS (SELECT vec_id, CAST(u.pos AS INT) AS pos, u.x AS x FROM e),
        |dims AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM f GROUP BY 1),
        |recon AS (
        |  SELECT vec_id, f.pos,
        |         lo + ((x - lo) * 255 // greatest(hi - lo, 1))
        |           * (hi - lo) // 255 AS recon
        |  FROM f JOIN dims USING (pos)),
        |qs AS (SELECT vec_id AS query_id, pos, x FROM f WHERE vec_id % 200 = 0),
        |scored AS (
        |  SELECT qs.query_id, r.vec_id,
        |         CAST(sum(qs.x * r.recon) AS BIGINT) AS sq_dot
        |  FROM qs JOIN recon r ON qs.pos = r.pos AND r.vec_id <> qs.query_id
        |  GROUP BY 1, 2),
        |rk AS (
        |  SELECT query_id, vec_id, sq_dot,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY sq_dot DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, sq_dot, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 10""".stripMargin,
    "sim_topk_ann" -> annOracle,
    "sim_topk_tenant" -> tenantAnnOracle,
    "sim_topk_tenant_ivf" -> tenantIvfOracle,
    "sim_topk_ivf" -> ivfOracle,
    "sim_ivf_append_audit" -> ivfAppendOracle,
    "sim_ivf_split_maintenance" -> ivfSplitOracle,
    "sim_ivf_takedown_audit" -> ivfTakedownOracle,
    "sim_topk_mmr" -> mmrOracle,
    "dedup_semantic_prune" -> semanticPruneOracle,
    "emb_norm_stats" ->
      """WITH m AS (
        |  SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, CAST(list_dot_product(q, q) AS BIGINT) AS norm2
        |  FROM m)
        |SELECT norm2 // 1000000 AS bucket, count(*) AS n_vectors,
        |       min(norm2) AS min_norm2, max(norm2) AS max_norm2,
        |       CAST(sum(CASE WHEN norm2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_zero
        |FROM n GROUP BY 1""".stripMargin,
    "emb_dim_stats" ->
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(round(
        |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |e AS (
        |  SELECT unnest([{'dim': i - 1, 'x': qv[i]}
        |                 for i in range(1, len(qv) + 1)]) AS u
        |  FROM q),
        |f AS (SELECT CAST(u.dim AS INT) AS dim, u.x AS x FROM e)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(x) AS BIGINT) AS sum_q,
        |       CAST(sum(x * x) AS BIGINT) AS sumsq_q,
        |       min(x) AS min_q, max(x) AS max_q,
        |       CAST(sum(x) AS BIGINT) * 1000 // CAST(count(*) AS BIGINT)
        |         AS mean_milli,
        |       min(x) = max(x) AS is_dead
        |FROM f GROUP BY dim""".stripMargin,
    "sim_topk_bruteforce" -> bruteForceOracle,
    "sim_recall_audit" -> recallAuditOracle,
    "sim_ivf_recall_audit" -> ivfRecallAuditOracle,
    "sim_pq_recall_audit" -> pqRecallAuditOracle,
    "sim_pq_recall_audit_fixedq" -> pqRecallAuditFixedQOracle,
    "sim_recall_audit_fixedq" -> annRecallAuditFixedQOracle,
    "sim_ivf_recall_audit_fixedq" -> ivfRecallAuditFixedQOracle,
    // fixed-panel serving twins: the per-arm oracles with the panel
    // predicate substituted — same generated SQL, same arithmetic
    "sim_topk_ann_fixedq" -> annOracleFor(panelQPred),
    "sim_topk_pq_fixedq" -> pqOracleFor(panelQPred),
    "sim_topk_mmr_fixedq" -> mmrOracleFor(panelQPred),
    "emb_top_direction" -> topDirectionOracle(),
    // Exact while every intermediate stays under 2^53 (list_dot_product
    // sums in double): true at the driver's sf0.01 and the sf0.1 gate;
    // the Spark side is raw long arithmetic and exact at any scale.
    "emb_label_outliers" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |         list_transform(embedding, x -> CAST(round(
        |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
        |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
        |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |s AS (
        |  SELECT label, i, sum(qv[i]) AS sd
        |  FROM q CROSS JOIN range(1, 65) t(i)
        |  GROUP BY label, i),
        |sv AS (
        |  SELECT label, list(CAST(sd AS BIGINT) ORDER BY i) AS svec
        |  FROM s GROUP BY label),
        |c AS (
        |  SELECT q.label, count(*) AS n FROM q GROUP BY 1),
        |scored AS (
        |  SELECT q.label, q.vec_id,
        |         c.n * c.n * CAST(list_dot_product(q.qv, q.qv) AS BIGINT)
        |           - 2 * c.n * CAST(list_dot_product(q.qv, sv.svec) AS BIGINT)
        |           + CAST(list_dot_product(sv.svec, sv.svec) AS BIGINT) AS score
        |  FROM q JOIN c ON q.label = c.label JOIN sv ON q.label = sv.label),
        |r AS (
        |  SELECT label, vec_id, score,
        |         row_number() OVER (PARTITION BY label
        |                            ORDER BY score DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT label, CAST(rank AS INT) AS rank, vec_id, score
        |FROM r WHERE rank <= 3""".stripMargin)
}
