package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Tables

/** E2E RAG-serving flagship — the READ-path twin of the curation
  * flagship (graft.pipeline.Lineage.e2e_curation_flagship): the full
  * query-serving pipeline a retrieval-augmented consumer runs against a
  * curated corpus, composed as ONE integer-exact plan:
  *
  *  1. query mining — every 200th document is a query (the fixture the
  *     whole sim/retrieval family shares); its lexical form is its top-3
  *     distinctive keywords ([[Retrieval.queryKeywordsOf]]), its
  *     semantic form its aligned embedding;
  *  2. lexical arm — TWO-PHASE exact retrieval ([[TextRetrievalOps]]'s
  *     WAND/MaxScore shape, here with DATA-DERIVED terms): BM25 + the
  *     proximity upper bound, per-query θ from the top-k seeds' full
  *     scores, positional rerank of survivors only, top-50 per query;
  *  3. semantic arm — exact cosine top-50
  *     ([[Similarity.bruteForceTopKOf]]);
  *  4. fusion — Reciprocal Rank Fusion over the two arms' ranks
  *     ([[Retrieval.hybridRrfOf]]'s arithmetic);
  *  5. diversification — MMR over the fused top-[[Similarity.MmrPool]]
  *     pool ([[Similarity.mmrSelect]] with rel = the RRF score and
  *     pairwise sims from the quantized embeddings), final
  *     [[Similarity.MmrK]] per query.
  *
  * The DuckDB oracle is the BRUTE-FORCE composition: full (BM25 +
  * proximity) scores for every lexical candidate — so a hash match
  * proves the θ-prune lossless inside the composition — then the same
  * fusion and the same generated MMR rounds. Every stage is integral
  * (milli BM25, integer positions, integer RRF, integer dots), so the
  * pipeline replays bit-for-bit.
  *
  * Scale shape, per stage: the corpus tokenizes ONCE (persisted
  * projection); keyword mining's df shuffle is vocabulary-bounded; the
  * lexical postings explode is pruned to query-term matches before any
  * shuffle; the positional phase touches only θ-seeds + survivors
  * (O(Σ_q k_q) docs); the semantic arm broadcasts the query side and
  * scans the corpus once; fusion joins two ≤ 50·|queries|-row arm
  * tables; MMR's quadratic fold runs per query over a ≤ 30-row pool.
  * Nothing downstream of the two arm scans ever touches the corpus
  * again.
  */
object RagFlagship {

  /** Per-arm candidate depth (shared with [[Retrieval.ArmDepth]]). */
  private val ArmDepth = Retrieval.ArmDepth

  /** Corpus-proportional query predicate (the sim/retrieval family
    * fixture) and its FIXED-PANEL twin: the proportional form co-scales
    * queries with the corpus — quadratic under co-scaling, correct for
    * an occasional exhaustive serve (measured ~20x at the second
    * decade), unaffordable as the continuously-run shape — while the
    * fixed 64-query panel keeps serving cost panel × corpus, linear in
    * the corpus forever. The predicate and panel size are the SHARED
    * fixture constants ([[Retrieval.isQuery]] /
    * [[Retrieval.FixedPanelSize]]) — one home, so the "same fixture as
    * the sim `_fixedq` twins" claim cannot drift. */
  private def isQuery(id: org.apache.spark.sql.Column) = Retrieval.isQuery(id)
  private def isPanelQuery(id: org.apache.spark.sql.Column) =
    isQuery(id) && id < lit(Retrieval.FixedPanelSize * Retrieval.QueryStride)

  /** Library surface: serve every query in `docs`/`embs` (aligned ids)
    * selected by `qpred`. Output: (query_id, sel_rank, doc_id,
    * rrf_milli, mmr) — [[Similarity.MmrK]] rows per query. */
  def ragServeOf(docs: DataFrame, embs: DataFrame,
      qpred: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        isQuery): DataFrame =
    ragServeWithHandles(docs, embs, qpred)._1

  /** [[ragServeOf]] plus its persisted intermediates, for callers that
    * must release them after their terminal action — the streaming twin
    * serves an unbounded sequence of micro-batches, and each serve's
    * plan embeds that batch's id list, so without per-batch unpersist
    * the cache grows one (tokenized-corpus + keywords + candidates)
    * triple per batch forever. Batch callers keep the module cache
    * contract (Bench/Verify clearCache() between queries) via
    * [[ragServeOf]]. The handles must not be released before the
    * caller's final action on the returned frame — its lazy plan still
    * reads them. */
  private[ml] def ragServeWithHandles(docs: DataFrame, embs: DataFrame,
      qpred: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : (DataFrame, Seq[DataFrame]) = {
    val spark = docs.sparkSession
    import spark.implicits._

    // -- stage 1: tokenize once; mine each query's lexical form --------
    val tdocs = Retrieval.tokenizedOf(docs).persist()
    val qk = Retrieval.queryKeywordsOf(tdocs, pred = qpred).persist()

    // -- stage 2: lexical arm (two-phase exact, derived terms) ---------
    // candidates: BM25 + the proximity upper bound; two consumers
    // (θ seed + survivor filter) -> cache
    val cand = TextOps.withUpperBound(Retrieval.bm25PerQueryOf(tdocs, qk))
      .persist()
    // THE shared per-query θ-rerank ([[TextRetrievalOps.proxTopKOf]]),
    // with the mined keyword table as each query's term set
    val lexTop = TextOps.proxTopKOf(tdocs, qk, cand, ArmDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))

    // -- stage 3: semantic arm ------------------------------------------
    val semTop = Similarity.bruteForceTopKOf(
      embs, embs.filter(qpred(col("vec_id"))), ArmDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("sem_rank"))

    // -- stage 4: RRF fusion --------------------------------------------
    val fused = lexTop.join(semTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr(s"1000000 div (${Retrieval.RrfK} + lex_rank)"), lit(0L))
          + coalesce(expr(s"1000000 div (${Retrieval.RrfK} + sem_rank)"),
            lit(0L)))

    // -- stage 5: pool + MMR diversification ----------------------------
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("doc_id").asc)
    val pool = fused.withColumn("pool_rank", row_number().over(wPool))
      .filter(col("pool_rank") <= Similarity.MmrPool)
      .select("query_id", "doc_id", "rrf_milli")
    val qemb = embs.select(col("vec_id"),
      Dedup.quantized(col("embedding")).as("qv"))
    val cands = pool
      .join(qemb, pool("doc_id") === qemb("vec_id"))
      .select(col("query_id"), col("doc_id").as("vec_id"),
        col("rrf_milli").as("rel"), col("qv"))
      .as[Similarity.MmrCand]
    val out = Similarity.mmrSelect(cands)
      .select(col("query_id"), col("sel_rank"), col("vec_id").as("doc_id"),
        col("rel").as("rrf_milli"), col("mmr"))
    (out, Seq(tdocs, qk, cand))
  }

  def ragServe(spark: SparkSession, dir: String): DataFrame =
    ragServeOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  def ragServeFixedQ(spark: SparkSession, dir: String): DataFrame =
    ragServeOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      isPanelQuery)

  /** STREAMING serving twin — the read-path symmetry close: queries
    * arrive as a continuous id feed instead of a panel, and each
    * micro-batch is served against the STATIC curated state (tokenized
    * corpus, postings, embeddings) by the same composed plan the batch
    * flagship runs. The form is `foreachBatch` stream-static, because
    * one serve is itself a multi-stage DAG (two ranking windows, two
    * arms, fusion, an iterative MMR) that no single stateful streaming
    * operator expresses — the reference's on-demand per-case serve
    * (api/routes/search.py) has exactly this shape, one bounded request
    * batch against a static index. The per-batch `collect()` is the
    * bounded driver control fold convention: a serving micro-batch IS
    * the query-id panel (≤ panel width), never corpus data.
    *
    * Batch-decomposability makes the twin exact, not approximate: every
    * serve stage is per-query (keyword mining, BM25, θ/survivors,
    * semantic top-k, RRF, MMR all partition by query_id) while the
    * corpus-global inputs (df, avgdl, n_docs) do not depend on WHICH
    * queries are in flight — so the union of micro-batch serve outputs
    * over ANY split of a panel equals the one-shot batch serve.
    * RagStreamSpec mechanizes that equality against [[ragServeFixedQ]]
    * under random splits of the fixed panel.
    *
    * Delivery semantics: AT-LEAST-ONCE per query id. Dedup is
    * per-micro-batch only (`distinct()` below); an id re-sent in a
    * later batch is served again — the serving answer is deterministic
    * against the static state, so the re-serve is a harmless identical
    * row set, but the union-equals-batch equality above is stated for
    * DISJOINT feeds. Callers needing exactly-once union semantics use
    * [[ragServeExactlyOnceStreamOf]] — the documented escape hatch,
    * a keyed-state dropDuplicates upstream of this sink.
    *
    * Cache lifecycle: each serve persists its per-batch intermediates
    * (tokenized corpus, keywords, candidates — their plans embed the
    * batch's id list, so they are NOT shared across batches); they are
    * released after the sink's action returns, so a long-running feed
    * holds at most one batch's cache at a time.
    *
    * `checkpoint`: durable checkpoint location for the query's offsets
    * and (for the exactly-once twin) its dedup state store. None = a
    * session-temp checkpoint — fine for a single healthy run (the spec
    * fixture), but state does not survive a restart; a deployment
    * passes a real path (the WorkerLoopStreamSpec restart convention). */
  def ragServeStreamOf(queryIds: Dataset[Long], docs: DataFrame,
      embs: DataFrame, checkpoint: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery = {
    val writer = queryIds.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        val ids = batch.distinct().collect()
        if (ids.nonEmpty) {
          val (out, handles) =
            ragServeWithHandles(docs, embs, c => c.isInCollection(ids))
          try sink(out)
          finally handles.foreach(_.unpersist(blocking = false))
        }
      }
    checkpoint.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** [[ragServeStreamOf]] with exactly-once UNION semantics per query
    * id within a query run: a stateful `dropDuplicates` on the id
    * ahead of the serving sink, so an id re-sent in a later
    * micro-batch (an impatient client, an at-least-once upstream
    * topic) is served once and union-equals-batch holds for
    * OVERLAPPING feeds too (RagStreamSpec proves it on overlapping
    * panel splits). Scope of the claim: the dedup state lives in the
    * query's checkpoint — pass a durable `checkpoint` for it to
    * survive a restart (None = single healthy run only) — and the
    * SINK boundary stays foreachBatch's standard at-least-once: a
    * micro-batch retried after a partial sink failure re-invokes the
    * sink with the same rows (idempotent/transactional sinks absorb
    * this; the serve itself is deterministic against the static
    * state, so any such replay is an identical row set). State is one
    * state-store entry per distinct id ever served — bounded by the
    * id universe, not the feed length; a deployment with an unbounded
    * id space and an event-time column would add `withWatermark` so
    * expired ids age out of the store (and accepts a re-serve past
    * the watermark — the standard trade). */
  def ragServeExactlyOnceStreamOf(queryIds: Dataset[Long], docs: DataFrame,
      embs: DataFrame, checkpoint: Option[String] = None)(
      sink: DataFrame => Unit): StreamingQuery =
    // dropDuplicates() over all columns — the single id column for a
    // Dataset[Long], without assuming the column is still named `value`
    // (a renamed-then-.as[Long] input keeps its caller-given name)
    ragServeStreamOf(queryIds.dropDuplicates(), docs, embs, checkpoint)(sink)

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "e2e_rag_serving" -> ((s, d) => ragServe(s, d)),
    "e2e_rag_serving_fixedq" -> ((s, d) => ragServeFixedQ(s, d)))

  /** Brute-force composed oracle: keyword mining + full lexical scores
    * for EVERY candidate (no θ — the Spark plan's prune must be
    * lossless inside the composition) + exact semantic arm + RRF + the
    * generated MMR rounds with rel = the RRF score. The keyword CTEs
    * and both arms replay [[Retrieval]]'s hybrid oracle; the proximity
    * bonus replays [[TextRetrievalOps]]'s; the MMR chain replays
    * [[Similarity]]'s — the composition is new, every ingredient is the
    * already-proven arithmetic. */
  private def ragOracle: String =
    ragOracleFor(c => s"$c % ${Retrieval.QueryStride} = 0")

  private def ragOracleFixedQ: String = ragOracleFor(
    c => s"$c % ${Retrieval.QueryStride} = 0" +
      s" AND $c < ${Retrieval.FixedPanelSize * Retrieval.QueryStride}")

  private def ragOracleFor(qpred: String => String): String = {
    def log2m(x: String): String =
      s"(length(bin($x)) - 1) * 1000" +
        s" + ($x) * 1000 // CAST(pow(2, length(bin($x)) - 1) AS BIGINT) - 1000"
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    val lambda = Similarity.MmrLambdaMilli
    val oneMinus = 1000L - lambda
    val sb = new StringBuilder
    sb ++= s"""WITH d AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |ta AS (SELECT doc_id, unnest(toks) AS token FROM d),
       |tfa AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM ta WHERE token NOT IN $stop GROUP BY 1, 2),
       |dfa AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfa GROUP BY 1),
       |qt AS (
       |  SELECT doc_id AS query_id, token FROM (
       |    SELECT tfa.doc_id, tfa.token,
       |           row_number() OVER (PARTITION BY tfa.doc_id
       |             ORDER BY tfa.tf DESC, dfa.df ASC, tfa.token ASC) AS r
       |    FROM tfa JOIN dfa USING (token) WHERE ${qpred("tfa.doc_id")})
       |  WHERE r <= ${Retrieval.QueryTerms}),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(len(toks)) AS BIGINT) * 1000
       |           // CAST(count(*) AS BIGINT) AS avgdl_milli
       |  FROM d),
       |tl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS token
       |       FROM d),
       |tf AS (
       |  SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM tl WHERE token IN (SELECT token FROM qt) GROUP BY 1, 2, 3),
       |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |c AS (
       |  SELECT qt.query_id, tf.doc_id,
       |         ${log2m("2 * n_docs + 2")} - (${log2m("2 * df + 1")}) AS idf_milli,
       |         tf * 1000 + 1200 * (250 + 750 * (dl * 1000000 // avgdl_milli) // 1000)
       |           // 1000 AS den_milli,
       |         tf
       |  FROM tf JOIN qt USING (token) JOIN dfq USING (token) CROSS JOIN s
       |  WHERE tf.doc_id <> qt.query_id),
       |lex AS (
       |  SELECT query_id, doc_id,
       |         CAST(sum(idf_milli * (tf * 2200 * 1000 // den_milli) // 1000)
       |           AS BIGINT) AS bm25_milli
       |  FROM c GROUP BY 1, 2),
       |idx AS (
       |  SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS i FROM d),
       |pos AS (
       |  SELECT doc_id, i AS pos, toks[i] AS token FROM idx
       |  WHERE toks[i] IN (SELECT token FROM qt)),
       |pq AS (
       |  SELECT qt.query_id, p.doc_id, p.pos, p.token
       |  FROM pos p JOIN qt USING (token)),
       |md AS (
       |  SELECT a.query_id, a.doc_id,
       |         CAST(min(abs(a.pos - b.pos)) AS BIGINT) AS mindist
       |  FROM pq a JOIN pq b
       |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
       |       AND a.token <> b.token
       |  GROUP BY 1, 2),
       |lexf AS (
       |  SELECT lex.query_id, lex.doc_id,
       |         lex.bm25_milli
       |           + CAST(coalesce(${TextOps.ProxNumMilli} // (1 + mindist), 0)
       |               AS BIGINT) AS full_milli
       |  FROM lex LEFT JOIN md
       |    ON lex.query_id = md.query_id AND lex.doc_id = md.doc_id),
       |lext AS (
       |  SELECT query_id, doc_id, CAST(r AS INT) AS lex_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY full_milli DESC, doc_id ASC) AS r FROM lexf)
       |  WHERE r <= $ArmDepth),
       |q AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(
       |           CAST(x AS DOUBLE) / sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |             list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))),
       |             (a, b) -> a + b)) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sem AS (
       |  SELECT qs.vec_id AS query_id, cp.vec_id AS doc_id,
       |         CAST(list_dot_product(qs.qv, cp.qv) AS BIGINT) AS dot
       |  FROM q qs JOIN q cp ON ${qpred("qs.vec_id")} AND cp.vec_id <> qs.vec_id),
       |semt AS (
       |  SELECT query_id, doc_id, CAST(r AS INT) AS sem_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot DESC, doc_id ASC) AS r FROM sem)
       |  WHERE r <= $ArmDepth),
       |f AS (
       |  SELECT coalesce(lext.query_id, semt.query_id) AS query_id,
       |         coalesce(lext.doc_id, semt.doc_id) AS doc_id,
       |         CAST(coalesce(1000000 // (${Retrieval.RrfK} + lex_rank), 0)
       |            + coalesce(1000000 // (${Retrieval.RrfK} + sem_rank), 0)
       |              AS BIGINT) AS rrf_milli
       |  FROM lext FULL OUTER JOIN semt
       |    ON lext.query_id = semt.query_id AND lext.doc_id = semt.doc_id),
       |cand AS MATERIALIZED (
       |  SELECT p.query_id, p.doc_id, p.rrf_milli AS rel, q.qv FROM (
       |    SELECT query_id, doc_id, rrf_milli,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY rrf_milli DESC, doc_id ASC) AS pr
       |    FROM f) p JOIN q ON q.vec_id = p.doc_id
       |  WHERE pr <= ${Similarity.MmrPool}),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id, a.doc_id AS ai, b.doc_id AS bi,
       |         CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS sim
       |  FROM cand a JOIN cand b
       |    ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
       |sel1 AS MATERIALIZED (
       |  SELECT query_id, doc_id, rel, $lambda * rel AS mmr, 1 AS sel_rank
       |  FROM (SELECT query_id, doc_id, rel,
       |               row_number() OVER (PARTITION BY query_id
       |                                  ORDER BY rel DESC, doc_id ASC) AS rn
       |        FROM cand) WHERE rn = 1)""".stripMargin
    for (t <- 2 to Similarity.MmrK) {
      val prev = s"sel${t - 1}"
      sb ++= s""",
        |ms$t AS (
        |  SELECT m.query_id, m.ai AS doc_id, max(m.sim) AS maxsim
        |  FROM sims m JOIN $prev s
        |    ON m.query_id = s.query_id AND m.bi = s.doc_id
        |  GROUP BY 1, 2),
        |pick$t AS (
        |  SELECT query_id, doc_id, rel, mmr, $t AS sel_rank FROM (
        |    SELECT c.query_id, c.doc_id, c.rel,
        |           $lambda * c.rel - $oneMinus * ms$t.maxsim AS mmr,
        |           row_number() OVER (
        |             PARTITION BY c.query_id
        |             ORDER BY $lambda * c.rel - $oneMinus * ms$t.maxsim DESC,
        |                      c.doc_id ASC) AS rn
        |    FROM cand c
        |    JOIN ms$t ON ms$t.query_id = c.query_id AND ms$t.doc_id = c.doc_id
        |    ANTI JOIN $prev s
        |      ON s.query_id = c.query_id AND s.doc_id = c.doc_id)
        |  WHERE rn = 1),
        |sel$t AS MATERIALIZED (
        |  SELECT * FROM $prev UNION ALL
        |  SELECT query_id, doc_id, rel, mmr, sel_rank FROM pick$t)""".stripMargin
    }
    sb ++= s"""
      |SELECT query_id, CAST(sel_rank AS INT) AS sel_rank, doc_id,
      |       rel AS rrf_milli, mmr
      |FROM sel${Similarity.MmrK}""".stripMargin
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "e2e_rag_serving" -> ragOracle,
    "e2e_rag_serving_fixedq" -> ragOracleFixedQ)
}
