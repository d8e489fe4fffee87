package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Hybrid retrieval — the RAG-serving read path a curated corpus feeds
  * (reference's vector-index consumers, etl/flows/process_case.py:284-318):
  * a lexical BM25 arm and a semantic cosine arm fused with Reciprocal Rank
  * Fusion (Cormack et al., SIGIR'09: score(d) = Σ_arms 1/(K + rank_arm(d)),
  * K = 60). RRF needs only the two arms' RANKS, so the whole fusion is
  * exact in integer arithmetic and replays bit-for-bit in the oracle.
  *
  * Query model: every 200th document is a "query" (the same predicate as
  * [[Similarity]]'s ANN family, so the two share fixtures). Each query's
  * lexical form is its top-3 distinctive keywords (tf desc, df asc — the
  * [[TextOps.keywordsOf]] ordering); its semantic form is its embedding
  * (doc_id and vec_id are aligned in the corpus).
  *
  * Scale shape, per arm:
  *  - Lexical: the query-term set is tiny (3 terms × |queries|) →
  *    broadcast-pruned right after the token explode, so only matching
  *    (doc, term) rows ever shuffle — bounded by matches, not vocabulary.
  *    Per-query scoring shuffles on (query_id, doc_id) once; the arm
  *    top-N is a window PARTITIONED by query_id (never global).
  *  - Semantic: [[Similarity.bruteForceTopKOf]] — the query side
  *    broadcasts, the corpus scans once and never shuffles pre-rank.
  *  - Fusion: a (query_id, doc_id) full-outer join of two ≤N·|queries|-row
  *    arm tables — negligible next to either arm.
  */
object Retrieval {

  /** THE shared query-fixture constants — every-`QueryStride`-th
    * document/vector is a "query", and the fixed-panel twins cap the
    * panel at the first [[FixedPanelSize]] queries. One home
    * ([[Similarity]] and [[RagFlagship]] reference these) so the
    * "same fixture" claim across the `_fixedq` families cannot drift. */
  private[ml] val QueryStride = 200L
  private[ml] val FixedPanelSize = 64

  /** Query-document predicate — matches Similarity's ANN family. */
  private[ml] def isQuery(id: Column): Column = id % QueryStride === 0

  /** Fixed-panel twin predicate: the first [[FixedPanelSize]] queries
    * only — constant as the corpus grows (the production serving
    * shape; see [[Similarity]]'s panel scaladoc). */
  private[ml] def isPanelQuery(id: Column): Column =
    isQuery(id) && id < lit(FixedPanelSize * QueryStride)

  /** RRF smoothing constant (K = 60, the value the original paper and
    * every production fusion default to). */
  val RrfK = 60

  /** Per-arm candidate depth fed into fusion. */
  val ArmDepth = 50

  /** Keywords per query document forming its lexical query. */
  val QueryTerms = 3

  /** Tokenized corpus projection `(doc_id, toks, dl)` shared by every
    * lexical stage. Tokenizing is the dominant per-row cost of the
    * lexical arm, and without this barrier the df mine, the tf pass, and
    * the doc-length column each re-run `TextOps.tokens` over the full
    * corpus (CollapseProject re-inlines the transform through the plan —
    * the round-8 bench showed the 3x). Callers persist() the result so
    * the corpus is tokenized exactly once. */
  def tokenizedOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))

  /** Each query document's top-`n` distinctive keywords: rank its
    * non-stopword terms by (tf desc, df asc, token asc) — df is
    * corpus-wide, the window ranks only the (tiny) query subset.
    * `tdocs` is a [[tokenizedOf]] projection.
    *
    * Scale shape: corpus-wide df NEVER shuffles (doc, token) pairs —
    * each doc's distinct non-stopword tokens explode map-side into a
    * token-keyed count with full map-side combine, so the df shuffle is
    * vocabulary-bounded, not corpus-bounded. Per-doc tf is computed
    * only for the pre-filtered query docs (1/200 of the corpus), and
    * that tiny side broadcasts into the df lookup. */
  def queryKeywordsOf(tdocs: DataFrame, n: Int = QueryTerms,
      pred: Column => Column = isQuery): DataFrame = {
    val notStop = !col("token").isin(TextOps.stopwords.map(lit): _*)
    val dfreq = tdocs
      .select(explode(array_distinct(col("toks"))).as("token"))
      .filter(notStop)
      .groupBy("token").agg(count(lit(1)).cast("long").as("df"))
    val tf = tdocs.filter(pred(col("doc_id")))
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .filter(notStop)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    dfreq.join(broadcast(tf), "token")
      .withColumn("kw_rank", row_number().over(w))
      .filter(col("kw_rank") <= n)
      .select(col("doc_id").as("query_id"), col("token"))
  }

  /** BM25 of every corpus document against each query's term set (the
    * shared [[TextOps.bm25Scores]] chain, with [[TextOps.bm25Of]]'s
    * literal `isin` prune generalized to a broadcast semi-join because
    * the term set is data-derived). The query document itself is
    * excluded from its own candidates. */
  def bm25PerQueryOf(tdocs: DataFrame, qterms: DataFrame): DataFrame = {
    val termSet = qterms.select("token").distinct()
    val tf = tdocs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .join(broadcast(termSet), "token")
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    // n_terms (distinct query terms present) rides along so two-phase
    // consumers (the RAG flagship) can build the proximity upper bound
    TextOps.bm25Scores(
      tf.join(broadcast(qterms), "token")
        .filter(col("doc_id") =!= col("query_id")),
      TextOps.docFreqOf(tf), TextOps.corpusStatsOf(tdocs),
      Seq("query_id", "doc_id"))
  }

  /** Library surface: RRF-fused hybrid top-k. `docs` = (doc_id, text),
    * `embs` = (vec_id, embedding) with vec_id aligned to doc_id. A
    * document absent from one arm's top-[[ArmDepth]] contributes 0 from
    * that arm (standard RRF over truncated lists). */
  def hybridRrfOf(docs: DataFrame, embs: DataFrame, k: Int = 10,
      pred: Column => Column = isQuery): DataFrame = {
    // tokenize the corpus ONCE; both lexical stages read this projection
    val tdocs = tokenizedOf(docs).persist()
    // keyword mining scans the corpus for df; persist the tiny result so
    // its two consumers in the BM25 arm (distinct term set, scoring join)
    // don't each recompute that scan
    val qk = queryKeywordsOf(tdocs, pred = pred).persist()
    val lex = bm25PerQueryOf(tdocs, qk)
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25_milli").desc, col("doc_id").asc)
    val lexTop = lex.withColumn("lex_rank", row_number().over(wl))
      .filter(col("lex_rank") <= ArmDepth)
      .select("query_id", "doc_id", "lex_rank")
    val semTop = Similarity
      .bruteForceTopKOf(embs, embs.filter(pred(col("vec_id"))), ArmDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("sem_rank"))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("doc_id").asc)
    lexTop.join(semTop, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L))
          + coalesce(expr(s"1000000 div ($RrfK + sem_rank)"), lit(0L)))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select("query_id", "doc_id", "lex_rank", "sem_rank", "rrf_milli", "rank")
  }

  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    hybridRrfOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  /** Fixed-panel production twin — the constant 64-query panel keeps
    * BOTH arms panel-bounded (keyword mining's tf side, the BM25
    * scoring joins, the semantic broadcast) where the proportional form
    * co-scales queries with the corpus. */
  def hybridRrfFixedQ(spark: SparkSession, dir: String): DataFrame =
    hybridRrfOf(Tables.documents(spark, dir), Tables.embeddings(spark, dir),
      pred = isPanelQuery)

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "sim_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "sim_hybrid_rrf_fixedq" -> ((s, d) => hybridRrfFixedQ(s, d)))

  /** DuckDB `//` is the same integral divide as Spark `div`; `log2m`
    * replays [[TextOps.log2mExpr]]; the quantized-vector CTE is the
    * sim_topk_bruteforce oracle's. Every window order is total (unique
    * tie-break column last), so ranks are engine-independent. */
  private def hybridOracle: String =
    hybridOracleFor(c => s"$c % $QueryStride = 0")

  private def hybridOracleFixedQ: String = hybridOracleFor(
    c => s"$c % $QueryStride = 0 AND $c < ${FixedPanelSize * QueryStride}")

  private def hybridOracleFor(qpred: String => String): String = {
    def log2m(x: String): String =
      s"(length(bin($x)) - 1) * 1000" +
        s" + ($x) * 1000 // CAST(pow(2, length(bin($x)) - 1) AS BIGINT) - 1000"
    val stop = TextOps.stopwords.map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH d AS (
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
       |  WHERE r <= $QueryTerms),
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
       |lext AS (
       |  SELECT query_id, doc_id, CAST(r AS INT) AS lex_rank FROM (
       |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY bm25_milli DESC, doc_id ASC) AS r FROM lex)
       |  WHERE r <= $ArmDepth),
       |q AS (
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
       |         lex_rank, sem_rank,
       |         CAST(coalesce(1000000 // ($RrfK + lex_rank), 0)
       |            + coalesce(1000000 // ($RrfK + sem_rank), 0) AS BIGINT) AS rrf_milli
       |  FROM lext FULL OUTER JOIN semt
       |    ON lext.query_id = semt.query_id AND lext.doc_id = semt.doc_id)
       |SELECT query_id, doc_id, lex_rank, sem_rank, rrf_milli, CAST(r AS INT) AS rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_milli DESC, doc_id ASC) AS r FROM f)
       |WHERE r <= 10""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "sim_hybrid_rrf" -> hybridOracle,
    "sim_hybrid_rrf_fixedq" -> hybridOracleFixedQ)
}
