package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.Exprs

/** Tokenization, per-document statistics, PII masking, vocabulary and
  * heavy-hitter mining, BM25, keyword extraction, token drift — the core
  * token-level surface of [[TextOps]] (split out in round 11; the public
  * entry point and registration stay on the object).
  */
private[graft] trait TextTokenOps {

  /** whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** integer sum over an int array (explicit left fold — portable). */
  protected def isum(arr: Column): Column =
    aggregate(arr, lit(0L), (a, b) => a + b)

  /** Fixed-point milli-log2 as a selectExpr fragment over a positive
    * integral expression `x`: `(bitlen-1)*1000 + x*1000 div 2^(bitlen-1)
    * - 1000` — the linear-interpolated log2 used by the BM25 idf and the
    * bigram-LM cross-entropy chains. Integral `div` throughout, so the
    * same chain (with `//`) replays bit-for-bit in DuckDB oracles. */
  private[graft] def log2mExpr(x: String): String =
    s"(length(bin($x)) - 1) * 1000" +
      s" + ($x) * 1000 div CAST(power(2, length(bin($x)) - 1) AS BIGINT) - 1000"

  /** Token/quality statistics per document: counts, average token length,
    * stopword ratio, and a 0-1 quality score (length + lexical density).
    * Library surface: any DataFrame with (doc_id, text). */
  /** The shared 0-1 quality score: length saturation (100 tokens → 1.0)
    * blended 50/50 with lexical density. One formula, used by the stats
    * projection here and the per-source prune ([[qualityPruneOf]]). */
  def qualityScore(nTokens: Column, nUniq: Column): Column =
    Exprs.clamp01(
      least(nTokens.cast("double") / lit(100.0), lit(1.0)) * lit(0.5)
        + nUniq.cast("double") / greatest(nTokens, lit(1)).cast("double")
          * lit(0.5))

  /** Vocabulary-growth (Heaps-law) curve: cumulative distinct token
    * types vs cumulative token instances at `buckets` checkpoints of
    * the corpus (deciles of the doc_id range) — the scaling diagnostic
    * a tokenizer owner reads before sizing a vocabulary, and the
    * corpus-health check whose flattening tail exposes mass duplication
    * (a deduped natural corpus keeps growing ~n^0.5; a crawl full of
    * boilerplate plateaus). Also emits the cumulative type-token ratio
    * in micro.
    *
    * Scale shape: "first k docs" is made scale-safe by bucketing on the
    * doc_id RANGE (one broadcast max-id scalar anchor; never a global
    * rank): one grouped count per bucket for docs/instances, one
    * min-bucket aggregate per distinct token for first occurrence —
    * both map-side combinable — and the cumulative prefix runs as the
    * bounded `aggregate()` fold over the sorted ≤`buckets`-row list
    * (the paretoParts/epochOrder pattern), so there is no global
    * window at any corpus size. The token pass and the stats pass each
    * scan the (column-pruned) corpus once. */
  def heapsCurveOf(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    val d = docs.crossJoin(broadcast(mx))
      .select(col("doc_id"),
        least(expr(s"doc_id * $buckets div (max_id + 1)"),
          lit(buckets - 1L)).as("bucket"),
        tokens(col("text")).as("toks"))
    val perBucket = d.groupBy("bucket").agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks")).cast("long")).as("n_toks"))
    val newTypes = d.select(col("bucket"), explode(col("toks")).as("tok"))
      .groupBy("tok").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_types"))
    perBucket.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_toks"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("n_docs"),
        col("n_toks"), col("new_types")))).as("xs"))
      .select(explode(expr(
        """aggregate(xs,
          |  CAST(array() AS ARRAY<STRUCT<bucket: BIGINT, docs_cum: BIGINT,
          |    tokens_cum: BIGINT, vocab_cum: BIGINT>>),
          |  (acc, x) -> array_append(acc, struct(
          |    x.bucket AS bucket,
          |    CASE WHEN size(acc) = 0 THEN x.n_docs
          |         ELSE element_at(acc, -1).docs_cum + x.n_docs END AS docs_cum,
          |    CASE WHEN size(acc) = 0 THEN x.n_toks
          |         ELSE element_at(acc, -1).tokens_cum + x.n_toks END
          |      AS tokens_cum,
          |    CASE WHEN size(acc) = 0 THEN x.new_types
          |         ELSE element_at(acc, -1).vocab_cum + x.new_types END
          |      AS vocab_cum)))""".stripMargin)).as("y"))
      .select(col("y.bucket").as("bucket"), col("y.docs_cum").as("docs_cum"),
        col("y.tokens_cum").as("tokens_cum"),
        col("y.vocab_cum").as("vocab_cum"),
        expr("y.vocab_cum * 1000000 div nullif(y.tokens_cum, 0)")
          .as("ttr_micro"))
  }

  def heapsCurve(spark: SparkSession, dir: String): DataFrame =
    heapsCurveOf(Tables.documents(spark, dir))

  def textStatsOf(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs
      .select(col("doc_id"), length(col("text")).as("n_chars"), t.as("toks"))
      .select(
        col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_uniq"),
        isum(transform(col("toks"), x => length(x).cast("long"))).as("sum_len"),
        size(filter(col("toks"), x =>
          x.isin(stopwords.map(s => lit(s)): _*))).as("n_stop"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_uniq"),
        (col("sum_len").cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double")).as("avg_token_len"),
        (col("n_stop").cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double")).as("stopword_ratio"),
        (col("n_uniq").cast("double") /
          greatest(col("n_tokens"), lit(1)).cast("double")).as("lexical_density"))
      .withColumn("quality_score",
        qualityScore(col("n_tokens"), col("n_uniq")))
  }

  def textStats(spark: SparkSession, dir: String): DataFrame =
    textStatsOf(Tables.documents(spark, dir))

  /** Token-count estimators: whitespace words, BPE-ish subword pieces
    * (letter runs / digit runs / single punctuation — the standard cheap
    * proxy for model-tokenizer counts), and the chars/4 rule of thumb. */
  def tokenCountsOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("n_words"),
      size(regexp_extract_all(col("text"),
        lit("\\p{L}+|\\d+|[^\\p{L}\\d\\s]"), lit(0))).as("n_bpe_pieces"),
      ceil(length(col("text")).cast("double") / 4.0).cast("long").as("n_chars_div4"))

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCountsOf(Tables.documents(spark, dir))

  /** Tokenizer fertility + lexical diversity per language — the
    * cost-model metrics a multilingual corpus is profiled by before
    * mixing: fertility (subword pieces per whitespace word; high-
    * fertility languages cost more tokens per word) and type-token
    * ratio (corpus-level lexical diversity). Two map-side-combined
    * aggregates, one language-keyed join — the type count explodes
    * doc-DISTINCT tokens only, so the shuffle is vocabulary-bounded per
    * doc, never corpus-bounded (the queryKeywordsOf df shape). Integer
    * milli-units throughout. */
  def fertilityByLangOf(docs: DataFrame): DataFrame = {
    val perLang = docs.select(col("lang"),
      size(tokens(col("text"))).cast("long").as("w"),
      size(regexp_extract_all(col("text"),
        lit("\\p{L}+|\\d+|[^\\p{L}\\d\\s]"), lit(0))).cast("long").as("p"),
      length(col("text")).cast("long").as("c"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("p")).as("n_pieces"), sum(col("c")).as("n_chars"))
    val types = docs
      .select(col("lang"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .groupBy("lang").agg(countDistinct(col("tok")).as("n_types"))
    perLang.join(types, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_pieces"),
        col("n_chars"), coalesce(col("n_types"), lit(0L)).as("n_types"),
        expr("1000 * n_pieces div greatest(n_words, 1)").as("fertility_milli"),
        expr("1000 * n_types div greatest(n_words, 1)").as("ttr_milli"))
  }

  def fertilityByLang(spark: SparkSession, dir: String): DataFrame =
    fertilityByLangOf(Tables.documents(spark, dir))

  /** Language-ID by stopword-set scoring with a CJK-codepoint fast path —
    * the classic n-gram/wordlist heuristic. Tie-breaks follow a fixed
    * precedence (en > de > fr > es) so the argmax is total. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = tokens(lower(col("text")))
    def hits(words: Seq[String]): Column =
      size(filter(t, x => x.isin(words.map(lit): _*)))
    val en = hits(Seq("the", "a", "of", "and", "is"))
    val de = hits(Seq("der", "die", "das", "und", "ist"))
    val fr = hits(Seq("le", "la", "et", "est", "les"))
    val es = hits(Seq("el", "los", "y", "es", "las"))
    val hasCjk = col("text").rlike("[\\u4e00-\\u9fff]")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        en.as("s_en"), de.as("s_de"), fr.as("s_fr"), es.as("s_es"),
        hasCjk.as("has_cjk"))
      .withColumn("lang_pred",
        when(col("has_cjk"), "zh")
          .when(col("s_en") >= greatest(col("s_de"), col("s_fr"), col("s_es")), "en")
          .when(col("s_de") >= greatest(col("s_fr"), col("s_es")), "de")
          .when(col("s_fr") >= col("s_es"), "fr")
          .otherwise("es"))
      .withColumn("is_correct", col("lang_pred") === col("lang"))
  }

  /** Rolling polynomial fingerprint over token codes (mod 1e9+7): a
    * portable stand-in for a content-defined document signature. Token
    * code = 256*len + first-codepoint, folded left as acc*31 + code.
    * Library surface: any DataFrame with (doc_id, text). */
  def fingerprintsOf(docs: DataFrame): DataFrame = {
    val codes = transform(tokens(col("text")),
      t => (length(t).cast("long") * 256 + ascii(t).cast("long")))
    docs
      .select(col("doc_id"),
        aggregate(codes, lit(0L),
          (a, b) => (a * 31 + b) % 1000000007L).as("fingerprint"))
  }

  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    fingerprintsOf(Tables.documents(spark, dir))

  /** Normalization pass for training corpora: strip punctuation to
    * spaces, collapse whitespace runs, trim, lowercase — the standard
    * pre-tokenization cleanup. Pure regex projection (codegen'd, no
    * shuffle); emitted with before/after char counts. */
  def normalizeOf(docs: DataFrame): DataFrame = {
    val cleaned = lower(trim(regexp_replace(
      regexp_replace(col("text"), "[^\\p{L}\\d\\s]", " "), "\\s+", " ")))
    // n_chars derived, not required: the *Of library surface contract is
    // (doc_id, text) like the sibling functions
    docs.select(
      col("doc_id"), length(col("text")).as("n_chars"),
      cleaned.as("norm_text"),
      length(cleaned).as("n_chars_norm"))
  }

  def normalize(spark: SparkSession, dir: String): DataFrame =
    normalizeOf(Tables.documents(spark, dir))

  // Anchored, unambiguous PII shapes — fixed-length phone and a standard
  // email pattern keep Java-regex (backtracking, leftmost-greedy) and
  // RE2 (leftmost-longest) in exact agreement for the oracle.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "07\\d{3} \\d{6}" // UK mobile: 07700 900123

  /** PII scrub for training corpora: mask emails and phone numbers and
    * count what was masked (the audit trail a compliance pipeline
    * needs). Pure regex projection — narrow, codegen'd.
    * Library surface: any DataFrame with (doc_id, text-like column). */
  def piiMaskOf(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(
      col("doc_id"),
      regexp_replace(regexp_replace(textCol, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("masked_text"),
      size(regexp_extract_all(textCol, lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(textCol, lit(PhoneRe), lit(0))).as("n_phones"))

  /** The testdata corpus carries no digits at all, so the registered
    * query masks a deterministic PII-bearing note synthesized from
    * doc_id + a text prefix (the Synth pattern of the expr module) —
    * exercising the masking for real instead of vacuously. */
  def piiNote(docs: DataFrame): Column =
    concat(
      lit("Contact agent"), col("doc_id").cast("string"),
      lit("@firm.co.uk or 07"),
      lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit(" "),
      lpad((col("doc_id") * 48271 % 1000000).cast("string"), 6, "0"),
      lit(" re: "), substring(col("text"), 1, 40))

  def piiMask(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    piiMaskOf(docs, piiNote(docs))
  }

  /** (doc_id, token, tf) term frequencies — explode once, shared by the
    * vocabulary and keyword queries. */
  private def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))

  /** Corpus vocabulary top-k: global term frequency + document
    * frequency, deterministic tie-break on the token. The
    * vocabulary-building pass of a tokenizer-training pipeline; two
    * map-side-combined aggregates, top-k via TakeOrdered. */
  def vocabTopKOf(docs: DataFrame, k: Int = 100): DataFrame =
    termFreqs(docs)
      .groupBy("token")
      .agg(sum(col("tf")).as("freq"), count(lit(1)).as("df"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    vocabTopKOf(Tables.documents(spark, dir))

  /** Zipf-law slope audit — the log-log rank-frequency regression over
    * the top-`k` vocabulary, the companion to [[heapsCurveOf]] in the
    * corpus-health pair: natural text sits near slope −1; a much
    * flatter slope flags template/boilerplate floods, a much steeper
    * one a collapsed vocabulary. Ranks and frequencies pass through the
    * shared interpolated milli-log2, and the least-squares slope is one
    * exact integer division: x increases while y is non-increasing, so
    * the numerator Σx·Σy − n·Σxy is non-negative by the Chebyshev sum
    * inequality and the floor division replays in any engine
    * (`slope_milli` is its negation).
    *
    * Scale shape: everything after [[vocabTopKOf]]'s TakeOrdered is a
    * bounded ≤ k-row fold — the corpus cost IS the vocabulary pass. */
  def zipfSlopeOf(docs: DataFrame, k: Int = 30): DataFrame =
    vocabTopKOf(docs, k)
      .agg(array_sort(collect_list(struct((-col("freq")).as("negf"),
        col("token").as("token"), col("freq").as("freq")))).as("xs"))
      .select(posexplode(col("xs")).as(Seq("i", "x")))
      .select((col("i") + 1).cast("long").as("rank"),
        col("x.freq").as("freq"))
      .selectExpr("rank", "freq",
        s"${log2mExpr("rank")} AS lx", s"${log2mExpr("freq")} AS ly")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("lx")).as("sx"), sum(col("ly")).as("sy"),
        sum(expr("lx * ly")).as("sxy"), sum(expr("lx * lx")).as("sxx"))
      .select(col("n_terms"),
        expr("(sx * sy - n_terms * sxy) * 1000" +
          " div nullif(n_terms * sxx - sx * sx, 0)").as("neg_slope_milli"))
      .withColumn("slope_milli", -col("neg_slope_milli"))

  def zipfSlope(spark: SparkSession, dir: String): DataFrame =
    zipfSlopeOf(Tables.documents(spark, dir))

  /** EXACT heavy hitters — every token with freq·k > N — at bounded
    * memory. [[vocabTopKOf]] shuffles the whole distinct vocabulary to
    * rank it; at a 100 TB corpus the vocabulary itself (URLs, hashes,
    * typos) is shuffle-hostile. This is the classic two-phase fix:
    *
    * Phase 1 runs Misra–Gries with k counters INSIDE each input
    * partition (`mapPartitions` — genuinely imperative per-partition
    * state, the documented last-resort case). Each task emits at most k
    * candidate tokens, so the only vocabulary-shaped state anywhere is k
    * strings per task and the candidate shuffle is ≤ k·partitions rows.
    *
    * Phase 2 recounts ONLY the candidates exactly: the exploded token
    * stream is pruned by a BROADCAST join with the tiny candidate set
    * before the one counting shuffle, and the exact threshold
    * freq·k > N filters the recount.
    *
    * Soundness (why the output is exact, not approximate): Misra–Gries
    * with k counters retires k+1 token instances per decrement, so at
    * most n_p/(k+1) decrements happen in a partition of n_p tokens and
    * any token with local freq_p > n_p/(k+1) still holds a counter at
    * the end. If freq(t)·k > N globally then some partition has
    * freq_p(t)·k > n_p (else summing the per-partition negations
    * contradicts the premise), and freq_p > n_p/k > n_p/(k+1) — so
    * every true heavy hitter is a candidate in at least one partition.
    * The candidate pass over-collects; the exact recount + threshold
    * discards the excess. Result: exact answer, memory bounded by k
    * regardless of vocabulary size. (Reference computes token frequency
    * tables driver-side; see SURVEY §2.6 text-analysis family.) */
  /** Per-partition Misra–Gries summaries over a token stream: each task
    * runs MG with k counters and emits its surviving (token, est) pairs
    * — at most k rows per task, the bounded-memory frequency sketch the
    * heavy-hitter operators build on. Estimates are one-sided:
    * c_p(t) − n_p/(k+1) ≤ est ≤ c_p(t) within the task's slice. */
  def mgSummaryOf(toks: DataFrame, k: Int): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.as[String].mapPartitions { it =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        counters.get(t) match {
          case Some(c) => counters(t) = c + 1L
          case None if counters.size < k => counters(t) = 1L
          case None =>
            val keys = counters.keys.toArray
            var i = 0
            while (i < keys.length) {
              val c = counters(keys(i)) - 1L
              if (c == 0L) counters.remove(keys(i)) else counters(keys(i)) = c
              i += 1
            }
        }
      }
      counters.iterator
    }.toDF("token", "est")
  }

  /** Merge a union of Misra–Gries summaries back to ≤ k counters — the
    * mergeability rule of Agarwal et al. 2012 (Mergeable Summaries):
    * sum estimates per token, then subtract the (k+1)-th largest merged
    * value from every counter and drop the non-positive ones. At most k
    * counters survive (only those strictly above the threshold), and
    * the one-sided error bounds add across the merged inputs — so
    * batch-wise merging over an unbounded stream keeps the global
    * guarantee at constant state. Input is summary-sized (≤ k rows per
    * contributing task), so every step here is tiny by construction:
    * one small aggregate, a k+1-row TakeOrdered, a broadcast anchor. */
  def mgMergeOf(summaries: DataFrame, k: Int): DataFrame = {
    val merged = summaries.groupBy("token").agg(sum(col("est")).as("est"))
    val sub = merged.orderBy(col("est").desc).limit(k + 1)
      .agg(when(count(lit(1)) > k, min(col("est")))
        .otherwise(lit(0L)).as("sub"))
    merged.crossJoin(broadcast(sub))
      .select(col("token"), (col("est") - col("sub")).as("est"))
      .filter(col("est") > 0)
  }

  def heavyHittersOf(docs: DataFrame, k: Int = 200): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val candidates = mgSummaryOf(toks, k).select("token").distinct()
    // N without a second explode: token count == size of the token array
    val total = docs.agg(
      sum(size(tokens(col("text"))).cast("long")).as("n_total"))
    toks.join(broadcast(candidates), "token")
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .crossJoin(broadcast(total))
      .filter(col("freq") * k > col("n_total"))
      .orderBy(col("freq").desc, col("token").asc)
      .select("token", "freq", "n_total")
  }

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersOf(Tables.documents(spark, dir))

  /** BM25 keyword retrieval over the corpus — the ranking stage of a
    * quality-classifier / eval-set curation loop ("find the documents
    * most about X"). Okapi BM25 with Lucene's non-negative idf
    * `log((N+1)/(df+0.5))` (never negative, so no clamp discontinuity
    * when a term's df crosses N/2), k1 = 1.2, b = 0.75 — computed
    * entirely in the module's fixed-point milli-arithmetic: the idf log
    * is the same `log2m` chain as [[lmCrossEntropyOf]] over the integer
    * forms 2N+2 and 2df+1, and the tf normalization is one integral
    * `div` chain, so scores replay bit-for-bit in any SQL engine
    * (ranking only needs monotonicity; bit-equality is what makes the
    * oracle exact).
    *
    * Scale shape: the query terms are LITERALS, so the `isin` prune
    * lands right after the explode and only matching (doc, term) rows —
    * |q| per doc at most — ever reach a shuffle; tf is one small
    * aggregate, df a re-aggregation of it, corpus stats ride the 1-row
    * broadcast scalar anchor, and top-k is TakeOrdered with a doc_id
    * tie-break. No inverted index needed: at any corpus size the
    * post-prune volume is bounded by matches, not vocabulary. */
  def bm25Of(docs: DataFrame, queryTerms: Seq[String], topK: Int = 20): DataFrame = {
    val terms = queryTerms.distinct
    val stats = corpusStatsOf(
      docs.select(size(tokens(col("text"))).cast("long").as("dl")))
    val tf = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"),
        explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    bm25Scores(tf, docFreqOf(tf), stats, Seq("doc_id"))
      .orderBy(col("bm25_milli").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** 1-row (n_docs, avgdl_milli) over a frame with one row per document
    * and its token count `dl` — the corpus statistics of every BM25
    * scorer. */
  private[ml] def corpusStatsOf(tdocs: DataFrame): DataFrame =
    tdocs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("n_toks"))
      .select(col("n_docs"), expr("n_toks * 1000 div n_docs").as("avgdl_milli"))

  /** (token, df): the number of documents holding each term of a
    * (…, doc_id, token, tf) postings frame. */
  private[ml] def docFreqOf(tf: DataFrame): DataFrame =
    tf.groupBy("token").agg(count(lit(1)).cast("long").as("df"))

  /** THE BM25 fixed-point chain (idf, length-normalized tf, per-term
    * contribution, sum) shared by every lexical scorer: `tf` holds
    * (`keys`…, dl, token, tf) postings, `df` (token, df) and `stats` is
    * [[corpusStatsOf]]. One row per `keys` value with ≥ 1 posting:
    * (`keys`…, n_terms, bm25_milli); n_terms counts the distinct query
    * terms present, which the proximity upper bound reads. */
  private[ml] def bm25Scores(tf: DataFrame, df: DataFrame, stats: DataFrame,
      keys: Seq[String]): DataFrame =
    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .selectExpr(keys ++ Seq("tf",
        s"${log2mExpr("2 * n_docs + 2")} - (${log2mExpr("2 * df + 1")}) AS idf_milli",
        "tf * 1000 + 1200 * (250 + 750 * (dl * 1000000 div avgdl_milli) div 1000)" +
          " div 1000 AS den_milli"): _*)
      .selectExpr(keys :+
        "idf_milli * (tf * 2200 * 1000 div den_milli) div 1000 AS contrib_milli": _*)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib_milli")).as("bm25_milli"))

  /** Registered form: one rare term ("dup", df ≈ 5% of docs) and two
    * common ones — exercises both ends of the idf range. */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    bm25Of(Tables.documents(spark, dir), Seq("dup", "vector", "window"))

  /** Per-document distinctive keywords: rank terms by (tf desc, df asc,
    * token asc) — the TF-IDF ordering done entirely in integers (df
    * replaces the idf log monotonically), so the ranking is exact in any
    * engine. Stopwords excluded; top 3 per document. */
  def keywordsOf(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = termFreqs(docs).filter(!col("token").isin(stopwords.map(lit): _*))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.join(df, "token")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "token", "tf", "df")
  }

  def keywords(spark: SparkSession, dir: String): DataFrame =
    keywordsOf(Tables.documents(spark, dir))

  /** Power-of-two document-length histogram (the standard corpus
    * profiling view). The bucket is the integer log2 of n_chars computed
    * from the BINARY-STRING length — float log2 is a trap at exact
    * powers (libm rounding can land just below the integer and floor to
    * the wrong bucket, differently per engine); string length is exact
    * everywhere. */
  def lengthHistogramOf(docs: DataFrame): DataFrame =
    docs
      // empty docs get their own bucket (-1, lo 0): log2 is undefined at
      // 0 and folding them into the length-1 bucket would mislabel it
      .select(when(length(col("text")) === 0, lit(-1))
        .otherwise((length(conv(length(col("text")).cast("string"), 10, 2)) - 1)
          .cast("int")).as("log2_bucket"))
      .groupBy("log2_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_lo",
        when(col("log2_bucket") === -1, lit(0L))
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), log2_bucket)")))

  def lengthHistogram(spark: SparkSession, dir: String): DataFrame =
    lengthHistogramOf(Tables.documents(spark, dir))

  /** Token-distribution drift between two corpus slices, as
    * total-variation distance: TV = ½ Σ_t |p_a(t) − p_b(t)|. KL/JS need
    * logs (libm low bits differ across engines); TV over counts is
    * Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b) — an INTEGER numerator, one
    * exact division at the end, bit-identical anywhere. The per-token
    * contributions also rank the most-drifted tokens — the monitoring
    * view a training-data pipeline alerts on.
    *
    * Cache contract: the joined count table is persist()ed and referenced
    * by the returned lazy plan — callers in a long-lived session release
    * it after their final action (clearCache, as Bench/Verify do). */
  def tokenDriftOf(a: DataFrame, b: DataFrame, topK: Int = 10): DataFrame = {
    def counts(df: DataFrame, side: String): DataFrame =
      df.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as(s"c_$side"))
    val ca = counts(a, "a")
    val cb = counts(b, "b")
    val joined = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .persist()
    val tot = joined.agg(
      sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    // the cross products go through decimal(38): long c*N wraps silently
    // past 2^63 (trillion-token corpora), decimal stays exact
    val scored = joined.crossJoin(broadcast(tot))
      .select(col("token"), col("c_a"), col("c_b"),
        abs(col("c_a").cast("decimal(38,0)") * col("n_b")
          - col("c_b").cast("decimal(38,0)") * col("n_a")).as("num"),
        col("n_a"), col("n_b"))
    // top-K via orderBy+limit -> TakeOrderedAndProject (per-partition heap
    // then a K-row merge), never a global-sort window over the vocabulary;
    // rank is then a broadcast theta-join over the K survivors only —
    // windowless end to end (tokens are unique, so ahead-count+1 is exactly
    // row_number over (num DESC, token ASC))
    val top = scored.orderBy(col("num").desc, col("token").asc).limit(topK)
    top.join(
        broadcast(top.select(col("num").as("num2"), col("token").as("token2"))),
        col("num2") > col("num") ||
          (col("num2") === col("num") && col("token2") < col("token")),
        "left")
      .groupBy("token", "c_a", "c_b", "num", "n_a", "n_b")
      .agg((count(col("token2")) + 1).cast("int").as("rank"))
      .select(col("rank"), col("token"), col("c_a"), col("c_b"),
        (col("num").cast("double") / (lit(2.0) * col("n_a") * col("n_b")))
          .as("tv_contrib"))
  }

  /** Registered form: even vs odd doc_ids as the two slices. */
  def tokenDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    tokenDriftOf(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }
}
