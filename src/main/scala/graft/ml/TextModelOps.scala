package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.expr.Exprs
import graft.scale.Fixpoint

/** Model-shaped operators of [[TextOps]]: word-level BPE merge training
  * and encoding, plus the hashing-trick quality classifier and its exact
  * ROC-AUC evaluation (round-11 split; registration stays on the object).
  */
private[graft] trait TextModelOps extends TextQualityOps {

  // -------------------------------------------------------------------
  // Tokenizer merge training (word-level BPE)
  // -------------------------------------------------------------------

  /** Merge rounds learned by [[bpeMergesOf]] / replayed by its oracle. */
  val BpeRounds = 3

  /** Apply ONE merge rule greedily left-to-right. Restricted to p1 != p2
    * (enforced at rule selection), merge sites cannot be adjacent — a
    * site at i and i+1 would need toks(i+1) = p2 = p1 — so the greedy
    * walk decomposes into independent per-position flags and the merge
    * is a closed-form projection (no sequential fold, which also keeps
    * it replayable in SQL engines whose list_reduce cannot carry a
    * struct accumulator). */
  private def mergeOnce(toks: Column, p1: Column, p2: Column): Column = {
    val n = size(toks)
    flatten(transform(sequence(lit(1), n), i =>
      when(i < n && element_at(toks, i) === p1 && element_at(toks, i + 1) === p2,
        array(concat_ws("_", p1, p2)))
        .when(i > 1 && element_at(toks, i - 1) === p1 && element_at(toks, i) === p2,
          array().cast("array<string>"))
        .otherwise(array(element_at(toks, i)))))
  }

  /** Tokenizer merge training — byte-pair encoding's training loop at
    * word granularity (phrase mining): each round counts adjacent token
    * pairs across the corpus, adopts the most frequent non-self pair
    * (ties: lexicographic, so the rule table is deterministic in any
    * engine), rewrites the corpus with the merge, and repeats. Output is
    * the learned rule table (round, p1, p2, n) — what a tokenizer ships.
    *
    * Scale shape per round: one narrow pass explodes adjacent pairs, ONE
    * count shuffle (map-side partials), the argmax is orderBy+limit 1
    * (TakeOrderedAndProject — never a global window), and the 1-row rule
    * returns to the driver as two literals for a narrow rewrite.
    * Self-pairs (p1 == p2) are excluded at selection so the greedy
    * rewrite stays closed-form (see [[mergeOnce]]) — at word granularity
    * they are degenerate phrases anyway. Generations are [[Fixpoint]]
    * rounds and the rule table stays on the driver, so the call leaves no
    * cache behind; the last generation's rule is learned, not applied.
    *
    * Cite: the reference has no tokenizer, but its embedder chunks text
    * for the vector path (caseguard/vectorization/embedder.py) — this is
    * the north-star training-data extension of that stage. */
  def bpeMergesOf(docs: DataFrame, rounds: Int = BpeRounds): DataFrame = {
    require(rounds >= 1, s"BPE training needs at least one round, got $rounds")
    val rules = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    // one generation's most frequent non-self adjacent pair, appended to
    // the rule table as (round, p1, p2, n)
    def learn(toks: DataFrame): Option[(Int, String, String, Long)] = {
      val best = toks
        .filter(size(col("toks")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("p1"),
            element_at(col("toks"), i + 1).as("p2")))).as("pr"))
        .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .filter(col("p1") =!= col("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p1").asc, col("p2").asc)
        .limit(1).collect().headOption
        .map(r => (rules.size + 1, r.getString(0), r.getString(1), r.getLong(2)))
      rules ++= best
      best
    }
    val init = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
    // no pair left to merge empties the corpus, as the oracle's join
    // against an empty rule table does, and that ends the loop
    val last = Fixpoint.iterate(init, rounds - 1) { toks =>
      learn(toks).fold(toks.limit(0)) { case (_, p1, p2, _) =>
        toks.select(col("doc_id"),
          mergeOnce(col("toks"), lit(p1), lit(p2)).as("toks"))
      }
    }(_.rows == 0)
    learn(last)
    Fixpoint.release(last)
    import docs.sparkSession.implicits._
    rules.toSeq.toDF("round", "p1", "p2", "n")
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeMergesOf(Tables.documents(spark, dir))

  /** Tokenizer APPLICATION — encode a corpus with an already-trained
    * merge table ([[bpeMergesOf]]'s output): apply each round's rule in
    * training order via the same closed-form rewrite, and report
    * whitespace vs encoded token counts per document (the sizing pass a
    * packing/budgeting stage runs with a shipped tokenizer).
    *
    * Unlike training, application needs NO per-round counting: the
    * whole encode is ONE lazy Catalyst plan — `rounds` broadcast joins
    * of 1-row rule tables into `rounds` chained narrow array rewrites,
    * zero corpus shuffles, zero driver materialization. Train on the
    * trusted slice, encode anything — the table transfers. */
  def bpeEncodeOf(docs: DataFrame, merges: DataFrame,
                  rounds: Int = BpeRounds): DataFrame = {
    var cur = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .withColumn("n_tokens_ws", size(col("toks")).cast("long"))
    (1 to rounds).foreach { r =>
      cur = cur.crossJoin(broadcast(
          merges.filter(col("round") === r).select("p1", "p2")))
        .select(col("doc_id"), col("n_tokens_ws"),
          mergeOnce(col("toks"), col("p1"), col("p2")).as("toks"))
    }
    cur.select(col("doc_id"), col("n_tokens_ws"),
      size(col("toks")).cast("long").as("n_tokens_bpe"),
      (col("n_tokens_ws") - size(col("toks"))).as("n_merged"))
  }

  /** Registered form: rules trained on the even-id slice, applied to
    * the odd-id slice — the train/apply split the decontamination
    * family already uses, proving the table transfers to unseen text. */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeEncodeOf(docs.filter(col("doc_id") % 2 =!= 0),
      bpeMergesOf(docs.filter(col("doc_id") % 2 === 0)))
  }

  /** Oracle for [[bpeMergesOf]], one CTE block per round generated from
    * the same [[BpeRounds]] constant the trainer runs — identical count,
    * tie-break, and closed-form rewrite semantics. */
  protected def bpeOracle: String = {
    def round(r: Int): String = {
      val prev = s"t${r - 1}"
      s"""pc_$r AS (
         |  SELECT u.p1 AS p1, u.p2 AS p2, count(*) AS n FROM (
         |    SELECT unnest([{'p1': toks[i], 'p2': toks[i+1]}
         |                   for i in range(1, len(toks))]) AS u
         |    FROM $prev WHERE len(toks) >= 2) s
         |  WHERE p1 <> p2 GROUP BY 1, 2),
         |b_$r AS (SELECT p1, p2, n FROM pc_$r
         |         ORDER BY n DESC, p1 ASC, p2 ASC LIMIT 1),
         |t$r AS (
         |  SELECT doc_id, flatten([CASE
         |      WHEN i < len(toks) AND toks[i] = b.p1 AND toks[i+1] = b.p2
         |        THEN [b.p1 || '_' || b.p2]
         |      WHEN i > 1 AND toks[i-1] = b.p1 AND toks[i] = b.p2
         |        THEN CAST([] AS VARCHAR[])
         |      ELSE [toks[i]] END for i in range(1, len(toks) + 1)]) AS toks
         |  FROM $prev, b_$r b)""".stripMargin
    }
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
       |${(1 to BpeRounds).map(round).mkString(",\n")}
       |SELECT * FROM (${(1 to BpeRounds).map(r =>
            s"SELECT CAST($r AS INT) AS round, p1, p2, n FROM b_$r")
          .mkString(" UNION ALL ")})""".stripMargin
  }

  /** Oracle for [[bpeEncode]]: the training CTE chain restricted to
    * even doc_ids (same per-round count/tie-break/rewrite as
    * [[bpeOracle]]), plus an apply chain `a_r` rewriting the odd slice
    * with each round's learned rule. */
  protected def bpeEncodeOracle: String = {
    def trainRound(r: Int): String = {
      val prev = s"t${r - 1}"
      s"""pc_$r AS (
         |  SELECT u.p1 AS p1, u.p2 AS p2, count(*) AS n FROM (
         |    SELECT unnest([{'p1': toks[i], 'p2': toks[i+1]}
         |                   for i in range(1, len(toks))]) AS u
         |    FROM $prev WHERE len(toks) >= 2) s
         |  WHERE p1 <> p2 GROUP BY 1, 2),
         |b_$r AS (SELECT p1, p2 FROM pc_$r
         |         ORDER BY n DESC, p1 ASC, p2 ASC LIMIT 1),
         |t$r AS (
         |  SELECT doc_id, flatten([CASE
         |      WHEN i < len(toks) AND toks[i] = b.p1 AND toks[i+1] = b.p2
         |        THEN [b.p1 || '_' || b.p2]
         |      WHEN i > 1 AND toks[i-1] = b.p1 AND toks[i] = b.p2
         |        THEN CAST([] AS VARCHAR[])
         |      ELSE [toks[i]] END for i in range(1, len(toks) + 1)]) AS toks
         |  FROM $prev, b_$r b),
         |a_$r AS (
         |  SELECT doc_id, n_tokens_ws, flatten([CASE
         |      WHEN i < len(toks) AND toks[i] = b.p1 AND toks[i+1] = b.p2
         |        THEN [b.p1 || '_' || b.p2]
         |      WHEN i > 1 AND toks[i-1] = b.p1 AND toks[i] = b.p2
         |        THEN CAST([] AS VARCHAR[])
         |      ELSE [toks[i]] END for i in range(1, len(toks) + 1)]) AS toks
         |  FROM a_${r - 1}, b_$r b)""".stripMargin
    }
    s"""WITH t0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents
       |  WHERE doc_id % 2 = 0
       |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
       |a_0 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks,
       |         CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
       |           AS n_tokens_ws
       |  FROM documents
       |  WHERE doc_id % 2 = 1
       |    AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 1),
       |${(1 to BpeRounds).map(trainRound).mkString(",\n")}
       |SELECT doc_id, n_tokens_ws, CAST(len(toks) AS BIGINT) AS n_tokens_bpe,
       |       n_tokens_ws - CAST(len(toks) AS BIGINT) AS n_merged
       |FROM a_$BpeRounds""".stripMargin
  }

  // -------------------------------------------------------------------
  // Model-shaped quality classifier (hashing trick, fastText-style)
  // -------------------------------------------------------------------

  /** Feature-hash buckets for the linear scorer. Small on purpose: the
    * weight table must be a literal the optimizer constant-folds into
    * the per-row expression — the 100 TB plan is a pure map stage. */
  val ClassifierBuckets = 64

  /** Per-document linear quality classifier over hashed token features —
    * the fastText-supervised shape every production corpus filter uses
    * (a trained model's weights would be broadcast the same way; here
    * the weights are a deterministic function of the bucket id so the
    * oracle can replay them). Token → bucket via the portable
    * (len*256 + ascii) code and the multiplicative hash; bucket → a
    * milli-weight in [0, 2000]; document score = mean token weight,
    * keep = score above the 1000-milli midline.
    *
    * Scale shape: zero shuffle — tokenize, hash, and fold entirely
    * inside one codegen'd projection; collisions are the hashing
    * trick's accepted trade, not a bug. Integer-only arithmetic
    * (`div` on non-negative longs) replays exactly in any engine. */
  def qualityClassifierOf(docs: DataFrame): DataFrame = {
    val w = (tok: Column) => {
      val code = length(tok).cast("long") * 256 + ascii(tok).cast("long")
      (code * lit(48271L) % lit(ClassifierBuckets.toLong)) *
        lit(2654435761L) % lit(2001L)
    }
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        isum(transform(col("toks"), w)).as("w_sum"))
      .select(col("doc_id"), col("n_tokens"), col("w_sum"),
        expr("w_sum div greatest(n_tokens, 1)").as("mean_w_milli"),
        (col("w_sum") > col("n_tokens").cast("long") * 1000L).as("keep"))
  }

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(Tables.documents(spark, dir))

  /** Classifier evaluation — exact ROC-AUC + confusion matrix of the
    * fastText-shaped classifier's score ([[qualityClassifierOf]],
    * `mean_w_milli`) against the Gopher rule verdict
    * ([[gopherQualityOf]], `gopher_pass`) as ground truth: the
    * "does the cheap learned filter reproduce the expensive rule set"
    * check every curation pipeline runs before swapping one in for the
    * other (the fastText-vs-rules calibration step).
    *
    * AUC is the Mann–Whitney U statistic computed EXACTLY from the
    * bounded score histogram (scores are integer milli, ≤ 2001 distinct
    * values): per ascending score s,
    * `U2 += n_pos(s) · (2·cum_neg_below(s) + n_neg(s))` — ties get the
    * standard half credit, everything in integers; the single division
    * to [0,1] is the only double, computed from exact operands in the
    * same expression order in both engines. The histogram prefix runs
    * as ONE bounded `aggregate()` fold over the collected ≤2001-row
    * histogram (the epochOrder pattern) — no window, no global sort,
    * and the corpus is touched by exactly one grouped aggregate, so
    * the plan is identical at any corpus size. Precision/recall/F1 of
    * the classifier's hard `keep` decision ride along in integer
    * milli from the same pass.
    *
    * Arithmetic bound: the U2 accumulator reaches 2·n_pos·n_neg, so
    * exact-long evaluation requires n_pos·n_neg < 2^62 — i.e. up to
    * ~2.1e9 docs per class (≈4.3e9 balanced labeled docs, far beyond
    * any per-evaluation corpus; 100 TB of 4 KB docs is 2.5e10 total,
    * so a >2e9-PER-CLASS eval set would need sampling first, which is
    * what a calibration pass does anyway). Beyond that bound Spark's
    * long wraps silently while DuckDB HUGEINT widens — evaluate on a
    * ≤2^31-per-class sample to stay in the exact-parity regime. */
  def classifierAucOf(docs: DataFrame): DataFrame = {
    val scored = qualityClassifierOf(docs)
      .select(col("doc_id"), col("mean_w_milli").as("score"), col("keep"))
    val labeled = gopherQualityOf(docs)
      .select(col("doc_id"), col("gopher_pass"))
    val hist = scored.join(labeled, "doc_id")
      .groupBy("score")
      .agg(
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("np"),
        sum(when(!col("gopher_pass"), 1L).otherwise(0L)).as("nn"),
        sum(when(col("keep") && col("gopher_pass"), 1L).otherwise(0L)).as("kp"),
        sum(when(col("keep") && !col("gopher_pass"), 1L).otherwise(0L)).as("kn"))
    hist
      .agg(sort_array(collect_list(struct(col("score"), col("np"),
        col("nn"), col("kp"), col("kn")))).as("xs"))
      .select(expr(
        """aggregate(xs,
          |  named_struct('cumneg', 0L, 'u2', 0L, 'p', 0L, 'n', 0L,
          |               'tp', 0L, 'fp', 0L),
          |  (acc, x) -> named_struct(
          |    'cumneg', acc.cumneg + x.nn,
          |    'u2', acc.u2 + x.np * (2 * acc.cumneg + x.nn),
          |    'p', acc.p + x.np,
          |    'n', acc.n + x.nn,
          |    'tp', acc.tp + x.kp,
          |    'fp', acc.fp + x.kn))""".stripMargin).as("r"))
      .select(col("r.p").as("n_pos"), col("r.n").as("n_neg"),
        col("r.u2").as("u2"), col("r.tp").as("tp"), col("r.fp").as("fp"),
        (col("r.p") - col("r.tp")).as("fn"),
        (col("r.n") - col("r.fp")).as("tn"))
      .select(col("*"),
        // single-class corpus: AUC is undefined — NULL, not Inf/NaN
        when(col("n_pos") > 0 && col("n_neg") > 0,
          col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"),
        expr("tp * 1000 div greatest(tp + fp, 1)").as("precision_milli"),
        expr("tp * 1000 div greatest(tp + fn, 1)").as("recall_milli"),
        expr("2 * tp * 1000 div greatest(2 * tp + fp + fn, 1)").as("f1_milli"))
  }

  def classifierAuc(spark: SparkSession, dir: String): DataFrame =
    classifierAucOf(Tables.documents(spark, dir))
}
