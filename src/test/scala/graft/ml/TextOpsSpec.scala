package graft.ml

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Library-surface semantics of the text operators on crafted inputs
  * (the registered queries are oracle-checked; these pin the `*Of` API
  * behavior directly). */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("pii mask replaces every email and phone and counts them") {
    val docs = Seq(
      (1L, "mail a.b@x.co.uk and c%d@y-z.org, call 07700 900123 or 07123 456789"),
      (2L, "no pii here at all"),
      (3L, "edge: end with bob@site.io")
    ).toDF("doc_id", "note")
    val out = TextOps.piiMaskOf(docs, col("note"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("masked_text"), r.getAs[Int]("n_emails"), r.getAs[Int]("n_phones"))).toMap
    assert(out(1L)._1 == "mail <EMAIL> and <EMAIL>, call <PHONE> or <PHONE>")
    assert(out(1L)._2 == 2 && out(1L)._3 == 2)
    assert(out(2L) == (("no pii here at all", 0, 0)))
    assert(out(3L)._1 == "edge: end with <EMAIL>")
  }

  test("heaps curve: cumulative vocabulary and instance counts on crafted " +
    "deciles, monotone with a conserved total on real data") {
    // max_id = 3 -> bucket = doc_id * 10 div 4: ids 0,1,2,3 land in
    // buckets 0, 2, 5, 7; doc 3 is empty (tokens contribute nothing)
    val docs = Seq(
      (0L, "a b"), (1L, "a c"), (2L, "b c d"), (3L, "")
    ).toDF("doc_id", "text")
    val got = TextOps.heapsCurveOf(docs).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("docs_cum"), r.getAs[Long]("tokens_cum"),
          r.getAs[Long]("vocab_cum"), r.getAs[Long]("ttr_micro")))).toMap
    assert(got == Map(
      0L -> ((1L, 2L, 2L, 1000000L)),
      2L -> ((2L, 4L, 3L, 750000L)),
      5L -> ((3L, 7L, 4L, 571428L)),
      7L -> ((4L, 7L, 4L, 571428L))), s"got $got")

    // real corpus: curves are monotone and the last checkpoint conserves
    // the corpus totals (every doc, instance, and type accounted for)
    val real = TextOps.heapsCurve(spark, sf).collect().sortBy(_.getAs[Long]("bucket"))
    val d = graft.Tables.documents(spark, sf)
    assert(real.map(_.getAs[Long]("docs_cum")).toSeq ==
      real.map(_.getAs[Long]("docs_cum")).sorted.toSeq)
    assert(real.map(_.getAs[Long]("vocab_cum")).toSeq ==
      real.map(_.getAs[Long]("vocab_cum")).sorted.toSeq)
    assert(real.last.getAs[Long]("docs_cum") == d.count())
    val toks = d.select(explode(TextOps.tokens(col("text"))).as("t"))
    assert(real.last.getAs[Long]("tokens_cum") == toks.count())
    assert(real.last.getAs[Long]("vocab_cum") == toks.distinct().count())
  }

  test("zipf slope: crafted 2^-r series hits the hand-computed milli " +
    "slope; real corpus matches a scala replica") {
    def l2m(x: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(x)
      (b - 1) * 1000L + x * 1000L / (1L << (b - 1)) - 1000L
    }
    // freqs 8,4,2,1 at ranks 1..4: lx=[0,1000,1500,2000],
    // ly=[3000,2000,1000,0] -> num=13e6, den=8.75e6 -> -1485 milli
    val doc = (("za " * 8) + ("yb " * 4) + ("xc " * 2) + "wd").trim
    val crafted = Seq((1L, doc)).toDF("doc_id", "text")
    val r = TextOps.zipfSlopeOf(crafted).head()
    assert(r.getAs[Long]("n_terms") == 4L)
    assert(r.getAs[Long]("slope_milli") == -1485L, s"got $r")

    // real corpus: replica over the registered top-30 vocabulary
    val top = TextOps.vocabTopKOf(graft.Tables.documents(spark, sf), 30)
      .collect().map(_.getAs[Long]("freq"))
    val lx = top.indices.map(i => l2m(i + 1L))
    val ly = top.map(l2m)
    val n = top.length.toLong
    val (sx, sy) = (lx.sum, ly.sum)
    val sxy = lx.zip(ly).map { case (a, b) => a * b }.sum
    val sxx = lx.map(a => a * a).sum
    val expNeg = (sx * sy - n * sxy) * 1000 / (n * sxx - sx * sx)
    val real = TextOps.zipfSlope(spark, sf).head()
    assert(real.getAs[Long]("n_terms") == n)
    assert(real.getAs[Long]("slope_milli") == -expNeg)
    // natural-ish text: slope clearly negative
    assert(real.getAs[Long]("slope_milli") < 0L)
  }

  test("normalize strips punctuation, collapses whitespace, lowercases") {
    val docs = Seq((1L, "  Hello,   WORLD!!  it's 42.  ", 30L))
      .toDF("doc_id", "text", "n_chars")
    val out = TextOps.normalizeOf(docs).collect().head
    assert(out.getAs[String]("norm_text") == "hello world it s 42")
    assert(out.getAs[Int]("n_chars_norm") == 19)
  }

  test("text stats: counts, ratios and quality score in range") {
    val docs = Seq((1L, "the cat sat on the mat", 22L))
      .toDF("doc_id", "text", "n_chars")
    val r = TextOps.textStatsOf(docs).collect().head
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_uniq") == 5) // "the" twice
    assert(r.getAs[Double]("stopword_ratio") == 2.0 / 6.0)
    val q = r.getAs[Double]("quality_score")
    assert(q >= 0.0 && q <= 1.0)
  }

  test("registered pii query synthesizes exactly one email and phone per doc") {
    val out = TextOps.piiMask(spark, sf)
    assert(out.filter(col("n_emails") =!= 1 || col("n_phones") =!= 1).count() == 0)
    assert(out.filter(col("masked_text").contains("@")).count() == 0)
  }

  test("extractText strips tags, decodes entities once, erases control bytes") {
    import spark.implicits._
    val cases = Seq(
      ("<p>hello <b>world</b></p>", "hello world"),
      // &amp; decoded LAST: &amp;lt; must yield literal "&lt;", not "<"
      ("a &amp;lt; b &lt;c&gt; &quot;d&quot;", "a &lt; b <c> \"d\""),
      ("x\u0001y\u0007z\nw", "x y z w"),
      ("  spaced   <div>   out  </div>  ", "spaced out"),
      ("no markup at all", "no markup at all"))
    val got = cases.toDF("markup", "want")
      .select(TextOps.extractText(col("markup")).as("got"), col("want"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"got '${r.getString(0)}' want '${r.getString(1)}'"))
  }

  test("BPE merge rules match a naive greedy reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // tiny vocabulary so winning pairs recur and ROUND-2+ rules involve
    // round-1's merged tokens (the chaining that makes BPE BPE)
    val vocab = Vector("a", "b", "c")
    val docGen = for {
      n <- Gen.choose(4, 25)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks
    val docs = (0 until 50).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(4242L + i)))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }

    def naive(rounds: Int): Seq[(Int, String, String, Long)] = {
      var cur: Seq[Vector[String]] = docs.map(_._2.toVector)
      (1 to rounds).flatMap { r =>
        val counts = cur.flatMap(_.sliding(2).filter(_.length == 2))
          .map(p => (p(0), p(1))).filter(p => p._1 != p._2)
          .groupBy(identity).map { case (k, v) => k -> v.size }
        if (counts.isEmpty) Nil
        else {
          val ((p1, p2), n) = counts.minBy { case ((x, y), m) => (-m, x, y) }
          cur = cur.map { t =>
            val out = Seq.newBuilder[String]
            var i = 0
            while (i < t.length) {
              if (i + 1 < t.length && t(i) == p1 && t(i + 1) == p2) {
                out += s"${p1}_$p2"; i += 2
              } else { out += t(i); i += 1 }
            }
            out.result().toVector
          }
          Seq((r, p1, p2, n.toLong))
        }
      }
    }

    val rounds = 6
    val got = TextOps.bpeMergesOf(
        docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
        rounds = rounds)
      .collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("p1"),
        r.getAs[String]("p2"), r.getAs[Long]("n"))).toSeq.sortBy(_._1)
    assert(got == naive(rounds))
    // chaining really happened: some later rule consumes a merged token
    assert(got.exists { case (_, p1, p2, _) => p1.contains("_") || p2.contains("_") },
      s"no chained merge in $got — vocabulary too large for the test to bite")
    spark.catalog.clearCache()
  }

  test("doc rarity: hot/cold DF split equals the naive single join, and the " +
    "hapax/DF arithmetic is right on a crafted corpus") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_uniq"), r.getAs[Long]("n_hapax"),
        r.getAs[Long]("df_sum"), r.getAs[Long]("hapax_milli"),
        r.getAs[Long]("mean_df_milli"))).toSet

    // the real corpus: split must be a pure plan change, not a semantics one
    val docs = graft.Tables.documents(spark, sf)
    assert(rows(TextOps.docRarityOf(docs)) == rows(TextOps.docRarityNaiveOf(docs)))

    // crafted: "the" in all docs (hot), "unicorn" only in doc 3 (hapax)
    val mini = Seq(
      (1L, "the cat sat"), (2L, "the cat ran"), (3L, "the unicorn"))
      .toDF("doc_id", "text")
    val got = rows(TextOps.docRarityOf(mini)).map(t => t._1 -> t).toMap
    // doc 3: tokens {the(df 3), unicorn(df 1)} -> n_uniq 2, hapax 1,
    // df_sum 4, hapax_milli 500, mean_df_milli 2000
    assert(got(3L) == ((3L, 2L, 1L, 4L, 500L, 2000L)))
    // doc 1: {the(3), cat(2), sat(1)} -> 3 uniq, 1 hapax, df_sum 6,
    // 1000/3 = 333 (integral div), 2000
    assert(got(1L) == ((1L, 3L, 1L, 6L, 333L, 2000L)))
    spark.catalog.clearCache()
  }

  test("doc rarity matches a naive in-memory reference on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // small vocabulary -> dense DF collisions; within-doc duplicates and
    // singleton docs exercise the array_distinct and hapax paths
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docGen = for {
      n <- Gen.choose(1, 12)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks
    val docs = (0 until 50).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(4242L + i)))
      .zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val got = TextOps.docRarityOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_uniq"), r.getAs[Long]("n_hapax"),
          r.getAs[Long]("df_sum"), r.getAs[Long]("hapax_milli"),
          r.getAs[Long]("mean_df_milli")))).toMap
    val pairs = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).distinct.map(id -> _) }
    val dfTab = pairs.groupBy(_._2).map { case (t, occ) => t -> occ.size.toLong }
    val expected = pairs.groupBy(_._1).map { case (id, ps) =>
      val dfs = ps.map(p => dfTab(p._2))
      val (u, h, s) = (dfs.size.toLong, dfs.count(_ == 1L).toLong, dfs.sum)
      id -> ((u, h, s, h * 1000 / u, s * 1000 / u))
    }
    assert(got == expected)
    spark.catalog.clearCache()
  }

  test("gopher filter runs unchanged on a stream (stateless projection)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    // gopherQualityOf aggregates (the bigram mode), which a plain append
    // stream can't do — the STREAMING form is the row-local rule subset,
    // exactly what an ingest-time pre-filter applies before any shuffle
    val streamed = in.toDF().toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_words"),
        size(filter(col("toks"), w => w.rlike("[A-Za-z]")))
          .cast("long").as("n_alpha"))
      .filter(col("n_words") >= 2 && col("n_alpha") * 1000 >= col("n_words") * 500)
    val q = streamed.writeStream.format("memory").queryName("gq").outputMode("append").start()
    in.addData((1L, "the quick fox"), (2L, "1 2 3"), (3L, "x"))
    q.processAllAvailable()
    val kept = spark.table("gq").collect().map(_.getAs[Long]("doc_id")).toSet
    q.stop()
    // doc 1 passes; doc 2 fails the alpha rule; doc 3 fails min length
    assert(kept == Set(1L))
  }

  test("importance weights: likelihood-ratio arithmetic on a crafted corpus") {
    import spark.implicits._
    // target = doc 1. aa/bb: c_t=1, c_r=2; zz: c_t=0, c_r=2; N_r=6, N_t=2
    // lr(aa) = (1000 div 2) * (6000 div 2) div 1000 = 500*3000 div 1000 = 1500
    val docs = Seq(
      (1L, "aa bb"), (2L, "aa bb"), (3L, "zz zz"))
      .toDF("doc_id", "text")
    val got = TextOps.importanceWeightsOf(docs, col("doc_id") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("importance_milli")))).toMap
    assert(got(1L) == ((2L, 1500L)), s"$got")
    // a doc drawn from the target distribution scores the same wherever
    // it sits in the raw corpus...
    assert(got(2L) == ((2L, 1500L)))
    // ...and one with no target-attested token scores zero
    assert(got(3L) == ((2L, 0L)))
    // real corpus sanity: every doc weighted, weights non-negative
    val corpus = TextOps.importanceWeights(spark, sf).collect()
    assert(corpus.length == 500)
    assert(corpus.forall(_.getAs[Long]("importance_milli") >= 0L))
    spark.catalog.clearCache()
  }

  test("lm cross-entropy: fixed-point bigram arithmetic on a crafted corpus") {
    import spark.implicits._
    // target = doc 1 ("a b a b"): c(a,b)=2, c(b,a)=1; ctx a=2, b=1; V=2
    // log2m: 1->0, 2->1000, 3->1500, 4->2000 (floor log2 + milli interp)
    val docs = Seq(
      (1L, "a b a b"), (2L, "a b c"), (3L, "x y"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.lmCrossEntropyOf(docs, col("doc_id") === 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Long]("xent_milli")))).toMap
    // doc1: (a,b)=log2m(4)-log2m(3)=500 twice, (b,a)=log2m(3)-log2m(2)=500
    assert(got(1L) == ((3L, 500L)), s"$got")
    // doc2: seen (a,b)=500; unseen bigram, seen ctx (b,c)=log2m(3)-0=1500
    assert(got(2L) == ((2L, 1000L)))
    // doc3: unseen ctx falls to the smoothing floor 1/V: log2m(2)-0=1000
    assert(got(3L) == ((1L, 1000L)))
    // doc4 has no bigram — dropped, not scored as zero
    assert(!got.contains(4L) && got.size == 3)
    // real corpus: every multi-token doc scored, and the target slice
    // (en) scores lower mean cross-entropy than off-target docs
    val lang = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corpus = TextOps.lmCrossEntropy(spark, sf).collect()
      .map(r => lang(r.getAs[Long]("doc_id")) -> r.getAs[Long]("xent_milli"))
    assert(corpus.length == 500)
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val (en, rest) = corpus.partition(_._1 == "en")
    assert(mean(en.toSeq.map(_._2)) < mean(rest.toSeq.map(_._2)))
    spark.catalog.clearCache()
  }

  test("gopher quality: repetition and shape rules fire on crafted docs") {
    import spark.implicits._
    val docs = Seq(
      // alternating bigram loop: top bigram "aa bb" covers the doc
      (1L, "aa bb aa bb aa bb aa bb aa bb"),
      // clean prose-shaped doc: everything passes
      (2L, "the quick brown fox jumps over lazy dog here now"),
      // digits only: alphabetic-word rule fails
      (3L, "123 456 789 012 345 678 901 234 567 890"))
      .toDF("doc_id", "text")
    val got = TextOps.gopherQualityOf(docs).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("mean_word_len_milli"),
          r.getAs[Long]("alpha_word_milli"), r.getAs[Long]("top_bigram_milli"),
          r.getAs[Long]("rep5_milli"), r.getAs[Boolean]("gopher_pass")))).toMap
    // doc 1: "aa bb" occurs 5x in 9 bigrams -> 5*2000 div 10 = 1000;
    // 6 5-grams, 2 distinct -> (6-2)*1000 div 6 = 666; both rules fire
    assert(got(1L) == ((10L, 2000L, 1000L, 1000L, 666L, false)))
    // doc 2: all-distinct tokens -> top bigram 1 -> exactly the 200
    // boundary (inclusive); zero repeated 5-grams; passes
    assert(got(2L) == ((10L, 3900L, 1000L, 200L, 0L, true)))
    // doc 3: no alphabetic words -> alpha rule fails
    assert(got(3L)._3 == 0L && !got(3L)._6)
    // the real corpus: values must be populated and mostly passing
    val corpus = TextOps.gopherQuality(spark, sf).collect()
    assert(corpus.length == 500)
    val passFrac = corpus.count(_.getAs[Boolean]("gopher_pass")).toDouble / 500
    assert(passFrac > 0.9, s"pass fraction $passFrac")
    spark.catalog.clearCache()
  }

  test("heavy hitters: Misra–Gries candidate pass is exact vs a naive " +
    "reference, even with tiny k forcing heavy eviction") {
    val rng = new scala.util.Random(0xC0FFEE)
    // Zipf-ish corpus: few hot tokens, long random tail, spread over
    // many partitions so the per-partition candidate argument is live
    val words = (1 to 4000).map { _ =>
      val r = rng.nextInt(100)
      if (r < 30) "hot" + rng.nextInt(3)
      else if (r < 50) "warm" + rng.nextInt(20)
      else "tail" + rng.nextInt(1500)
    }
    val docs = words.grouped(10).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(8)
    for (k <- Seq(5, 20, 100)) {
      val got = TextOps.heavyHittersOf(docs, k).collect()
        .map(r => r.getAs[String]("token") -> r.getAs[Long]("freq")).toMap
      val naive = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter { case (_, c) => c * k > words.size }
      assert(got == naive, s"k=$k: got ${got.size}, expected ${naive.size}")
    }
    // exactness at the boundary: freq*k == N must be EXCLUDED
    val edge = Seq((1L, Seq.fill(2)("x").mkString(" ")),
      (2L, Seq.fill(6)("y").mkString(" ")))
      .toDF("doc_id", "text") // N=8; x:2 (2*4==8, out), y:6 (in) at k=4
    val e = TextOps.heavyHittersOf(edge, 4).collect().map(_.getString(0))
    assert(e.toSeq == Seq("y"))
  }

  test("bm25 matches a naive fixed-point reference on random corpora") {
    val rng = new scala.util.Random(0xBEEF)
    val vocab = (1 to 30).map("w" + _)
    val docs = (1L to 120L).map { id =>
      val n = 3 + rng.nextInt(40)
      (id, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val terms = Seq("w1", "w7", "w23")
    def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq
    def log2m(x: Long): Long = {
      val bl = java.lang.Long.toBinaryString(x).length
      (bl - 1) * 1000L + x * 1000L / (1L << (bl - 1)) - 1000L
    }
    val nDocs = docs.size.toLong
    val avgdlMilli = docs.map(d => toks(d._2).size.toLong).sum * 1000L / nDocs
    val tf = docs.flatMap { case (id, text) =>
      val ts = toks(text)
      ts.filter(terms.contains).groupBy(identity).map { case (t, g) =>
        (id, ts.size.toLong, t, g.size.toLong)
      }
    }
    val dfm = tf.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val naive = tf.groupBy(_._1).view.mapValues { rows =>
      (rows.size.toLong, rows.map { case (_, dl, t, f) =>
        val idf = log2m(2 * nDocs + 2) - log2m(2 * dfm(t) + 1)
        val den = f * 1000 + 1200 * (250 + 750 * (dl * 1000000 / avgdlMilli) / 1000) / 1000
        idf * (f * 2200 * 1000 / den) / 1000
      }.sum)
    }.toMap
    val expect = naive.toSeq
      .sortBy { case (id, (_, s)) => (-s, id) }.take(20)
      .map { case (id, (n, s)) => (id, n, s) }
    val got = TextOps.bm25Of(docs.toDF("doc_id", "text").repartition(6), terms)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("bm25_milli"))).toSeq
    assert(got == expect)
    // rare-term dominance on the real corpus: every doc containing the
    // rare term must outrank every doc without it
    val corpus = TextOps.bm25(spark, sf).collect()
    assert(corpus.length == 20)
    val hasDup = graft.Tables.documents(spark, sf)
      .filter(array_contains(TextOps.tokens(col("text")), "dup"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val scores = corpus.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bm25_milli")))
    val (inn, out) = scores.partition(s => hasDup(s._1))
    assert(inn.nonEmpty)
    if (out.nonEmpty) assert(inn.map(_._2).min > out.map(_._2).max)
  }

  test("bpe encode applies a trained merge table to unseen text in order") {
    // train: (a,b) wins r1 (freq 3); (a_b,c) wins r2 (freq 2);
    // r3 ties (a_b,a_b_c) vs (a_b_c,d) -> lexicographic p1 picks a_b
    val train = Seq((2L, "a b a b c"), (4L, "a b c d")).toDF("doc_id", "text")
    val merges = TextOps.bpeMergesOf(train, rounds = 3)
    val got = merges.orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("p1"), r.getAs[String]("p2")))
    assert(got.toSeq == Seq((1, "a", "b"), (2, "a_b", "c"), (3, "a_b", "a_b_c")))
    // apply to unseen docs: r1 then r2 fire on doc 1; r3 finds no
    // (a_b, a_b_c) adjacency post-r2; doc 3 only merges (a,b)
    val apply = Seq((1L, "a b c a b x"), (3L, "b c a b")).toDF("doc_id", "text")
    val enc = TextOps.bpeEncodeOf(apply, merges, rounds = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens_ws"), r.getAs[Long]("n_tokens_bpe"),
          r.getAs[Long]("n_merged")))).toMap
    assert(enc(1L) == ((6L, 3L, 3L)))
    assert(enc(3L) == ((4L, 3L, 1L)))
    spark.catalog.clearCache()
  }

  test("quality classifier: hashed weights fold to the reference sum") {
    // replicate the hash -> bucket -> weight chain on the driver
    def w(tok: String): Long = {
      val code = tok.length.toLong * 256 + tok.head.toInt
      (code * 48271L % TextOps.ClassifierBuckets) * 2654435761L % 2001L
    }
    val docs = Seq((1L, "aa b ccc aa"), (2L, "")).toDF("doc_id", "text")
    val out = TextOps.qualityClassifierOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Long]("w_sum"),
          r.getAs[Long]("mean_w_milli"), r.getAs[Boolean]("keep")))).toMap
    val sum1 = Seq("aa", "b", "ccc", "aa").map(w).sum
    assert(out(1L) == ((4, sum1, sum1 / 4, sum1 > 4000L)))
    assert(out(2L) == ((0, 0L, 0L, false))) // empty doc scores 0, dropped
  }

  test("quality prune cuts each source's bottom quantile independently") {
    // source A: qualities strictly increase with token count (all-unique
    // tokens keep lexical density at 1); B is a single always-kept doc
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    val docs = ((1 to 10).map(i => (i.toLong, "A", mk(i * 3))) :+
      (99L, "B", mk(5))).toDF("doc_id", "source", "text")
    val kept = TextOps.qualityPruneOf(docs, dropQuantile = 0.3)
      .collect().map(r => r.getAs[Long]("doc_id")).toSet
    assert(kept.contains(99L))
    val keptA = kept - 99L
    // the A docs below the 30th percentile (ids 1..3 of 1..10) are gone
    assert(keptA == (4 to 10).map(_.toLong).toSet)
  }

  test("mixture weights use the exact integer sqrt of token counts") {
    val mk = (n: Int) => (1 to n).map(i => s"t$i").mkString(" ")
    // 15/16/17 tokens straddle the perfect square: isqrt = 3, 4, 4
    val docs = Seq((1L, "p15", mk(15)), (2L, "p16", mk(16)),
      (3L, "p17", mk(17))).toDF("doc_id", "source", "text")
    val out = TextOps.mixtureWeightsOf(docs).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("sqrt_tokens"), r.getAs[Long]("weight_milli")))).toMap
    assert(out("p15") == ((3L, 3000L / 11)))
    assert(out("p16") == ((4L, 4000L / 11)))
    assert(out("p17") == ((4L, 4000L / 11)))
  }

  test("anneal schedule: two phases per source, weights near-normalized, " +
    "anneal favors the high-quality source") {
    // source A: long, lexically dense docs; source B: short repetitive ones
    val docs = ((1L to 10L).map(i =>
      (i, (1 to 80).map(j => s"uniq${i}_$j").mkString(" "), "A")) ++
      (11L to 20L).map(i => (i, "dup dup dup dup dup dup", "B")))
      .toDF("doc_id", "text", "source")
    val rows = TextOps.annealScheduleOf(docs).collect()
    val byPhase = rows.groupBy(_.getAs[String]("phase"))
    assert(byPhase.keySet == Set("bulk", "anneal"))
    byPhase.values.foreach { rs =>
      assert(rs.map(_.getAs[String]("source")).toSet == Set("A", "B"))
      val w = rs.map(_.getAs[Long]("weight_milli")).sum
      assert(w > 1000 - rs.length && w <= 1000)
    }
    def weight(p: String, s: String) = rows.find(r =>
      r.getAs[String]("phase") == p && r.getAs[String]("source") == s)
      .get.getAs[Long]("weight_milli")
    // the anneal phase shifts weight toward the high-quality source
    assert(weight("anneal", "A") > weight("bulk", "A"))
    assert(weight("anneal", "A") > weight("anneal", "B"))
  }

  test("boilerplate screen: shared banner flagged, unique tails kept") {
    val banner = "copyright firm all rights reserved x" // 6 tokens
    val docs = (0 until 4).map { i =>
      (i.toLong, banner + " " + (0 until 6).map(j => s"body${i}_$j").mkString(" "))
    } :+ (9L, (0 until 12).map(j => s"solo_$j").mkString(" "))
    val out = TextOps.boilerplateStatsOf(docs.toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    (0 until 4).foreach { i =>
      val r = out(i.toLong)
      assert(r.getAs[Long]("n_segments") == 2L)
      assert(r.getAs[Long]("n_boilerplate") == 1L) // the banner
      assert(r.getAs[Long]("kept_chars") > 0L)     // the unique tail
    }
    val solo = out(9L)
    assert(solo.getAs[Long]("n_boilerplate") == 0L)
    assert(solo.getAs[Long]("n_segments") == 2L)
  }

  test("epoch plan: draws capped by availability and budget share, " +
    "exhaustion horizon consistent") {
    val rows = TextOps.epochPlan(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val avail = r.getAs[Long]("n_tokens")
      val wm = r.getAs[Long]("weight_milli")
      val planned = r.getAs[Long]("planned_tokens")
      val epochs = r.getAs[Long]("epochs_until_exhausted")
      assert(planned <= avail)
      assert(planned <= TextOps.EpochTokenBudget * wm / 1000)
      assert(epochs == avail / math.max(planned, 1L))
      // an uncapped source is exhausted only after >= 1 full epoch
      assert(epochs >= 1L || planned == avail)
    }
    // total draw never exceeds the budget (weights sum to <= 1000 milli)
    assert(rows.map(_.getAs[Long]("planned_tokens")).sum <=
      TextOps.EpochTokenBudget)
  }

  test("classifier AUC: histogram-fold U equals the naive pairwise AUC " +
    "and the confusion matrix partitions the corpus") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf)
    val got = TextOps.classifierAucOf(docs).collect().head
    // naive replay: every (pos, neg) score pair scores 1 / 0.5 / 0
    val scored = TextOps.qualityClassifierOf(docs)
      .select(col("doc_id"), col("mean_w_milli"))
      .join(TextOps.gopherQualityOf(docs)
        .select(col("doc_id"), col("gopher_pass")), "doc_id")
      .collect()
      .map(r => (r.getAs[Long]("mean_w_milli"), r.getAs[Boolean]("gopher_pass")))
    val pos = scored.filter(_._2).map(_._1)
    val neg = scored.filterNot(_._2).map(_._1)
    var u2 = 0L
    for (p <- pos; n <- neg)
      u2 += (if (p > n) 2L else if (p == n) 1L else 0L)
    assert(got.getAs[Long]("n_pos") == pos.length.toLong)
    assert(got.getAs[Long]("n_neg") == neg.length.toLong)
    assert(got.getAs[Long]("u2") == u2, "fold U2 != naive pairwise U2")
    val auc = got.getAs[Double]("auc")
    assert(auc == u2.toDouble / (2.0 * pos.length * neg.length))
    assert(auc >= 0.0 && auc <= 1.0)
    // confusion matrix partitions the corpus
    assert(got.getAs[Long]("tp") + got.getAs[Long]("fp") +
      got.getAs[Long]("fn") + got.getAs[Long]("tn") == scored.length.toLong)
    // single-class degenerate: AUC is NULL (undefined), never Inf/NaN;
    // the confusion columns stay well-defined. A corpus of empty docs
    // fails every Gopher rule -> n_pos = 0.
    import spark.implicits._
    val oneClass = TextOps.classifierAucOf(
      (1L to 20L).map(i => (i, "x")).toDF("doc_id", "text")).collect().head
    assert(oneClass.getAs[Long]("n_pos") == 0L)
    assert(oneClass.isNullAt(oneClass.fieldIndex("auc")))
    assert(oneClass.getAs[Long]("tp") == 0L && oneClass.getAs[Long]("fn") == 0L)
  }
}
