package graft.ml

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Verifies the hash-based dedup paths (MinHash/SimHash — not
  * SQL-oracle-expressible) against exact n-gram Jaccard, plus golden
  * behavior on a crafted corpus with known duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Crafted corpus written as a documents.parquet dir: exact dup pair,
    * near-dup pair (one token changed), and unrelated docs. */
  lazy val craftedDir: String = {
    val dir = Files.createTempDirectory("graft-dedup").toString
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src0", base.length.toLong),          // exact dup of 0
      (2L, near, "en", "src0", near.length.toLong),          // near dup of 0
      (3L, "completely different words here entirely", "en", "src1", 42L),
      (4L, "another unrelated document body text", "en", "src1", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup collapses identical texts to the lowest doc_id") {
    val groups = Dedup.exactGroups(spark, craftedDir).collect()
    val dupGroup = groups.find(_.getAs[Long]("n_docs") > 1)
    assert(dupGroup.isDefined)
    assert(dupGroup.get.getAs[Long]("keep_id") == 0L)
    assert(Dedup.exactSurvivors(spark, craftedDir).count() == 4)
  }

  test("ngram Jaccard finds the near-dup pair and not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(spark, craftedDir, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L))) // exact dup
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("prefix filtering is LOSSLESS: equals the uncapped brute-force " +
      "index join at the threshold, on real documents") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
    val got = Dedup.prefixFilterPairsOf(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jm"))).toSet
    // naive yardstick: full inverted index, no prefix, no df cap
    val sh = docs
      .select(col("doc_id"), explode(Dedup.hashedShingles(col("text"))).as("h"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("1000 * inter div (na + nb - inter)").as("jm"))
      .filter(col("jm") >= Dedup.PrefixThresholdMilli)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("jm"))).toSet
    assert(got == naive, s"prefix filter must be exact: got ${got.size}, " +
      s"naive ${naive.size}")
    assert(naive.nonEmpty, "fixture should contain near-dups at 0.8")
  }

  test("cluster size histogram conserves the document count") {
    val clusters = Dedup.ngramClusters(spark, sf)
    val nDocs = clusters.count()
    val hist = Dedup.clusterSizeHistogramOf(clusters).collect()
    assert(hist.map(r =>
      r.getAs[Long]("family_size") * r.getAs[Long]("n_families")).sum == nDocs)
    assert(hist.exists(_.getAs[Long]("family_size") > 1L)) // real dup families
    spark.catalog.clearCache()
  }

  test("containment pairs catch a quoted subset that Jaccard misses") {
    val big = (1 to 200).map(i => s"w$i").mkString(" ")
    val small = (1 to 22).map(i => s"w$i").mkString(" ") // prefix quote of big
    val other = (1 to 200).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairsOf(docs).collect()
    assert(cont.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L &&
      r.getAs[Long]("cont_a_in_b_milli") == 1000L),
      s"subset pair not found in ${cont.mkString(",")}")
    // the unrelated doc pairs with nothing
    assert(!cont.exists(r => r.getAs[Long]("doc_a") == 3L ||
      r.getAs[Long]("doc_b") == 3L))
    // Jaccard at 0.7 structurally misses it (similarity ~ |A|/|B|)
    val jac = Dedup.ngramJaccardPairsOf(docs).collect()
    assert(!jac.exists(r => r.getAs[Long]("doc_a") == 1L &&
      r.getAs[Long]("doc_b") == 2L))
  }

  test("minhash LSH recovers the exact-Jaccard pairs (recall) without " +
    "flooding (precision) on real data") {
    val exact = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.7)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val mh = Dedup.minhashPairs(spark, sf, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val recall = exact.count(mh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"minhash recall $recall over ${exact.size} pairs")
    assert(mh.size <= exact.size * 5 + 10, s"minhash flooded: ${mh.size} pairs")
  }

  test("sequence packing: contiguous fill respects the budget per bin") {
    val budget = 256
    val rows = Dedup.packSequencesOf(
        graft.Tables.documents(spark, sf), budget = budget, shards = 4)
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("bin"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens")))
    assert(rows.nonEmpty)
    // multiple docs actually share bins (the operator packs, not labels)
    assert(rows.groupBy(t => (t._1, t._2)).exists(_._2.length > 1))
    rows.groupBy(t => (t._1, t._2)).foreach { case ((shard, bin), ds) =>
      // fill property: before a bin's LAST doc arrived, the bin was
      // under budget — so only one doc can overshoot, and bins are tight
      val sorted = ds.sortBy(_._3)
      val withoutLast = sorted.init.map(_._4).sum
      assert(withoutLast < budget,
        s"bin ($shard,$bin) was already full before its last doc: $withoutLast")
    }
    // shards partition the corpus: every doc appears exactly once
    assert(rows.map(_._3).distinct.length == rows.length)
  }

  test("simhash: exact dups at hamming 0, near dups within threshold") {
    val pairs = Dedup.simhashPairs(spark, craftedDir, maxHamming = 10)
      .collect().map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Int]("hamming"))).toMap
    assert(pairs.get((0L, 1L)).contains(0))
    assert(pairs.contains((0L, 2L)))
  }

  test("simhash blocking is LOSSLESS at the gate: blocked == brute force, " +
    "including planted pairs at exactly maxHamming") {
    import spark.implicits._
    // adversarial plants at the guarantee bound: 6 flipped bits spread so
    // every 16-bit chunk of the OLD fixed blocking differs (bits 0, 16,
    // 32, 48 kill all four old chunks; 5 and 21 pad to hamming 6). The
    // maxHamming+1-chunk blocking must still find them.
    def flips(bits: Seq[Int]): Long = bits.map(1L << _).reduce(_ | _)
    val planted = Seq(
      (9001L, 0L),
      (9002L, flips(Seq(0, 16, 32, 48, 5, 21))),        // hamming 6 from 9001
      (9003L, flips(Seq(1, 17, 33, 49, 9, 25, 41))),    // hamming 7 — past gate
      (9004L, -1L),
      (9005L, -1L ^ flips(Seq(7, 23, 39, 55, 13, 29)))) // hamming 6 from 9004
    // plus the real corpus signatures — the equivalence must hold on data
    val real = Dedup.simhash(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash")))
    val all = planted ++ real
    val brute = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      if java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (a, b)).toSet
    val blocked = Dedup.simhashPairsOfSigs(
        all.toDF("doc_id", "simhash"), maxHamming = 6)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(blocked == brute,
      s"missing=${brute.diff(blocked).take(5)} extra=${blocked.diff(brute).take(5)}")
    assert(brute((9001L, 9002L)) && brute((9004L, 9005L)),
      "planted at-the-bound pairs must be in the expected set")
    assert(!blocked.exists(p => p._1 == 9003L || p._2 == 9003L),
      "hamming-7 plant must be gated out")
  }

  test("winnowing fingerprints catch the crafted near-dups and agree with " +
    "n-gram Jaccard on real data") {
    val pairs = Dedup.winnowPairsOf(
        spark.read.parquet(s"$craftedDir/documents.parquet"), threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dup must share all fingerprints: $pairs")
    assert(pairs.contains((0L, 2L)), s"near dup must overlap: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))

    // on the real corpus: winnow pairs at 0.5 should recover most exact
    // ngram pairs at 0.7 (different granularity — expect high overlap)
    val exact = Dedup.ngramJaccardPairs(spark, sf, threshold = 0.7)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val winnow = Dedup.winnowPairs(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val recall = exact.count(winnow.contains).toDouble / math.max(exact.size, 1)
    assert(recall >= 0.7, s"winnow recall vs ngram: $recall")
  }

  test("repeated-span stats count exactly the globally duplicated k-grams") {
    // doc 1 and doc 2 share one 10-token span (planted copy); doc 3 is
    // unique; doc 4 repeats a span twice WITHIN itself (self-repetition
    // counts — the C4 rule is corpus-global occurrences, not doc count)
    val span = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$span alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, s"pre1 pre2 pre3 $span post1 post2 post3 post4 post5"),
      (3L, (1 to 20).map(i => s"u$i").mkString(" ")),
      (4L, s"$span filler1 filler2 filler3 filler4 filler5 filler6 filler7 filler8 filler9 $span")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedupStatsOf(docs)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_repeated"))).toMap
    // doc 1: 19 tokens -> 10 spans; only the one starting at pos 0 is the
    // planted span (the rest mix planted + unique tail)
    assert(got(1L) == (10L, 1L))
    assert(got(2L) == (9L, 1L))
    assert(got(3L) == (11L, 0L))
    // doc 4: 29 tokens -> 20 spans; the planted span occurs at both ends
    assert(got(4L) == (20L, 2L))
  }

  test("repeated-span stats match a naive reference on random token streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // tiny vocabulary so k-gram collisions are common — both the repeated
    // and the unique path get exercised hard
    val vocab = Vector("a", "b", "c", "d", "e")
    val docGen = for {
      n <- Gen.choose(5, 30)
      toks <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield toks
    val docs = (0 until 60).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(1717L + i)))
      .zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val k = 3
    val got = Dedup.spanDedupStatsOf(docs.toDF("doc_id", "text"), k = k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_spans"), r.getAs[Long]("n_repeated"))).toMap
    // naive reference: global occurrence counts over all k-gram positions
    val spans = docs.flatMap { case (id, text) =>
      text.split(" ").filter(_.nonEmpty).sliding(k).filter(_.length == k)
        .map(w => id -> w.mkString(" "))
    }
    val counts = spans.groupBy(_._2).map { case (s, occ) => s -> occ.size }
    val expected = spans.groupBy(_._1).map { case (id, ss) =>
      id -> (ss.size.toLong, ss.count(s => counts(s._2) >= 2).toLong)
    }
    assert(got == expected)
  }

  test("clusters: transitive closure of pairs, min doc_id is the cluster id") {
    import spark.implicits._
    // chain 1-2, 2-3 plus isolated pair 7-8: {1,2,3} and {7,8}
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.clustersOf(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))

    // crafted corpus: exact+near dups {0,1,2} cluster; 3 and 4 have no pairs
    val crafted = Dedup.clustersOf(
      Dedup.ngramJaccardPairs(spark, craftedDir, threshold = 0.5)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(crafted == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))

    // a 60-hop chain exceeds any plausible hop-per-round budget — pointer
    // jumping must still converge it (within the default maxIters)
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val chained = Dedup.clustersOf(chain).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
    assert(chained.length == 61 && chained.forall(_._2 == 0L))

    // a corpus with no duplicates at all is a legal input, not a crash
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clustersOf(none).count() == 0)

    // null tokens in the public simhash kernel carry no vote, no NPE
    val sig = spark.range(1).select(
      graft.functions.ArrayOps.simhash_poly_sig(
        array(lit("a"), lit(null).cast("string"), lit("b"))).as("s"),
      graft.functions.ArrayOps.simhash_poly_sig(array(lit("a"), lit("b"))).as("t"))
      .head()
    assert(sig.getLong(0) == sig.getLong(1))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val pairs = Dedup.embeddingPairs(spark, sf).collect()
    pairs.foreach { r =>
      assert(r.getAs[Long]("vec_a") < r.getAs[Long]("vec_b"))
      assert(r.getAs[Double]("cosine") > 0.39) // integer-gate ~= 0.4
    }
  }

  test("tiled embedding pairs equal the naive theta-join exactly") {
    // sf0.01 sits below EmbPairsSampleBase, so the registered yardstick
    // is UNSAMPLED here and must equal the full naive pair set
    val emb = graft.Tables.embeddings(spark, sf)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val naive = asSet(Dedup.embeddingPairsExactOf(emb))
    val tiled = asSet(Dedup.embeddingPairs(spark, sf))
    assert(tiled == naive,
      s"tiled plan changed the result: missing=${naive.diff(tiled).take(5)} " +
        s"extra=${tiled.diff(naive).take(5)}")
    spark.catalog.clearCache()
  }

  test("above the base corpus the yardstick is exact all-pairs OVER the " +
    "deterministic hash sample (membership + pair set both replayed)") {
    import spark.implicits._
    // 10,000 synthetic 4-d vectors: past one doubling of the base ->
    // smod = 4, expected sample ~2,500
    val n = 10000L
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      array(Seq(1, 3, 7, 11).map(m =>
        (pmod(col("id") * m, lit(17L)) - lit(8L)).cast("float")): _*)
        .as("embedding"))
    // replay the gate in plain Scala: smod = 4 at n = 10,000 (id is
    // reduced mod the prime before the multiply, as in the kernel)
    val keep = (0L until n).filter(id =>
      (((id % 1000003L) * 2654435761L + 12345L) % 1000003L) * 4L < 1000003L)
    assert(keep.size > 2000 && keep.size < 3000, s"sample=${keep.size}")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val sampledTiled = asSet(Dedup.embeddingPairsOf(vecs))
    val naiveOnSample = asSet(Dedup.embeddingPairsExactOf(
      vecs.filter(col("vec_id").isInCollection(keep))))
    assert(sampledTiled == naiveOnSample,
      s"missing=${naiveOnSample.diff(sampledTiled).take(5)} " +
        s"extra=${sampledTiled.diff(naiveOnSample).take(5)}")
    spark.catalog.clearCache()
  }

  test("LSH-mined pairs: subset of exact; ALL true near-dups (cos>=0.9) recovered") {
    val emb = graft.Tables.embeddings(spark, sf)
    val exact = Dedup.embeddingPairsExactOf(emb).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    val mined = Dedup.embeddingLshPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    // blocking only removes candidates; the gate is identical — mined can
    // never contain a pair the exact form lacks
    assert(mined.subsetOf(exact),
      s"mined produced non-pairs: ${mined.diff(exact).take(5)}")
    spark.catalog.clearCache()

    // plant genuine near-dups (cos ~0.99, NOT identical — each twin gets
    // a different jitter seed so the pair exercises real cross-bucket
    // collision, not the trivial equal-vector case): at that similarity
    // the 8x16 table shape misses a pair with negligible probability,
    // so every planted pair must surface
    val base = (0 until 64).map(i => math.sin(i * 0.7) * 10).toArray
    def jitter(seed: Int): Array[Double] =
      base.zipWithIndex.map { case (x, i) => x + math.sin(seed * 131 + i) * 0.9 }
    val rows = (0 until 20).flatMap { g =>
      Seq((g * 2L, jitter(g)), (g * 2L + 1L, jitter(g + 5000)))
    } ++ (1000L until 1100L).map(i =>
      (i, (0 until 64).map(d => math.sin(i * 997.0 + d * 13.7) * 10).toArray))
    val planted = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val found = Dedup.embeddingLshPairsOf(planted).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    (0 until 20).foreach { g =>
      assert(found((g * 2L, g * 2L + 1L)),
        s"planted near-dup pair ($g) escaped the LSH blocker")
    }
    spark.catalog.clearCache()

  }

  test("k-NN graph: twin is rank-1 inside well-separated clusters; " +
    "ranks dense, dots monotone") {
    // ten mutually-dissimilar group bases (phase-shifted sines: pairwise
    // cosine ~ cos(phase delta), and 2.4·g stays >= 0.35 rad from any
    // multiple of 2pi for g <= 9, capping cross-group cos at ~0.94) with
    // two tight twins each (jitter 2% of magnitude, cos ~0.999): the
    // twin MUST be every member's nearest neighbor
    def gbase(g: Int): Array[Double] =
      (0 until 64).map(i => math.sin(i * 0.7 + g * 2.4) * 10).toArray
    def gjitter(g: Int, seed: Int): Array[Double] =
      gbase(g).zipWithIndex.map { case (x, i) => x + math.sin(seed * 131 + i) * 0.2 }
    val rows = (0 until 10).flatMap { g =>
      Seq((g * 2L, gjitter(g, g)), (g * 2L + 1L, gjitter(g, g + 77)))
    } ++ (1000L until 1050L).map(i =>
      (i, (0 until 64).map(d => math.sin(i * 997.0 + d * 13.7) * 10).toArray))
    val corpus = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val knn = Dedup.embeddingKnnGraphOf(corpus).collect()
    val bySrc = knn.groupBy(_.getAs[Long]("src"))
    (0 until 10).foreach { g =>
      Seq((g * 2L, g * 2L + 1L), (g * 2L + 1L, g * 2L)).foreach { case (a, b) =>
        val top = bySrc(a).minBy(_.getAs[Int]("rank"))
        assert(top.getAs[Long]("dst") == b,
          s"vec $a: rank-1 neighbor is ${top.getAs[Long]("dst")}, want twin $b")
      }
    }
    bySrc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val dots = sorted.map(_.getAs[Long]("dot"))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b })
    }
    spark.catalog.clearCache()
  }

  test("incremental admit: corpus dup and batch-internal dup rejected, " +
    "novelty admitted, corpus index probed by broadcast") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 20) "CHANGED" else s"tok$i").mkString(" ")
    val novel = (1 to 40).map(i => s"other$i").mkString(" ")
    def docsDf(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
    val corpus = docsDf(Seq(
      (0L, base),
      (3L, "completely different words here entirely spread over tokens"),
      (4L, "another unrelated document body text with enough words")))
    val batch = docsDf(Seq(
      (10L, base),   // dup of corpus 0
      (11L, novel),  // genuinely new
      (12L, novel),  // batch-internal dup of 11
      (13L, near)))  // near-dup of corpus 0 AND batch 10
    val out = Dedup.incrementalAdmitOf(Dedup.minhashIndexOf(corpus), batch)
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "the corpus-index probe must be a broadcast join, never a corpus shuffle")
    val rows = out.collect().map { r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"),
          if (r.isNullAt(r.fieldIndex("dup_of"))) None
          else Some(r.getAs[Long]("dup_of"))))
    }.toMap
    assert(rows(10L) == (("reject", Some(0L))))
    assert(rows(11L) == (("admit", None)))
    assert(rows(12L) == (("reject", Some(11L))))
    assert(rows(13L) == (("reject", Some(0L)))) // min of matches {0, 10}
    spark.catalog.clearCache()
  }

  test("incremental admit agrees with the pair query's keep-first " +
    "projection on real data") {
    val isBatch = (id: Long) => id % 10 >= 8
    // derive the expected verdicts from the already-verified pair query
    // over the union: reject a batch doc iff it pairs with a corpus doc
    // (either direction) or an earlier batch doc; dup_of = min neighbor
    val expected = scala.collection.mutable.Map[Long, Long]()
    Dedup.minhashPairs(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .foreach { case (a, b) =>
        if (isBatch(b) && (!isBatch(a) || a < b))
          expected(b) = math.min(expected.getOrElse(b, Long.MaxValue), a)
        if (isBatch(a) && !isBatch(b))
          expected(a) = math.min(expected.getOrElse(a, Long.MaxValue), b)
      }
    spark.catalog.clearCache()
    val out = Dedup.incrementalAdmit(spark, sf).collect()
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      expected.get(id) match {
        case Some(m) =>
          assert(r.getAs[String]("status") == "reject", s"doc $id")
          assert(r.getAs[Long]("dup_of") == m, s"doc $id dup_of")
        case None =>
          assert(r.getAs[String]("status") == "admit", s"doc $id")
          assert(r.isNullAt(r.fieldIndex("dup_of")), s"doc $id dup_of")
      }
    }
    val nBatch = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 >= 8).count()
    assert(out.length.toLong == nBatch, "one verdict per batch doc")
    spark.catalog.clearCache()
  }

  test("bloom-pruned contamination is exact: equal to the unpruned join, " +
    "with the might_contain gate in the executed plan") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared")).toMap
    val exact = rows(Dedup.contamination(spark, sf))
    spark.catalog.clearCache()
    // a deliberately coarse filter (fpp 0.5) still yields the exact
    // result — false positives die in the equi-join, by construction
    val bloomDf = Dedup.contaminationBloomOf(
      graft.Tables.documents(spark, sf), fpp = 0.5)
    val bloom = rows(bloomDf)
    assert(bloom == exact)
    assert(exact.nonEmpty, "corpus should contain planted contamination")
    assert(bloomDf.queryExecution.executedPlan.toString
      .contains("might_contain"), "bloom gate missing from the plan")
    spark.catalog.clearCache()
  }

  test("train-side decontamination flags exactly the >=50%-contained " +
    "near-dup of a benchmark doc") {
    import spark.implicits._
    val evalText = (1 to 20).map("a" + _).mkString(" ")  // 18 shingles
    // one token changed mid-doc kills the 3 shingles covering it: 15/18
    // shared >= 50% -> flagged
    val nearDup = (1 to 20).map(i => if (i == 10) "X" else "a" + i)
      .mkString(" ")
    // two shared shingles (a1 a2 a3 / a2 a3 a4) out of 18: 2/18 < 50%
    val lowOverlap = ((1 to 4).map("a" + _) ++ (1 to 16).map("u" + _))
      .mkString(" ")
    val unrelated = (1 to 20).map("z" + _).mkString(" ")
    val docs = Seq(
      (0L, evalText),     // 0 % 97 == 0: the benchmark slice
      (1L, nearDup),
      (2L, lowOverlap),
      (3L, unrelated)).toDF("doc_id", "text")
    val out = Dedup.trainContaminationOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shared"), r.getAs[Long]("n_sh"))).toMap
    assert(out == Map(1L -> (15L, 18L)),
      s"expected only the near-dup flagged, got $out")
    spark.catalog.clearCache()
  }

  test("span removal cuts exactly the tokens covered by repeated k-grams") {
    import spark.implicits._
    val boiler = (1 to 10).map("b" + _).mkString(" ") // the repeated 10-gram
    val docs = Seq(
      (1L, s"u1 u2 $boiler u3 u4"),              // boilerplate mid-doc
      (2L, s"$boiler v1 v2 v3 v4 v5 v6 v7 v8"),  // boilerplate at head
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11"),// unique, len >= k: untouched
      (4L, "short doc under k tokens"),          // too short to span: untouched
      (5L, "")                                   // empty: survives as empty
    ).toDF("doc_id", "text")
    val out = Dedup.spanRemoveOf(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(out(1L) == ((14L, 4L, 10L, "u1 u2 u3 u4")))
    assert(out(2L) == ((18L, 8L, 10L, "v1 v2 v3 v4 v5 v6 v7 v8")))
    assert(out(3L) == ((11L, 11L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11")))
    assert(out(4L) == ((5L, 5L, 0L, "short doc under k tokens")))
    assert(out(5L) == ((0L, 0L, 0L, "")))
    // overlapping repeats: two hot 3-grams overlapping by one token cut
    // the union of their covers, not double-count it
    val ov = Seq(
      (1L, "x1 x2 x3 x4 q1"), (2L, "x1 x2 x3 x4 q2"), (3L, "p1 p2 p3 p4 p5")
    ).toDF("doc_id", "text")
    val o = Dedup.spanRemoveOf(ov, k = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(o(1L) == ((4L, "q1")))
    assert(o(2L) == ((4L, "q2")))
    assert(o(3L) == ((0L, "p1 p2 p3 p4 p5")))
  }

  test("dedup-aware split: every doc assigned once, clusters never straddle splits") {
    val rows = Dedup.dedupAwareSplit(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(rows.length == nDocs)
    // the leakage guarantee: one split per cluster
    rows.groupBy(_.getAs[Long]("cid")).foreach { case (cid, members) =>
      assert(members.map(_.getAs[String]("split")).distinct.length == 1,
        s"cluster $cid straddles splits")
    }
    // clustered near-dups actually exist at smoke scale (else the test
    // proves nothing) — some cluster has >1 member
    assert(rows.groupBy(_.getAs[Long]("cid")).exists(_._2.length > 1))
  }

  test("quality survivors: longest cluster member wins, ties break to min id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L))
      .toDF("doc_id", "cluster_id")
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 50L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.qualitySurvivorsOf(clusters, docs).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("n_chars")))).toMap
    // cluster 1: docs 2 and 3 tie at 50 chars -> min id 2 (never 1, the
    // min-id canonical, which is shorter); cluster 7: tie -> 7
    assert(got == Map(1L -> ((2L, 50L)), 7L -> ((7L, 5L))))
  }

  test("dedupAwareSplitOf over a precomputed cluster table equals the " +
      "self-contained split") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cid"),
        r.getAs[String]("split"))).toSet
    val clusters = Dedup.ngramClusters(spark, sf).persist()
    val viaPrecomputed =
      Dedup.dedupAwareSplitOf(graft.Tables.documents(spark, sf), clusters)
    assert(rows(viaPrecomputed) == rows(Dedup.dedupAwareSplit(spark, sf)))
    clusters.unpersist()
  }

  test("soft-dedup weights: family mass splits evenly, singletons keep " +
    "full weight, ESS floors the duplication out") {
    import spark.implicits._
    // source s1: a 2-family (docs 1,2 -> 500 milli each) + singleton 5;
    // source s2: two singletons. Cluster table lists only clustered docs
    // (the clustersOf convention) — 3,4,5 fall through the left join.
    val docs = Seq((1L, "s1"), (2L, "s1"), (5L, "s1"), (3L, "s2"), (4L, "s2"))
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val got = Dedup.softDedupWeightsOf(docs, clusters).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("sum_w_milli"),
          r.getAs[Long]("ess_docs"), r.getAs[Long]("mean_w_milli")))).toMap
    // s1: Σw = 500+500+1000 = 2000, Σw² = 1.5e6 -> ESS 4e6 div 1.5e6 = 2
    // (three docs but one family + one singleton ≈ 2 independent docs)
    assert(got == Map(
      "s1" -> ((3L, 2000L, 2L, 666L)),
      "s2" -> ((2L, 2000L, 2L, 1000L))), s"got $got")

    // real corpus: every doc carries weight, none more than full
    val real = Dedup.softDedupWeights(spark, sf).collect()
    val n = graft.Tables.documents(spark, sf).count()
    assert(real.map(_.getAs[Long]("n_docs")).sum == n)
    real.foreach { r =>
      assert(r.getAs[Long]("sum_w_milli") <= 1000L * r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("ess_docs") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("ess_docs") >= 1L)
    }
    spark.catalog.clearCache()
  }

  test("blocking recall audit releases its pair-frame caches (only the " +
      "detectors' module-contract barriers stay pinned)") {
    spark.catalog.clearCache()
    val docs = graft.Tables.documents(spark, sf)
    val before = spark.sparkContext.getPersistentRDDs.size
    val row = Dedup.blockingRecallOf(docs).head()
    // blockingRecallOf persists truth + detected and must release BOTH
    // before returning (round-11, same contract as kCoreOf); what may
    // remain are the upstream detectors' own barriers — the prefix
    // filter's shingle base and the MinHash band index — which the
    // module cache contract (clearCache between queries) governs.
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 2, s"$leaked cached frames survived blockingRecallOf " +
      "(expected only the 2 upstream detector barriers)")
    // and the eager one-row result is still the audit row
    assert(row.getAs[Long]("n_true") >= 0L)
    assert(!row.isNullAt(row.fieldIndex("n_detected")))
    spark.catalog.clearCache()
  }
}
