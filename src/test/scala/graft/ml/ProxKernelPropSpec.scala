package graft.ml

import graft.SparkSpec

/** Mechanizes the adjacent-pair theorem behind the round-14 linear
  * proximity kernel (TextRetrievalOps.panelMinDists): on random token
  * sequences, the lag-window form must equal the pairwise brute force
  * `min |i - j|` over occurrences of two DIFFERENT query terms — the
  * property every retrieval oracle's hash match rests on, pinned here
  * on adversarial geometry (long same-token runs, boundary changes,
  * single-term docs, repeated distances) that the registered corpora
  * may never produce. */
class ProxKernelPropSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("a", "b", "c", "x", "y")
  private val terms = Seq("a", "b", "c")

  /** Deterministic pseudo-random corpus: doc d's token t drawn by an
    * LCG so the fixture replays identically across runs. */
  private def corpus(nDocs: Int, maxLen: Int): Seq[(Long, Vector[String])] =
    (0 until nDocs).map { d =>
      var s = d * 2654435761L + 99991L
      def next(mod: Int): Int = { s = (s * 48271) % 2147483647L; (s % mod).toInt }
      val len = 1 + next(maxLen)
      (d.toLong, Vector.fill(len)(vocab(next(vocab.size))))
    }

  /** Pairwise brute force over 1-BASED positions (posexplode is 0-based
    * and distances are base-invariant, so 0-based here too). */
  private def bruteMinDist(toks: Vector[String]): Option[Long] = {
    val occ = toks.zipWithIndex.filter(t => terms.contains(t._1))
    val ds = for {
      (ta, pa) <- occ; (tb, pb) <- occ if ta != tb
    } yield math.abs(pa - pb).toLong
    ds.minOption
  }

  test("linear lag-window kernel equals the pairwise min over " +
      "different-token occurrence pairs on 120 random docs") {
    val docs = corpus(nDocs = 120, maxLen = 40)
    val tdocs = docs.map { case (id, ts) => (id, ts, ts.size.toLong) }
      .toDF("doc_id", "toks", "dl")
    val qterms = terms.map(t => (7L, t)).toDF("query_id", "token")
    val ids = docs.map { case (id, _) => (7L, id) }.toDF("query_id", "doc_id")
    val got = TextOps.panelMinDists(tdocs, qterms, ids, bounded = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("mindist"))
      .toMap
    for ((id, toks) <- docs) {
      assert(got.get(id) == bruteMinDist(toks),
        s"doc $id diverged: toks=$toks got=${got.get(id)} " +
          s"expected=${bruteMinDist(toks)}")
    }
  }

  test("crafted geometry: same-token runs, boundary change, no-pair docs") {
    val docs = Seq(
      (1L, Vector("a", "a", "a", "b")),           // run then change -> 1
      (2L, Vector("a", "x", "x", "x", "b")),      // only far pair -> 4
      (3L, Vector("a", "a", "a", "a")),           // single term -> none
      (4L, Vector("x", "y", "x")),                // no query term -> none
      (5L, Vector("b", "a", "b", "a")),           // alternating -> 1
      (6L, Vector("c", "x", "a", "x", "c")))      // two c's bracket a -> 2
    val tdocs = docs.map { case (id, ts) => (id, ts, ts.size.toLong) }
      .toDF("doc_id", "toks", "dl")
    val qterms = terms.map(t => (1L, t)).toDF("query_id", "token")
    val ids = docs.map { case (id, _) => (1L, id) }.toDF("query_id", "doc_id")
    val got = TextOps.panelMinDists(tdocs, qterms, ids, bounded = true)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("mindist"))
      .toMap
    assert(got == Map(1L -> 1L, 2L -> 4L, 5L -> 1L, 6L -> 2L),
      s"crafted geometry diverged: $got")
  }
}
