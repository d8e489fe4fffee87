package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Property check of the shared Lloyd trainer ([[Similarity.lloyd]]) over
  * several rounds. The registry trains with one round only, so without
  * this spec no test would run a second round, nor the left join that
  * keeps a centroid with no sample member. On a seeded 4-dim fixture,
  * rounds 0 to 3 must equal a driver-side reference for both metrics:
  * max dot with the re-quantized sum (IVF), and squared L2 per subspace
  * with the rounded mean (PQ). The fixture plants a cluster whose
  * members all fall outside the sample, seeds a centroid on it, and
  * seeds a duplicate centroid that loses every tie; an empty sample
  * must leave the seeds unchanged. */
class LloydPropSpec extends SparkSpec {

  private type Book = Map[(Long, Long), Vector[Long]] // (key, id) -> cv

  private val rng = new scala.util.Random(11)
  // positive-orthant corpus, ids 0..35; the sample is every third id
  private val corpus: Seq[(Long, Vector[Long])] =
    (0L until 36L).map(i => i -> Vector.fill(4)(1L + rng.nextInt(60)))
  // planted negative cluster at ids outside the sample (none is % 3 == 0)
  private val planted: Seq[(Long, Vector[Long])] =
    Seq(37L, 38L, 40L, 41L).map(i => i -> Vector.fill(4)(-40L + rng.nextInt(7) - 3))
  private val all = corpus ++ planted
  private def inSample(id: Long) = id % 3 == 0

  private def halfUp(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  private def dot(a: Vector[Long], b: Vector[Long]) =
    a.zip(b).map { case (x, y) => x * y }.sum

  /** Reference rounds: assign each sample vector to the best centroid of
    * its key (ties to the smallest id), then replace each centroid that
    * has members by `centre`(sums, n); the others keep their vector. */
  private def reference(seeds: Book, sample: Seq[(Long, Vector[Long])],
      maxDot: Boolean, iters: Int)(centre: (Vector[Long], Long) => Vector[Long])
      : Book =
    (0 until iters).foldLeft(seeds) { (book, _) =>
      val members = sample.flatMap { case (key, x) =>
        val cands = book.toSeq.filter(_._1._1 == key)
        if (cands.isEmpty) None
        else Some(cands.minBy { case ((_, id), c) =>
          val d2 = x.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
          (if (maxDot) -dot(x, c) else d2, id)
        }._1 -> x)
      }
      val refined = members.groupBy(_._1).map { case (cell, xs) =>
        cell -> centre(xs.map(_._2).transpose.map(_.sum).toVector, xs.size.toLong)
      }
      book.map { case (cell, c) => cell -> refined.getOrElse(cell, c) }
    }

  private def spherical(s: Vector[Long], n: Long): Vector[Long] = {
    val norm = math.sqrt(s.map(v => v.toDouble * v.toDouble).sum)
    s.map(v => if (norm == 0.0) 0L else halfUp(v.toDouble / norm * 10000))
  }

  private def roundedMean(s: Vector[Long], n: Long): Vector[Long] =
    s.map(v => halfUp(v.toDouble / n))

  private def collectBook(df: DataFrame, key: Option[String], id: String): Book =
    df.collect().map { r =>
      (key.fold(0L)(r.getAs[Long](_)), r.getAs[Long](id)) ->
        r.getAs[scala.collection.Seq[Long]]("cv").toVector
    }.toMap

  test("max-dot Lloyd with the re-quantized sum equals the reference " +
    "at rounds 0-3, keeping memberless centroids") {
    import spark.implicits._
    val v = all.toDF("vec_id", "q")
    // 103 sits on the planted cluster (no sample member); 104 duplicates
    // 101 and loses every round-1 tie to it
    val seeds: Book = Map(
      (0L, 100L) -> corpus(1)._2, (0L, 101L) -> corpus(2)._2,
      (0L, 102L) -> corpus(4)._2, (0L, 103L) -> planted(0)._2,
      (0L, 104L) -> corpus(2)._2)
    val seedDf = seeds.toSeq.map { case ((_, id), c) => (id, c) }
      .toDF("centroid_id", "cv")
    for ((sampleDf, sample) <- Seq(
        v.filter(col("vec_id") % 3 === 0) -> all.filter(p => inSample(p._1)),
        v.filter(lit(false)) -> Nil);
        iters <- 0 to 3) {
      val got = collectBook(Similarity.lloyd(seedDf, sampleDf, "q", Nil,
        "centroid_id", 4, maxDot = true, iters)(Similarity.sphericalCentre),
        None, "centroid_id")
      val want = reference(seeds, sample.map(p => 0L -> p._2), maxDot = true,
        iters)(spherical)
      assert(got == want, s"iters=$iters sample=${sample.size}")
      assert(got((0L, 103L)) == planted(0)._2)
      if (sample.isEmpty) assert(got == seeds)
    }
  }

  test("per-subspace min-L2 Lloyd with the rounded mean equals the " +
    "reference at rounds 0-3, keeping memberless codewords") {
    import spark.implicits._
    // two 2-dim subspaces per vector, the PQ layout
    def split(ps: Seq[(Long, Vector[Long])]) = ps.flatMap { case (id, x) =>
      Seq((id, 0L, x.take(2)), (id, 1L, x.drop(2)))
    }
    val subs = split(all).toDF("vec_id", "sub", "sq")
    // codes 0-2 from corpus slices, code 9 on the planted cluster
    val seeds: Book = (for {
      sub <- Seq(0L, 1L)
      (code, x) <- Seq(0L -> corpus(3)._2, 1L -> corpus(5)._2,
        2L -> corpus(7)._2, 9L -> planted(1)._2)
    } yield (sub, code) -> (if (sub == 0L) x.take(2) else x.drop(2))).toMap
    val seedDf = seeds.toSeq.map { case ((sub, code), c) => (sub, code, c) }
      .toDF("sub", "code", "cv")
    for ((sampleDf, sample) <- Seq(
        subs.filter(col("vec_id") % 3 === 0) -> split(all.filter(p => inSample(p._1))),
        subs.filter(lit(false)) -> Nil);
        iters <- 0 to 3) {
      val got = collectBook(Similarity.lloyd(seedDf, sampleDf, "sq",
        Seq("sub"), "code", 2, maxDot = false, iters)(Similarity.roundedMean),
        Some("sub"), "code")
      val want = reference(seeds, sample.map(t => t._2 -> t._3), maxDot = false,
        iters)(roundedMean)
      assert(got == want, s"iters=$iters sample=${sample.size}")
      assert(got((0L, 9L)) == planted(1)._2.take(2) &&
        got((1L, 9L)) == planted(1)._2.drop(2))
      if (sample.isEmpty) assert(got == seeds)
    }
  }
}
