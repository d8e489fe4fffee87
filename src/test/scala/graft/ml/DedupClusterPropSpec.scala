package graft.ml

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Property tests for the loops on [[graft.scale.Fixpoint]], over random
  * pair graphs:
  *  - [[Dedup.clustersOf]] must agree with a naive single-machine
  *    union-find — same membership, same min-id canonical labels. Guards
  *    the round-9 fusion (neighbor-min + pointer-jump as one union +
  *    grouped min) against semantic drift.
  *  - [[graft.operators.Graph.bfsDistancesOf]] and
  *    [[graft.operators.Graph.kCoreOf]] must agree with naive driver-side
  *    BFS and peeling. Their round caps sit above any convergence round
  *    on the 40-node domain, so every run ends on the stop rule, and a
  *    rule that fired too early would show as a wrong answer.
  * Fixed ScalaCheck seeds (no scalatest-plus bridge in the offline
  * cache). */
class DedupClusterPropSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(4242L + i)))

  /** Random edge list over a small id domain so dense components, long
    * chains, self-contained stars, and isolated pairs all occur. */
  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    nEdges <- Gen.choose(0, 60)
    edges <- Gen.listOfN(nEdges, for {
      a <- Gen.choose(0L, 39L)
      b <- Gen.choose(0L, 39L) if b != a
    } yield (math.min(a, b), math.max(a, b)))
  } yield edges

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("clustersOf equals naive union-find on random graphs (min-id labels)") {
    samples(graphGen, 12).foreach { edges =>
      val expected = unionFind(edges)
      val got = Dedup.clustersOf(edges.toDF("doc_a", "doc_b")).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == expected, s"edges=$edges")
    }
  }

  /** Layered BFS over the undirected edges: node -> hops to the nearest seed. */
  private def naiveBfs(edges: Seq[(Long, Long)], seeds: Set[Long]): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty)) -- dist.keySet
      dist ++= next.map(_ -> (dist(frontier.head) + 1))
      frontier = next
    }
    dist
  }

  /** Peel to the fixpoint: survivor -> its degree inside the k-core,
    * counting repeated edges with their multiplicity as kCoreOf does. */
  private def naiveKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val directed = edges ++ edges.map(_.swap)
    def deg(alive: Set[Long]): Map[Long, Long] = directed
      .filter { case (a, b) => alive(a) && alive(b) }
      .groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var alive = directed.map(_._1).toSet
    var next = deg(alive).filter(_._2 >= k).keySet
    while (next != alive) { alive = next; next = deg(alive).filter(_._2 >= k).keySet }
    deg(alive)
  }

  test("bfsDistancesOf equals naive BFS on random graphs (stop rule, not " +
      "the round cap, ends the loop)") {
    samples(graphGen, 12).foreach { edges =>
      // ids x10 so the customer/supplier decode is the identity on entity_id
      val und = edges.map { case (a, b) => (a * 10, b * 10) }
      val seeds = und.flatMap(e => Seq(e._1, e._2)).distinct
        .filter(n => n % 30 == 0).toSet ++ und.headOption.map(_._1)
      val expected = naiveBfs(und, seeds)
      val got = graft.operators.Graph.bfsDistancesOf(
          (und ++ und.map(_.swap)).toDF("src", "dst"), seeds.toSeq.toDF("node"),
          rounds = 45).collect()
        .map(r => r.getAs[Long]("entity_id") * 10 -> r.getAs[Long]("dist")).toMap
      assert(got == expected, s"edges=$und seeds=$seeds")
    }
  }

  test("kCoreOf equals naive peeling on random graphs (stop rule, not the " +
      "round cap, ends the loop)") {
    samples(graphGen, 12).zipWithIndex.foreach { case (edges, i) =>
      val k = 2 + i % 2
      val expected = naiveKCore(edges, k)
      // each non-final round peels at least one of the 40 nodes
      val got = graft.operators.Graph.kCoreOf(
          (edges ++ edges.map(_.swap)).toDF("src", "dst"), k, rounds = 45)
        .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("core_deg")).toMap
      assert(got == expected, s"k=$k edges=$edges")
    }
  }
}
