package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ml.{Dedup, TextOps}
import graft.operators.Graph

/** The five loops that iterate on [[Fixpoint]], each on a fixed small
  * fixture that reaches its fixpoint before the round cap, so the early
  * stop fires. Shared by the cache-release and job-count specs. */
object FixpointLoops {

  /** (loop, call) — calling runs the loop's rounds and returns its frame. */
  val all: Seq[(String, SparkSession => DataFrame)] = Seq(
    "clustersOf" -> { spark =>
      import spark.implicits._
      // chain 1-2-3-4 plus isolated pair 7-8
      Dedup.clustersOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
        .toDF("doc_a", "doc_b"))
    },
    "labelPropagationOf" -> { spark =>
      Graph.labelPropagationOf(cliqueAndTail(spark), iters = 3)
    },
    "bfsDistancesOf" -> { spark =>
      import spark.implicits._
      Graph.bfsDistancesOf(cliqueAndTail(spark), Seq(1L).toDF("node"), rounds = 10)
    },
    "kCoreOf" -> { spark =>
      Graph.kCoreOf(cliqueAndTail(spark), k = 3, rounds = 4)
    },
    "bpeMergesOf" -> { spark =>
      import spark.implicits._
      TextOps.bpeMergesOf(Seq((2L, "a b a b c"), (4L, "a b c d"))
        .toDF("doc_id", "text"), rounds = 3)
    })

  /** 4-clique {1,2,3,4} plus the pendant chain 4-5-6, symmetrized. */
  def cliqueAndTail(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
  }
}
