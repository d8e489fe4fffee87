package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.scale.Fixpoint

/** Graph operators over the purchase graph (customer —bought-from—
  * supplier, induced by orders ⋈ lineitem): iterative PageRank and the
  * degree distribution — the entity-importance and connectivity-shape
  * analyses a relationship-heavy corpus (CRM cases ↔ parties, documents
  * ↔ entities) runs before sampling or weighting by centrality.
  *
  * Determinism: ranks are integer micro-units with `div` at every
  * division, so iteration is exact and the generated fixed-round DuckDB
  * oracle replays it bit-for-bit (same pattern as the IVF/MMR oracles).
  *
  * Scale design: the edge table is built ONCE (one join, one distinct),
  * pre-joined with out-degrees, and persisted — each PageRank round then
  * costs one shuffle of the (node, rank) table into the edge partitions
  * plus one aggregate; the edge side never re-shuffles. That is the
  * Pregel message-passing shape expressed in plain relational ops, and
  * rounds are a constant, so total cost is O(iters · |E|/cluster).
  */
object Graph {

  val PrIters = 5
  /** Damping 0.85 in milli-units; rank unit = 1e6 micro. */
  val DampingMilli = 850L
  val RankUnit = 1000000L

  /** Undirected purchase edges with node ids disambiguated by type:
    * customer c -> 10c, supplier s -> 10s+1. (Package-visible so the
    * [[graft.scale.HubProbe]] skew probe can plant a mega-hub into the
    * exact edge table the registered graph queries run on.) */
  private[graft] def edgesOf(spark: SparkSession, dir: String): DataFrame = {
    // persist() the directed set: the undirected expansion and the degree
    // aggregate both read it, and a union of two full plan copies would
    // re-run the orders x lineitem join + distinct per branch. The
    // expansion itself is a narrow explode, not a second pass.
    val directed = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 10).as("src"),
        (col("l_suppkey") * 10 + 1).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    directed.select(explode(array(
      struct(col("src"), col("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** (src, dst, outdeg) — the per-round join input, built once. */
  private def edgesWithDeg(spark: SparkSession, dir: String): DataFrame = {
    val e = edgesOf(spark, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    e.join(deg, "src")
  }

  /** Integer PageRank over the undirected purchase graph:
    * r0 = 1e6; r' = (1-d)·1e6 + d · Σ_in (r(u) div outdeg(u)), all in
    * micro-units with floor division. Every node has degree ≥ 1 (the
    * graph is induced by edges), so there is no dangling mass. */
  def pageRank(spark: SparkSession, dir: String,
      iters: Int = PrIters): DataFrame = {
    val e = edgesWithDeg(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var ranks = e.select(col("src").as("node")).distinct()
      .select(col("node"), lit(RankUnit).as("pr"))
    for (_ <- 1 to iters) {
      ranks = e.join(ranks, e("src") === ranks("node"))
        .select(col("dst"), expr("pr div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          (lit(RankUnit - DampingMilli * 1000L) +
            expr(s"$DampingMilli * s div 1000")).as("pr"))
    }
    ranks.select(
      when(col("node") % 10 === 0, "customer").otherwise("supplier")
        .as("entity_type"),
      expr("node div 10").as("entity_id"),
      col("pr"))
  }

  /** Degree distribution of the purchase graph: how many nodes have each
    * degree — the connectivity-shape (power-law) check. Two aggregates. */
  def degreeHistogram(spark: SparkSession, dir: String): DataFrame =
    edgesOf(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Synchronized rounds for the registered label-propagation query —
    * a constant, like [[PrIters]], so the oracle chain is generated
    * from the same knob. */
  val LpIters = 3

  /** Community detection by MAJORITY label propagation (Raghavan et al.
    * 2007) over the purchase graph — each node starts as its own
    * community and per round adopts the most frequent community among
    * its neighbors (tie -> smallest id). Deterministic by construction:
    * synchronized rounds + total tie order, so the generated fixed-round
    * oracle replays it exactly. Complements [[Dedup.clustersOf]]'s
    * min-label connected components: LPA finds DENSE communities inside
    * a connected component, which is what entity-importance sampling
    * actually wants (a CRM book is usually one giant component).
    *
    * Scale shape, per round: one co-partitioned hash join of the edge
    * table (partitioned once, reused — the [[pageRank]] Pregel shape)
    * against the (node, community) table, one map-side-combinable
    * count, then the per-node argmax as a SECOND map-side-combinable
    * aggregate — max over struct(n, −community), whose lexicographic
    * order IS (n DESC, community ASC). No window anywhere: a round-1
    * hub node with millions of distinct-labeled in-neighbors reduces
    * to one candidate row per map partition BEFORE the shuffle, where
    * the former row_number().over(partitionBy(dst)) funneled all of
    * them through one reducer. Rounds are constant, so total cost is
    * O(rounds · |E|/cluster).
    *
    * Node universe + label retention: the universe is src ∪ dst, and a
    * node with no in-edges this round (source-only, or isolated by
    * direction) KEEPS its current label via a left-join coalesce onto
    * the label spine — on a symmetrized edge table (the registered
    * usage) every node receives votes and the coalesce never fires, so
    * results are bit-identical to the pure-update form; on asymmetric
    * input the library form no longer silently drops source-only
    * nodes after round 1. Each round's labels are a [[Fixpoint]] round
    * (consumed twice: vote join + spine).
    *
    * `symmetric = true` (round 13): the caller asserts every node in
    * src ∪ dst has at least one in-edge — true by construction for any
    * symmetrized edge table, e.g. [[edgesOf]]. Then the spine coalesce
    * is a no-op (proof above) and its per-round join is DROPPED; output
    * is bit-identical, and the argmax aggregate — the mega-hub skew
    * guard — is the same physical shape in both paths.
    *
    * Round-13 measurement note: a fully LAZY chain (no per-round
    * barriers) was tried here and is 1.5-2x SLOWER at the 10x scale-up
    * than the barriered form, because the planner then sees
    * aggregate-output size guesses instead of the measured label-table
    * size and abandons the broadcast vote join. The barriers stay in
    * both paths (Fixpoint's checkpoints carry each round's exact row
    * count as statistics); the cheap wins are the spine skip and hashing
    * the edge table on the join key once (see the repartition below).
    *
    * Cache contract: the RETURNED frame is the final round's checkpoint,
    * already materialized; its blocks belong to the caller and
    * `clearCache()` does not free them ([[Fixpoint]]'s cache contract).
    * The edge cache this method takes for its own rounds is released
    * before returning — unless the CALLER had already persisted `edges`
    * (e.g. [[communityIncidence]] sharing one edge cache across
    * consumers), in which case the caller's cache is left untouched. */
  def labelPropagationOf(edges: DataFrame,
      iters: Int = LpIters, symmetric: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Hash-partitioned on src and persisted ONCE: every round's vote
    // join then reads the edge side already co-located on its join key
    // — the Pregel shape ([[pageRank]]): per round only the small
    // (node, community) table moves. If the caller already cached an
    // edge plan, reuse theirs untouched (persist would be a no-op and
    // unpersisting at the end would yank it from under them).
    val callerCached = edges.storageLevel != StorageLevel.NONE
    val e = if (callerCached) edges
            else edges.repartition(col("src"))
              .persist(StorageLevel.MEMORY_AND_DISK)
    def voteArgmax(labels: DataFrame): DataFrame = {
      val cnt = e.join(labels, col("src") === col("node"))
        .groupBy(col("dst"), col("community"))
        .agg(count(lit(1)).as("n"))
      // argmax(n DESC, community ASC) == max(struct(n, -community)):
      // partial-aggregates on the map side, so a hot dst never funnels
      // its full candidate set through a single reducer
      cnt.groupBy(col("dst"))
        .agg(max(struct(col("n"), (-col("community")).as("negc"))).as("m"))
        .select(col("dst").as("node"), (-col("m.negc")).as("community"))
    }
    val init = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), col("node").as("community"))
    val labels = Fixpoint.iterate(init, iters) { labels =>
      val upd = voteArgmax(labels)
      // symmetric input (caller-asserted: every node has an in-edge):
      // the vote output IS the full node universe, so the label spine
      // coalesce below would never fire — skip its join entirely
      if (symmetric) upd
      else labels.as("prev")
        .join(upd.as("u"), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("u.community"), col("prev.community"))
            .as("community"))
    }(_ => false)
    // the final round already materialized `labels`; the edge cache
    // has no further reader here, so a library caller doesn't leak one
    // MEMORY_AND_DISK edge copy per invocation
    if (!callerCached) e.unpersist(blocking = false)
    labels
  }

  def labelPropagation(spark: SparkSession, dir: String,
      iters: Int = LpIters): DataFrame =
    labelPropagationOf(edgesOf(spark, dir), iters, symmetric = true).select(
      when(col("node") % 10 === 0, "customer").otherwise("supplier")
        .as("entity_type"),
      expr("node div 10").as("entity_id"),
      col("community"))

  /** Community-quality audit: Newman modularity of the [[labelPropagationOf]]
    * partition, decomposed per community — the number that says whether
    * LPA found real structure or noise (positive contributions = denser
    * inside than a degree-preserving random graph), and the acceptance
    * gate a pipeline runs before TRUSTING a community assignment for
    * sampling or deduplication decisions.
    *
    * All integer-exact so the oracle replays bit-for-bit. With `M2` the
    * doubled (directed) edge count and per community `intra2` its
    * both-endpoints-inside directed edges and `deg_sum` its total
    * degree: `observed_micro = intra2·10^6 div M2`,
    * `expected_micro = (deg_sum·10^3 div M2)^2` (the per-mille degree
    * share squared — squaring AFTER the division keeps every product
    * under 2^63 even at a 10^12-edge corpus, where `deg_sum^2·10^6`
    * would wrap a long), and `contrib_micro` is their difference —
    * subtraction after the divisions, so no negative floor-division
    * parity risk between engines. Σ contrib_micro is the partition's
    * modularity Q in micro.
    *
    * Input contract: `edges` must be the SYMMETRIZED (both-directions)
    * representation of an undirected graph — Newman modularity is
    * defined on undirected graphs, and the half-edge counts above
    * assume it. That same contract lets the internal LPA run with
    * `symmetric = true` (no per-round spine join; the barriers stay).
    *
    * Scale shape: labels join onto the (re-used, persisted) edge table
    * once per endpoint — the standard two-hop pattern (shuffle by src,
    * then by dst) — followed by two map-side-combinable grouped counts
    * and a bounded per-community join; the one scalar (M2) broadcasts.
    * Nothing is quadratic; output is one row per community. */
  def modularityOf(edges: DataFrame, iters: Int = LpIters): DataFrame = {
    val (labels, withC, m2) = communityIncidence(edges, iters)
    val degSum = withC.groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("deg_sum"))
    val intra = withC.filter(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("intra2"))
    labels.groupBy("community").agg(count(lit(1)).as("n_nodes"))
      .join(degSum, Seq("community"))
      .join(intra, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        coalesce(col("intra2"), lit(0L)).as("intra2"))
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"),
        expr("intra2 div 2").as("e_intra"), col("deg_sum"),
        expr("intra2 * 1000000 div m2").as("observed_micro"),
        expr("(deg_sum * 1000 div m2) * (deg_sum * 1000 div m2)")
          .as("expected_micro"))
      .withColumn("contrib_micro",
        col("observed_micro") - col("expected_micro"))
  }

  def modularity(spark: SparkSession, dir: String,
      iters: Int = LpIters): DataFrame =
    modularityOf(edgesOf(spark, dir), iters)

  /** Shared incidence frames for the community-quality audits: the LPA
    * labels, every (directed half-)edge tagged with both endpoint
    * communities, and the scalar half-edge total. The edge list is
    * persisted (module cache contract — the `clearCache()` in
    * [[graft.Session.cleanup]] between queries releases it); the labels
    * are LPA's final checkpoint, which `clearCache()` does not free:
    * the same cleanup frees it through the query's frame
    * ([[Fixpoint.release]]). */
  private def communityIncidence(edges: DataFrame, iters: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    // hash-partitioned on src before caching: the internal LPA rounds
    // and withC's first label join then find the edge side already
    // co-located on the join key (m2 and the dst-side join are
    // partitioning-agnostic)
    val e = edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // symmetric: every communityIncidence caller passes the symmetrized
    // purchase edges (edgesOf), so LPA skips the spine join
    val labels = labelPropagationOf(e, iters, symmetric = true)
    val m2 = e.agg(count(lit(1)).as("m2"))
    val withC = e
      .join(labels.select(col("node").as("src"), col("community").as("c_src")),
        "src")
      .join(labels.select(col("node").as("dst"), col("community").as("c_dst")),
        "dst")
    (labels, withC, m2)
  }

  /** Per-community CONDUCTANCE — modularity's complement in the
    * community-quality pair: where [[modularityOf]] scores internal
    * density against the null model, conductance scores the BOUNDARY —
    * cut half-edges over the smaller of the community's volume and the
    * rest of the graph's (Φ = cut / min(vol, 2m − vol), here in milli).
    * Low Φ = a well-separated cluster; Φ → 1000 = a label that slices
    * through dense structure. The standard acceptance pair before
    * trusting a partition for locality-sensitive placement.
    *
    * Exactness: counts and one floor division on non-negative operands;
    * a community holding the WHOLE graph has min(vol, 2m − vol) = 0 and
    * reports NULL (nullif in both engines). Same plan shape as
    * modularity: two broadcast-ready label joins, bounded per-community
    * aggregates, one broadcast scalar. Same input contract too: `edges`
    * must be a symmetrized undirected representation. */
  def conductanceOf(edges: DataFrame, iters: Int = LpIters): DataFrame = {
    val (labels, withC, m2) = communityIncidence(edges, iters)
    val degSum = withC.groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("deg_sum"))
    val cut = withC.filter(col("c_src") =!= col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("cut"))
    labels.groupBy("community").agg(count(lit(1)).as("n_nodes"))
      .join(degSum, Seq("community"))
      .join(cut, Seq("community"), "left")
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        coalesce(col("cut"), lit(0L)).as("cut"))
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"), col("deg_sum"), col("cut"),
        expr("cut * 1000 div nullif(least(deg_sum, m2 - deg_sum), 0)")
          .as("conductance_milli"))
  }

  def conductance(spark: SparkSession, dir: String,
      iters: Int = LpIters): DataFrame =
    conductanceOf(edgesOf(spark, dir), iters)

  // -------------------------------------------------------------------
  // Multi-source BFS (hop distances from a seed set)
  // -------------------------------------------------------------------

  /** Seed stride and round cap for the registered BFS query. */
  val BfsSeedStride = 500
  val BfsRounds = 6

  /** Multi-source BFS: exact hop distance from the nearest seed, by
    * synchronous frontier relabeling — after round r the label table
    * holds EXACTLY the nodes within r hops at their true distance
    * (distances only ever enter once, at first reach, because every
    * round takes the min over the complete ≤(r−1)-hop table and its
    * +1 neighbors). Convergence is FREE off the materialization
    * barrier: the reached set grows monotonically, so an unchanged
    * row count means an empty frontier (the k-core trick); `rounds`
    * is a safety cap. The blast-radius / reachability primitive next
    * to PageRank and k-core: "how many hops is every entity from the
    * flagged set".
    *
    * Scale shape: per round, one hash join of the (once-partitioned)
    * edge table against the shrinking-frontier label table plus one
    * grouped min — the Pregel-in-relational-ops shape shared with
    * [[pageRank]]/[[kCoreOf]], with the same per-round [[Fixpoint]]
    * barrier so lineage stays linear. */
  def bfsDistancesOf(edges: DataFrame, seeds: DataFrame,
      rounds: Int = BfsRounds): DataFrame = {
    val init = seeds.select(col("node"), lit(0L).as("dist"))
    val labels = Fixpoint.iterate(init, rounds) { labels =>
      labels
        .unionByName(edges.join(labels, edges("src") === labels("node"))
          .select(edges("dst").as("node"), (col("dist") + 1).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }(r => r.rows == r.prevRows)
    labels.select(
      when(col("node") % 10 === 0, "customer").otherwise("supplier")
        .as("entity_type"),
      expr("node div 10").as("entity_id"), col("dist"))
  }

  def bfsDistances(spark: SparkSession, dir: String): DataFrame = {
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") % BfsSeedStride === 0)
      .select((col("c_custkey") * 10).as("node"))
    bfsDistancesOf(edgesOf(spark, dir), seeds)
  }

  // -------------------------------------------------------------------
  // k-core decomposition (bounded peeling)
  // -------------------------------------------------------------------

  /** Core threshold and peeling rounds for the registered query.
    * Peeling converges on the purchase graph in ≤ 2 rounds at every
    * test SF (measured); 4 rounds is the safety margin, and the spec
    * asserts the fixpoint was actually reached (every survivor keeps
    * degree ≥ K inside the final induced subgraph). */
  val KCoreK = 30
  val KCoreRounds = 4

  /** `rounds` rounds of k-core peeling over an undirected-expanded edge
    * list (src, dst): each round keeps the nodes with ≥ k neighbors
    * still alive — the exact k-core once no round removes anything.
    * Output: (node, core_deg) — survivors with their degree inside the
    * final induced subgraph.
    *
    * Scale shape: a round is two hash joins of the edge table against
    * the shrinking alive set plus one map-side-combinable count — the
    * same Pregel-in-relational-ops shape as [[pageRank]], with the edge
    * side partitioned once and reused. Rounds are a constant, so cost
    * is O(rounds · |E|/cluster); the alive set only ever shrinks, so
    * late rounds get cheaper, and AQE can flip the alive side to
    * broadcast once it fits. */
  def kCoreOf(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, s"k-core needs at least one peeling round, got $rounds")
    def inducedDeg(alive: DataFrame): DataFrame =
      edges
        .join(alive.select(col("node").as("s_ok")), col("src") === col("s_ok"))
        .join(alive.select(col("node").as("d_ok")), col("dst") === col("d_ok"))
        .groupBy("src").agg(count(lit(1)).as("d"))
    def peel(alive: DataFrame): DataFrame =
      inducedDeg(alive).filter(col("d") >= k).select(col("src").as("node"))
    // barrier per round: inducedDeg consumes `alive` TWICE (src and dst
    // side); without it each round's plan embeds the previous round's
    // subtree in both join arms — 2^rounds duplicated work (measured 24 s
    // vs ~6 s at sf0.1). The first peel of the lazy seed is round 0.
    // The alive set shrinks monotonically, so an unchanged COUNT means an
    // unchanged SET — the peeling fixpoint; `rounds` is the safety CAP,
    // not a mandatory cost (the purchase graph converges in 2 rounds).
    val alive = Fixpoint.iterate(
      peel(edges.select(col("src").as("node")).distinct()), rounds - 1)(peel)(
      r => r.rows == r.prevRows)
    // Cache contract: the RETURNED lazy plan reads the last round's
    // checkpoint, whose blocks belong to the caller; clearCache() does
    // not free them ([[Fixpoint]]'s cache contract).
    inducedDeg(alive)
      .select(col("src").as("node"), col("d").as("core_deg"))
  }

  /** The [[KCoreK]]-core of the purchase graph — the densely-connected
    * trading kernel (the entities a sampler or contagion model should
    * treat as the backbone), with the bipartite ids mapped back. */
  def kCore(spark: SparkSession, dir: String,
      k: Int = KCoreK, rounds: Int = KCoreRounds): DataFrame =
    kCoreOf(
      edgesOf(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      k, rounds)
      .select(
        when(col("node") % 10 === 0, "customer").otherwise("supplier")
          .as("entity_type"),
        expr("node div 10").as("entity_id"),
        col("core_deg"))

  // -------------------------------------------------------------------
  // Triangle counting (market-basket co-purchase graph)
  // -------------------------------------------------------------------

  /** Minimum co-occurrence support for a co-purchase edge. */
  val TriMinSupport = 2

  /** Co-purchase edges over PARTS: u—v iff parts u and v appear in the
    * same order at least [[TriMinSupport]] times. Nodes are parts (not
    * the bipartite customer/supplier graph, which is triangle-free by
    * construction). The per-order pair fan-out is bounded by the order
    * size (≤ C(7,2) = 21 pairs per order in TPC-H-shaped data), so the
    * self-join on l_orderkey is a bounded equi-join — linear in
    * |lineitem| at any scale — and the support count is a map-side-
    * combinable aggregate that also acts as the sparsity guard (the
    * support-1 graph is ~30× denser). */
  def copurchaseEdgesOf(lineitem: DataFrame,
      minSupport: Int = TriMinSupport): DataFrame = {
    val li = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk"))
    li.alias("a").join(li.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .select("u", "v")
  }

  /** Oriented edge list (src → dst by ascending (degree, id)) from an
    * undirected (u < v) edge table. Orienting every edge from the
    * lower-(degree, id) endpoint makes each triangle {x, y, z} appear
    * exactly once as the edge triple x→y, x→z, y→z, and bounds the
    * oriented out-degree by O(√|E|) for ANY degree distribution — the
    * compact-forward / MapReduce triangle bound (Suri & Vassilvitskii,
    * WWW'11), which is what keeps the wedge join below from exploding on
    * power-law hubs: a hub's edges all point INTO it, so it contributes
    * no wedges of its own. */
  private def orient(e0: DataFrame): DataFrame = {
    val und = e0.select(explode(array(
      struct(col("u"), col("v")),
      struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("n"), col("e.v"))
    val deg = und.groupBy("n").agg(count(lit(1)).as("d"))
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val aFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    e0.join(du, "u").join(dv, "v")
      .select(when(aFirst, col("u")).otherwise(col("v")).as("s"),
        when(aFirst, col("v")).otherwise(col("u")).as("t"))
  }

  /** All triangles (a, b, c) of the undirected graph `e0` (u < v edge
    * list), each exactly once, ordered by the (degree, id) orientation:
    * wedge join (a→b)⋈(b→c) on the shared middle, closed by the (a→c)
    * edge — three equi-joins, cost Σ_v outdeg(v)² ≤ O(|E|^{3/2}). */
  def trianglesOf(e0: DataFrame): DataFrame = {
    val o = e0.transform(orient)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val x = o.select(col("s").as("a"), col("t").as("b"))
    val y = o.select(col("s").as("b"), col("t").as("c"))
    val z = o.select(col("s").as("a"), col("t").as("c"))
    x.join(y, "b").join(z, Seq("a", "c")).select("a", "b", "c")
  }

  /** Association rules over the co-purchase pairs: for every frequent
    * pair (support ≥ [[TriMinSupport]]) emit both directed rules
    * u ⇒ v with integer-milli confidence = P(v|u) and lift·1000 =
    * conf·N / n(v) — the market-basket ranking a bundle recommender
    * sorts by. One extra aggregate (per-part order frequency) and one
    * broadcast-sized scalar anchor (total order count) on top of the
    * bounded-fan-out pair build; confidence/lift are exact integer
    * ratios so the oracle replays them. */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    // distinct (order, part) basis: confidence is then a true
    // conditional probability over baskets, not a multiplicity ratio
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairSupport = li.alias("a").join(li.alias("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
      .filter(col("support") >= TriMinSupport)
    val itemFreq = li.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val totals = li.agg(countDistinct(col("ok")).as("n_orders"))
    // both directions of every frequent pair: u=>v and v=>u
    val directed = pairSupport.select(
      explode(array(
        struct(col("u").as("lhs"), col("v").as("rhs"), col("support")),
        struct(col("v").as("lhs"), col("u").as("rhs"), col("support"))))
        .as("r"))
      .select(col("r.lhs"), col("r.rhs"), col("r.support"))
    directed
      .join(itemFreq.select(col("pk").as("lhs"), col("n_item").as("n_lhs")), "lhs")
      .join(itemFreq.select(col("pk").as("rhs"), col("n_item").as("n_rhs")), "rhs")
      .crossJoin(broadcast(totals))
      .select(col("lhs"), col("rhs"), col("support"),
        expr("support * 1000 div n_lhs").as("conf_milli"),
        expr("support * 1000 * n_orders div (n_lhs * n_rhs)").as("lift_milli"))
  }

  /** Per-part triangle participation: how many "frequently bought
    * together" triples each part belongs to — the local-density signal a
    * basket-analysis pipeline ranks bundle candidates by. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(copurchaseEdgesOf(Tables.lineitem(spark, dir)))
      .select(explode(array(col("a"), col("b"), col("c"))).as("part_id"))
      .groupBy("part_id").agg(count(lit(1)).as("n_tri"))

  /** Link-level Jaccard similarity for every co-purchase edge: the
    * common-neighbor overlap |N(u)∩N(v)| / |N(u)∪N(v)| (endpoints
    * excluded) — the classic link-prediction / edge-strength feature.
    * Common-neighbor counts come FREE from the triangle enumeration
    * (each triangle contributes one common neighbor to each of its
    * three edges), so the cost beyond [[trianglesOf]] is one groupBy
    * over the triangle list plus degree lookups; integer milli, NULL
    * when both endpoints are degree-1 leaves of each other. */
  def linkJaccard(spark: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdgesOf(Tables.lineitem(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tri = trianglesOf(e0)
    val commons = tri.select(
        explode(array(
          struct(col("a").as("x"), col("b").as("y")),
          struct(col("a").as("x"), col("c").as("y")),
          struct(col("b").as("x"), col("c").as("y")))).as("e"))
      .groupBy(least(col("e.x"), col("e.y")).as("u"),
        greatest(col("e.x"), col("e.y")).as("v"))
      .agg(count(lit(1)).as("common"))
    val deg = e0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    e0.join(commons, Seq("u", "v"), "left")
      .na.fill(0L, Seq("common"))
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("common"),
        expr("common * 1000 div nullif(du - 1 + dv - 1 - common, 0)")
          .as("jaccard_milli"))
  }

  /** Global graph-shape summary: node/edge/wedge/triangle counts and the
    * global clustering coefficient 3·T/wedges in milli-units — the one-
    * row "how clique-ish is co-purchase behaviour" health metric. */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val e0 = copurchaseEdgesOf(Tables.lineitem(spark, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val shape = deg.agg(count(lit(1)).as("n_nodes"),
      expr("sum(d * (d - 1) div 2)").as("n_wedges"))
    val tri = trianglesOf(e0).agg(count(lit(1)).as("n_triangles"))
    e0.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(shape)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        expr("3 * n_triangles * 1000 div n_wedges").as("global_cc_milli"))
  }

  // -------------------------------------------------------------------
  // Registration
  // -------------------------------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    "graph_pagerank" -> ((s, d) => pageRank(s, d)),
    "graph_degree_histogram" -> ((s, d) => degreeHistogram(s, d)),
    "graph_kcore" -> ((s, d) => kCore(s, d)),
    "graph_triangles" -> ((s, d) => triangleCounts(s, d)),
    "graph_link_jaccard" -> ((s, d) => linkJaccard(s, d)),
    "graph_clustering_coeff" -> ((s, d) => clusteringCoefficient(s, d)),
    "graph_label_prop" -> ((s, d) => labelPropagation(s, d)),
    "graph_modularity" -> ((s, d) => modularity(s, d)),
    "graph_conductance" -> ((s, d) => conductance(s, d)),
    "graph_bfs_distances" -> ((s, d) => bfsDistances(s, d)),
    "basket_rules" -> ((s, d) => associationRules(s, d)))

  /** Generated fixed-round majority-LPA oracle — MATERIALIZED per round
    * like [[prOracle]]; the per-node argmax replays as a row_number
    * window with the identical (n DESC, community ASC) total order. */
  private def lpChainCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 10 AS src, l_suppkey * 10 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |l0 AS MATERIALIZED (
      |  SELECT DISTINCT src AS node, src AS community FROM e)""".stripMargin
    for (t <- 1 to LpIters) {
      sb ++= s""",
        |c$t AS MATERIALIZED (
        |  SELECT e.dst, l.community, count(*) AS n
        |  FROM e JOIN l${t - 1} l ON e.src = l.node
        |  GROUP BY 1, 2),
        |l$t AS MATERIALIZED (
        |  SELECT dst AS node, community FROM (
        |    SELECT dst, community,
        |           row_number() OVER (PARTITION BY dst
        |             ORDER BY n DESC, community ASC) AS rn
        |    FROM c$t) WHERE rn = 1)""".stripMargin
    }
    sb.toString
  }

  private def lpOracle: String =
    s"""$lpChainCtes
      |SELECT CASE WHEN node % 10 = 0 THEN 'customer' ELSE 'supplier' END
      |         AS entity_type,
      |       node // 10 AS entity_id, community
      |FROM l$LpIters""".stripMargin

  /** Replays [[modularityOf]] on top of the shared fixed-round LPA
    * chain: the same square-after-divide integer form, so values match
    * bit-for-bit (all divisions on non-negative operands). */
  private def modularityOracle: String =
    s"""$lpChainCtes,
      |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
      |wc AS MATERIALIZED (
      |  SELECT ls.community AS c_src, ld.community AS c_dst
      |  FROM e
      |  JOIN l$LpIters ls ON e.src = ls.node
      |  JOIN l$LpIters ld ON e.dst = ld.node),
      |ds AS (SELECT c_src AS community, CAST(count(*) AS BIGINT) AS deg_sum
      |       FROM wc GROUP BY 1),
      |ia AS (SELECT c_src AS community, CAST(count(*) AS BIGINT) AS intra2
      |       FROM wc WHERE c_src = c_dst GROUP BY 1),
      |nn AS (SELECT community, count(*) AS n_nodes
      |       FROM l$LpIters GROUP BY 1),
      |j AS (
      |  SELECT nn.community, nn.n_nodes, ds.deg_sum,
      |         coalesce(ia.intra2, 0) AS intra2
      |  FROM nn JOIN ds USING (community) LEFT JOIN ia USING (community))
      |SELECT community, n_nodes,
      |       CAST(intra2 // 2 AS BIGINT) AS e_intra, deg_sum,
      |       CAST(intra2 * 1000000 // m2 AS BIGINT) AS observed_micro,
      |       CAST((deg_sum * 1000 // m2) * (deg_sum * 1000 // m2) AS BIGINT)
      |         AS expected_micro,
      |       CAST(intra2 * 1000000 // m2
      |         - (deg_sum * 1000 // m2) * (deg_sum * 1000 // m2) AS BIGINT)
      |         AS contrib_micro
      |FROM j CROSS JOIN m2""".stripMargin

  /** Replays [[conductanceOf]] on the shared fixed-round LPA chain —
    * same non-negative floor division, same NULL for a whole-graph
    * community via nullif. */
  private def conductanceOracle: String =
    s"""$lpChainCtes,
      |m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM e),
      |wc AS MATERIALIZED (
      |  SELECT ls.community AS c_src, ld.community AS c_dst
      |  FROM e
      |  JOIN l$LpIters ls ON e.src = ls.node
      |  JOIN l$LpIters ld ON e.dst = ld.node),
      |ds AS (SELECT c_src AS community, CAST(count(*) AS BIGINT) AS deg_sum
      |       FROM wc GROUP BY 1),
      |ct AS (SELECT c_src AS community, CAST(count(*) AS BIGINT) AS cut
      |       FROM wc WHERE c_src <> c_dst GROUP BY 1),
      |nn AS (SELECT community, count(*) AS n_nodes
      |       FROM l$LpIters GROUP BY 1),
      |j AS (
      |  SELECT nn.community, nn.n_nodes, ds.deg_sum,
      |         coalesce(ct.cut, 0) AS cut
      |  FROM nn JOIN ds USING (community) LEFT JOIN ct USING (community))
      |SELECT community, n_nodes, deg_sum, cut,
      |       CAST(cut * 1000 // nullif(least(deg_sum, m2 - deg_sum), 0)
      |         AS BIGINT) AS conductance_milli
      |FROM j CROSS JOIN m2""".stripMargin

  /** Shared oracle prefix: the support-filtered co-purchase edge list
    * and its (degree, id) orientation — mirrors copurchaseEdgesOf +
    * orient exactly. */
  private val triOraclePrefix: String =
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT a.pk AS u, b.pk AS v FROM li a JOIN li b
      |  ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |und AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |deg AS MATERIALIZED (SELECT u AS n, count(*) AS d FROM und GROUP BY 1),
      |o AS MATERIALIZED (
      |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |              THEN e0.u ELSE e0.v END AS s,
      |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e0.u < e0.v)
      |              THEN e0.v ELSE e0.u END AS t
      |  FROM e0 JOIN deg du ON du.n = e0.u JOIN deg dv ON dv.n = e0.v),
      |tri AS MATERIALIZED (
      |  SELECT x.s AS a, x.t AS b, y.t AS c
      |  FROM o x JOIN o y ON x.t = y.s
      |  JOIN o z ON z.s = x.s AND z.t = y.t)""".stripMargin

  /** Generated fixed-round PageRank oracle — MATERIALIZED per round (the
    * default CTE inlining would expand the chain exponentially). */
  private def prOracle: String = {
    val base = RankUnit - DampingMilli * 1000L
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 10 AS src, l_suppkey * 10 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS MATERIALIZED (
      |  SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
      |e AS MATERIALIZED (
      |  SELECT edges.src, edges.dst, deg.outdeg
      |  FROM edges JOIN deg USING (src)),
      |r0 AS MATERIALIZED (
      |  SELECT src AS node, CAST($RankUnit AS BIGINT) AS pr
      |  FROM deg)""".stripMargin
    for (t <- 1 to PrIters) {
      sb ++= s""",
        |r$t AS MATERIALIZED (
        |  SELECT dst AS node,
        |         $base + $DampingMilli * CAST(sum(pr // outdeg) AS BIGINT)
        |           // 1000 AS pr
        |  FROM e JOIN r${t - 1} ON r${t - 1}.node = e.src
        |  GROUP BY dst)""".stripMargin
    }
    sb ++= s"""
      |SELECT CASE WHEN node % 10 = 0 THEN 'customer' ELSE 'supplier' END
      |         AS entity_type,
      |       node // 10 AS entity_id, pr
      |FROM r$PrIters""".stripMargin
    sb.toString
  }

  /** Generated fixed-round k-core oracle — same peeling chain, same
    * constants, MATERIALIZED per round. */
  private def kCoreOracle: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 10 AS src, l_suppkey * 10 + 1 AS dst
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |e AS MATERIALIZED (
      |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |alive_0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)""".stripMargin
    for (t <- 1 to KCoreRounds) {
      sb ++= s""",
        |alive_$t AS MATERIALIZED (
        |  SELECT e.src AS node FROM e
        |  JOIN alive_${t - 1} a ON e.src = a.node
        |  JOIN alive_${t - 1} b ON e.dst = b.node
        |  GROUP BY 1 HAVING count(*) >= $KCoreK)""".stripMargin
    }
    sb ++= s"""
      |SELECT CASE WHEN node % 10 = 0 THEN 'customer' ELSE 'supplier' END
      |         AS entity_type,
      |       node // 10 AS entity_id, core_deg
      |FROM (
      |  SELECT e.src AS node, count(*) AS core_deg FROM e
      |  JOIN alive_$KCoreRounds a ON e.src = a.node
      |  JOIN alive_$KCoreRounds b ON e.dst = b.node
      |  GROUP BY 1)""".stripMargin
    sb.toString
  }

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> kCoreOracle,
    "graph_label_prop" -> lpOracle,
    "graph_modularity" -> modularityOracle,
    "graph_conductance" -> conductanceOracle,
    // recursive frontier closure bounded at the same round cap; UNION
    // dedups (node, dist) pairs so the recursion terminates, and the
    // grouped min is the exact hop distance for every node in range
    "graph_bfs_distances" ->
      s"""WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 10 AS src, l_suppkey * 10 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |seeds AS (
        |  SELECT c_custkey * 10 AS node FROM customer
        |  WHERE c_custkey % $BfsSeedStride = 0),
        |bfs(node, dist) AS (
        |  SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.dist < $BfsRounds)
        |SELECT CASE WHEN node % 10 = 0 THEN 'customer' ELSE 'supplier' END
        |         AS entity_type,
        |       CAST(node // 10 AS BIGINT) AS entity_id,
        |       CAST(min(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY node""".stripMargin,
    "basket_rules" -> s"""WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |ps AS (
      |  SELECT a.pk AS u, b.pk AS v, count(*) AS support
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
      |freq AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
      |tot AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
      |directed AS (
      |  SELECT u AS lhs, v AS rhs, support FROM ps
      |  UNION ALL SELECT v, u, support FROM ps)
      |SELECT lhs, rhs, support,
      |       support * 1000 // fl.n_item AS conf_milli,
      |       support * 1000 * n_orders // (fl.n_item * fr.n_item)
      |         AS lift_milli
      |FROM directed
      |JOIN freq fl ON fl.pk = lhs
      |JOIN freq fr ON fr.pk = rhs
      |CROSS JOIN tot""".stripMargin,
    "graph_triangles" -> s"""$triOraclePrefix,
      |nodes AS (SELECT a AS part_id FROM tri UNION ALL
      |          SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |SELECT part_id, count(*) AS n_tri FROM nodes GROUP BY 1""".stripMargin,
    "graph_link_jaccard" -> s"""$triOraclePrefix,
      |pairs AS (
      |  SELECT a AS x, b AS y FROM tri UNION ALL
      |  SELECT a, c FROM tri UNION ALL
      |  SELECT b, c FROM tri),
      |commons AS (
      |  SELECT least(x, y) AS u, greatest(x, y) AS v, count(*) AS common
      |  FROM pairs GROUP BY 1, 2)
      |SELECT e0.u, e0.v,
      |       CAST(coalesce(commons.common, 0) AS BIGINT) AS common,
      |       CAST(coalesce(commons.common, 0) * 1000 //
      |         NULLIF(du.d - 1 + dv.d - 1 - coalesce(commons.common, 0), 0)
      |         AS BIGINT) AS jaccard_milli
      |FROM e0
      |LEFT JOIN commons ON commons.u = e0.u AND commons.v = e0.v
      |JOIN deg du ON du.n = e0.u
      |JOIN deg dv ON dv.n = e0.v""".stripMargin,
    "graph_clustering_coeff" -> s"""$triOraclePrefix
      |SELECT (SELECT count(*) FROM deg) AS n_nodes,
      |       (SELECT count(*) FROM e0) AS n_edges,
      |       (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
      |       (SELECT count(*) FROM tri) AS n_triangles,
      |       CAST(3 * (SELECT count(*) FROM tri) * 1000
      |         // (SELECT sum(d * (d - 1) // 2) FROM deg) AS BIGINT)
      |         AS global_cc_milli""".stripMargin,
    "graph_pagerank" -> prOracle,
    "graph_degree_histogram" ->
      """WITH e0 AS (
        |  SELECT DISTINCT o_custkey * 10 AS src, l_suppkey * 10 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (
        |  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
        |d AS (SELECT src, count(*) AS degree FROM edges GROUP BY 1)
        |SELECT degree, count(*) AS n_nodes FROM d GROUP BY 1""".stripMargin)
}
