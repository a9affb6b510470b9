package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** e45 — DIRECTED transitive closure with minimum hop count: from a set
  * of root nodes, every node reachable along directed edges, labeled
  * with the length of the SHORTEST edge path. The one common relational
  * shape with no Spark builtin (SQL engines expose it as `WITH
  * RECURSIVE`; Spark has no recursive CTE), and the core of BOM
  * explosion ("which components does this assembly transitively
  * contain, how many levels down?"), dependency resolution, org-chart
  * rollups, and lineage walks.
  *
  * Two kernels behind one (roots, edges) → (root, node, hops) contract,
  * both run on the [[Fixpoint]] driver (its scaladoc holds the round
  * discipline and the checkpoint lifecycle):
  *
  *  - [[minHopClosure]] (e45): level-synchronous BFS. Rounds = the
  *    REACHED graph's depth (longest shortest-path); work per round is
  *    frontier-edge-proportional. The right plan for log-ish-deep
  *    BOM/dependency DAGs (this fixture: ≤ log₂ max key ≈ 15 rounds at
  *    any SF).
  *  - [[minCostClosureDoubling]] (e45b at unit weights, e45c weighted):
  *    path doubling. O(log depth) rounds, bought at O(Σ reach²)
  *    pair-relation work — the swap for pathologically deep chains
  *    (depth ~ n), which BFS refuses past [[Fixpoint.MaxRounds]].
  *
  * Null edge endpoints: an edge with a null `src` or `dst` joins nothing
  * under SQL equality, so both kernels drop it at entry — a null node is
  * never reached and never reaches.
  *
  * Undirected closure WITHOUT hop labels should use
  * [[ConnectedComponents.largeSmallStar]] instead — star rewrites do not
  * preserve path length, which is exactly why these kernels exist
  * separately.
  *
  * Reference analogue: the reference runtime has no iterative-job
  * surface at all (each app is one map→reduce→merge pass,
  * `phoenixLab/include/MapReduceScheduler.h`); multi-job iteration to a
  * fixpoint is a capability the Spark engine adds.
  */
object TransitiveClosure {
  /** Edges with both endpoints non-null. */
  private def endpoints(edges: DataFrame): DataFrame =
    edges.filter(col("src").isNotNull && col("dst").isNotNull)

  /** Generic BFS kernel: `roots` = (root, node) seed rows (normally
    * node = root), `edges` = directed (src, dst). Returns (root, node,
    * hops) with hops = min edge-path length from `root`'s seed to
    * `node`, seeds included at hops 0.
    *
    * The state is the discovered (root, node, hops) set. Round k's
    * frontier is its hops = k−1 rows — first discovery is the shortest
    * path (the BFS invariant), so hop labels need no re-relaxation —
    * and the round adds the frontier × edges equi-join's targets not
    * yet discovered (an anti-join on (root, node)) at hops = k. It
    * converges when a round discovers nothing: the count of hops = k
    * rows, observed on the round's own checkpoint. Both shuffles key on
    * node ids, never a cross product. Cycles are safe (a revisit loses
    * the anti-join). */
  def minHopClosure(roots: DataFrame, edges0: DataFrame): DataFrame = {
    val edges = endpoints(edges0).select(col("src"), col("dst")).distinct().cache()
    try Fixpoint.iterate("bfs",
        "graph too deep for BFS; use a path-doubling variant",
        roots.select(col("root"), col("node"), lit(0L).as("hops")).distinct(),
        k => Seq(count(when(col("hops") === k, 1)).as("found"))) { prev =>
      val k = prev.k + 1
      val frontier = prev.state.filter(col("hops") === k - 1)
      prev.state.unionByName(frontier.join(edges, frontier("node") === edges("src"))
        .select(col("root"), col("dst").as("node")).distinct()
        .join(prev.state, Seq("root", "node"), "left_anti")
        .select(col("root"), col("node"), lit(k.toLong).as("hops")))
    }((_, cur) => cur.stats("found") == 0L)
    finally edges.unpersist(blocking = false)
  }

  /** e45b — min-hop closure by PATH DOUBLING: the documented deep-graph
    * swap behind the same (roots, edges) → (root, node, hops) contract,
    * [[minCostClosureDoubling]] at unit weights. [[minHopClosure]]'s BFS
    * runs depth-many rounds and refuses past [[Fixpoint.MaxRounds]]; a
    * chain-shaped graph (event sequences, linked revisions,
    * blockchain-style parent pointers) has depth ~ n and needs the
    * logarithmic-round variant.
    *
    * The honest cost tradeoff vs BFS — why BOTH kernels exist: the
    * relation materializes EVERY reachable (u, v) pair from every
    * node, not just from roots — O(Σ reach²) space/work vs BFS's
    * O(roots-reached edges) per round. Doubling wins when depth ≫ the
    * round budget AND per-node reach sets are bounded (segmented
    * chains, bounded-window sequence graphs — the registry fixture);
    * BFS wins on shallow-wide DAGs (e45's BOM). */
  def minHopClosureDoubling(roots: DataFrame, edges0: DataFrame): DataFrame =
    minCostClosureDoubling(roots,
      edges0.select(col("src"), col("dst")).withColumn("w", lit(1L)))
      .withColumnRenamed("cost", "hops")

  /** e45c — WEIGHTED min-cost closure: the doubling kernel with edge
    * weights. This is the cost-rollup/critical-path question users ask
    * right after reachability ("what is the CHEAPEST way this assembly
    * contains that part?"); min-hop (e45b) is exactly this kernel at
    * w ≡ 1, so both run the one kernel and can't drift.
    *
    * Algorithm: min-plus squaring of the distance relation. The state
    * holds (u, v, d) = the MINIMUM path cost from u to v among paths of
    * at most 2^k edges after round k; each round composes it with
    * itself (one equi-join on the middle node + a min aggregate) and it
    * converges at the first round that neither adds a pair nor shortens
    * one: the (pair count, Σd) probe, observed on the round's own
    * checkpoint, is unchanged. The state only grows pairwise and only
    * shrinks distances, so an equal count means no pair was added and an
    * equal sum then forces pointwise-equal distances (the sum is
    * decimal: immune to overflow at any pair volume).
    *
    * Semantics: returns, per (root, node), the minimum total edge
    * weight over all directed paths, seeds at cost 0. Weights must be
    * NON-NEGATIVE, NON-NULL and INTEGRAL — a negative-weight cycle has
    * no min-cost closure (each lap shrinks the cost forever), and the
    * cost arithmetic is exact long addition, so a fractional weight
    * would silently truncate; the kernel REFUSES all three with a
    * diagnostic instead of spinning to the round cap or corrupting
    * costs (the d65 refuse-loudly discipline). The check rides the
    * seeding round itself — flagged per edge, max-reduced alongside
    * the parallel-edge min-collapse, observed on the seed's checkpoint
    * — so validation adds no job and no extra scan of the edges.
    * Non-negative cycles are safe: a lap adds ≥ 0 and min() keeps the
    * lap-free cost.
    *
    * Scale: O(log depth) rounds; the O(Σ reach²) pair materialization is
    * the documented trade vs BFS and wants block-bounded reach sets (the
    * BOM fixture's div-chain reach is O(log² key)). Both shuffles key on
    * node ids — no cross product, AQE splits a skewed middle node. */
  def minCostClosureDoubling(roots: DataFrame, wEdges: DataFrame): DataFrame = {
    // a null weight flags via the isNull arm (min() alone would skip it)
    val badW = col("w").isNull || col("w") < 0 ||
      col("w") =!= col("w").cast("long")
    val seed = endpoints(wEdges)
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
      .groupBy("u", "v")
      .agg(min(col("w").cast("long")).as("d"),
        max(when(badW, 1).otherwise(0)).as("bad"))
    val fixpoint = Seq(count(lit(1)).as("n"),
      sum(col("d").cast("decimal(38,0)")).as("sd"))
    val r = Fixpoint.iterate("doubling", s"depth > 2^${Fixpoint.MaxRounds}?",
        seed, {
          case 0 => coalesce(max(col("bad")), lit(0)).as("bad") +: fixpoint
          case _ => fixpoint
        }) { prev =>
      // the seed's weight guard, read before any round builds on it
      if (prev.k == 0) require(prev.stats("bad") == 0,
        "minCostClosureDoubling requires non-negative, non-null, integral " +
          "edge weights — a negative-weight cycle has no min-cost fixpoint, " +
          "a null weight would silently null every path through its edge, " +
          "and a fractional weight would silently truncate in the long-cost " +
          "arithmetic")
      val r = prev.state.select(col("u"), col("v"), col("d"))
      val comp = r.as("a").join(r.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"),
          (col("a.d") + col("b.d")).as("d"))
      r.unionByName(comp).groupBy("u", "v").agg(min(col("d")).as("d"))
    }((prev, cur) => Seq("n", "sd").forall(c => cur.stats(c) == prev.stats(c)))
    val reached = roots.join(r, roots("node") === r("u"))
      .select(col("root"), col("v").as("node"), col("d").as("cost"))
    roots.select(col("root"), col("node"), lit(0L).as("cost"))
      .unionByName(reached)
      .groupBy("root", "node").agg(min(col("cost")).as("cost"))
  }

  /** The e45b registry instance: SEGMENTED-CHAIN reachability over
    * `part` — each 64-key block [64k, 64k+63] is a descending chain
    * (p → p−1 within the block), roots are the block tops (≡ 63 mod
    * 64), so reached depth is 63: past the BFS round budget
    * ([[Fixpoint.MaxRounds]] = 60 — [[minHopClosure]]
    * refuses this graph by contract; the boundary spec pins that) and
    * the shape where doubling's pair relation stays block-bounded. */
  def deepChainReachability(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).select(col("p_partkey"))
    val edges = part.filter(col("p_partkey") >= 2 &&
        pmod(col("p_partkey"), lit(64L)) =!= 0)
      .select(col("p_partkey").as("src"), (col("p_partkey") - 1).as("dst"))
    val roots = part.filter(pmod(col("p_partkey"), lit(64L)) === 63)
      .select(col("p_partkey").as("root"), col("p_partkey").as("node"))
    minHopClosureDoubling(roots, edges)
      .select(col("root"), col("node"), col("hops").as("min_hops"))
      .orderBy("root", "node")
  }

  /** The e45c registry instance: WEIGHTED BOM cost rollup over the e45
    * DAG — same div-2/div-3 edges and mod-97 roots, but each edge
    * carries a deterministic integer cost (div-2 edges: src % 7 + 1,
    * div-3 edges: src % 5 + 3), so the minimum is a REAL min over the
    * shared-substructure paths and generally disagrees with min-hop
    * (a 2-hop path can undercut a 1-hop one). Oracle: the recursive-CTE
    * mirror with `min(cost)` — integer weights keep it exact. */
  def weightedBomCost(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).select(col("p_partkey"))
    val edges = part.filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"), expr("p_partkey div 2").as("dst"),
        (pmod(col("p_partkey"), lit(7L)) + 1).as("w"))
      .unionByName(part.filter(col("p_partkey") >= 3)
        .select(col("p_partkey").as("src"), expr("p_partkey div 3").as("dst"),
          (pmod(col("p_partkey"), lit(5L)) + 3).as("w")))
    val roots = part.filter(pmod(col("p_partkey"), lit(97L)) === 1)
      .select(col("p_partkey").as("root"), col("p_partkey").as("node"))
    minCostClosureDoubling(roots, edges)
      .select(col("root"), col("node"), col("cost").as("min_cost"))
      .orderBy("root", "node")
  }

  /** The e45 registry instance: BOM-style reachability over `part`.
    * Fixture structure: assembly p contains sub-parts p div 2 and
    * p div 3 (both strictly smaller → a DAG with shared substructure,
    * so min-hop is a real minimum over multiple paths — e.g. p → p/2
    * → p/6 and p → p/3 → p/6 meet); roots are the ~1% of parts with
    * p_partkey ≡ 1 (mod 97). The oracle is DuckDB's recursive CTE —
    * the engine-native form this kernel replaces. */
  def bomReachability(s: SparkSession, d: String): DataFrame = {
    val part = Tables.part(s, d).select(col("p_partkey"))
    val edges = part.filter(col("p_partkey") >= 2)
      .select(col("p_partkey").as("src"),
        expr("p_partkey div 2").as("dst"))
      .unionByName(part.filter(col("p_partkey") >= 3)
        .select(col("p_partkey").as("src"),
          expr("p_partkey div 3").as("dst")))
    val roots = part.filter(pmod(col("p_partkey"), lit(97L)) === 1)
      .select(col("p_partkey").as("root"), col("p_partkey").as("node"))
    minHopClosure(roots, edges)
      .select(col("root"), col("node"), col("hops").as("min_hops"))
      .orderBy("root", "node")
  }
}
