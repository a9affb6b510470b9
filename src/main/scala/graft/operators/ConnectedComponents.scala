package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an undirected edge list —
  * the clustering step of near-duplicate deduplication (a dedup pipeline
  * keeps one representative per duplicate GROUP, and groups are the
  * transitive closure of the pair relation).
  *
  * [[largeSmallStar]] returns (node, component) with component = the
  * smallest node id reachable from the node; every node that appears in
  * an edge is labeled (callers add singletons). It runs on the
  * [[Fixpoint]] driver, whose scaladoc holds the round discipline and
  * the checkpoint lifecycle; each round does only edge-proportional work,
  * with no driver-side collect beyond the convergence probe.
  */
object ConnectedComponents {
  /** Normalize an (i, j) edge list to distinct (u, v) with u > v,
    * self-loops dropped. */
  private def orient(edges: DataFrame): DataFrame =
    edges
      .select(greatest(col("i"), col("j")).as("u"), least(col("i"), col("j")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  /** Alternating large-star/small-star rewrites to a fixpoint (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
    * MapReduce and Beyond", SoCC'14). Each round is two equi-join +
    * aggregate passes over the EDGE set, and the edge set converges to a
    * star forest in O(log n) rounds regardless of diameter — a
    * chain-shaped corpus (serially edited boilerplate) included.
    *
    * large-star: for every node u, every strictly-larger neighbor is
    * re-pointed at m(u) = min(Γ(u) ∪ {u}).
    * small-star: on (u > v)-oriented edges, u and all its smaller
    * neighbors are re-pointed at m(u) = min(Γ(u)).
    * At the fixpoint the edge set is a star forest (child, root) with
    * root = component min; labels are the stars plus the roots
    * themselves. An edge with a null endpoint orients to a self-loop (or
    * a null pair) and is dropped.
    */
  def largeSmallStar(edges0: DataFrame): DataFrame = starLabels(
    Fixpoint.iterate("cc", "large/small-star converges in O(log n) rounds, so this is no size limit",
        orient(edges0)) { prev =>
      val edges = prev.state
      // large-star over the symmetric adjacency
      val adj = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val largeMins = adj.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: duplicates don't change small-star's min and
      // the final distinct below restores set semantics — one fewer
      // shuffle per round. (v, m) is already (u > v)-oriented: v > u ≥ m.
      // cached: BOTH small-star inputs (smallMins and the join) read it —
      // without the cache the dominant large-star join runs twice per
      // round
      val large = prev.cached(adj.join(largeMins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star over the (u > v)-oriented output: every smaller
      // neighbor AND u itself link to the smallest neighbor.
      val smallMins = large.groupBy("u").agg(min(col("v")).as("m"))
      large.join(smallMins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(smallMins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    } { (prev, cur) =>
      // the round left the edge set unchanged. Both sides are distinct
      // sets, so symmetric difference = rows seen exactly once in the
      // union — ONE aggregation job, edge-proportional.
      cur.state.union(prev.state).groupBy("u", "v")
        .agg(count(lit(1)).as("c")).filter(col("c") === 1).isEmpty
    })

  /** A star forest (child, root) → (node, component) labels: the
    * children plus every root labeling itself. */
  private def starLabels(stars: DataFrame): DataFrame =
    stars.select(col("u").as("node"), col("v").as("component"))
      .union(stars.select(col("v").as("node"), col("v").as("component")))
      .distinct()
}
