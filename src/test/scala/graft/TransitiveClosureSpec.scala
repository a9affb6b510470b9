package graft

import graft.operators.TransitiveClosure
import org.apache.spark.sql.DataFrame

/** e45 — directed min-hop closure: the BFS kernel against a driver-side
  * reference BFS on planted and pseudo-random DAGs, cycle termination,
  * and the registry fixture's structural invariants. */
class TransitiveClosureSpec extends SparkSpec {
  import spark.implicits._

  private def run(roots: Seq[Long], edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    TransitiveClosure.minHopClosure(
      roots.map(r => (r, r)).toDF("root", "node"),
      edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet

  /** Reference BFS on the driver. */
  private def bfs(roots: Seq[Long], edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    roots.flatMap { r =>
      val byLevel = scala.collection.mutable.Map(r -> 0L)
      var level = 0L
      var front = Set(r)
      while (front.nonEmpty) {
        level += 1
        front = front.flatMap(n => adj.getOrElse(n, Nil))
          .filterNot(byLevel.contains)
        front.foreach(n => byLevel(n) = level)
      }
      byLevel.map { case (n, h) => (r, n, h) }
    }.toSet
  }

  test("planted diamond: min over the two paths, shared node at hops 2") {
    // 10 → 5 → 1 and 10 → 3 → 1: node 1 is reachable two ways, both
    // length 2; node 1 also directly at 10 → 1 would shorten it
    val got = run(Seq(10L), Seq((10L, 5L), (10L, 3L), (5L, 1L), (3L, 1L)))
    assert(got === Set((10L, 10L, 0L), (10L, 5L, 1L), (10L, 3L, 1L),
      (10L, 1L, 2L)))
    // add the shortcut: min drops to 1
    val shortcut = run(Seq(10L),
      Seq((10L, 5L), (10L, 3L), (5L, 1L), (3L, 1L), (10L, 1L)))
    assert(shortcut(((10L, 1L, 1L))))
  }

  test("cycle terminates: revisits lose the anti-join") {
    val got = run(Seq(1L), Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    assert(got === Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
  }

  test("empty edges: seeds only at hops 0; empty roots: empty") {
    assert(run(Seq(7L, 9L), Nil) === Set((7L, 7L, 0L), (9L, 9L, 0L)))
    assert(run(Nil, Seq((1L, 2L))) === Set.empty)
  }

  test("multi-root pseudo-random DAGs ≡ reference BFS") {
    // deterministic edge soup over 40 nodes, edges only high → low
    // (DAG); three seeds exercise overlapping reachable sets
    for (seed <- Seq(11L, 29L, 57L)) {
      val edges = (0L until 120L).flatMap { k =>
        val a = (k * seed * 31 + 17) % 40
        val b = (k * seed * 53 + 5) % 40
        if (a > b) Some((a, b)) else if (b > a) Some((b, a)) else None
      }.distinct
      val roots = Seq(39L, 38L, 25L)
      assert(run(roots, edges) === bfs(roots, edges), s"seed $seed")
    }
  }

  private def runDoubling(roots: Seq[Long],
      edges: Seq[(Long, Long)]): Set[(Long, Long, Long)] =
    TransitiveClosure.minHopClosureDoubling(
      roots.map(r => (r, r)).toDF("root", "node"),
      edges.toDF("src", "dst"))
      .as[(Long, Long, Long)].collect().toSet

  test("e45b path doubling ≡ BFS on planted shapes and pseudo-random DAGs") {
    // the two kernels share one contract; every case the BFS suite
    // pins must come out identical from the doubling plan
    val diamond = Seq((10L, 5L), (10L, 3L), (5L, 1L), (3L, 1L))
    assert(runDoubling(Seq(10L), diamond) === run(Seq(10L), diamond))
    assert(runDoubling(Seq(7L, 9L), Nil) === Set((7L, 7L, 0L), (9L, 9L, 0L)))
    assert(runDoubling(Nil, Seq((1L, 2L))) === Set.empty)
    for (seed <- Seq(11L, 29L)) {
      val edges = (0L until 120L).flatMap { k =>
        val a = (k * seed * 31 + 17) % 40
        val b = (k * seed * 53 + 5) % 40
        if (a > b) Some((a, b)) else if (b > a) Some((b, a)) else None
      }.distinct
      val roots = Seq(39L, 38L, 25L)
      assert(runDoubling(roots, edges) === bfs(roots, edges), s"seed $seed")
    }
  }

  test("e45b cycle: a lap never shortens a path, fixpoint terminates") {
    assert(runDoubling(Seq(1L), Seq((1L, 2L), (2L, 3L), (3L, 1L))) ===
      Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L)))
  }

  test("deep chain: BFS refuses past MaxRounds (pinned message), doubling solves it") {
    // depth 79 > the BFS round budget of 60 — the contract boundary the
    // round-11 verdict flagged as untested: the require must name the
    // swap, and the swap must actually solve the same graph
    val chain = (1L to 79L).map(k => (k, k - 1L))
    val ex = intercept[IllegalArgumentException] {
      run(Seq(79L), chain)
    }
    assert(ex.getMessage.contains("path-doubling"),
      s"the BFS refusal must name the swap: ${ex.getMessage}")
    val got = runDoubling(Seq(79L), chain)
    assert(got === (0L to 79L).map(q => (79L, q, 79L - q)).toSet)
  }

  test("null edge endpoints are dropped: BFS ≡ doubling ≡ reference BFS") {
    // (r,a), (r,null), (a,null): an anti-join on (root, node) never
    // matches a null node, so a BFS that kept these edges reached
    // (r, null) at hops 1 AND at hops 2, while doubling's groupBy
    // reached it once; a null source reaches nothing either way
    val es = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, null),
      (2L, null), (null, 1L))
    val roots = Seq((1L, 1L)).toDF("root", "node")
    def rows(out: DataFrame): Seq[(Long, Long, Long)] =
      out.as[(Long, Long, Long)].collect().toSeq.sorted
    val want = bfs(Seq(1L), es.collect { case (a, b) if a != null && b != null =>
      (a.longValue, b.longValue) }).toSeq.sorted
    assert(want === Seq((1L, 1L, 0L), (1L, 2L, 1L)))
    assert(rows(TransitiveClosure.minHopClosure(roots, es.toDF("src", "dst"))) === want)
    assert(rows(TransitiveClosure.minHopClosureDoubling(roots,
      es.toDF("src", "dst"))) === want)
    // weighted: a null ENDPOINT drops like the others; a null WEIGHT on
    // a whole edge still refuses (the e45c guard below)
    assert(rows(TransitiveClosure.minCostClosureDoubling(roots,
      es.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"))) === want)
  }

  private def runWeighted(roots: Seq[Long],
      edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] =
    TransitiveClosure.minCostClosureDoubling(
      roots.map(r => (r, r)).toDF("root", "node"),
      edges.toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet

  /** Reference Dijkstra on the driver (non-negative weights). */
  private def dijkstra(roots: Seq[Long],
      edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3))).toMap
    roots.flatMap { r =>
      val dist = scala.collection.mutable.Map(r -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, r))(
        Ordering.by[(Long, Long), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, n) = pq.dequeue()
        if (dist(n) == d) adj.getOrElse(n, Nil).foreach { case (m, w) =>
          if (dist.get(m).forall(_ > d + w)) { dist(m) = d + w; pq.enqueue((d + w, m)) }
        }
      }
      dist.map { case (n, c) => (r, n, c) }
    }.toSet
  }

  test("e45c weighted closure ≡ Dijkstra on planted and pseudo-random weighted DAGs") {
    // diamond where the LONGER-hop path is cheaper: 10→5→1 costs 2+1,
    // 10→1 direct costs 9 — min-cost must disagree with min-hop
    val diamond = Seq((10L, 5L, 2L), (5L, 1L, 1L), (10L, 1L, 9L))
    assert(runWeighted(Seq(10L), diamond) ===
      Set((10L, 10L, 0L), (10L, 5L, 2L), (10L, 1L, 3L)))
    // parallel edges collapse to their min weight
    assert(runWeighted(Seq(1L), Seq((1L, 2L, 7L), (1L, 2L, 4L))) ===
      Set((1L, 1L, 0L), (1L, 2L, 4L)))
    for (seed <- Seq(11L, 29L, 57L)) {
      val edges = (0L until 120L).flatMap { k =>
        val a = (k * seed * 31 + 17) % 40
        val b = (k * seed * 53 + 5) % 40
        val w = (k * seed) % 9 // includes zero-weight edges
        if (a > b) Some((a, b, w)) else if (b > a) Some((b, a, w)) else None
      }.distinct
      val roots = Seq(39L, 38L, 25L)
      assert(runWeighted(roots, edges) === dijkstra(roots, edges), s"seed $seed")
    }
  }

  test("e45c non-negative cycle converges; negative weight refuses loudly") {
    // positive cycle: a lap adds cost, min discards it
    assert(runWeighted(Seq(1L), Seq((1L, 2L, 3L), (2L, 3L, 4L), (3L, 1L, 5L))) ===
      Set((1L, 1L, 0L), (1L, 2L, 3L), (1L, 3L, 7L)))
    // zero-weight cycle: laps add nothing, fixpoint still terminates
    assert(runWeighted(Seq(1L), Seq((1L, 2L, 0L), (2L, 1L, 0L))) ===
      Set((1L, 1L, 0L), (1L, 2L, 0L)))
    val ex = intercept[IllegalArgumentException] {
      runWeighted(Seq(1L), Seq((1L, 2L, -1L)))
    }
    assert(ex.getMessage.contains("non-negative"))
  }

  test("e45c fractional and null weights refuse loudly (no silent truncation)") {
    // the cost arithmetic is exact long addition — a fractional weight
    // would truncate (0.9 → 0) and corrupt every min-cost through its
    // edge, so the seeding-pass guard must refuse, not round
    val exFrac = intercept[IllegalArgumentException] {
      TransitiveClosure.minCostClosureDoubling(
        Seq((1L, 1L)).toDF("root", "node"),
        Seq((1L, 2L, 0.9), (2L, 3L, 2.0)).toDF("src", "dst", "w"))
    }
    assert(exFrac.getMessage.contains("integral"))
    // an integral-VALUED double is fine — the guard rejects values, not types
    assert(TransitiveClosure.minCostClosureDoubling(
        Seq((1L, 1L)).toDF("root", "node"),
        Seq((1L, 2L, 3.0)).toDF("src", "dst", "w"))
      .as[(Long, Long, Long)].collect().toSet ===
      Set((1L, 1L, 0L), (1L, 2L, 3L)))
    // a null weight must refuse, not silently drop out of min()
    val exNull = intercept[IllegalArgumentException] {
      TransitiveClosure.minCostClosureDoubling(
        Seq((1L, 1L)).toDF("root", "node"),
        Seq((1L, 2L, java.lang.Long.valueOf(3L)), (2L, 3L, null))
          .toDF("src", "dst", "w"))
    }
    assert(exNull.getMessage.contains("non-null"))
  }

  test("e45c at w ≡ 1 is exactly e45b min-hop (shared-kernel identity)") {
    val edges = (0L until 120L).flatMap { k =>
      val a = (k * 11L * 31 + 17) % 40
      val b = (k * 11L * 53 + 5) % 40
      if (a > b) Some((a, b)) else if (b > a) Some((b, a)) else None
    }.distinct
    val roots = Seq(39L, 38L, 25L)
    assert(runWeighted(roots, edges.map(e => (e._1, e._2, 1L))) ===
      runDoubling(roots, edges))
  }

  test("e45c fixture invariants: cost ≤ any single edge from the root, " +
    "min_cost ≤ hop-path cost upper bound, self at 0") {
    val rows = TransitiveClosure.weightedBomCost(spark, Sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byRoot = rows.groupBy(_._1)
    byRoot.foreach { case (r, rs) =>
      assert(rs.contains((r, r, 0L)), s"root $r must self-label at 0")
      // max edge weight is 7 (div-3: %5+3) and depth ≤ log2 bound, so
      // every cost is bounded by 8 × the e45 hop bound
      val hopBound = 1 + (math.log(r.toDouble.max(2)) / math.log(2)).toLong
      rs.foreach { case (_, n, c) =>
        assert(c <= 8 * hopBound, s"root $r node $n cost $c over bound")
        assert(c >= 0)
      }
    }
    // min-cost genuinely disagrees with min-hop somewhere (the weighted
    // fixture is not a re-labeled e45)
    val hops = TransitiveClosure.bomReachability(spark, Sf)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(rows.exists { case (r, n, c) => hops.get((r, n)).exists(h => c != h) })
  }

  test("e45b fixture invariants: block-bounded chains, exact hop arithmetic") {
    val rows = TransitiveClosure.deepChainReachability(spark, Sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (root, node, hops) =>
      assert(root % 64 === 63, "roots are block tops")
      assert(node / 64 === root / 64, "reach never crosses a block")
      assert(hops === root - node, "chain hops are exact differences")
    }
  }

  test("e45 fixture invariants: roots self-labeled, hops bounded by log2, " +
    "every non-root hop has a parent one hop up") {
    val rows = TransitiveClosure.bomReachability(spark, Sf)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val byRoot = rows.groupBy(_._1)
    byRoot.foreach { case (r, rs) =>
      assert(rs.contains((r, r, 0L)), s"root $r must self-label at 0")
      val maxHops = rs.map(_._3).max
      assert(maxHops <= 1 + (math.log(r.toDouble.max(2)) / math.log(2)).toLong,
        s"root $r depth $maxHops exceeds halving bound")
      // every hop-k node (k ≥ 1) is p div 2 or p div 3 of some hop-(k−1)
      val atHop = rs.groupBy(_._3).view.mapValues(_.map(_._2).toSet).toMap
      rs.filter(_._3 > 0).foreach { case (_, n, h) =>
        val parents = atHop.getOrElse(h - 1, Set.empty)
        assert(parents.exists(p => p / 2 == n || p / 3 == n),
          s"node $n at hop $h under root $r has no parent at ${h - 1}")
      }
    }
  }
}
