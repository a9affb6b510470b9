package graft

import graft.operators.{ConnectedComponents, LlmOps, PairGraph}
import org.apache.spark.sql.DataFrame

/** Large/small-star must agree with a driver-side union-find on every
  * graph shape — synthetic, degenerate and the real pair graph — and
  * must converge on a chain whose diameter is far beyond the round cap. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def edgesDf(es: Seq[(Long, Long)]): DataFrame = es.toDF("i", "j")

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  /** Reference union-find on the driver. */
  private def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("large/small-star labels a high-diameter chain (diameter 119) to its min") {
    // a diameter-bound algorithm needs 119 rounds — past the round cap;
    // large/small-star must do it in O(log n).
    val chain = (0L until 119L).map(i => (i, i + 1))
    val got = labelsOf(ConnectedComponents.largeSmallStar(edgesDf(chain)))
    assert(got.size === 120)
    assert(got.values.toSet === Set(0L))
  }

  test("large/small-star on two components plus a 2-cycle shape") {
    val es = Seq((5L, 3L), (3L, 9L), (20L, 21L))
    val got = labelsOf(ConnectedComponents.largeSmallStar(edgesDf(es)))
    assert(got === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("large/small-star ≡ union-find: pseudo-random graph, null endpoints") {
    // splitmix-ish arithmetic graph: deterministic, no RNG state.
    val random = (0 until 200).map { k =>
      val a = (k * 2654435761L) % 97
      val b = (k * 40503L + 7) % 97
      (java.lang.Long.valueOf(math.min(a, b)), java.lang.Long.valueOf(math.max(a, b)))
    }.filter { case (a, b) => a != b }
    // the closure kernels' null-endpoint case, (r,a), (r,null), (a,null),
    // plus a null source and an all-null edge: edges touching a null node
    // are dropped
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (1L, null),
      (2L, null), (null, 3L), (null, null))
    for (es <- Seq(random, nulls)) {
      val kept = es.collect { case (a, b) if a != null && b != null =>
        (a.longValue, b.longValue) }
      assert(labelsOf(ConnectedComponents.largeSmallStar(es.toDF("i", "j"))) ===
        unionFind(kept))
    }
  }

  test("large/small-star ≡ union-find on the real near-dup pair graph") {
    val edges = PairGraph.ngramJaccard(spark, Sf).select("i", "j")
    val ls = labelsOf(ConnectedComponents.largeSmallStar(edges))
    assert(ls.nonEmpty, "corpus should contain planted near-dup pairs")
    assert(ls === unionFind(edges.as[(Long, Long)].collect().toSeq))
  }

  test("empty edge set yields empty labels") {
    assert(labelsOf(ConnectedComponents.largeSmallStar(edgesDf(Seq.empty))) ===
      unionFind(Nil))
    assert(unionFind(Nil).isEmpty)
  }
}
