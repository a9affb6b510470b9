package graft

import graft.operators.{ConnectedComponents, Fixpoint, TransitiveClosure}

/** The fixpoint driver's round discipline seen from outside: the Spark
  * jobs each kernel's round costs, counted by the driver's
  * `<name>-round-<k>` job labels, and no round checkpoint or round cache
  * left behind when a step or the round cap throws. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** Round k → the number of jobs labeled `<name>-round-<k>` that `body`
    * starts. */
  private def roundJobs(name: String)(body: => Any): Map[Int, Int] = {
    val round = s"\\b$name-round-(\\d+)".r
    jobsOf { body; () }
      .flatMap(d => round.findFirstMatchIn(d).map(_.group(1).toInt))
      .groupBy(identity).map { case (k, js) => k -> js.size }
  }

  test("jobs per round: e45 BFS, e45b doubling, large/small-star") {
    // one materialization per round, its convergence probe observed on
    // it (BFS, doubling) or one aggregate query (large/small-star); the
    // rest are the round's exchange and broadcast stages under adaptive
    // execution. Round 0 is the seed: one exchange and its checkpoint.
    // The last round of each is the one that changes nothing: the
    // sf0.001 e45 fixture is 5 deep, e45b's chains are 63 deep
    // (⌈log₂ 63⌉ = 6 doubling rounds), the 21-node chain converges in 5.
    assert(roundJobs("bfs")(TransitiveClosure.bomReachability(spark, Sf)) ===
      Map(0 -> 2, 1 -> 6, 2 -> 4, 3 -> 5, 4 -> 5, 5 -> 5, 6 -> 5))
    assert(roundJobs("doubling")(TransitiveClosure.deepChainReachability(spark, Sf)) ===
      Map(0 -> 2, 1 -> 3, 2 -> 3, 3 -> 5, 4 -> 5, 5 -> 5, 6 -> 5, 7 -> 5))
    assert(roundJobs("cc")(ConnectedComponents.largeSmallStar(
      (0L until 20L).map(i => (i, i + 1)).toDF("i", "j"))) ===
      ((1 to 6).map(_ -> 12).toMap + (0 -> 2)))
  }

  test("a refusal or a throwing step leaves no round checkpoint or cache behind") {
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    // BFS past the round cap
    intercept[IllegalArgumentException] {
      TransitiveClosure.minHopClosure(Seq((79L, 79L)).toDF("root", "node"),
        (1L to 79L).map(k => (k, k - 1L)).toDF("src", "dst"))
    }
    // the doubling seed's weight guard
    intercept[IllegalArgumentException] {
      TransitiveClosure.minCostClosureDoubling(Seq((1L, 1L)).toDF("root", "node"),
        Seq((1L, 2L, -1L)).toDF("src", "dst", "w"))
    }
    // a step that throws after caching a frame for its round
    val seed = Seq(1L, 2L).toDF("x")
    val boom = intercept[IllegalStateException] {
      Fixpoint.iterate("boom", "never converges", seed) { prev =>
        val next = prev.cached(prev.state.select(($"x" + 1).as("x")))
        if (prev.k == 2) throw new IllegalStateException("boom")
        next
      }((_, _) => false)
    }
    assert(boom.getMessage === "boom")
    // a convergence test that never holds: the cap refuses with the hint
    val cap = intercept[IllegalArgumentException] {
      Fixpoint.iterate("spin", "the hint", seed)(_.state)((_, _) => false)
    }
    assert(cap.getMessage.contains(s"${Fixpoint.MaxRounds} rounds") &&
      cap.getMessage.contains("the hint"))
    assert((persisted -- before).isEmpty, "blocks left behind")
  }
}
