package graft.operators

import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The one iterate-to-fixpoint driver under the closure kernels
  * ([[TransitiveClosure]]: BFS for e45, path doubling for e45b/e45c) and
  * connected components ([[ConnectedComponents.largeSmallStar]]). An
  * iterative graph algorithm is a sequence of rounds of joins, each
  * materialized once; a kernel supplies the seed state, one round's step
  * and its convergence test, and [[iterate]] owns everything else.
  *
  * Round discipline. Round 0 materializes the seed; round k ≥ 1 applies
  * the step to round k−1 and materializes the result. Every round's jobs
  * — its materialization and a convergence probe that runs its own
  * query — carry the job label `<name>-round-<k>`. A round is:
  *
  *   1. the round cap: round k > [[MaxRounds]] refuses with the kernel's
  *      hint (which names the swap to make, e.g. BFS → path doubling);
  *   2. the step, a lazy frame built from round k−1's state;
  *   3. ONE eager `localCheckpoint` of that frame, so the plan never
  *      grows with the round count, with the kernel's probe statistics
  *      `observe`d on the checkpoint's own job — a probe that can ride
  *      the materialization costs no extra job;
  *   4. the convergence test on rounds k−1 and k (their statistics, or
  *      a query over both frames);
  *   5. the drop of round k−1's checkpoint, whose last reader was (4).
  *
  * Checkpoint lifecycle. An eager `localCheckpoint` holds MEMORY_AND_DISK
  * blocks that `CacheManager.clearCache()` never touches; only a full GC
  * (through ContextCleaner's weak references) reclaims them. Left alone,
  * every round of every iterative query pins another state's worth of
  * storage memory for the rest of the JVM's life and squeezes the unified
  * pool out from under later queries (d34's cold time once rose
  * 1.55 → 2.43 → 4.09 s across bench passes, while its isolated time sat
  * at 1.0 s, because earlier queries' round checkpoints were still
  * held). So round k−1's blocks go as soon as round k is materialized
  * and tested, frames a step caches through [[Round.cached]] go once the
  * round they feed is materialized, and when a step, a probe or the round
  * cap throws, every live round's blocks go before the exception leaves.
  * Only the final round survives, as the returned (lazy-readable) frame;
  * the session reclaims it at the next GC.
  *
  * Why an observed probe cannot report convergence early when a task or
  * a stage is retried. The observed aggregate sits at the root of the
  * checkpointed plan, above every exchange, so it runs only in the
  * checkpoint job's ResultTasks. Spark merges a result task's
  * accumulator updates once per partition — for the first successful
  * attempt; a duplicate (speculative or resubmitted) success is ignored
  * — and the accumulator behind `observe` does not count failed
  * attempts. A retried task, a resubmitted result stage or a re-run
  * upstream shuffle-map stage (which holds no observed operator)
  * therefore leaves the statistics exactly those of the materialized
  * rows. The checkpoint itself never recomputes: a lost local-checkpoint
  * block fails its reader rather than re-running the plan. The publish
  * gate's observed count (`Sources.writeAuditPublishStaged`) rests on
  * the same argument: it observes the root of the staged frame, and
  * the stage write adds no exchange above it.
  */
object Fixpoint {
  /** Round cap for every kernel. Large/small-star converges in
    * O(log n) rounds (≈ 2 log₂ n in its paper's bound) and path doubling
    * in log₂ depth, so 60 covers any graph that fits on disk; BFS runs
    * depth-many rounds, so a graph deeper than 59 refuses (and the
    * kernel's hint names path doubling). */
  val MaxRounds = 60

  /** One materialized round: `k` (0 = the seed), its checkpointed
    * `state` and the probe statistics its checkpoint job observed, by
    * alias (empty without a probe). */
  final class Round private[Fixpoint] (val k: Int, val state: DataFrame,
      val stats: Map[String, Any]) {
    private[Fixpoint] val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

    /** `df` cached while the next round is built from this one — a frame
      * the step reads more than once. Unpersisted once that round is
      * materialized, or when the step throws. */
    def cached(df: DataFrame): DataFrame = { held += df; df.cache() }
  }

  /** Iterates `step` from `seed` until `done(previous, current)` holds,
    * under the round discipline above; returns the final round's state.
    * `probe(k)` are the aggregate columns observed on round k's
    * checkpoint (`Round.stats`, keyed by alias). */
  def iterate(name: String, hint: String, seed: DataFrame,
      probe: Int => Seq[Column] = _ => Nil)(step: Round => DataFrame)(
      done: (Round, Round) => Boolean): DataFrame = {
    val s = seed.sparkSession
    def materialize(k: Int, df: DataFrame): Round = probe(k) match {
      case Seq() => new Round(k, df.localCheckpoint(), Map.empty)
      case p +: ps =>
        val obs = new Observation()
        val state = df.observe(obs, p, ps: _*).localCheckpoint()
        new Round(k, state, obs.get)
    }
    @tailrec def from(prev: Round): DataFrame = {
      val k = prev.k + 1
      val (cur, converged) = Sources.labeled(s, s"$name-round-$k") {
        val cur = dropOnThrow(prev) {
          require(k <= MaxRounds,
            s"$name did not converge in $MaxRounds rounds — $hint")
          try materialize(k, step(prev))
          finally prev.held.foreach(_.unpersist(blocking = false))
        }
        (cur, dropOnThrow(prev, cur)(done(prev, cur)))
      }
      dropCheckpoint(prev) // the test above was its last reader
      if (converged) cur.state else from(cur)
    }
    from(Sources.labeled(s, s"$name-round-0")(materialize(0, seed)))
  }

  private def dropOnThrow[T](live: Round*)(body: => T): T =
    try body catch { case e: Throwable => live.foreach(dropCheckpoint); throw e }

  /** Frees the blocks behind a round's eager checkpoint. They live in the
    * `LogicalRDD` leaf of the analyzed plan; because the checkpoint was
    * eager, no later plan recomputes through it once its last reader has
    * run. Non-blocking: removal proceeds while the next round runs. */
  private def dropCheckpoint(r: Round): Unit =
    r.state.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
