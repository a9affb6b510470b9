package graft

import graft.operators.PairGraph
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The Jaccard candidate prune ([[PairGraph.jaccardUbKeep]]) under
  * forced hash collisions: candidate rows carry a TRUE common count and
  * an `n_cr` inflated by up to every rare×rare join row a collision
  * could add. A pair whose true Jaccard reaches the threshold must
  * never be pruned, and the bound ratio must never go negative. */
object PairBoundProps extends Properties("PairBound") {
  private lazy val spark = SparkEnv.session("graft-props")

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  /** (n_i, n_j, h_i, h_j, n_cr, n_common): sizes, hot counts, the
    * inflated rare-common count and the true common count. */
  private val rowGen: Gen[(Long, Long, Long, Long, Long, Long)] = for {
    ni <- Gen.choose(1L, 120L)
    nj <- Gen.choose(ni, ni + 12L)
    hi <- Gen.frequency((2, Gen.const(0L)), (1, Gen.choose(0L, ni)))
    hj <- Gen.frequency((2, Gen.const(0L)), (1, Gen.choose(0L, nj)))
    hotC <- Gen.choose(0L, math.min(hi, hj))
    rareMax = math.min(ni - hi, nj - hj)
    rareC <- Gen.frequency((3, Gen.const(rareMax)), (1, Gen.choose(0L, rareMax)))
    maxInfl = (ni - hi) * (nj - hj) - rareC
    infl <- Gen.frequency((2, Gen.const(0L)), (1, Gen.const(maxInfl)),
      (2, Gen.choose(0L, maxInfl)))
  } yield (ni, nj, hi, hj, rareC + infl, rareC + hotC)

  private def check(rows: Seq[(Long, Long, Long, Long, Long, Long)],
      threshold: Double): Prop = {
    val s = spark
    import s.implicits._
    val hot = least(col("h_i"), col("h_j"))
    val got = rows.toDF("n_i", "n_j", "h_i", "h_j", "n_cr", "n_common")
      .select(col("n_i"), col("n_j"), col("n_common"),
        PairGraph.jaccardUb(hot).as("ub_jac"),
        PairGraph.jaccardUbKeep(hot, threshold).as("keep"))
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val negative = got.filter(_._4 < 0.0)
    val pruned = got.filter { case (ni, nj, nc, _, keep) =>
      nc.toDouble / (ni + nj - nc) >= threshold && !keep }
    (Prop(negative.isEmpty) :| s"negative bound ratio: ${negative.toSeq}") &&
      (Prop(pruned.isEmpty) :| s"true ≥ $threshold pair pruned: ${pruned.toSeq}")
  }

  property("an inflated n_cr never prunes a true ≥ τ pair; the ratio is never negative") =
    Prop.forAll(Gen.listOfN(40, rowGen), Gen.oneOf(0.5, 0.8, 0.95)) {
      (rows, threshold) => check(rows, threshold)
    }

  property("planted collision: ub past n_i + n_j keeps the identical pair") =
    // n_i = n_j = 10, all 10 shingles common and rare, and 90 collision
    // rows on top: the uncapped ub = 100 made the denominator −80
    check(Seq((10L, 10L, 0L, 0L, 100L, 10L)), 0.8)
}
