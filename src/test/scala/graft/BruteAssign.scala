package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.Decimal

/** In-memory brute-force reference for the k-means / PQ assignment
  * kernel, independent of its plan: collect the vectors and the model,
  * compute every (vector, centroid) distance in memory, take the
  * argmin on (dist2, cid).
  *
  * Each term is (v_i − c_i)² in double arithmetic rounded the way
  * Spark's `Canon.dec` cast rounds it — `Decimal(d)` at scale 6,
  * HALF_UP — and the terms are summed exactly, so the reference
  * distances are the kernel's decimals, not approximations of them. */
object BruteAssign {

  /** (vec_id, v) rows of a frame with an array column `vcol`; null and
    * empty vectors are left out (the kernel gives them no label). */
  def vectors(df: DataFrame, vcol: String): Seq[(Long, Array[Double])] =
    df.select(col("vec_id"), col(vcol).cast("array<double>")).collect().toSeq
      .filter(r => !r.isNullAt(1) && r.getSeq[Double](1).nonEmpty)
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** (m, cid, centroid) of a model relation with columns (cid, dim, c)
    * and optionally m (absent = the single sub-space 0). */
  def model(rel: DataFrame): Seq[(Int, Long, Array[Double])] = {
    val m = if (rel.columns.contains("m")) col("m").cast("int")
      else org.apache.spark.sql.functions.lit(0)
    rel.select(m, col("cid").cast("long"), col("dim").cast("int"),
        col("c").cast("double")).collect().toSeq
      .groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
      .map { case ((mi, cid), rs) =>
        (mi, cid, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray) }
  }

  private def term(d: Double): BigDecimal =
    BigDecimal(Decimal(d * d).toJavaBigDecimal
      .setScale(6, java.math.RoundingMode.HALF_UP))

  /** (vec_id, m, cid, dist2) for every vector and sub-space, sorted. */
  def assign(vecs: Seq[(Long, Array[Double])],
      model: Seq[(Int, Long, Array[Double])]): Seq[(Long, Int, Long, BigDecimal)] = {
    val bySub = model.groupBy(_._1).toSeq.sortBy(_._1)
    (for {
      (id, v) <- vecs
      (mi, cents) <- bySub
    } yield {
      val (d2, cid) = cents.map { case (_, cid, c) =>
        val off = mi * c.length
        (c.indices.map(i => term(v(off + i) - c(i))).sum, cid)
      }.min
      (id, mi, cid, d2)
    }).sortBy(r => (r._1, r._2))
  }
}
