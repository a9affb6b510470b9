package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** d61 — the MATERIALIZED k-means label relation: a [[PublishedStore]]
  * of one table, `labels` (vec_id, cid, dist2) keyed on vec_id (a label
  * table with a duplicate or null vector id is corrupt by definition).
  *
  * d59's labeler (fixed-iteration Lloyd's over the whole corpus) is
  * the most expensive subtree in the embedding family, and every
  * cluster-scoped consumer — d59's rollup, d60's SemDeDup verify, d63's
  * balanced draw, d64's domain-mixture profile — needs exactly its
  * (vec_id, cid) assignment, so d61 ([[publish]]) runs the labeler once
  * per corpus snapshot and the consumers read the published table.
  * LlmOpsSpec pins store-fed ≡ the `*Over` twins at
  * [[EmbeddingOps.KmeansK]]/[[EmbeddingOps.KmeansIters]]. At 100 TB
  * the table is bucketed on vec_id (or on cid for the per-cluster
  * consumers). */
object LabelStore extends PublishedStore("labelstore", Seq("labels" -> Seq("vec_id"))) {
  protected def derive(s: SparkSession, d: String): Map[String, DataFrame] =
    Map("labels" -> EmbeddingOps.kmeansLabelsFor(s, d))
}
