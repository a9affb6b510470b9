package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** d74 — the MATERIALIZED vector index: a [[PublishedStore]] of the d73
  * build. A production index trains once per corpus snapshot — the IVF
  * cells + PQ codebooks + code words are the expensive half, the query
  * is cheap — so d74 ([[publish]]) publishes four relations per corpus
  * and every default-parameter search (`EmbeddingOps.ivfPqAnn`, the
  * d78/d79/d86 family, s19) reads them:
  *
  *   - `cells`     (vec_id, cid)       — the inverted file,
  *   - `codes`     (vec_id, codes)     — m one-byte-domain code words
  *                                       per vector (the PQ compression),
  *   - `codebook`  (m, code, pos, c)   — the reconstruction vectors,
  *   - `centroids` (cid, cv)           — the k coarse IVF centroids
  *                                       (what ranks cells for
  *                                       nprobe > 1; k rows, broadcast-
  *                                       sized at any corpus scale).
  *
  * Raw vectors are deliberately NOT in the store (PQ's point is that
  * the index never duplicates them); a query fetches them from the
  * embeddings table only for its own rows and the exact-re-rank
  * shortlist. Row-count invariants the oracle rides on: cells is a
  * PARTITION of the corpus (n rows), packed codes is n rows, codebook
  * is m·kPq·sw = 1024 rows (iff no PQ cluster is empty), centroids is
  * k = 10 rows (iff no IVF cell is empty) — the conditionals are
  * fixture properties LlmOpsSpec pins per sf. */
object VectorIndexStore extends PublishedStore("vindexstore", Seq(
    "cells" -> Seq("vec_id"),
    "codes" -> Seq("vec_id"),
    "codebook" -> Seq("m", "code", "pos"),
    "centroids" -> Seq("cid"))) {

  /** The code table is stored PACKED — one row per vector with its m
    * code words as an m-position array (position = sub-space), the
    * m-codes-per-vector layout the 100 TB story claims (a production
    * table narrows the element type to one byte after a dense code
    * remap; the fixture's seed-id codes are already 0..kPq−1). */
  protected def derive(s: SparkSession, d: String): Map[String, DataFrame] = {
    val (cells, codes, cb, cent) = EmbeddingOps.pqIndexRelations(s, d)
    val packed = codes.groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        x => x.getField("code")).as("codes"))
    Map("cells" -> cells, "codes" -> packed, "codebook" -> cb, "centroids" -> cent)
  }

  /** The four published relations (cells, codes, codebook, centroids);
    * the packed code array unpacks with one posexplode back to the
    * (vec_id, m, code) shape the search joins on. */
  private[graft] def relations(s: SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val codes = read(s, d, "codes")
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "m", "code")
    (read(s, d, "cells"), codes, read(s, d, "codebook"), read(s, d, "centroids"))
  }
}
