package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** d61 — the MATERIALIZED k-means label relation: the [[PairStore]]
  * producer/consumer shape applied to the clustering family.
  *
  * d59's labeler (fixed-iteration Lloyd's over the whole corpus) is
  * the most expensive subtree in the embedding family, and every
  * cluster-scoped consumer — d60's SemDeDup verify today; domain-mixture
  * reports, cluster-balanced sampling weights tomorrow — needs exactly
  * its (vec_id, cid) assignment. A real pipeline runs the labeler ONCE
  * per corpus snapshot, publishes the labels through the f09
  * write-audit-publish gate, and feeds every consumer from the
  * published table. d61 is the publisher job (output = the WAP audit
  * manifest; key audit on vec_id — a label table with a duplicate or
  * null vector id is corrupt by definition); d60 reads the store by
  * default (`spark.graft.shareKmeansLabels=false` restores per-query
  * re-derivation, and LlmOpsSpec pins store-fed ≡ recomputed).
  *
  * The store is keyed by CORPUS DIR only: flipping a labeler conf
  * (`spark.graft.kmeansPlusPlus`) mid-JVM does not invalidate an
  * already-published table — re-run [[publish]] (or set
  * `spark.graft.shareKmeansLabels=false`) after a config change, the
  * same way a production label table is re-materialized when its job
  * config changes.
  *
  * Store lifecycle mirrors [[PairStore]]: one scratch root per JVM,
  * publish-if-absent on the read path ([[labels]]), re-publish on every
  * [[publish]] call (the daily-job shape), per-corpus lock so a
  * publisher never races a publish-if-absent reader into the same
  * staging dir. At 100 TB the published table is bucketed on vec_id
  * (or on cid for the per-cluster consumers) under a transactional
  * catalog commit; the composition is unchanged. */
object LabelStore {
  private lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-labelstore").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(p)
    p.toString
  }
  private val built = scala.collection.concurrent.TrieMap.empty[String, String]
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(d: String): Object = locks.getOrElseUpdate(d, new Object)
  // collision-resistant key: a 32-bit hashCode collision between two
  // corpus dirs in one JVM would silently serve one corpus the other's
  // labels — md5 of the full path can't collide in practice
  private def baseFor(d: String): String =
    s"$root/${org.apache.commons.codec.digest.DigestUtils.md5Hex(d)}"

  /** d61 — the publisher job: run the d59 labeler, WAP-publish the
    * (vec_id, cid, dist2) assignment, return the audit manifest. */
  def publish(s: SparkSession, d: String): DataFrame = lockFor(d).synchronized {
    import org.apache.spark.sql.functions.col
    val lbl = EmbeddingOps.kmeansLabelsFor(s, d)
    val manifest = Sources.writeAuditPublishStaged(s, lbl,
      baseFor(d), Seq("vec_id"), false, None)
    val promoted = manifest
      .filter(col("check_name") === "published_rows").head.getBoolean(2)
    if (promoted) built(d) = s"${baseFor(d)}/published"
    manifest
  }

  /** Read-side accessor: publish-if-absent, then a plain parquet scan —
    * column pruning reaches the store (a consumer that needs only
    * (vec_id, cid) never reads dist2). */
  private[graft] def labels(s: SparkSession, d: String): DataFrame = {
    val path = built.getOrElse(d, lockFor(d).synchronized {
      built.getOrElse(d, {
        publish(s, d)
        built.getOrElse(d, throw new IllegalStateException(
          s"label-store publish for $d failed its WAP audit — no table"))
      })
    })
    s.read.parquet(path)
  }
}
