package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** A MATERIALIZED per-corpus relation set: derive once per corpus
  * snapshot, publish through the f09 write-audit-publish gate, and feed
  * every consumer from the published parquet. The four stores —
  * [[PairStore]] (d46), [[LabelStore]] (d61), [[VectorIndexStore]] (d74)
  * and [[TokenizerStore]] (d85) — are declarations over this one
  * lifecycle: a name, the (table, key columns) list and a derivation.
  *
  * Lifecycle, per corpus dir `d`:
  *   - Layout: one scratch root per JVM (deleted at exit); each store
  *     keeps `<root>/graft-<store>/<md5(d)>/<table>/published`. The md5
  *     of the full path, not a 32-bit hashCode, so two corpus dirs in
  *     one JVM never share a table.
  *   - Lock: one monitor per (store, corpus) serializes publishers and
  *     publish-if-absent readers. Two interleaved publishes would
  *     overwrite the SAME staging dir and double-run the swap.
  *     Monitors are reentrant, so read → publish under one lock is fine.
  *   - Publish ([[publish]], the registry's publisher key): every table
  *     goes through [[Sources.writeAuditPublishStaged]] — stage, audit
  *     the staged files (rows vs the plan's own count, null keys,
  *     duplicate keys), promote by [[Commit.swap]] only if all pass. The
  *     returned manifest is (check_name, observed, ok) for a one-table
  *     store and (tbl, check_name, observed, ok) ordered by (tbl,
  *     check_name) for a multi-table one. A manifest without exactly
  *     one `published_rows` proof per table is malformed and fails a
  *     `require`; never read it as vacuously ok.
  *   - Built: the store is marked built only when every table
  *     promoted. Then the manifest is recorded and the publish version
  *     ([[version]]) steps by one. Caches derived from a store (e.g.
  *     `EmbeddingOps.clonedCells`) key on that version, not on the
  *     mutable corpus path.
  *   - Re-run: publishing a corpus whose store is built serves the
  *     recorded manifest (a store trains once per snapshot);
  *     [[rebuild]] derives and promotes afresh ([[Commit.swap]] keeps
  *     readers atomic).
  *   - Read ([[read]]): publish-if-absent, then a plain parquet scan,
  *     so filters and column pruning reach the store. A publish whose
  *     audit refused the table throws an IllegalStateException naming
  *     the store and the corpus instead of scanning a missing path.
  *
  * Relations the derivation persisted are released once the manifest is
  * collected. The store is keyed by corpus dir only. At 100 TB the
  * tables live bucketed on their keys under a transactional catalog
  * commit; the composition is unchanged. */
private[graft] abstract class PublishedStore(name: String,
    tables: Seq[(String, Seq[String])]) {

  /** The relations to publish for corpus `d`, one per declared table. */
  protected def derive(s: SparkSession, d: String): Map[String, DataFrame]

  private val manifestCache = scala.collection.concurrent.TrieMap
    .empty[String, (StructType, Array[Row])]
  private val versions = scala.collection.concurrent.TrieMap.empty[String, Long]
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lockFor(d: String): Object = locks.getOrElseUpdate(d, new Object)

  private def baseFor(d: String): String =
    s"${PublishedStore.root}/graft-$name/${org.apache.commons.codec.digest.DigestUtils.md5Hex(d)}"

  /** The publish version of corpus `d`'s store (0 = never built in
    * this JVM). */
  private[graft] def version(d: String): Long = versions.getOrElse(d, 0L)

  /** The publisher job: returns the audit manifest. */
  def publish(s: SparkSession, d: String): DataFrame =
    manifestOf(s, lockFor(d).synchronized(
      manifestCache.getOrElse(d, publishFresh(s, d))))

  /** Derives, audits and promotes corpus `d`'s store afresh even when it
    * is built; returns the new audit manifest. */
  def rebuild(s: SparkSession, d: String): DataFrame =
    manifestOf(s, lockFor(d).synchronized(publishFresh(s, d)))

  private def manifestOf(s: SparkSession, m: (StructType, Array[Row])): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(m._2: _*), m._1)

  private def publishFresh(s: SparkSession, d: String): (StructType, Array[Row]) = {
    val rels = derive(s, d)
    val manifests = tables.map { case (t, keyCols) =>
      val m = Sources.writeAuditPublishStaged(s, rels(t), s"${baseFor(d)}/$t",
        keyCols, false, None)
      if (tables.size == 1) m
      else m.select(lit(t).as("tbl"), col("check_name"), col("observed"), col("ok"))
    }
    val manifest =
      if (tables.size == 1) manifests.head
      else manifests.reduce(_.unionByName(_)).orderBy("tbl", "check_name")
    val rows = manifest.collect()
    rels.values.foreach(_.unpersist(blocking = false))
    val proofs = rows.filter(_.getAs[String]("check_name") == "published_rows")
    require(proofs.length == tables.size,
      s"$name publish manifest for $d carries ${proofs.length} published_rows " +
        s"checks, expected ${tables.size} (one per table) — malformed audit, " +
        "refusing to mark the store built")
    if (proofs.forall(_.getAs[Boolean]("ok"))) {
      manifestCache(d) = (manifest.schema, rows)
      versions(d) = version(d) + 1
    }
    (manifest.schema, rows)
  }

  /** Publish-if-absent, then scan one published table. */
  def read(s: SparkSession, d: String, table: String = tables.head._1): DataFrame = {
    if (!manifestCache.contains(d)) lockFor(d).synchronized {
      if (!manifestCache.contains(d)) { // re-check: another thread may have won
        publish(s, d)
        if (!manifestCache.contains(d)) throw new IllegalStateException(
          s"$name publish for $d failed its WAP audit — no table")
      }
    }
    s.read.parquet(s"${baseFor(d)}/$table/published")
  }
}

private[graft] object PublishedStore {
  private lazy val root: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-stores").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(p)
    p.toString
  }
}
