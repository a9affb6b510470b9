package graft

import graft.operators.PublishedStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared store lifecycle ([[PublishedStore]]) on test-only stores:
  * concurrent first reads build once, and a store whose audit refuses
  * its table is never marked built. */
class PublishedStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One table `t` keyed on k over 20 keys (each twice when `dupKeys`);
    * counts its derivations. */
  private class RangeStore(name: String, dupKeys: Boolean)
      extends PublishedStore(name, Seq("t" -> Seq("k"))) {
    val derivations = new java.util.concurrent.atomic.AtomicInteger
    protected def derive(s: SparkSession, d: String): Map[String, DataFrame] = {
      derivations.incrementAndGet()
      val k = s.range(20).toDF("k")
      Map("t" -> (if (dupKeys) k.union(k) else k))
    }
  }

  private def freshCorpus(): String = s"fresh-${java.util.UUID.randomUUID}"

  test("eight concurrent first reads of a fresh corpus build the store exactly once") {
    val store = new RangeStore("test-concurrent", dupKeys = false)
    val d = freshCorpus()
    assert(store.version(d) === 0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val go = new java.util.concurrent.CountDownLatch(1)
    val counts =
      try {
        val fs = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = { go.await(); store.read(spark, d).count() }
        }))
        go.countDown()
        fs.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      } finally pool.shutdownNow()
    assert(counts.forall(_ == 20L), s"every reader sees the whole table: $counts")
    assert(store.derivations.get === 1, "the store derived more than once")
    assert(store.version(d) === 1L)
    // one manifest: a publisher re-run serves the recorded audit
    val man = store.publish(spark, d).as[(String, Long, Boolean)].collect().toSeq
    assert(man.filter(_._1 == "published_rows") === Seq(("published_rows", 20L, true)))
    assert(man.forall(_._3), s"audit failures: $man")
    assert(store.derivations.get === 1 && store.version(d) === 1L)
  }

  test("a store whose audit refuses its table is not built: the read names " +
    "store and corpus, and the version stays put") {
    val store = new RangeStore("test-dupkeys", dupKeys = true)
    val d = freshCorpus()
    val man = store.publish(spark, d).as[(String, Long, Boolean)].collect().toSeq
    assert(man.contains(("dup_keys", 20L, false)), s"dup audit must fire: $man")
    assert(man.contains(("published_rows", 0L, false)), s"nothing promoted: $man")
    assert(store.version(d) === 0L)
    val e = intercept[IllegalStateException](store.read(spark, d))
    assert(e.getMessage.contains("test-dupkeys") && e.getMessage.contains(d),
      e.getMessage)
    assert(store.version(d) === 0L)
    // not marked built: the read retried the publish instead of
    // serving a recorded manifest
    assert(store.derivations.get === 2)
  }
}
