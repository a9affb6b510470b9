package graft

import graft.operators.{Commit, Sources, Streaming}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash states of [[Commit.swap]], captured at its failpoint. */
object CrashStates {
  private lazy val root = {
    val d = java.nio.file.Files.createTempDirectory("graft-crash-states").toFile
    FileUtils.forceDeleteOnExit(d)
    d
  }
  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs `body` with `f` as the commit failpoint. */
  def withFailpoint[T](f: (Commit.Point, File) => Unit)(body: => T): T = {
    Commit.failpoint = f
    try body finally Commit.failpoint = (_, _) => ()
  }

  /** Runs `op`, copying `dir` at every failpoint of every swap: the disk
    * states a JVM killed there leaves, labelled `<point>@<target>`. */
  def capture(dir: String)(op: => Unit): Seq[(String, File)] = {
    val states = Seq.newBuilder[(String, File)]
    withFailpoint { (p, target) =>
      val copy = new File(root, s"state_${seq.incrementAndGet()}")
      FileUtils.copyDirectory(new File(dir), copy)
      states += s"$p@${new File(dir).toPath.relativize(target.toPath)}" -> copy
    }(op)
    states.result()
  }

  /** The one state of `capture` at `point` on a target whose path ends
    * with `suffix`. */
  def at(dir: String, point: Commit.Point, suffix: String)(op: => Unit): File = {
    val hits = capture(dir)(op).filter { case (w, _) =>
      w.startsWith(s"$point@") && w.endsWith(suffix) }
    assert(hits.size == 1, s"expected one $point swap of *$suffix, got ${hits.map(_._1)}")
    hits.head._2
  }

  /** The restart after a kill: `dir` holds exactly the captured state. */
  def restore(state: File, dir: String): Unit = {
    FileUtils.deleteDirectory(new File(dir))
    FileUtils.copyDirectory(state, new File(dir))
  }
}

/** The crash-and-retry harness over every publish protocol: each
  * protocol's publish runs once with the commit failpoint copying the
  * table directory before, between and after every swap's renames.
  * Each copy is restored in place (a restarted JVM on the same disk),
  * the publish is retried — its own [[Commit.recover]] completes the
  * interrupted swap — and the state must equal the uncrashed run's, and
  * stay equal under a second retry. The multi-table publishes (f19,
  * f22) only promise whole tables after a kill: each table holds its
  * old or its new version, never neither. */
class CommitRecoverySpec extends SparkSpec {
  import spark.implicits._
  import CrashStates._

  private lazy val root = {
    val d = java.nio.file.Files.createTempDirectory("graft-commit").toFile
    FileUtils.forceDeleteOnExit(d)
    d.toString
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def kv(keys: Seq[Long], tag: String): DataFrame =
    keys.map(k => (k, s"${tag}_$k")).toDF("k", "v")

  private def versions(dir: String): Seq[String] =
    (1 to Sources.currentVersion(dir)).flatMap(v =>
      rows(Sources.readAsOf(spark, dir, v)).map(r => s"v$v $r"))

  private def bucketed(dir: String): Seq[String] =
    rows(Sources.readBucketedStore(spark, dir, kv(Nil, "").schema)) ++
      Option(new File(s"$dir/published").list()).getOrElse(Array.empty)
        .filter(_.startsWith("bucket=")).sorted

  /** Setup at `dir`, then the crash-and-retry check of `op`; returns the
    * `<point>@<target>` labels of the captured states. */
  private def crashAndRetry(name: String)(setup: String => Unit)(
      op: String => Unit)(state: String => Seq[String]): Seq[String] = {
    val dir = s"$root/$name"
    setup(dir)
    val states = capture(dir)(op(dir))
    val want = state(dir)
    assert(states.map(_._1.takeWhile(_ != '@')).toSet ===
      Set("BeforeRenames", "BetweenRenames", "AfterRenames"))
    states.foreach { case (where, copy) =>
      restore(copy, dir)
      op(dir)
      assert(state(dir) === want, s"$name killed at $where: the retry differs")
      op(dir)
      assert(state(dir) === want, s"$name killed at $where: a second retry moved")
    }
    states.map(_._1)
  }

  test("WAP (f09): a publish killed at any failpoint retries to the uncrashed table") {
    crashAndRetry("wap")(Sources.writeAuditPublishStaged(spark, kv(1L to 20L, "a"), _,
      Seq("k"), false, None))(Sources.writeAuditPublishStaged(spark,
      kv(5L to 30L, "b"), _, Seq("k"), false, None))(d =>
      rows(spark.read.parquet(s"$d/published")))
  }

  private val payload = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")
  private def feed(keys: Seq[Long], tag: String, op: String) =
    kv(keys, tag).withColumn("op", lit(op))

  test("versionedSink: a redelivery after a kill between WAP's renames keeps every " +
    "earlier row and mints no duplicate version") {
    val states = crashAndRetry("vsink")(d =>
      Streaming.versionedSink(d, "k")(feed(1L to 20L, "a", "upsert"), 0L))(d =>
      Streaming.versionedSink(d, "k")(feed(15L to 25L, "b", "upsert"), 1L))(d =>
      versions(d) :+ s"applied ${new File(s"$d/_applied/1").exists}")
    assert(states.contains("BetweenRenames@published"))
  }

  /** f21: a CAS publisher that read version 1 stages `b` and promotes. */
  private def casPublish(d: String): Unit =
    Sources.casPromote(d, Sources.stageOptimistic(spark, d, "pub",
      kv(5L to 30L, "b"), Seq("k")), 1)

  private def casSetup(d: String): Unit =
    Sources.optimisticMerge(spark, d, "init", feed(1L to 20L, "a", "upsert"), "k")

  test("CAS (f21): a promote killed at any failpoint retries to the uncrashed version") {
    crashAndRetry("cas")(casSetup)(casPublish)(d =>
      versions(d) ++ (1 to Sources.currentVersion(d)).map(v =>
        s"base of v$v = ${Sources.baseVersionOf(d, v)}"))
  }

  test("readForUpdate between a CAS promote's renames reports the interrupted " +
    "version, not (0, empty)") {
    val dir = s"$root/cas_gap"
    casSetup(dir)
    val gap = at(dir, Commit.BetweenRenames, "published")(casPublish(dir))
    val want = rows(spark.read.parquet(s"$dir/published"))
    restore(gap, dir)
    val (v, cur) = Sources.readForUpdate(spark, dir, payload)
    assert(v === 2)
    assert(rows(cur) === want)
  }

  test("bucketed upsert, insert-only and counter merges: every failpoint of every " +
    "bucket swap retries to the uncrashed store") {
    crashAndRetry("bup")(Sources.bucketedUpsertStaged(spark, kv(1L to 40L, "a"), _,
      Seq("k"), "_batch_0"))(Sources.bucketedUpsertStaged(spark,
      kv(Seq(7L, 1001L), "b"), _, Seq("k"), "_batch_1"))(bucketed)
    def counts(ks: Seq[Long]) = ks.map(k => (k, 1L)).toDF("k", "n")
    crashAndRetry("bup_sum")(Sources.bucketedUpsertStaged(spark,
      counts(1L to 40L), _, Seq("k"), "_batch_0", sumCols = Seq("n")))(
      Sources.bucketedUpsertStaged(spark, counts(Seq(3L, 1001L)), _, Seq("k"),
        "_batch_1", sumCols = Seq("n")))(d =>
      rows(Sources.readBucketedStore(spark, d, counts(Nil).schema)))
  }

  test("rescale (f25): a layout swap killed at any failpoint retries to the new layout") {
    crashAndRetry("rescale")(Sources.bucketedUpsertStaged(spark, kv(1L to 60L, "a"), _,
      Seq("k"), "_batch_0"))(Sources.rebucketStore(spark, _, Seq("k"), 16))(bucketed)
  }

  test("deletion vector (f23): a sidecar swap killed at any failpoint retries to " +
    "the new vector") {
    val m10 = pmod(col("k"), lit(10L))
    crashAndRetry("dv") { d =>
      Sources.writeAuditPublishStaged(spark, kv(1L to 40L, "a"), d, Seq("k"), false, None)
      Sources.dvDelete(spark, d, m10 === 5)
    }(Sources.dvDelete(spark, _, m10 === 7))(d =>
      rows(Sources.readWithDv(spark, d)) ++ rows(Sources.readDv(spark, d)))
  }

  test("upsertBatch: a state swap killed at any failpoint redelivers to the uncrashed state") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def evs(users: Seq[Long], id0: Long) = users.zipWithIndex.map { case (u, i) =>
      Ev(id0 + i, new java.sql.Timestamp(t0.getTime + (id0 + i) * 1000L), u, "view",
        i.toDouble, "{}") }.toDF()
    crashAndRetry("upsert")(Streaming.upsertBatch(_)(evs(1L to 10L, 0L), 0L))(
      Streaming.upsertBatch(_)(evs(5L to 15L, 100L), 1L))(d =>
      rows(spark.read.parquet(s"$d/current")))
  }

  test("s24 drift monitor: a reference freeze killed at any failpoint redelivers " +
    "to the frozen reference") {
    val docs = (1L to 30L).map(i => (i, "w" * (1 + (i % 7).toInt))).toDF("doc_id", "text")
    crashAndRetry("drift")(d => new File(d).mkdirs())(
      Streaming.driftMonitorSink(_)(docs, 0L))(d =>
      rows(spark.read.parquet(s"$d/ref")) :+ s"ready ${new File(s"$d/ref/_ready").exists}")
  }

  /** f19/f22 after a kill: every table holds its old or new version. */
  private def wholeTables(dir: String, states: Seq[(String, File)],
      old: Map[String, Seq[String]], fresh: Map[String, Seq[String]]): Unit =
    states.foreach { case (where, copy) =>
      restore(copy, dir)
      old.keys.foreach { t =>
        Commit.recover(s"$dir/$t")
        val pub = new File(s"$dir/$t/published")
        assert(pub.exists, s"killed at $where: $t has no published table")
        val got = rows(spark.read.parquet(pub.toString))
        assert(got == old(t) || got == fresh(t), s"killed at $where: $t is neither version")
      }
    }

  private def rollups(tag: Long): Map[String, DataFrame] = Map(
    "by_lang" -> Seq(("en", 3L + tag), ("fr", 2L - tag)).toDF("lang", "n"),
    "by_source" -> Seq(("web", 4L), ("news", 1L)).toDF("source", "n"))
  private val keyOf = Map("by_lang" -> "lang", "by_source" -> "source")
  private def snapshot(dir: String): Map[String, Seq[String]] =
    keyOf.keys.map(t => t -> rows(spark.read.parquet(s"$dir/$t/published"))).toMap

  test("f19 atomic publish: a kill at any failpoint leaves every table whole") {
    val dir = s"$root/f19"
    def publish(tag: Long) = Sources.atomicPublishStaged(spark,
      keyOf.toSeq.sorted.map { case (t, k) => (t, rollups(tag)(t), k) }, 5L, dir)
    publish(0L)
    val old = snapshot(dir)
    val states = capture(dir)(publish(1L))
    assert(states.size === 6)
    val fresh = snapshot(dir)
    wholeTables(dir, states, old, fresh)
  }

  test("f22 multi-table CAS: a kill at any failpoint leaves every table whole") {
    val dir = s"$root/f22"
    def commit(tag: Long, job: String, base: Int) = Sources.atomicCasPublish(dir,
      keyOf.toSeq.sorted.map { case (t, k) =>
        t -> Sources.stageOptimistic(spark, s"$dir/$t", job, rollups(tag)(t), Seq(k)) },
      keyOf.keys.map(_ -> base).toMap)
    assert(commit(0L, "init", 0))
    val old = snapshot(dir)
    val states = capture(dir)(assert(commit(1L, "next", 1)))
    assert(states.size === 6)
    val fresh = snapshot(dir)
    wholeTables(dir, states, old, fresh)
  }
}
