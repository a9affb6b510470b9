package graft

import graft.operators.{Sources, Streaming}
import org.apache.commons.io.FileUtils
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Commits a write, then deletes its first part file: a staged table
  * that lost a file between the stage write and the audit. */
class LoseOneFileCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  override def commitJob(job: org.apache.hadoop.mapreduce.JobContext,
      commits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    FileUtils.listFiles(new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath),
        null, true).asScala.toSeq
      .filter(_.getName.startsWith("part-")).sortBy(_.getPath).headOption
      .foreach(f => assert(f.delete(), s"could not delete $f"))
  }
}

/** Marks the end of a [[PublishBudgetSpec]] process recording: JFR
  * delivers events in time order, so once the stream sees this event it
  * has seen every process started before it. */
class ForkProbeEnd extends jdk.jfr.Event

/** The fixed cost of the O(Δ) publish path, in Spark jobs and in forked
  * processes: one s18 maintenance trigger and one bucketed upsert of a
  * 2-row delta each stay within a job budget and start no Hadoop shell
  * command, the frozen model a trigger assigns against follows a
  * re-published table, and a staged file lost before the audit still
  * refuses the publish. */
class PublishBudgetSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    FileUtils.forceDeleteOnExit(d)
    d.toString
  }

  /** `df` as a parquet file read back with its schema: a micro-batch
    * of a file stream, whose scan runs no job of its own. */
  private def fileBatch(df: DataFrame): DataFrame = {
    val p = s"${tmp("graft-batch")}/b"
    df.write.parquet(p)
    spark.read.schema(df.schema).parquet(p)
  }

  private def embeddings: DataFrame =
    Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))

  /** An s18 store bootstrapped on every vector with vec_id ≥ 10 (trains
    * and freezes the centroids) that has admitted vectors 0 and 1;
    * batch i ≥ 2 then admits vectors 2i − 2 and 2i − 1. */
  private lazy val s18Base: String = {
    val base = tmp("graft-s18-budget")
    Streaming.labelMaintSink(base)(embeddings.filter(col("vec_id") >= 10), 0L)
    Streaming.labelMaintSink(base)(
      fileBatch(embeddings.filter(col("vec_id") < 2)), 1L)
    base
  }

  private def s18Delta(batchId: Long): DataFrame =
    fileBatch(embeddings.filter(col("vec_id").between(2 * batchId - 2, 2 * batchId - 1)))

  test("s18: one 2-vector maintenance trigger runs at most 10 jobs") {
    val (base, delta) = (s18Base, s18Delta(2L))
    val jobs = jobsOf(Streaming.labelMaintSink(base)(delta, 2L))
    assert(new java.io.File(s"$base/_applied/2").exists)
    assert(jobs.size <= 10, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("bucketed upsert of a 2-row delta runs at most 7 jobs") {
    val base = s"${tmp("graft-bup-budget")}/store"
    val audit0 = Sources.bucketedUpsertStaged(spark,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), base, Seq("k"), "_batch_0")
    assert(audit0.filter(!col("ok")).isEmpty)
    val delta = fileBatch(Seq((1001L, "a"), (1002L, "b")).toDF("k", "v"))
    var audit: DataFrame = null
    val jobs = jobsOf {
      audit = Sources.bucketedUpsertStaged(spark, delta, base, Seq("k"), "_batch_1")
    }
    assert(audit.filter(!col("ok")).isEmpty)
    assert(audit.filter(col("check_name") === "published_rows_touched")
      .select("observed").as[Long].head() > 0L)
    assert(jobs.size <= 7, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("s18: a centroid table re-published at the same base is the one " +
    "the next trigger assigns against") {
    val base = s18Base
    val centBase = s"$base/centroids"
    val old = spark.read.parquet(s"$centBase/published").collect()
    // the same centroids under new ids: every later label must carry one
    val moved = spark.createDataFrame(old.toSeq.asJava,
        spark.read.parquet(s"$centBase/published").schema)
      .withColumn("cid", col("cid") + 100L)
    val pub = Sources.writeAuditPublishStaged(spark, moved, centBase,
      Seq("cid", "dim"), false, Some("_batch_0"))
    assert(pub.filter(!col("ok")).isEmpty)
    // vectors 0 and 1 were admitted before the re-publish, 4 and 5 after
    Streaming.labelMaintSink(base)(s18Delta(3L), 3L)
    val got = spark.read.parquet(s"$base/labels/published")
      .filter(col("vec_id").isin(0, 1, 4, 5))
      .select("vec_id", "cid", "dist2").as[(Long, Long, java.math.BigDecimal)]
      .collect().toSeq.map(r => (r._1, r._2, BigDecimal(r._3))).sortBy(_._1)
    val want = BruteAssign.assign(
        BruteAssign.vectors(embeddings.filter(col("vec_id").isin(4, 5)), "embedding"),
        BruteAssign.model(spark.read.parquet(s"$centBase/published")))
      .map(r => (r._1, r._3, r._4))
    assert(got.map(_._1) === Seq(0L, 1L, 4L, 5L))
    assert(got.filter(_._1 >= 4) === want)
    assert(got.filter(_._1 < 4).map(_._2).forall(_ < 100L))
    assert(got.filter(_._1 >= 4).map(_._2).forall(_ >= 100L))
  }

  /** The command lines of the processes `body` starts, from JFR's
    * `jdk.ProcessStart` event. */
  private def processesOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val end = new java.util.concurrent.CountDownLatch(1)
    val rs = new jdk.jfr.consumer.RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.enable(classOf[ForkProbeEnd])
      rs.onEvent("jdk.ProcessStart", e => seen.add(e.getString("command")): Unit)
      rs.onEvent(classOf[ForkProbeEnd].getName, _ => end.countDown())
      rs.startAsync()
      body
      new ForkProbeEnd().commit()
      assert(end.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the JFR stream did not deliver its end mark")
    } finally rs.close()
    seen.asScala.toSeq
  }

  test("a checkpointed s18 trigger and a 2-row bucketed upsert fork no " +
    "Hadoop shell command") {
    val base = s18Base
    val src = tmp("graft-s18-src")
    embeddings.filter(col("vec_id").between(6, 7)).write.mode("overwrite").parquet(src)
    val bup = s"${tmp("graft-bup-forks")}/store"
    Sources.bucketedUpsertStaged(spark,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), bup, Seq("k"), "_batch_0")
    val delta = fileBatch(Seq((1001L, "a"), (1002L, "b")).toDF("k", "v"))
    var audit: DataFrame = null
    val started = processesOf {
      spark.readStream.schema(embeddings.schema).parquet(src).writeStream
        .foreachBatch { (df: DataFrame, id: Long) =>
          Streaming.labelMaintSink(base)(df, id + 4L)
        }
        .option("checkpointLocation", s"${tmp("graft-s18-ckpt")}/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      audit = Sources.bucketedUpsertStaged(spark, delta, bup, Seq("k"), "_batch_1")
    }
    assert(new java.io.File(s"$base/_applied/4").exists)
    assert(audit.filter(!col("ok")).isEmpty)
    val shell = started.filter(c =>
      Set("chmod", "readlink", "ls", "stat")(c.trim.split("\\s+").head.split('/').last))
    assert(shell.size === 0, s"Hadoop shell forks; all ${started.size} " +
      s"process starts:\n${started.mkString("\n")}")
  }

  /** Runs `body` with every write committed by [[LoseOneFileCommitProtocol]]. */
  private def losingOneFile[T](body: => T): T = {
    val k = "spark.sql.sources.commitProtocolClass"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, classOf[LoseOneFileCommitProtocol].getName)
    try body
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a staged file lost before the audit refuses the publish " +
    "(bucketed upsert and WAP)") {
    val base = s"${tmp("graft-bup-lost")}/store"
    Sources.bucketedUpsertStaged(spark,
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), base, Seq("k"), "_batch_0")
    def store(): Seq[(Long, String)] = Sources.readBucketedStore(spark, base,
      Seq((0L, "")).toDF("k", "v").schema).as[(Long, String)].collect().toSeq.sorted
    val before = store()
    val delta = (1001L to 1040L).map(k => (k, s"n$k")).toDF("k", "v")
    val audit = losingOneFile(
      Sources.bucketedUpsertStaged(spark, delta, base, Seq("k"), "_batch_1"))
    assert(audit.filter(col("check_name") === "rows_match_expected" && !col("ok"))
      .count() === 1L, audit.collect().mkString(", "))
    assert(store() === before, "a refused audit promoted a bucket")
    assert(!bucketDirs(base).exists(d => new java.io.File(d, "_batch_1").exists))

    val wap = tmp("graft-wap-lost")
    val rows = (1L to 40L).map(k => (k, s"d$k")).toDF("doc_id", "v").repartition(4)
    val wapAudit = losingOneFile(Sources.writeAuditPublishStaged(spark, rows, wap,
      Seq("doc_id"), false, None))
    assert(wapAudit.filter(col("check_name") === "rows_match_expected" && !col("ok"))
      .count() === 1L, wapAudit.collect().mkString(", "))
    assert(!new java.io.File(s"$wap/published").exists, "a refused audit promoted")
  }

  private def bucketDirs(base: String): Seq[java.io.File] =
    Option(new java.io.File(s"$base/published").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("bucket=")).toSeq
}
