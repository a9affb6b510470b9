package graft

import graft.operators.Streaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double, props: String)

/** A customer-change row for the s16 versioned-sink replay (matches the
  * parquet payload schema: int64 key, string name, double balance). */
case class Chg(c_custkey: Long, c_name: String, c_acctbal: Double, op: String)

/** A new-document row for the s17 pair-maintenance replay. */
case class NewDoc(doc_id: Long, text: String)

/** A CDC row for the s20 replication replay (the f15 feed shape). */
case class Cdc(c_custkey: Long, c_name: String, c_acctbal: Double,
  change_type: String)

/** A new-vector row for the s18 label-maintenance replay. */
case class NewVec(vec_id: Long, embedding: Seq[Float])

case class DelKey(vec_id: Long)

/** Streaming ≡ batch on bounded input (SURVEY §2.4 E16/E17): each shared
  * transformation is executed once as a real Structured Streaming query
  * over a MemoryStream replay of `events` (multiple micro-batches, append
  * mode, watermark advanced past all real data by a far-future sentinel
  * event) and compared row-for-row to the batch result the DuckDB oracle
  * checks. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val SentinelId = 999999L

  /** events rows in event-time order + the watermark-advancing sentinel. */
  private lazy val replay: Seq[Ev] = {
    val evs = Tables.events(spark, Sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val maxTs = evs.map(_.ts.getTime).max
    evs :+ Ev(SentinelId, new java.sql.Timestamp(maxTs + 10L * 3600 * 1000),
      0L, "sentinel", 0.0, "{}")
  }

  /** Run `transform` as a streaming query over the replay (4 chunks, each
    * its own micro-batch) and return the appended sink rows. */
  private def runStream(name: String, transform: DataFrame => DataFrame): DataFrame = {
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = transform(src.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      replay.grouped(math.max(1, replay.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("tumbling window: streaming output equals batch output") {
    val streamed = runStream("t_tumbling", Streaming.tumblingAgg)
      .filter(col("event_type") =!= "sentinel")
    val batch = Streaming.tumbling(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("stream-static enrichment join: streaming output equals batch output") {
    // static side captured by the transform; the sentinel's user_id joins
    // to no customer row and drops out of the inner join by construction
    val dim = Streaming.custDim(spark, Sf)
    val streamed = runStream("t_static_join", Streaming.staticEnrichAgg(dim))
    val batch = Streaming.staticEnrich(spark, Sf)
    assert(streamed.count() > 0)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("sliding window: streaming output equals batch output") {
    val batch = Streaming.sliding(spark, Sf)
    val batchWindows = batch.select("window_start").as[String].collect().toSet
    val streamed = runStream("t_sliding", Streaming.slidingAgg)
      .filter(col("window_start").isin(batchWindows.toSeq: _*)) // drop sentinel-only windows
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("session window: streaming output equals batch output") {
    val streamed = runStream("t_session", Streaming.sessionAgg)
      .filter(col("n_events") > 0) // no-op projection guard
    val batch = Streaming.sessions(spark, Sf)
    // the sentinel's own single-event session is never emitted (its end
    // is beyond the final watermark), so no filtering is needed beyond
    // asserting it is absent:
    assert(!sortedRows(streamed).exists(_.contains("sentinel")))
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("stateful dedup keeps the first-arrived row per key (≡ batch first-by-ts)") {
    val streamed = runStream("t_dedup", Streaming.streamingDedup)
      .filter(col("event_id") =!= SentinelId)
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    val batch = Streaming.dedupFirst(spark, Sf)
      .select("user_id", "event_type", "event_id")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("chained stateful ops: dedup → window agg in ONE streaming query ≡ batch") {
    // two stateful operators back to back (dropDuplicates state feeding
    // windowed-aggregation state) — the multi-stateful-operator support
    // the s09 query claims. The replay arrives in event-time order, so
    // streaming first-arrived dedup picks the (ts, event_id)-minimal row,
    // which is exactly the batch row_number rule.
    val streamed = runStream("t_dedup_window", Streaming.streamingDedupThenWindow)
      .filter(col("event_type") =!= "sentinel")
    val batch = Streaming.dedupThenWindow(spark, Sf)
    assert(streamed.count() > 0)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("flatMapGroupsWithState ordinals: streaming ≡ batch (state survives micro-batches)") {
    val streamed = runStream("t_ordinal", Streaming.statefulOrdinal)
      .filter(col("event_id") =!= SentinelId)
      .select("user_id", "event_id", "ordinal")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Streaming.stateOrdinal(spark, Sf)
      .as[(Long, Long, Long)].collect().toSet
    // the sentinel is the LAST event of user 0, so it cannot shift any
    // real event's ordinal
    assert(streamed === batch)
  }

  test("s21 as-of enrichment: streaming ≡ batch; planted ties and " +
    "purchase-less errors") {
    // the real stream: the same union feed, state = one latest purchase
    // per user carried across micro-batches
    val streamed = runStream("t_asof", Streaming.asofEnrich)
      .filter(col("err_id") =!= SentinelId)
      .select("err_id", "user_id", "purchase_id", "purchase_value")
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    val batch = Streaming.asofEnrichBatch(spark, Sf)
      .as[(Long, Long, Option[Long], Option[Double])].collect().toSet
    assert(streamed === batch)
    // planted micro-fixture: same-µs purchase matches (Δ = 0), a LATER
    // purchase never matches an earlier error, equal-ts purchases tie
    // to the larger event_id, and the purchase-less error is
    // left-complete with NULLs. Fed as TWO batches split MID-USER so
    // the match for the second error can only come from state.
    def ev(id: Long, us: Long, u: Long, k: String, v: Double) =
      Ev(id, new java.sql.Timestamp(us / 1000) {
        setNanos((us % 1000000L).toInt * 1000)
      }, u, k, v, "{}")
    val b1 = Seq(
      ev(1, 1000000L, 7, "purchase", 10.0),
      ev(2, 1000000L, 7, "purchase", 20.0), // same ts: larger id wins
      ev(3, 1000000L, 7, "error", 0.0),     // same-µs: matches id 2
      ev(4, 5000000L, 9, "error", 0.0))     // user 9 never purchases
    val b2 = Seq(
      ev(5, 9000000L, 7, "error", 0.0),     // matched from STATE (id 2)
      ev(6, 9500000L, 7, "purchase", 30.0), // after error 5 — no effect on it
      ev(7, 9900000L, 7, "error", 0.0))     // matches id 6
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streaming.asofEnrich(src.toDF())
      .writeStream.format("memory").queryName("t_asof_planted")
      .outputMode("append").start()
    try {
      Seq(b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("t_asof_planted")
      .select("err_id", "purchase_id", "purchase_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(got === Set(
      (3L, Some(2L), Some(20.0)),
      (4L, None, None),
      (5L, Some(2L), Some(20.0)),
      (7L, Some(6L), Some(30.0))))
  }

  test("s22 buffered as-of: correct under disorder where s21's ordered " +
    "contract is not; disordered file replay ≡ ordered batch") {
    // planted: the error arrives one micro-batch BEFORE the purchase
    // that precedes it in event time — the exact case the s21 contract
    // excludes. The buffered variant must hold the error below the
    // watermark and match it once the purchase lands.
    def ev(id: Long, us: Long, u: Long, k: String, v: Double) =
      Ev(id, new java.sql.Timestamp(us / 1000) {
        setNanos((us % 1000000L).toInt * 1000)
      }, u, k, v, "{}")
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streaming.asofEnrichBuffered(src.toDF(), "10 seconds")
      .writeStream.format("memory").queryName("t_s22_planted")
      .outputMode("append").start()
    try {
      Seq(
        Seq(ev(1, 10000000L, 7, "error", 0.0),      // error first...
          ev(4, 11000000L, 9, "error", 0.0)),        // ...and a loner
        Seq(ev(2, 5000000L, 7, "purchase", 42.0)),   // its purchase, LATE
        Seq(ev(99, 100000000L, 0, "sentinel", 0.0))  // flush everything
      ).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = spark.table("t_s22_planted")
      .select("err_id", "purchase_id", "purchase_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSet
    assert(got === Set(
      (1L, Some(2L), Some(42.0)), // rescued: s21 would emit NULL here
      (4L, None, None)))
    // the corpus twin: a deliberately disordered file replay must give
    // the ORDERED answer back — the operator's whole claim
    assert(sortedRows(Streaming.asofEnrichDisorderedFeed(spark, Sf)) ===
      sortedRows(Streaming.asofEnrichBatch(spark, Sf)))
  }

  test("file-source stream: tumbling agg over a parquet directory ≡ batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    // replay the corpus as 4 event-time-ordered parquet files
    val chunks = replay.filter(_.event_id != SentinelId)
      .grouped(replay.size / 4 + 1).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      c.toDF().coalesce(1).write.parquet(s"$dir/part_$i")
    }
    val src = spark.readStream
      .schema(chunks.head.toDF().schema)
      .option("maxFilesPerTrigger", "2") // force multiple micro-batches
      .parquet(s"$dir/part_*")
    val q = Streaming.tumblingAgg(src)
      .writeStream.format("memory").queryName("t_file_tumbling")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_file_tumbling")
    val batch = Streaming.tumbling(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("transformWithState ordinals: streaming ≡ batch ≡ flatMapGroupsWithState") {
    val streamed = runStream("t_ordinal_tws", Streaming.statefulOrdinalTws)
      .filter(col("event_id") =!= SentinelId)
      .select("user_id", "event_id", "ordinal")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Streaming.stateOrdinalTws(spark, Sf)
      .as[(Long, Long, Long)].collect().toSet
    val legacyApi = Streaming.stateOrdinal(spark, Sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(batch === legacyApi, "both state APIs must implement one contract")
  }

  test("s12 timer sessions: timeout emission via event-time timers ≡ batch islands") {
    // inline-closed sessions emit in their own micro-batch; each user's
    // FINAL session can only emit through handleExpiredTimer when the
    // sentinel advances the watermark past last+gap — so equality here
    // proves the timer path actually fires (dropping it would lose one
    // session per user, not reorder rows)
    // no sentinel filter needed: the sentinel shares user 0 with a real
    // user, where its >30-min gap just closes the last real session
    // (matching batch) and its own opened session never emits
    val streamed = runStream("t_timer_sessions", df => Streaming.timerSessions(df))
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, String, String, Long)].collect().toSet
    val batch = Streaming.timerSessionsBatch(spark, Sf)
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("stream-stream join: streaming output equals batch output") {
    implicit val ctx = spark.sqlContext
    val errSrc = MemoryStream[Ev]
    val purSrc = MemoryStream[Ev]
    val q = Streaming.errorPurchaseJoin(errSrc.toDF(), purSrc.toDF())
      .writeStream.format("memory").queryName("t_ssjoin")
      .outputMode("append").start()
    val errs = replay.filter(_.event_type == "error")
    val purs = replay.filter(_.event_type == "purchase")
    try {
      // interleaved uneven chunks: matches must be found across
      // micro-batch boundaries in both directions (buffered state)
      val ec = errs.grouped(errs.size / 3 + 1).toSeq
      val pc = purs.grouped(purs.size / 4 + 1).toSeq
      ec.zipAll(pc, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (e, p) =>
        if (e.nonEmpty) errSrc.addData(e)
        q.processAllAvailable()
        if (p.nonEmpty) purSrc.addData(p)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.table("t_ssjoin")
    val batch = Streaming.streamJoin(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("stream-stream LEFT OUTER join: streaming output equals batch output") {
    // the sentinel rides BOTH pre-filtered streams as a join participant
    // (its far-future event time can never satisfy the range condition)
    // so each side's watermark passes every real error's join window and
    // the null-extended rows flush; its own unmatched left row is
    // excluded from the compare. A second, later sentinel forces the
    // one-extra-batch the watermark needs to take effect.
    implicit val ctx = spark.sqlContext
    val errSrc = MemoryStream[Ev]
    val purSrc = MemoryStream[Ev]
    val q = Streaming.errorPurchaseLeftJoin(errSrc.toDF(), purSrc.toDF())
      .writeStream.format("memory").queryName("t_ssleft")
      .outputMode("append").start()
    val sentinel = replay.filter(_.event_type == "sentinel")
    val errs = replay.filter(_.event_type == "error") ++ sentinel
    val purs = replay.filter(_.event_type == "purchase") ++ sentinel
    try {
      val ec = errs.grouped(errs.size / 3 + 1).toSeq
      val pc = purs.grouped(purs.size / 4 + 1).toSeq
      ec.zipAll(pc, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (e, p) =>
        if (e.nonEmpty) errSrc.addData(e)
        q.processAllAvailable()
        if (p.nonEmpty) purSrc.addData(p)
        q.processAllAvailable()
      }
      val s2 = sentinel.map(e => e.copy(event_id = 999998L,
        ts = new java.sql.Timestamp(e.ts.getTime + 3600L * 1000)))
      errSrc.addData(s2); purSrc.addData(s2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_ssleft").filter(col("err_id") < SentinelId - 1000L)
    val batch = Streaming.streamLeftJoin(spark, Sf)
    // the outer rows are the point: some errors must be unmatched
    assert(batch.filter(col("purchase_id").isNull).count() > 0)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("stream-stream FULL OUTER join: streaming output equals batch output") {
    // the s10 sentinel pattern doubled: the full outer's null-extended
    // rows flush per SIDE, each when its own watermark passes, so the
    // sentinel rides both streams and both sentinel-derived rows (its
    // unmatched error, its unmatched purchase, and the sentinel-with-
    // sentinel match) are excluded from the compare null-safely
    implicit val ctx = spark.sqlContext
    val errSrc = MemoryStream[Ev]
    val purSrc = MemoryStream[Ev]
    val q = Streaming.errorPurchaseFullJoin(errSrc.toDF(), purSrc.toDF())
      .writeStream.format("memory").queryName("t_ssfull")
      .outputMode("append").start()
    val sentinel = replay.filter(_.event_type == "sentinel")
    val errs = replay.filter(_.event_type == "error") ++ sentinel
    val purs = replay.filter(_.event_type == "purchase") ++ sentinel
    try {
      val ec = errs.grouped(errs.size / 3 + 1).toSeq
      val pc = purs.grouped(purs.size / 4 + 1).toSeq
      ec.zipAll(pc, Seq.empty[Ev], Seq.empty[Ev]).foreach { case (e, p) =>
        if (e.nonEmpty) errSrc.addData(e)
        q.processAllAvailable()
        if (p.nonEmpty) purSrc.addData(p)
        q.processAllAvailable()
      }
      val s2 = sentinel.map(e => e.copy(event_id = 999998L,
        ts = new java.sql.Timestamp(e.ts.getTime + 3600L * 1000)))
      errSrc.addData(s2); purSrc.addData(s2)
      q.processAllAvailable()
    } finally q.stop()
    val lo = SentinelId - 1000L
    val streamed = spark.table("t_ssfull")
      .filter(coalesce(col("err_id"), lit(0L)) < lo &&
        coalesce(col("purchase_id"), lit(0L)) < lo)
    val batch = Streaming.streamFullJoin(spark, Sf)
    // both outer directions are the point: unmatched errors AND
    // unmatched purchases must exist in the fixture
    assert(batch.filter(col("purchase_id").isNull).count() > 0)
    assert(batch.filter(col("err_id").isNull).count() > 0)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("complete-mode running totals: final emitted table equals batch aggregate") {
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streaming.runningTotals(src.toDF())
      .writeStream.format("memory").queryName("t_complete")
      .outputMode("complete").start()
    try {
      replay.grouped(math.max(1, replay.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    // complete mode REPLACES the sink table each batch — what remains is
    // the latest full result, which after the whole replay is the batch
    // aggregate exactly (dsum is order-independent by construction)
    val streamed = spark.table("t_complete")
    val batch = Streaming.runningTotalsBatch(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("s13 trending top-k: complete-mode re-ranked table equals batch top-k") {
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Ev]
    val q = Streaming.trendingTopK(src.toDF())
      .writeStream.format("memory").queryName("t_trending")
      .outputMode("complete").start()
    try {
      replay.grouped(math.max(1, replay.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    // the final re-emission IS the whole-history ranking — equality
    // proves re-ranking across batches worked (an item that entered the
    // top-10 late must have displaced an early leader)
    val streamed = spark.table("t_trending")
    val batch = Streaming.trendingTopKBatch(spark, Sf)
    assert(streamed.count() === 10)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("file sink: append-mode windowed agg to parquet files ≡ batch") {
    // the other half of the streaming I/O matrix (file SOURCE is tested
    // above): watermark-finalized windows append to a parquet directory
    // with a checkpoint; the sentinel advances the watermark past every
    // real window so all of them finalize and flush.
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-file-sink").toString
    val src = MemoryStream[Ev]
    val q = Streaming.tumblingAgg(src.toDF())
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      replay.grouped(math.max(1, replay.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$base/out")
      .filter(col("event_type") =!= "sentinel")
    val batch = Streaming.tumbling(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("foreachBatch sink: per-micro-batch writer reassembles the batch result") {
    // the workhorse production sink: arbitrary per-batch logic (upserts,
    // multi-table writes) — here each finalized-append batch lands in its
    // own parquet subdirectory and the union must equal the batch result.
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val src = MemoryStream[Ev]
    val q = Streaming.tumblingAgg(src.toDF())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.write.mode("overwrite").parquet(s"$base/batch_$id"): Unit
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      replay.grouped(math.max(1, replay.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val streamed = spark.read.parquet(s"$base/batch_*")
      .filter(col("event_type") =!= "sentinel")
    val batch = Streaming.tumbling(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("foreachBatch upsert: state ≡ last-per-key, batch replay is a no-op") {
    implicit val ctx = spark.sqlContext
    val state = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val src = MemoryStream[Ev]
    val evs = replay.filterNot(_.event_type == "sentinel") // stateless sink: no watermark, no sentinel
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.upsertBatch(state)(df, id)
      }
      .option("checkpointLocation", s"$state/ckpt")
      .outputMode("append").start()
    try {
      evs.grouped(math.max(1, evs.size / 4 + 1)).foreach { chunk =>
        src.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // upsertBatch is schema-preserving: the store holds whatever timestamp
    // type the incoming batches declare — here TIMESTAMP (LTZ), because
    // MemoryStream[Ev] encodes java.sql.Timestamp. The batch reference from
    // Tables.events is TIMESTAMP_NTZ (parquet nanos → timestamp_micros), so
    // cast it to the store's type; under the UTC session the cast is
    // value-preserving and the raw-Row compare sees identical externals.
    val want = Streaming.lastEventPerUser(
      Tables.events(spark, Sf).select(cols.map(col): _*))
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = spark.read.parquet(s"$state/current").select(cols.map(col): _*)
    assert(sortedRows(got) === sortedRows(want))
    // redelivery: re-apply an ALREADY-APPLIED batch id with different
    // data — the marker must make it a no-op (effectively-once)
    Streaming.upsertBatch(state)(
      Tables.events(spark, Sf).select(cols.map(col): _*).limit(7), 0L)
    assert(sortedRows(spark.read.parquet(s"$state/current").select(cols.map(col): _*))
      === sortedRows(want))
    // a genuinely NEW batch id still applies (the marker is per-id, not a
    // one-way latch): upsert one future event for one user
    val u = want.select("user_id").as[Long].head()
    val future = Seq((888888L,
      new java.sql.Timestamp(replay.map(_.ts.getTime).max + 1000L),
      u, "late_update", 1.0, "{}"))
      .toDF(cols: _*)
    Streaming.upsertBatch(state)(future, 9999L)
    val after = spark.read.parquet(s"$state/current")
    assert(after.filter(col("user_id") === u)
      .select("event_id").as[Long].collect().toSeq === Seq(888888L))
    assert(after.count() === want.count())
  }

  test("versioned sink: streamed ladder ≡ batch twin; redelivery no-op; failed audit leaves no marker") {
    implicit val ctx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-vsink-spec").toString
    val cust = Tables.customer(spark, Sf)
    def rows(df: DataFrame): Seq[Chg] = df.as[Chg].collect().toSeq
    // the three batches: snapshot-as-upserts, the f13 feed, bucket-7 deletes
    // (same construction as Sources.customerLadder / versionedFeed)
    val b0 = rows(cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit("upsert").as("op")))
    val b1 = rows(cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
      .unionByName(cust.filter(pmod(col("c_custkey"), lit(10L)) === 5)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("delete").as("op")))
      .unionByName(cust.filter(pmod(col("c_custkey"), lit(10L)) === 8)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("New#"), col("c_custkey").cast("string")).as("c_name"),
          col("c_custkey").cast("double").as("c_acctbal"),
          lit("upsert").as("op"))))
    val b2 = rows(cust.filter(pmod(col("c_custkey"), lit(10L)) === 7)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op")))
    val src = MemoryStream[Chg]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.versionedSink(base, "c_custkey")(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      Seq(b0, b1, b2).foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    import graft.Canon.dsum
    def ladder(): DataFrame =
      (1 to 3).map { v =>
        operators.Sources.readAsOf(spark, base, v)
          .agg(count(lit(1)).as("n_rows"), dsum(col("c_acctbal")).as("bal_sum"))
          .select(lit(v.toLong).as("version"), col("n_rows"), col("bal_sum"))
      }.reduce(_.unionByName(_))
    val before = sortedRows(ladder())
    // the streamed-on-disk ladder ≡ the registry batch twin
    assert(before === sortedRows(Streaming.versionedFeed(spark, Sf)))
    // redelivered batch id with DIFFERENT data: the marker makes it a
    // no-op — no duplicate version minted, ladder untouched
    Streaming.versionedSink(base, "c_custkey")(
      cust.select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") * 2).as("c_acctbal"), lit("upsert").as("op"))
        .limit(5), 1L)
    assert(!new java.io.File(s"$base/v3").exists,
      "redelivered batch must not mint a version")
    assert(sortedRows(ladder()) === before)
    // corrupt batch (null key) with a NEW id: audit fails → throw, table
    // stays at the previous version, and NO marker — a corrected retry
    // with the same id must still apply
    val bad = spark.sql(
      "SELECT CAST(NULL AS BIGINT) c_custkey, 'X' c_name, " +
        "CAST(1.0 AS DOUBLE) c_acctbal, 'upsert' op")
    intercept[IllegalStateException] {
      Streaming.versionedSink(base, "c_custkey")(bad, 7L)
    }
    assert(!new java.io.File(s"$base/_applied/7").exists,
      "failed batch must leave no marker")
    assert(!new java.io.File(s"$base/v3").exists)
    assert(sortedRows(ladder()) === before)
    val fix = spark.sql(
      "SELECT CAST(7777777 AS BIGINT) c_custkey, 'X' c_name, " +
        "CAST(1.0 AS DOUBLE) c_acctbal, 'upsert' op")
    Streaming.versionedSink(base, "c_custkey")(fix, 7L)
    assert(new java.io.File(s"$base/v3").exists, "corrected retry applies")
    assert(operators.Sources.readAsOf(spark, base, 4)
      .filter(col("c_custkey") === 7777777L).count() === 1L)
    // round-13 advice pin: crash BETWEEN promote and side marker — the
    // promoted version carries its batch id atomically (_batch_<id>
    // staged before the rename), so redelivery after losing the side
    // marker must NOT re-merge and mint an extra version; it backfills
    // the marker and no-ops.
    assert(new java.io.File(s"$base/published/_batch_7").exists,
      "promote must carry the batch-id marker atomically")
    val afterFix = sortedRows(operators.Sources.readAsOf(spark, base, 4))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/7"))
    Streaming.versionedSink(base, "c_custkey")(fix, 7L)
    assert(!new java.io.File(s"$base/v4").exists,
      "redelivery after a promote/marker crash minted a duplicate version")
    assert(new java.io.File(s"$base/_applied/7").exists, "side marker backfilled")
    assert(sortedRows(operators.Sources.readAsOf(spark, base, 4)) === afterFix)
  }

  test("s17: streamed pair maintenance ≡ batch twin ≡ one-shot publish; redelivery and crash markers") {
    import org.apache.commons.io.FileUtils
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
      .as[NewDoc].collect().toSeq
    val batches = Seq(docs.filter(_.doc_id % 10 < 8),
      docs.filter(_.doc_id % 10 == 8), docs.filter(_.doc_id % 10 == 9))
    val base = java.nio.file.Files.createTempDirectory("graft-s17").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewDoc]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.pairStoreSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def storePairs(): Seq[String] =
      spark.read.parquet(s"$base/pairs/published")
        .select(col("i"), col("j"), graft.Canon.round4(col("jac")).as("jac"))
        .orderBy("i", "j").collect().map(_.toString).toSeq
    val streamed = storePairs()
    // streamed-on-disk ≡ the registry batch twin ≡ the one-shot publish
    assert(streamed === Streaming.pairMaintFeed(spark, Sf)
      .collect().map(_.toString).toSeq)
    assert(streamed === operators.PairGraph.ngramJaccard(spark, Sf)
      .collect().map(_.toString).toSeq)
    val docsSnap = spark.read.parquet(s"$base/docs/published")
      .collect().map(_.toString).sorted.toSeq
    // redelivered batch id (different data): the marker makes it a no-op
    Streaming.pairStoreSink(base)(
      Seq(NewDoc(424242L, "x y z x y z")).toDF(), 2L)
    assert(storePairs() === streamed && spark.read
      .parquet(s"$base/docs/published").collect().map(_.toString).sorted.toSeq
      === docsSnap, "redelivery mutated the store")
    // crash between the two promotes/side marker: lose the side marker
    // AND one docs BUCKET's batch marker — redelivery must re-publish
    // only that bucket from the identical recomputed merge and must
    // NOT re-merge pairs (their buckets still carry the marker)
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    val victim = new java.io.File(s"$base/docs/published").listFiles()
      .filter(_.getName.startsWith("bucket="))
      .find(d => new java.io.File(d, "_batch_2").exists)
      .getOrElse(fail("no docs bucket carries batch 2's marker"))
    FileUtils.deleteQuietly(new java.io.File(victim, "_batch_2"))
    Streaming.pairStoreSink(base)(batches(2).toDF(), 2L)
    assert(new java.io.File(s"$base/_applied/2").exists, "marker backfilled")
    assert(new java.io.File(victim, "_batch_2").exists,
      "redelivery must re-promote the marker-less bucket")
    assert(storePairs() === streamed)
    assert(spark.read.parquet(s"$base/docs/published")
      .collect().map(_.toString).sorted.toSeq === docsSnap,
      "crash-recovery republish changed the docs table")
  }

  test("s18: streamed label maintenance ≡ batch twin; deltas never move reference labels; crash markers") {
    import org.apache.commons.io.FileUtils
    val vecs = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .as[NewVec].collect().toSeq
    val batches = Seq(vecs.filter(_.vec_id % 10 < 8),
      vecs.filter(_.vec_id % 10 == 8), vecs.filter(_.vec_id % 10 == 9))
    val base = java.nio.file.Files.createTempDirectory("graft-s18").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewVec]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.labelMaintSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def store(): Seq[(Long, Long)] =
      spark.read.parquet(s"$base/labels/published")
        .select("vec_id", "cid").as[(Long, Long)].collect().toSeq.sorted
    val streamed = store()
    // streamed-on-disk ≡ the registry batch twin
    assert(streamed === Streaming.labelMaintFeed(spark, Sf)
      .select("vec_id", "cid").as[(Long, Long)].collect().toSeq.sorted)
    // frozen centroids: every stored label — reference and delta — is
    // the brute-force assignment against the PUBLISHED centroids (so
    // the deltas never moved a reference label), cid AND dist2
    val centroids = spark.read.parquet(s"$base/centroids/published")
    val brute = BruteAssign.assign(
      BruteAssign.vectors(vecs.toDF(), "embedding"), BruteAssign.model(centroids))
      .map(r => (r._1, r._3, r._4))
    val stored = spark.read.parquet(s"$base/labels/published")
      .select("vec_id", "cid", "dist2").as[(Long, Long, java.math.BigDecimal)]
      .collect().toSeq.map(r => (r._1, r._2, BigDecimal(r._3))).sortBy(_._1)
    assert(stored === brute, "a stored label diverged from the frozen-centroid brute force")
    // redelivered batch id (different data): marker makes it a no-op
    Streaming.labelMaintSink(base)(
      Seq(NewVec(424242L, Seq.fill(64)(0.5f))).toDF(), 1L)
    assert(store() === streamed, "redelivery mutated the label store")
    // crash between the labels promote and the side marker: redelivery
    // must skip the promoted half and backfill, never re-merge
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    Streaming.labelMaintSink(base)(batches(2).toDF(), 2L)
    assert(new java.io.File(s"$base/_applied/2").exists)
    assert(store() === streamed)
  }

  test("s19: streamed index maintenance ≡ batch twin; frozen models; " +
    "redelivery and crash markers") {
    import org.apache.commons.io.FileUtils
    val vecs = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .as[NewVec].collect().toSeq
    val batches = Seq(vecs.filter(_.vec_id % 10 < 8),
      vecs.filter(_.vec_id % 10 == 8), vecs.filter(_.vec_id % 10 == 9))
    val base = java.nio.file.Files.createTempDirectory("graft-s19").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewVec]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.vectorIndexMaintSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    def store(): Seq[String] =
      (sortedRows(spark.read.parquet(s"$base/cells/published")) ++
        sortedRows(spark.read.parquet(s"$base/codes/published")) ++
        sortedRows(spark.read.parquet(s"$base/codebook/published")) ++
        sortedRows(spark.read.parquet(s"$base/centroids/published")))
    val streamed = store()
    // streamed-on-disk shape ≡ the registry batch twin's invariant view
    assert(sortedRows(Streaming.vectorIndexMaintFeed(spark, Sf)) ===
      vecs.map(v => s"[${v.vec_id},1,4]").sorted)
    // models are frozen: the codebook/centroid tables carry batch 0's
    // marker only — no later batch republished them
    assert(new java.io.File(s"$base/codebook/published/_batch_0").exists)
    assert(!new java.io.File(s"$base/codebook/published/_batch_1").exists &&
      !new java.io.File(s"$base/codebook/published/_batch_2").exists,
      "a delta batch republished the frozen codebook")
    assert(new java.io.File(s"$base/centroids/published/_batch_0").exists)
    // redelivered batch id (different data): marker makes it a no-op
    Streaming.vectorIndexMaintSink(base)(
      Seq(NewVec(424242L, Seq.fill(64)(0.5f))).toDF(), 1L)
    assert(store() === streamed, "redelivery mutated the index store")
    // crash between the data-table promotes and the side marker:
    // redelivery must skip the promoted halves, backfill, never re-merge
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    Streaming.vectorIndexMaintSink(base)(batches(2).toDF(), 2L)
    assert(new java.io.File(s"$base/_applied/2").exists)
    assert(store() === streamed)
  }

  test("s20: streamed CDC replication ≡ source current; idempotent catch-up; " +
    "preimage ignored; redelivery and audit markers") {
    import org.apache.commons.io.FileUtils
    // ——— source: the 3-version s16 ladder on disk ———
    val srcBase = java.nio.file.Files.createTempDirectory("graft-s20src").toString
    val cust = Tables.customer(spark, Sf)
    // the s16 ladder batches (same construction as Sources.customerLadder)
    val b0 = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit("upsert").as("op"))
    val b1 = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
      .unionByName(cust.filter(pmod(col("c_custkey"), lit(10L)) === 5)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("delete").as("op")))
      .unionByName(cust.filter(pmod(col("c_custkey"), lit(10L)) === 8)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("New#"), col("c_custkey").cast("string")).as("c_name"),
          col("c_custkey").cast("double").as("c_acctbal"),
          lit("upsert").as("op")))
    val b2 = cust.filter(pmod(col("c_custkey"), lit(10L)) === 7)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op"))
    Seq(b0, b1, b2).zipWithIndex
      .foreach { case (b, i) => Streaming.versionedSink(srcBase, "c_custkey")(b, i.toLong) }
    def current(): Seq[String] =
      sortedRows(operators.Sources.readAsOf(spark, srcBase, 3))
    // ——— replica driven through a REAL writeStream of CDC rows ———
    val base = java.nio.file.Files.createTempDirectory("graft-s20rep").toString
    def cdcRows(df: DataFrame): Seq[Cdc] = df.as[Cdc].collect().toSeq
    val feeds = Seq(
      cdcRows(operators.Sources.readAsOf(spark, srcBase, 1)
        .withColumn("change_type", lit("insert"))),
      cdcRows(operators.Sources.changesBetween(spark, srcBase, 1, 2, "c_custkey")),
      cdcRows(operators.Sources.changesBetween(spark, srcBase, 2, 3, "c_custkey")))
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[Cdc]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.cdcReplicaSink(base, "c_custkey")(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      feeds.foreach { f => src.addData(f); q.processAllAvailable() }
    } finally q.stop()
    // the replica is a bucketed store — drop the routing column to
    // compare payload rows against the (unbucketed) source version
    def replica(): Seq[String] =
      sortedRows(spark.read.parquet(s"$base/published").drop("bucket"))
    val streamed = replica()
    assert(streamed === current(),
      "replica after tailing the change feed diverged from the source's current version")
    // ——— the subscribe loop: catch-up is cursor-driven and idempotent ———
    val base2 = java.nio.file.Files.createTempDirectory("graft-s20rep2").toString
    assert(Streaming.replicateUpTo(spark, srcBase, base2, "c_custkey") === 3)
    assert(sortedRows(spark.read.parquet(s"$base2/published").drop("bucket"))
      === current())
    assert(Streaming.replicateUpTo(spark, srcBase, base2, "c_custkey") === 0,
      "a caught-up replica must apply nothing")
    // ——— update_preimage rows are provenance, never applied ———
    Streaming.cdcReplicaSink(base, "c_custkey")(
      Seq(Cdc(123456789L, "Ghost", 1.0, "update_preimage")).toDF(), 77L)
    assert(replica() === streamed, "a preimage-only batch must be a no-op")
    // ——— redelivered batch id with different data: marker no-op ———
    Streaming.cdcReplicaSink(base, "c_custkey")(
      Seq(Cdc(5L, "X", 9.9, "insert")).toDF(), 1L)
    assert(replica() === streamed)
    // ——— crash between promote and side marker: backfill + no-op ———
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/77"))
    Streaming.cdcReplicaSink(base, "c_custkey")(
      Seq(Cdc(123456789L, "Ghost", 1.0, "update_preimage")).toDF(), 77L)
    assert(new java.io.File(s"$base/_applied/77").exists, "side marker backfilled")
    assert(replica() === streamed)
    // ——— failed audit (null key): throw, no marker, corrected retry applies ———
    val bad = spark.sql(
      "SELECT CAST(NULL AS BIGINT) c_custkey, 'X' c_name, " +
        "CAST(1.0 AS DOUBLE) c_acctbal, 'insert' change_type")
    intercept[IllegalStateException] {
      Streaming.cdcReplicaSink(base, "c_custkey")(bad, 78L)
    }
    assert(!new java.io.File(s"$base/_applied/78").exists,
      "failed batch must leave no marker")
    assert(replica() === streamed)
    Streaming.cdcReplicaSink(base, "c_custkey")(
      Seq(Cdc(7777777L, "X", 1.0, "insert")).toDF(), 78L)
    assert(spark.read.parquet(s"$base/published")
      .filter(col("c_custkey") === 7777777L).count() === 1L,
      "corrected retry must apply")
  }

  test("s23: streamed index deletes ≡ the d79 batch delete; sidecar-only " +
    "writes (data files byte-identical); redelivery and idempotence") {
    import org.apache.commons.io.FileUtils
    // ——— the store under maintenance: the shared index's cells
    // relation cloned to its own published base (the feed's setup) ———
    val (cells, _, _, _) = operators.VectorIndexStore.relations(spark, Sf)
    val base = java.nio.file.Files.createTempDirectory("graft-s23").toString
    operators.Sources.writeAuditPublishStaged(spark, cells, cells.count(),
      base, keyCols = Seq("vec_id"))
    def dataFileHashes(): Map[String, String] =
      new java.io.File(s"$base/published").listFiles
        .filter(f => f.isFile && !f.getName.startsWith("_"))
        .map(f => f.getName ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            java.nio.file.Files.readAllBytes(f.toPath))).toMap
    val before = dataFileHashes()
    def dv(): Seq[String] = sortedRows(operators.Sources.readDv(spark, base))
    // ——— three delete batches through a REAL writeStream ———
    val dels = Tables.embeddings(spark, Sf)
      .filter(pmod(col("vec_id"), lit(7L)) === 3)
      .select(col("vec_id")).as[DelKey].collect().toSeq
    val batches = (0L to 2L).map(i => dels.filter(k => (k.vec_id / 7) % 3 == i))
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[DelKey]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.indexDeleteSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
    } finally q.stop()
    // the merge-on-read claim, streamed: three delete batches wrote the
    // sidecar ONLY — every published data file is byte-identical
    assert(dataFileHashes() === before,
      "a streamed delete batch rewrote a published data file")
    val streamed = dv()
    assert(streamed.size === dels.size,
      s"sidecar holds ${streamed.size} tombstones, expected ${dels.size}")
    // live reads hide exactly the tombstoned ids
    val live = operators.Sources.readWithDv(spark, base)
      .select("vec_id").as[Long].collect().toSet
    assert(dels.forall(k => !live.contains(k.vec_id)), "a tombstoned id is live")
    assert(live.size === cells.count() - dels.size)
    // streamed ≡ the d79 batch twin, end-to-end through the real search
    assert(sortedRows(Streaming.indexDeleteFeed(spark, Sf)) ===
      sortedRows(operators.EmbeddingOps.annDelete(spark, Sf)),
      "streamed store's search diverged from the batch delete's")
    // redelivered batch id (different data): the marker makes it a no-op
    Streaming.indexDeleteSink(base)(Seq(DelKey(0L)).toDF(), 1L)
    assert(dv() === streamed, "redelivery appended tombstones")
    // marker lost (crash between sidecar swap and marker): the re-apply
    // is idempotent underneath — already-tombstoned coordinates
    // anti-join away, so the sidecar is unchanged and the marker backfills
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    Streaming.indexDeleteSink(base)(batches(2).toDF(), 2L)
    assert(new java.io.File(s"$base/_applied/2").exists)
    assert(dv() === streamed, "idempotent re-apply mutated the sidecar")
  }

  test("s24: streamed drift monitor ≡ batch twin; the reference freezes on " +
    "batch 0 and never moves; redelivery and crash markers") {
    import org.apache.commons.io.FileUtils
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
      .as[NewDoc].collect().toSeq
    val batches = Seq(docs.filter(_.doc_id % 4 < 2),
      docs.filter(_.doc_id % 4 == 2), docs.filter(_.doc_id % 4 == 3))
    val base = java.nio.file.Files.createTempDirectory("graft-s24").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewDoc]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.driftMonitorSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    def refBytes(): Map[String, String] =
      new java.io.File(s"$base/ref").listFiles.filter(_.isFile)
        .map(f => f.getName ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            java.nio.file.Files.readAllBytes(f.toPath))).toMap
    var frozen: Map[String, String] = Map.empty
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        src.addData(b); q.processAllAvailable()
        if (i == 0) frozen = refBytes()
        else assert(refBytes() === frozen,
          s"monitored batch $i moved the frozen reference")
      }
    } finally q.stop()
    def psi(): Seq[String] = {
      val dirs = new java.io.File(s"$base/psi").listFiles
        .filter(_.getName.startsWith("batch=")).map(_.toString).sorted
      spark.read.parquet(dirs: _*)
        .select("batch_id", "bucket", "n_ref", "n_obs",
          "share_ref", "share_obs", "psi")
        .orderBy("batch_id", "bucket").collect().map(_.toString).toSeq
    }
    val streamed = psi()
    assert(streamed.size === 20, "two monitored batches × 10 bins")
    // streamed-on-disk ≡ the registry batch twin
    assert(streamed === Streaming.driftMonitorFeed(spark, Sf)
      .collect().map(_.toString).toSeq)
    // every PSI term ≥ 0 (sign(p−q) = sign(ln(p/q)))
    spark.read.parquet(s"$base/psi/batch=1", s"$base/psi/batch=2")
      .select("psi").as[Double].collect()
      .foreach(v => assert(v >= 0.0, s"negative PSI term $v"))
    // redelivered batch id (different data): the marker makes it a no-op
    Streaming.driftMonitorSink(base)(
      Seq(NewDoc(999999L, "drifted drifted drifted")).toDF(), 1L)
    assert(psi() === streamed, "redelivery mutated the monitor output")
    assert(refBytes() === frozen)
    // crash between the reference freeze and the side marker: the ref
    // dir carries _batch_0, so a redelivered batch 0 backfills and
    // no-ops instead of scoring the reference against itself
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/0"))
    Streaming.driftMonitorSink(base)(batches(0).toDF(), 0L)
    assert(new java.io.File(s"$base/_applied/0").exists, "marker backfilled")
    assert(refBytes() === frozen && psi() === streamed,
      "a redelivered reference batch must be a pure no-op")
    // crash between a monitored batch's write and its marker: the rows
    // are a pure function of (frozen ref, batch) — identical re-write
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    Streaming.driftMonitorSink(base)(batches(2).toDF(), 2L)
    assert(psi() === streamed, "crash re-apply changed the PSI rows")
  }

  test("s25: multi-feature drift monitor ≡ batch twin; per-feature bins " +
    "freeze on batch 0; redelivery and reference-redelivery no-op") {
    import org.apache.commons.io.FileUtils
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
      .as[NewDoc].collect().toSeq
    val batches = Seq(docs.filter(_.doc_id % 4 < 2),
      docs.filter(_.doc_id % 4 == 2), docs.filter(_.doc_id % 4 == 3))
    val base = java.nio.file.Files.createTempDirectory("graft-s25").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewDoc]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.driftMultiSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    def refBytes(): Map[String, String] =
      new java.io.File(s"$base/ref").listFiles.filter(_.isFile)
        .map(f => f.getName ->
          org.apache.commons.codec.digest.DigestUtils.md5Hex(
            java.nio.file.Files.readAllBytes(f.toPath))).toMap
    var frozen: Map[String, String] = Map.empty
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        src.addData(b); q.processAllAvailable()
        if (i == 0) frozen = refBytes()
        else assert(refBytes() === frozen,
          s"monitored batch $i moved the frozen per-feature reference")
      }
    } finally q.stop()
    def psi(): Seq[String] = {
      val dirs = new java.io.File(s"$base/psi").listFiles
        .filter(_.getName.startsWith("batch=")).map(_.toString).sorted
      spark.read.parquet(dirs: _*)
        .select("batch_id", "feature", "bucket", "n_ref", "n_obs",
          "share_ref", "share_obs", "psi")
        .orderBy("batch_id", "feature", "bucket")
        .collect().map(_.toString).toSeq
    }
    val streamed = psi()
    assert(streamed.size === 40,
      "two monitored batches × two features × 10 bins")
    // streamed-on-disk ≡ the registry batch twin
    assert(streamed === Streaming.driftMultiFeed(spark, Sf)
      .collect().map(_.toString).toSeq)
    // the model table carries BOTH features, 10 bins each, with their
    // own extrema (the grain the s24 monitor lacked)
    val ref = spark.read.parquet(s"$base/ref")
    assert(ref.select("feature").distinct().as[String].collect().sorted
      === Array("len", "words"))
    assert(ref.groupBy("feature").count().as[(String, Long)].collect()
      .forall(_._2 == 10L))
    assert(ref.select("feature", "lo", "rng").distinct().count() === 2L,
      "each feature must freeze its own extrema")
    // every PSI term ≥ 0 in every feature
    spark.read.parquet(s"$base/psi/batch=1", s"$base/psi/batch=2")
      .select("psi").as[Double].collect()
      .foreach(v => assert(v >= 0.0, s"negative PSI term $v"))
    // redelivered monitored batch (different data): marker no-ops it
    Streaming.driftMultiSink(base)(
      Seq(NewDoc(999999L, "drifted drifted drifted")).toDF(), 1L)
    assert(psi() === streamed && refBytes() === frozen)
    // redelivered REFERENCE batch after losing the side marker: the
    // ref dir's own _batch_0 makes it a pure no-op
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/0"))
    Streaming.driftMultiSink(base)(batches(0).toDF(), 0L)
    assert(new java.io.File(s"$base/_applied/0").exists, "marker backfilled")
    assert(refBytes() === frozen && psi() === streamed,
      "a redelivered reference batch must be a pure no-op")
    // crash between a monitored write and its marker: identical re-write
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    Streaming.driftMultiSink(base)(batches(2).toDF(), 2L)
    assert(psi() === streamed, "crash re-apply changed the PSI rows")
  }

  test("s26: streamed family maintenance ≡ batch twin; deltas never move " +
    "reference families; admissions actually join; redelivery and crash markers") {
    import org.apache.commons.io.FileUtils
    val vecs = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
      .as[NewVec].collect().toSeq
    val batches = Seq(vecs.filter(_.vec_id % 10 < 8),
      vecs.filter(_.vec_id % 10 == 8), vecs.filter(_.vec_id % 10 == 9))
    val base = java.nio.file.Files.createTempDirectory("graft-s26").toString
    implicit val ctx = spark.sqlContext
    val src = MemoryStream[NewVec]
    val q = src.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        Streaming.familyMaintSink(base)(df, id)
      }
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    def store(): Seq[(Long, Long)] =
      spark.read.parquet(s"$base/families/published")
        .select("vec_id", "family_id").as[(Long, Long)].collect().toSeq.sorted
    var refSnap: Seq[(Long, Long)] = Nil
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        src.addData(b); q.processAllAvailable()
        if (i == 0) refSnap = store()
        else assert(store().filter(_._1 % 10 < 8) === refSnap,
          s"delta batch $i moved a reference family")
      }
    } finally q.stop()
    val streamed = store()
    // streamed-on-disk ≡ the registry batch twin, every vector labeled
    assert(streamed === Streaming.familyMaintFeed(spark, Sf)
      .as[(Long, Long)].collect().toSeq.sorted)
    assert(streamed.map(_._1) === vecs.map(_.vec_id).sorted)
    // non-vacuous admission: some delta vector JOINED an earlier family
    // (the d84 spec pins both decisions occur on this corpus)
    val famOf = streamed.toMap
    assert(streamed.exists { case (v, f) => v % 10 >= 8 && f != v },
      "vacuous fixture: no delta vector joined a family")
    // a join's family id must belong to some earlier-admitted vector
    streamed.filter { case (v, f) => v % 10 >= 8 && f != v }.foreach {
      case (v, f) => assert(famOf.exists { case (o, of) => o != v && of == f },
        s"admitted $v joined family $f that no other member carries")
    }
    // redelivered batch id (different data): marker makes it a no-op
    Streaming.familyMaintSink(base)(
      Seq(NewVec(424242L, Seq.fill(64)(0.5f))).toDF(), 1L)
    assert(store() === streamed, "redelivery mutated the family store")
    // crash between the families promote and the side marker: lose the
    // side marker AND one families BUCKET's batch marker — redelivery
    // re-publishes only that bucket from the identical recompute
    FileUtils.deleteQuietly(new java.io.File(s"$base/_applied/2"))
    val victim = new java.io.File(s"$base/families/published").listFiles()
      .filter(_.getName.startsWith("bucket="))
      .find(d => new java.io.File(d, "_batch_2").exists)
      .getOrElse(fail("no families bucket carries batch 2's marker"))
    FileUtils.deleteQuietly(new java.io.File(victim, "_batch_2"))
    Streaming.familyMaintSink(base)(batches(2).toDF(), 2L)
    assert(new java.io.File(s"$base/_applied/2").exists, "marker backfilled")
    assert(new java.io.File(victim, "_batch_2").exists,
      "redelivery must re-promote the marker-less bucket")
    assert(store() === streamed)
    // frozen model: the centroid table carries batch 0's marker only
    assert(new java.io.File(s"$base/centroids/published/_batch_0").exists)
    assert(!new java.io.File(s"$base/centroids/published/_batch_1").exists &&
      !new java.io.File(s"$base/centroids/published/_batch_2").exists,
      "a delta batch republished the frozen centroids")
  }

  test("s24/s25: batch 0 is the reference BY CONTRACT — an empty reference " +
    "corpus freezes nothing and later batches never inherit the role") {
    // the oracle derives the reference from the doc_id%4<2 slice; if a
    // later non-empty batch could freeze instead, monitored batches
    // would score against a baseline the oracle doesn't model (found
    // in round-17 review — pin it)
    val nonEmpty = Seq(NewDoc(2L, "aa bb cc"), NewDoc(3L, "dd ee ff gg"))
    Seq[(String, String => (org.apache.spark.sql.DataFrame, Long) => Unit)](
      "s24" -> (b => Streaming.driftMonitorSink(b)),
      "s25" -> (b => Streaming.driftMultiSink(b))).foreach { case (tag, mk) =>
      val base = java.nio.file.Files.createTempDirectory(s"graft-$tag-e").toString
      val sink = mk(base)
      sink(Seq.empty[NewDoc].toDF(), 0L)
      sink(Seq(nonEmpty.head).toDF(), 1L)
      sink(Seq(nonEmpty(1)).toDF(), 2L)
      assert(!new java.io.File(s"$base/ref").exists,
        s"$tag: a non-reference batch froze a model")
      assert(!new java.io.File(s"$base/psi").exists,
        s"$tag: PSI emitted with no frozen reference")
      (0L to 2L).foreach(i => assert(
        new java.io.File(s"$base/_applied/$i").exists,
        s"$tag: batch $i not marked applied"))
    }
  }

  test("upsert crash recovery: every on-disk crash state restores (killed-JVM shapes)") {
    // the states a kill can leave around the state swap — an orphaned
    // stage write, and the commit failpoint's captures between and
    // after the renames — each followed by the redelivery
    import operators.Commit
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val evs = Tables.events(spark, Sf).select(cols.map(col): _*)
      .filter(col("event_type") =!= "sentinel")
    val b0 = evs.filter(col("user_id") % 2 === 0)
    val b1 = evs.filter(col("user_id") % 3 === 0) // overlaps b0: real upserts
    def mkState(): String = {
      val s = java.nio.file.Files.createTempDirectory("graft-crash").toString
      Streaming.upsertBatch(s)(b0, 0L)
      s
    }
    def expected(): Seq[String] = {
      val s0 = Streaming.lastEventPerUser(b0)
      sortedRows(s0.join(Streaming.lastEventPerUser(b1).select("user_id"),
          Seq("user_id"), "left_anti")
        .select(cols.map(col): _*)
        .unionByName(Streaming.lastEventPerUser(b1)))
    }
    def current(s: String) =
      spark.read.parquet(s"$s/current").select(cols.map(col): _*)

    // crash shape 1: orphaned, unmarked staging (kill after the stage
    // write, before the swap) — possibly CORRUPT (partial parquet):
    // never promoted, overwritten by the redelivered batch
    val s1 = mkState()
    val next1 = new java.io.File(s"$s1/staging")
    next1.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(next1, "part-00000.parquet").toPath, "truncated garbage")
    Streaming.upsertBatch(s1)(b1, 1L)
    assert(sortedRows(current(s1)) === expected(), "orphaned staging")
    assert(!new java.io.File(s"$s1/staging").exists() &&
      !new java.io.File(s"$s1/prev").exists())

    // crash shape 2: `prev` without `current` (kill between the two
    // renames, at the failpoint) — the marked staging completes the
    // swap forward before the batch re-applies
    val s2 = mkState()
    val gap = CrashStates.at(s2, Commit.BetweenRenames, "current") {
      Streaming.upsertBatch(s2)(b1, 1L) }
    CrashStates.restore(gap, s2)
    assert(!new java.io.File(s"$s2/current").exists() &&
      new java.io.File(s"$s2/prev").exists())
    Streaming.upsertBatch(s2)(b1, 1L)
    assert(sortedRows(current(s2)) === expected(), "prev without current")

    // crash shape 3: `prev` AND `current` both present (kill after the
    // swap completed, before prev cleanup / marker write, at the
    // failpoint) — current is already the post-batch state; the
    // unmarked redelivery must merge idempotently and just clean up
    val s3 = mkState()
    val after = CrashStates.at(s3, Commit.AfterRenames, "current") {
      Streaming.upsertBatch(s3)(b1, 1L) }
    val postSwap = sortedRows(current(s3))
    CrashStates.restore(after, s3)
    assert(new java.io.File(s"$s3/prev").exists() &&
      !new java.io.File(s"$s3/_applied/1").exists())
    Streaming.upsertBatch(s3)(b1, 1L)
    assert(sortedRows(current(s3)) === postSwap, "post-swap redelivery")
    assert(postSwap === expected())
    assert(!new java.io.File(s"$s3/prev").exists())
  }

  test("Trigger.AvailableNow: run-to-completion batch job over a file stream") {
    // the scheduled-batch-over-streaming-source pattern: process all
    // available input, then terminate on its own.
    val dir = java.nio.file.Files.createTempDirectory("graft-avnow").toString
    val chunks = replay.filter(_.event_id != SentinelId)
      .grouped(replay.size / 3 + 1).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      c.toDF().coalesce(1).write.parquet(s"$dir/in/part_$i")
    }
    val src = spark.readStream.schema(chunks.head.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/part_*")
    val q = Streaming.tumblingAgg(src)
      .writeStream.format("memory").queryName("t_avnow")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    val streamed = spark.table("t_avnow")
    val batch = Streaming.tumbling(spark, Sf)
    assert(sortedRows(streamed) === sortedRows(batch))
  }

  test("s14 AvailableNow incremental backfill: two staged drops, shared " +
    "checkpoint — union of runs ≡ one batch, exactly-once across restarts") {
    // THE production incremental-backfill shape: a scheduled job wakes,
    // processes whatever landed since its last run (file-source log in
    // the checkpoint remembers processed files), appends to the output
    // table, and terminates. Two runs over a growing directory must
    // together equal ONE batch pass — no missed rows, no re-emission.
    val base = java.nio.file.Files.createTempDirectory("graft-s14").toString
    val evs = replay.filter(_.event_id != SentinelId)
    // drop A must NOT already cover every (user, type) key — keep it
    // small so run 2 provably contributes new keys
    val (dropA, dropB) = evs.splitAt(math.min(20, evs.size / 2))
    val schema = dropA.toDF().schema
    def runOnce(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // several micro-batches per run
        .parquet(s"$base/in")
      val q = Streaming.streamingDedup(src)
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow run must self-terminate")
    }
    // drop A (2 files, event-time order), run 1
    dropA.grouped(dropA.size / 2 + 1).foreach { c =>
      c.toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    runOnce()
    val afterRun1 = spark.read.parquet(s"$base/out").count()
    // drop B lands, run 2 resumes from the same checkpoint
    dropB.grouped(dropB.size / 2 + 1).foreach { c =>
      c.toDF().coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    runOnce()
    val union = spark.read.parquet(s"$base/out")
    // exactly-once: run 2 added only drop-B firsts, re-emitted nothing
    // (every key seen in run 1 is still in the restored dedup state)
    val batch = Streaming.dedupFirst(spark, Sf)
    assert(union.count() === batch.count(),
      s"run1=$afterRun1, union=${union.count()}, batch=${batch.count()}")
    assert(afterRun1 < union.count(), "run 2 must contribute new keys")
    // union-of-runs ≡ one batch pass, row for row (dedupFirst's key set
    // and first-arrival rows; arrival order = event-time order here)
    val got = union
      .select(col("user_id"), col("event_type"), col("event_id"),
        Canon.tsStr(col("ts")).as("first_ts"))
    assert(sortedRows(got) === sortedRows(batch))
  }

  test("within-watermark dedup: firsts ⊆ emitted ⊊ input (state eviction re-emits)") {
    val emitted = runStream("t_dedup_wm", Streaming.streamingDedupWithinWatermark)
      .filter(col("event_id") =!= SentinelId)
      .select("event_id").as[Long].collect().toSet
    val firsts = Streaming.dedupFirst(spark, Sf)
      .select("event_id").as[Long].collect().toSet
    val all = Tables.events(spark, Sf).select("event_id").as[Long].collect().toSet
    assert(firsts.subsetOf(emitted), "every first-by-ts event must be emitted")
    assert(emitted.subsetOf(all))
    assert(emitted.size < all.size, "some duplicates must be suppressed while in state")
  }
}
