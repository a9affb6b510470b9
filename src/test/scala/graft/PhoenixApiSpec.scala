package graft

import graft.operators.{PhoenixApi, RefQueries, TextPipeline}

/** The Phoenix-API facade must reproduce the reference queries exactly —
  * a ported Phoenix app and the DataFrame-native pipelines are two
  * implementations of one contract. */
class PhoenixApiSpec extends SparkSpec {
  import spark.implicits._

  test("sum-combiner facade wordCount ≡ DataFrame wordCount") {
    val facade = PhoenixApi.phoenixWordCount(spark)
      .as[(String, Long)].collect().toSeq
    val native = RefQueries.wordCount(spark)
      .as[(String, Long)].collect().toSeq
    assert(facade === native)
  }

  test("buffer-combiner facade (mapReduceGroups) reproduces the inverted index") {
    val lines = TextPipeline.linesWithIndex(spark, RefQueries.Dracula)
      .as[(String, Long)]
    val stop = TextPipeline.stopWords(spark, RefQueries.StopWordsPath)
      .as[String].collect().toSet
    // reduce sees the key's whole value list — the reference's
    // reduce_iterator (buffer_combiner) shape
    val facade = PhoenixApi.mapReduceGroups(lines)(
      { case (text, line) => PhoenixApi.tokenize(text).map(w => (w, line)) })(
      (word, ls) => (word, ls.toSeq.distinct.sorted.mkString(",")))
      .filter(r => !stop(r._1))
      .collect().toMap
    val native = RefQueries.invertedIndex(spark)
      .select("word", "postings").as[(String, String)].collect().toMap
    assert(facade === native)
  }

  test("one-combiner (F7): combine = keep-first yields one value per key") {
    val data = Seq("a" -> 1L, "a" -> 2L, "b" -> 7L).toDS()
    val out = PhoenixApi.mapReduce(data)(Seq(_))((a, _) => a)
      .collect().toMap
    assert(out.keySet === Set("a", "b"))
    assert(out("b") === 7L)
    assert(Set(1L, 2L).contains(out("a"))) // "any value" contract
  }

  // Hermetic planted data: `rows` input rows over `parts` map tasks, no
  // corpus. Row i emits three pairs, two of them on shared keys, so every
  // task holds far fewer keys than it emits.
  private def planted(rows: Long, parts: Int) = spark.range(0, rows, 1, parts).as[Long]
  private val emits: Long => Seq[(String, Long)] =
    i => Seq((s"k${i % 97}", i), (s"k${i % 13}", 1L), (s"k${i % 97}", 2L))
  private val plantedPairs = (0L until 5000L).flatMap(emits)

  /** Shuffle records the tasks of `body` write. */
  private def shuffleRecordsOf(body: => Unit): Long = {
    val sc = spark.sparkContext
    val written = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.recordsWritten))
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    written.get
  }

  test("sum and one combiner (F6/F7) ≡ brute-force fold over planted pairs") {
    val sum = PhoenixApi.mapReduce(planted(5000, 4))(emits)(_ + _).collect().toMap
    val want = plantedPairs.groupMapReduce(_._1)(_._2)(_ + _)
    assert(sum === want)
    val one = PhoenixApi.mapReduce(planted(5000, 4))(emits)((a, _) => a).collect().toMap
    val values = plantedPairs.groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
    assert(one.keySet === values.keySet)
    assert(one.forall { case (k, v) => values(k)(v) }, "keep-first keeps an emitted value")
  }

  test("buffer combiner (F5): the reducer receives the full multiset, duplicates included") {
    val got = PhoenixApi.mapReduceGroups(planted(5000, 4))(emits)(
      (k, vs: Iterator[Long]) => (k, vs.toSeq.sorted)).collect().toMap
    val want = plantedPairs.groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
    assert(got === want)
    assert(got("k0").count(_ == 2L) > 1, "duplicate values reach the reducer")
  }

  test("planted text: tokenize ≡ TextPipeline.tokens; word count and inverted index ≡ brute force") {
    val text = Seq("Don't STOP the th' 42 o'er' x", "", "the the don't-stop y's 'quoted'",
      "UPPER lower Upper", "x x x")
    val lines = text.zipWithIndex.map { case (t, i) => (t, i.toLong) }
    val native = TextPipeline.tokens(text.toDF("value"), "value").as[String].collect().toSeq
    assert(text.flatMap(PhoenixApi.tokenize) === native)
    val ds = lines.toDS().repartition(3)
    val counts = PhoenixApi.mapReduce(ds)(
      { case (t, _) => PhoenixApi.tokenize(t).map(w => (w, 1L)) })(_ + _).collect().toMap
    assert(counts === native.groupMapReduce(identity)(_ => 1L)(_ + _))
    val postings = PhoenixApi.mapReduceGroups(ds)(
      { case (t, l) => PhoenixApi.tokenize(t).map(w => (w, l)) })(
      (w, ls: Iterator[Long]) => (w, ls.toSeq.sorted)).collect().toMap
    val want = lines.flatMap { case (t, l) => PhoenixApi.tokenize(t).map(w => (w, l)) }
      .groupMap(_._1)(_._2).view.mapValues(_.sorted).toMap
    assert(postings === want)
    assert(postings("the") === Seq(0L, 2L, 2L), "a word twice on a line is two values")
  }

  test("null values are values: combined and buffered, never dropped") {
    val data = Seq[(String, String)](("a", null), ("a", "x"), ("b", null), ("b", null),
      ("c", "y"), ("c", "z"), ("a", null)).toDS().repartition(2)
    // null-aware max; a key holding only nulls combines to null
    val max: (String, String) => String = (a, b) =>
      if (a == null) b else if (b == null) a else if (a > b) a else b
    val combined = PhoenixApi.mapReduce(data)(Seq(_))(max).collect().toMap
    assert(combined === Map("a" -> "x", "b" -> null, "c" -> "z"))
    val buffered = PhoenixApi.mapReduceGroups(data)(Seq(_))(
      (k, vs: Iterator[String]) => { val s = vs.toSeq; (k, s.count(_ == null), s.size) })
      .collect().map { case (k, nulls, n) => k -> ((nulls, n)) }.toMap
    assert(buffered === Map("a" -> ((2, 3)), "b" -> ((2, 2)), "c" -> ((0, 2))))
  }

  test("a task with more distinct keys than the flush bound flushes and stays exact") {
    // two tasks, each emitting keys 0..n-1 twice, in two passes: the
    // container flushes mid-task, so a key's values reach the shuffle in
    // several records of one task and must be merged reduce-side
    val n = PhoenixApi.FlushBound + 5000L
    val cyclic = (i: Long) => Seq((i % n, 1L))
    val sum = PhoenixApi.mapReduce(planted(4 * n, 2))(cyclic)(_ + _).collect()
    assert(sum.length === n)
    assert(sum.forall(_._2 == 4L))
    var sizes = Array.empty[(Long, Int)]
    val records = shuffleRecordsOf {
      sizes = PhoenixApi.mapReduceGroups(planted(4 * n, 2))(cyclic)(
        (k, vs: Iterator[Long]) => (k, vs.size)).collect()
    }
    assert(sizes.length === n)
    assert(sizes.forall(_._2 == 4))
    // one record per key per task would be 2n: the buffers flushed
    assert(records > 2 * n, "the container flushed before the task ended")
  }

  test("the map stage shuffles at most one record per key per task, not one per emit") {
    val parts = 4
    val keys = 10
    val emitsPerRow = 5
    val many = (i: Long) => Seq.fill(emitsPerRow)((i % keys, i))
    val rows = 20000L
    val sumRecords = shuffleRecordsOf {
      PhoenixApi.mapReduce(planted(rows, parts))(many)(_ + _).collect()
    }
    val groupRecords = shuffleRecordsOf {
      PhoenixApi.mapReduceGroups(planted(rows, parts))(many)(
        (k, vs: Iterator[Long]) => (k, vs.size)).collect()
    }
    // every task sees all `keys` keys: exactly one record each
    assert(sumRecords === parts * keys, s"for ${rows * emitsPerRow} emits")
    assert(groupRecords === parts * keys, s"for ${rows * emitsPerRow} emits")
  }

  test("t03 typed cogroup ≡ relational left-join rollup, zero-order customers kept") {
    import org.apache.spark.sql.functions._
    val got = operators.TypedOps.typedCogroup(spark, Sf)
      .select("c_custkey", "n_orders", "sum_spent")
      .as[(Long, Long, Double)].collect().toSeq
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val want = Tables.customer(spark, Sf).select(col("c_custkey"))
      .join(Tables.orders(spark, Sf)
        .select(col("o_custkey"), col("o_totalprice").cast(dec2).as("p")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("n"),
        coalesce(sum(col("p")), lit(0).cast(dec2)).cast("double").as("s"))
      .orderBy("c_custkey")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got === want)
    // the fixtures give every customer orders, so exercise the
    // left-complete (empty right iterator) branch on a planted pair of
    // tables: customer 2 has no orders and must still emit (0, 0.0)
    val dir = java.nio.file.Files.createTempDirectory("graft-cogroup").toString
    Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 100.50), (11L, 1L, 49.50))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val planted = operators.TypedOps.typedCogroup(spark, dir)
      .select("c_custkey", "c_name", "n_orders", "sum_spent")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(planted === Seq((1L, "alice", 2L, 150.0), (2L, "bob", 0L, 0.0)))
  }

  test("t05 geomean UDAF ≡ relational exp-of-mean-ln recompute") {
    import org.apache.spark.sql.functions._
    val got = operators.TypedOps.geomeanSql(spark, Sf)
      .as[(String, Long, Double)].collect().toSeq
    assert(got.nonEmpty)
    val want = Tables.lineitem(spark, Sf)
      .select(col("l_returnflag"),
        log(col("l_extendedprice").cast("double"))
          .cast(org.apache.spark.sql.types.DecimalType(30, 6)).as("lnp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        graft.Canon.round4(
          exp(sum(col("lnp")).cast("double") / count(lit(1)))).as("g"))
      .orderBy("l_returnflag")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === want)
  }

  test("t04 secondary sort ≡ lag-window recompute; scrambled write order is repaired") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = operators.TypedOps.secondarySort(spark, Sf)
      .select("user_id", "n_events", "max_gap_us", "n_incr", "first_type", "last_type")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val want = Tables.events(spark, Sf)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .withColumn("incr", (col("value") > lag(col("value"), 1).over(w)).cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(max(col("gap")), lit(0L)).as("max_gap_us"),
        coalesce(sum(col("incr")), lit(0L)).as("n_incr"),
        max(when(col("rn") === 1, col("event_type"))).as("first_type"),
        max(when(col("rn") === col("cnt"), col("event_type"))).as("last_type"))
      .orderBy("user_id")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(got === want)
    // planted: rows written in SCRAMBLED order — the shuffle-sort must
    // repair it, or max_gap/n_incr/first/last all come out wrong
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-secsort").toString
    Seq( // time order: (0,a,1.0) (10,b,5.0) (15,c,2.0) (45,d,3.0)
      (3L, ts(15), 1L, "c", 2.0, "{}"),
      (1L, ts(0), 1L, "a", 1.0, "{}"),
      (4L, ts(45), 1L, "d", 3.0, "{}"),
      (2L, ts(10), 1L, "b", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val planted = operators.TypedOps.secondarySort(spark, dir)
      .select("user_id", "n_events", "max_gap_us", "n_incr", "first_type", "last_type")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(planted === Seq((1L, 4L, 30L * 60 * 1000000, 2L, "a", "d")))
  }
}
