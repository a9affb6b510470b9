package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.LongAccumulator

import graft.{SparkEntry, Tables}
import graft.operators.{PhoenixApi, Streaming, TextPipeline}

/** One benchmark workload: the op kinds it cycles through, its set-up
  * (warm-up ops or store bootstrap), one timed op, and the dump of every
  * op kind's result for the oracle compare. */
trait Workload {
  def kinds: Seq[String]
  /** The result directories `dump` and set-up write for the oracle. */
  def checked: Seq[String] = kinds
  /** Set-up on the session: batch workloads run one op of each kind and
    * write its result under `out/<kind>`; streams bootstrap and run one
    * op. */
  def setup(spark: SparkSession, out: String): Unit
  /** False once the workload has no more input to process. */
  def hasNext: Boolean = true
  /** One timed op; returns the input rows it consumed. */
  def op(spark: SparkSession, kind: String): Long
  /** After timing: writes what set-up did not (the stores' final
    * contents). Returns extra JSON fields for the run record. */
  def dump(spark: SparkSession, out: String): Seq[(String, String)] = Nil
  /** Stops whatever the workload started on the current session. */
  def close(): Unit = ()
}

object Workload {
  /** Drives a plan to the `noop` sink with the plan cache cleared: the
    * full plan runs, nothing is written, no cached relation carries over
    * from the previous op. */
  def noop(spark: SparkSession, df: DataFrame): Unit = {
    spark.sharedState.cacheManager.clearCache()
    df.write.format("noop").mode("overwrite").save()
  }

  def dumpParquet(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

/** The paper's three Phoenix programs written against `PhoenixApi`:
  * word count and top-K through `mapReduce` with a sum combiner, the
  * inverted index through `mapReduceGroups` (the buffer combiner). */
final class PhoenixText(data: String, tracer: Tracer, countEmits: Boolean) extends Workload {
  val kinds = Seq("wordcount", "topk", "invert")
  private val corpus = s"$data/corpus.txt"
  private val stopPath = s"$data/stop_words.txt"
  private lazy val lines = Files.lines(Paths.get(corpus)).count()
  private var emitted: LongAccumulator = _
  def emittedSoFar: Long = emitted.sum

  private def counts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val acc = emitted
    val map: String => Seq[(String, Long)] =
      if (countEmits) { l => val t = PhoenixApi.tokenize(l); acc.add(t.size); t.map(w => (w, 1L)) }
      else l => PhoenixApi.tokenize(l).map(w => (w, 1L))
    PhoenixApi.mapReduce(spark.read.textFile(corpus))(map)(_ + _)
      .toDF("word", "cnt")
      .join(broadcast(TextPipeline.stopWords(spark, stopPath)), Seq("word"), "left_anti")
  }

  def program(spark: SparkSession, kind: String): DataFrame = kind match {
    case "wordcount" => counts(spark).orderBy(col("cnt").asc, col("word").desc)
    case "topk" => counts(spark).orderBy(col("cnt").desc, col("word").desc).limit(50)
    case "invert" =>
      import spark.implicits._
      val acc = emitted
      val ce = countEmits
      val indexed = TextPipeline.linesWithIndex(spark, corpus).as[(String, Long)]
      PhoenixApi.mapReduceGroups(indexed) { case (text, line) =>
          val t = PhoenixApi.tokenize(text)
          if (ce) acc.add(t.size)
          t.map(w => (w, line))
        } { (w: String, ls: Iterator[Long]) =>
          val s = ls.toSeq.distinct.sorted
          (w, s.mkString(","), s.size.toLong)
        }
        .toDF("word", "postings", "n_lines")
        .join(broadcast(TextPipeline.stopWords(spark, stopPath)), Seq("word"), "left_anti")
        .orderBy("word")
  }

  def setup(spark: SparkSession, out: String): Unit = {
    emitted = spark.sparkContext.longAccumulator("perfbench.map_emitted")
    kinds.foreach(k => Workload.dumpParquet(program(spark, k), s"$out/$k"))
  }

  def op(spark: SparkSession, kind: String): Long = {
    tracer.span(spark.sparkContext, s"PhoenixApi.$kind") { Workload.noop(spark, program(spark, kind)) }
    lines
  }
}

/** Read-only registry kernels of the near-dup, embedding and closure
  * families, each driven through `SparkEntry.queries`. */
final class DedupBatch(data: String, tracer: Tracer) extends Workload {
  /** Each key's owning module (its span name) and the table it reads. */
  private val keys = Map(
    "d02_ngram_jaccard" -> ("PairGraph", "documents"),
    "d59_kmeans" -> ("EmbeddingOps", "embeddings"),
    "e45b_deep_closure" -> ("TransitiveClosure", "part"))
  val kinds = keys.keys.toSeq.sorted
  private val rows = scala.collection.mutable.Map[String, Long]()

  def setup(spark: SparkSession, out: String): Unit = {
    keys.values.foreach { case (_, t) => rows(t) = Tables.t(spark, data, t).count() }
    kinds.foreach { k =>
      spark.sharedState.cacheManager.clearCache()
      Workload.dumpParquet(SparkEntry.queries(k)(spark, data), s"$out/$k")
    }
  }

  def op(spark: SparkSession, kind: String): Long = {
    val (module, table) = keys(kind)
    tracer.span(spark.sparkContext, s"$module.$kind") {
      Workload.noop(spark, SparkEntry.queries(kind)(spark, data))
    }
    rows(table)
  }
}

/** Closed-loop catch-up of a staged backlog of small delta files through
  * two real streaming queries: the label store's `foreachBatch` sink and
  * the stateful as-of stream. Each query reads its own source directory
  * with one file per trigger. An op is one micro-batch trigger on each
  * stream: it moves each stream's next staged delta into its source
  * directory and ends when both triggers have committed. Set-up
  * bootstraps each stream with one bulk trigger and runs one op. */
final class TricklePublish(data: String, work: String, tracer: Tracer) extends Workload {
  val kinds = Seq("trigger")
  private val input = Map("s18_label_maintenance" -> "embeddings", "s22_asof_disordered" -> "events")
  override val checked = input.keys.toSeq.sorted
  /** Rows in each delta file, from the generator's manifest. */
  private val deltaRows: Map[String, IndexedSeq[Long]] = {
    val m = Files.readString(Paths.get(s"$data/manifest.json"))
    input.values.map { t =>
      val arr = ("\"" + t + "\":\\s*\\[([0-9, ]*)\\]").r.findFirstMatchIn(m).get.group(1)
      t -> arr.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toIndexedSeq
    }.toMap
  }

  private var queries = Map[String, StreamingQuery]()
  private var delivered = 0

  private def srcDir(k: String) = s"$work/src/$k"
  private def stageDir(k: String) = s"$work/stage/$k"
  private def deltaName(i: Int) = f"d$i%05d.parquet"
  private val labelStore = s"$work/stores/s18_label_maintenance"

  private def start(spark: SparkSession, k: String): StreamingQuery = {
    val src = spark.readStream
      .schema(spark.read.parquet(s"$data/${input(k)}_boot.parquet").schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir(k))
    val ckpt = s"$work/ckpt/$k"
    if (k == "s22_asof_disordered") {
      // events.ts arrives as raw epoch nanos (the session reads parquet
      // nanos as LONG); the same conversion Tables.events applies
      val ev = src.select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      Streaming.asofEnrichBuffered(ev)
        .writeStream.format("memory").queryName("s22_asof")
        .option("checkpointLocation", ckpt).outputMode("append").start()
    } else {
      val body = Streaming.labelMaintSink(labelStore) _
      src.select(col("vec_id"), col("embedding")).writeStream
        .foreachBatch { (df: Dataset[Row], id: Long) =>
          tracer.span(df.sparkSession.sparkContext, "Streaming.labelMaintSink") { body(df, id) }
        }
        .option("checkpointLocation", ckpt).start()
    }
  }

  def setup(spark: SparkSession, out: String): Unit = {
    checked.foreach { k =>
      val t = input(k)
      Files.createDirectories(Paths.get(srcDir(k)))
      Files.createDirectories(Paths.get(stageDir(k)))
      Files.copy(Paths.get(s"$data/${t}_boot.parquet"), Paths.get(s"${srcDir(k)}/boot.parquet"))
      deltaRows(t).indices.foreach(i => Files.copy(Paths.get(s"$data/${t}_deltas/${deltaName(i)}"),
        Paths.get(s"${stageDir(k)}/${deltaName(i)}")))
    }
    queries = checked.map(k => k -> start(spark, k)).toMap
    queries.values.foreach(_.processAllAvailable())
    op(spark, "trigger") // the first maintenance trigger pays the cold code path
  }

  override def hasNext: Boolean =
    input.values.forall(t => delivered < deltaRows(t).size)

  def op(spark: SparkSession, kind: String): Long = {
    checked.foreach(k => Files.move(Paths.get(s"${stageDir(k)}/${deltaName(delivered)}"),
      Paths.get(s"${srcDir(k)}/${deltaName(delivered)}"), StandardCopyOption.ATOMIC_MOVE))
    queries.values.foreach(_.processAllAvailable())
    delivered += 1
    input.values.map(t => deltaRows(t)(delivered - 1)).sum
  }

  override def dump(spark: SparkSession, out: String): Seq[(String, String)] = {
    // a far-future sentinel event drives the watermark past every
    // buffered event, so the as-of stream flushes all its output
    val s22 = "s22_asof_disordered"
    Files.copy(Paths.get(s"$data/events_sentinel.parquet"), Paths.get(s"${srcDir(s22)}/zz_sentinel.parquet"))
    queries(s22).processAllAvailable()
    Workload.dumpParquet(spark.table(queries(s22).name)
      .select("err_id", "user_id", "purchase_id", "purchase_value"), s"$out/$s22")
    close()
    Workload.dumpParquet(spark.read.parquet(s"$labelStore/labels/published")
      .select(col("vec_id"), col("cid"), col("dist2").cast("double").as("dist2")),
      s"$out/s18_label_maintenance")
    Seq("delivered" -> delivered.toString, "stores" -> Json.str(s"$work/stores"))
  }

  override def close(): Unit = {
    queries.values.foreach(_.stop())
    queries = Map()
  }
}
