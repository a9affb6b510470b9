package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: everything it records comes from listeners and log
  * hooks the benchmark attaches, and from spans the benchmark opens around
  * its own calls into the program's public API. Nothing is recorded while
  * `enabled` is false, so an untraced phase pays one volatile read per
  * event.
  *
  * Records are kept in memory and written once, as JSON, by [[write]].
  * All times are epoch seconds (doubles) so listener times (epoch ms) and
  * span times share one clock.
  */
final class Tracer {
  @volatile var enabled = false
  @volatile var currentOp: Long = -1L
  @volatile private var currentOpSpan: Long = 0L

  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() / 1e3
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  private case class Span(id: Long, name: String, start: Double, end: Double,
      parent: Long, op: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** Runs `body` inside a span named `name`. The span's id goes into the
    * thread's Spark local properties, so jobs submitted from `body` name
    * it as their parent. */
  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(currentOpSpan)
      val op = currentOp
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack.set(id :: stack.get())
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, name, t0, now(), parent, op))
        stack.set(stack.get().tail)
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  /** Root span of one op: its children are the public-call spans. */
  def op[T](sc: SparkContext, opId: Long, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = opId
      val id = ids.incrementAndGet()
      currentOpSpan = id
      val t0 = now()
      try body
      finally {
        spans.add(Span(id, s"op.$kind", t0, now(), 0L, opId))
        currentOpSpan = 0L
        currentOp = -1L
      }
    }

  // ------------------------------------------------------------ jobs --
  private final class JobRec(val id: Int, val start: Double, val span: Long,
      val desc: String) {
    @volatile var end = 0.0
    val tasks = new LongAdder; val taskS = new java.util.concurrent.atomic.DoubleAdder
    val shWriteBytes = new LongAdder; val shWriteRecords = new LongAdder
    val shReadBytes = new LongAdder; val fetchWaitMs = new LongAdder
    val spillBytes = new LongAdder
    val inBytes = new LongAdder; val inRecords = new LongAdder
  }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val rec = new JobRec(e.jobId, e.time / 1e3,
        prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L),
        prop("spark.job.description").getOrElse(""))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.get(e.jobId)
      if (r != null) r.end = e.time / 1e3
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = Option(stageJob.get(e.stageId)).map(j => jobs.get(j)).orNull
      if (r != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        r.tasks.increment()
        r.taskS.add(m.executorRunTime / 1e3)
        r.shWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        r.shWriteRecords.add(m.shuffleWriteMetrics.recordsWritten)
        r.shReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
        r.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        r.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        r.inBytes.add(m.inputMetrics.bytesRead)
        r.inRecords.add(m.inputMetrics.recordsRead)
      }
    }
  }

  // ------------------------------------------------------- streaming --
  private val progress = new ConcurrentLinkedQueue[String]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) progress.add(e.progress.json)
  }

  // ------------------------------------------------- query executions --
  private case class QeRec(op: Long, exchanges: Int, files: Long, bytes: Long)
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case c: CommandResultExec => c +: walk(c.commandPhysicalPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(walk)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val nodes = walk(qe.executedPlan)
        val exch = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
        val writes = nodes.collect { case w: DataWritingCommandExec => w.cmd.metrics }
        def m(k: String) = writes.flatMap(_.get(k)).map(_.value).sum
        qes.add(QeRec(currentOp, exch, m("numFiles"), m("numOutputBytes")))
      }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
  }

  /** Attaches the listeners to a (new) session. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
  }

  // ---------------------------------------------------------- output --
  private def q(s: String): String = Json.str(s)

  def write(path: String): Unit = {
    val sb = new StringBuilder("{\"spans\":[")
    sb ++= spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"start":${s.start},"end":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }.mkString(",")
    sb ++= "],\"jobs\":["
    sb ++= jobs.values.asScala.toSeq.sortBy(_.id).filter(_.end > 0).map { j =>
      s"""{"id":${j.id},"start":${j.start},"end":${j.end},"span":${j.span},""" +
        s""""desc":${q(j.desc)},"tasks":${j.tasks.sum},"task_s":${j.taskS.sum},""" +
        s""""shuffle_write_bytes":${j.shWriteBytes.sum},"shuffle_records":${j.shWriteRecords.sum},""" +
        s""""shuffle_read_bytes":${j.shReadBytes.sum},"fetch_wait_s":${j.fetchWaitMs.sum / 1e3},""" +
        s""""spill_bytes":${j.spillBytes.sum},"input_bytes":${j.inBytes.sum},"input_records":${j.inRecords.sum}}"""
    }.mkString(",")
    sb ++= "],\"queries\":["
    sb ++= qes.asScala.toSeq.map { r =>
      s"""{"op":${r.op},"exchanges":${r.exchanges},"files":${r.files},"bytes":${r.bytes}}"""
    }.mkString(",")
    sb ++= "],\"progress\":["
    sb ++= progress.asScala.mkString(",")
    sb ++= "]}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Counts whole-stage-codegen fallbacks and Janino compile failures
    * from the log: the engine reports them only as log lines. Installed
    * once per process, before the first session exists. */
  val codegenFallbacks = new LongAdder

  def installLogCounter(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
        if (msg.contains("Whole-stage codegen disabled") ||
            msg.contains("failed to compile") ||
            msg.contains("Expression codegen fallback"))
          codegenFallbacks.increment()
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  /** Total Janino compile time so far in this JVM, seconds. */
  def codegenCompileS: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    h.getCount * h.getSnapshot.getMean / 1e3
  }
}

/** Minimal JSON writing for the benchmark's own records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
