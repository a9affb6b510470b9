package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: set-up, warm-up, a closed loop of timed ops (one
  * at a time, from one thread), then the result dump for the
  * oracle compare. Writes `run.json` (and `trace.json` when traced) to
  * `--out`; `perfbench/run.py` turns them into metrics.
  *
  * Arguments: --workload W --data DIR --work DIR --out DIR --seconds S
  * --trace 0|1
  */
object Main {
  /** Untimed ops after set-up, before the timed window (JIT warm-up); at
    * least one of each kind. */
  private val WarmupS = 3.0

  private def wall(): Double = System.nanoTime() / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this process (VmHWM), MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private final case class OpRec(id: Int, kind: String, start: Double, end: Double,
      ok: Boolean, rows: Long, traced: Boolean, emitted: Long, err: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (data, work, out) = (a("data"), a("work"), a("out"))
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    // process start on the same monotonic clock as wall()
    val jvmStart = wall() - ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    Tracer.installLogCounter()
    val tracer = new Tracer
    val w: Workload = a("workload") match {
      case "phoenix_text" => new PhoenixText(data, tracer, countEmits = trace)
      case "dedup_batch" => new DedupBatch(data, tracer)
      case "trickle_publish" => new TricklePublish(data, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, timed from process start: the session, then one op of each
    // kind (or the stream bootstrap)
    Files.createDirectories(Paths.get(out))
    val spark = graft.SparkEnv.session("perfbench")
    val sessionS = wall() - jvmStart
    if (trace) tracer.attach(spark)
    w.setup(spark, out)
    val setupS = wall() - jvmStart
    val sc = spark.sparkContext

    // Warm-up: untimed ops until the JIT and the engine's caches settle,
    // so the timed window does not measure a warm-up trend.
    val warmEnd = wall() + WarmupS
    var warmOps = 0
    while ((wall() < warmEnd || warmOps < w.kinds.size) && w.hasNext) {
      w.op(spark, w.kinds(warmOps % w.kinds.size))
      warmOps += 1
    }

    // Timed closed loop. A traced run alternates untraced and traced
    // rounds of ops (a round is one op of each kind), so its tracing
    // overhead is measured in the same run.
    val ops = ArrayBuffer[OpRec]()
    val gc0 = gcSeconds()
    val deadline = wall() + seconds
    var i = 0
    while (wall() < deadline && w.hasNext) {
      val kind = w.kinds(i % w.kinds.size)
      val traced = trace && (i / w.kinds.size) % 2 == 1
      tracer.enabled = traced
      val em0 = w match { case p: PhoenixText => p.emittedSoFar; case _ => 0L }
      val t0 = wall()
      val (ok, rows, err) =
        try (true, tracer.op(sc, i, kind) { w.op(spark, kind) }, "")
        catch { case e: Throwable => (false, 0L, e.toString.take(300)) }
      val t1 = wall()
      val em = w match { case p: PhoenixText => p.emittedSoFar - em0; case _ => 0L }
      ops += OpRec(i, kind, t0, t1, ok, rows, traced, em, err)
      i += 1
    }
    tracer.enabled = false
    val gc = gcSeconds() - gc0
    val rss = peakRssMb()

    val extra = w.dump(spark, out)
    // the registry's oracle SQL for the workload's keys
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), w.checked
      .flatMap(k => graft.SparkEntry.oracleSql.get(k).map(q => s"${Json.str(k)}:${Json.str(q)}"))
      .mkString("{", ",", "}"))
    w.close()
    spark.stop()
    if (trace) tracer.write(s"$out/trace.json")

    val opsJson = ops.map { o =>
      s"""{"id":${o.id},"kind":${Json.str(o.kind)},"start":${o.start},"end":${o.end},""" +
        s""""ok":${o.ok},"rows":${o.rows},"traced":${o.traced},"emitted":${o.emitted},"err":${Json.str(o.err)}}"""
    }.mkString("[", ",", "]")
    val fields = Seq(
      "setup_s" -> setupS.toString, "session_s" -> sessionS.toString,
      "warmup_ops" -> warmOps.toString, "gc_s" -> gc.toString,
      "codegen_compile_s" -> Tracer.codegenCompileS.toString,
      "codegen_fallbacks" -> Tracer.codegenFallbacks.sum.toString,
      "peak_rss_mb" -> rss.toString, "cpus" -> graft.SparkEnv.cpus,
      "kinds" -> w.kinds.map(Json.str).mkString("[", ",", "]"),
      "checked" -> w.checked.map(Json.str).mkString("[", ",", "]"),
      "ops" -> opsJson) ++ extra
    Files.writeString(Paths.get(s"$out/run.json"),
      fields.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    System.exit(0)
  }
}
