package graft

import org.apache.spark.sql.functions._

/** Storage-layout scale techniques: bucketing for shuffle-free
  * co-located joins and partitioned layouts for partition pruning —
  * the two levers that matter most for repeated 100 TB fact-fact joins
  * and time-sliced scans (SURVEY §2.4 scale posture). */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = {
    // the shared session's spark.sql.warehouse.dir is fixed at startup;
    // saveAsTable writes there under unique table names
    java.nio.file.Files.createTempDirectory("graft-storage").toString
  }

  test("bucketed tables join without a shuffle exchange") {
    // clean slate: a previous crashed run can leave the managed-table
    // directory behind, which saveAsTable refuses to overwrite
    Seq("bkt_lineitem", "bkt_orders").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    val l = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, Sf).select("o_orderkey", "o_totalprice")
    // one file per bucket (repartition on the bucket key) — Spark only
    // trusts sortBy metadata in that layout; without it a SortExec
    // reappears under the merge join
    l.repartition(8, col("l_orderkey")).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("bkt_lineitem")
    o.repartition(8, col("o_orderkey")).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("bkt_orders")
    // force the merge join (broadcast would make the no-sort assertion
    // vacuous at this SF); conf restored after the plan is captured
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prevThreshold = spark.conf.get(thresholdKey)
    val plan = try {
      spark.conf.set(thresholdKey, "-1")
      spark.table("bkt_lineitem")
        .join(spark.table("bkt_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .queryExecution.sparkPlan.toString
    } finally spark.conf.set(thresholdKey, prevThreshold)
    assert(plan.contains("SortMergeJoin"), plan.take(500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "bucketed join must not re-shuffle either side:\n" + plan.take(1500))
    assert(!plan.contains("Sort "),
      "sorted one-file-per-bucket join must not re-sort either side:\n" +
        plan.take(1500))
    val joined = spark.table("bkt_lineitem")
      .join(spark.table("bkt_orders"),
        col("l_orderkey") === col("o_orderkey"))
    // and it still computes the right thing
    val expected = Tables.lineitem(spark, Sf)
      .join(Tables.orders(spark, Sf), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(joined.count() === expected)
  }

  test("f05 bucketed-join query shuffles only for the final aggregation") {
    val df = operators.Sources.bucketedJoin(spark, Sf)
    val plan = df.queryExecution.sparkPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"bucketed join sides must not re-shuffle (got $exchanges hash exchanges):\n" +
        plan.take(1500))
  }

  test("f06 merged-schema read reproduces the unsplit table's aggregate") {
    val merged = operators.Sources.schemaEvolution(spark, Sf).collect()
    val direct = Tables.orders(spark, Sf)
      .groupBy(when(year(col("o_orderdate")) <= 1994, "<legacy>")
        .otherwise(col("o_orderstatus")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        graft.Canon.dsum(col("o_totalprice")).as("total_price"))
      .orderBy("status").collect()
    assert(merged.toSeq === direct.toSeq)
  }

  test("partitioned parquet layout prunes partitions at the scan") {
    val dir = s"$wh/events_by_type"
    Tables.events(spark, Sf)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val read = spark.read.parquet(dir).filter(col("event_type") === "error")
    val scan = read.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    val partFilters = scan.metadata("PartitionFilters")
    assert(partFilters.contains("event_type"),
      s"partition filter not pushed: $partFilters")
    // pruned scan reads only the matching directory: after execution the
    // scan's numFiles metric counts post-pruning files (1 of 5 dirs).
    // NB: collect(), not count() — count() builds a NEW QueryExecution,
    // leaving this one's metrics untouched.
    val expected = Tables.events(spark, Sf)
      .filter(col("event_type") === "error").count()
    assert(read.collect().length.toLong === expected)
    val executed = read.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }.headOption.getOrElse(read.queryExecution.executedPlan)
    val execScan = executed.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(execScan.nonEmpty)
    assert(execScan.head.metrics("numFiles").value === 1L,
      s"expected 1 post-pruning file, got ${execScan.head.metrics("numFiles").value}")
  }

  test("f07 binaryFile totals are layout-independent and byte-exact") {
    val Seq((totalBytes, nDocs)) = operators.Sources.binarySource(spark, Sf)
      .as[(Long, Long)].collect().toSeq
    val direct = Tables.documents(spark, Sf)
      .agg(sum(length(encode(col("text"), "UTF-8")) + 1).cast("long"),
        count(lit(1)))
      .as[(Long, Long)].collect().head
    assert((totalBytes, nDocs) === direct)
    // the same totals must come back from a differently-packed layout
    // (binaryFile rows are per-FILE, so this is the invariance claim)
    val repacked = Tables.documents(spark, Sf).select(col("text"))
      .repartition(3)
    val dir = s"$wh/docs_repacked"
    repacked.write.mode("overwrite").text(dir)
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt").load(dir)
    val total2 = bin.agg(sum(col("length")).cast("long"))
      .as[Long].collect().head
    assert(total2 === totalBytes)
  }

  test("f17 manifest prune reads ONLY the overlapping dirs, and loses nothing") {
    // the operator's own layout re-derived here so the PHYSICAL claim —
    // the pruned frame opens no file outside the surviving bins — can
    // be pinned via inputFiles (the registry query can only prove the
    // arithmetic; this proves the skipping)
    val li = Tables.lineitem(spark, Sf)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val (kLo, kHi) = li.agg(min("l_orderkey"), max("l_orderkey"))
      .as[(Long, Long)].collect().head
    val range = math.max(kHi - kLo + 1, 1L)
    val dir = s"$wh/li_manifest"
    li.withColumn("file_id",
        least(lit(15L), expr(s"(l_orderkey - $kLo) * 16 div $range")))
      .write.mode("overwrite").partitionBy("file_id").parquet(dir)
    val manifest = spark.read.parquet(dir)
      .withColumn("file_id", col("file_id").cast("long"))
      .groupBy("file_id")
      .agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"))
      .as[(Long, Long, Long)].collect().toSeq
    val (qLo, qHi) = (500L, 2500L)
    val keep = manifest.filter(m => m._3 >= qLo && m._2 <= qHi).map(_._1)
    // the box is narrow (≈3% of the key domain): skipping must bite
    assert(keep.nonEmpty && keep.size < manifest.size,
      s"fixture must both keep and skip files (${keep.size}/${manifest.size})")
    val pruned = spark.read.parquet(dir)
      .filter(col("file_id").isin(keep.map(_.toInt): _*))
    // PHYSICAL: the executed scan's numFiles metric counts what was
    // actually opened — inputFiles would lie here (it reflects the
    // base FileIndex BEFORE partition pruning)
    pruned.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(findScans)
    }
    val scan = findScans(pruned.queryExecution.executedPlan).head
    val opened = scan.metrics("numFiles").value
    val allFiles = spark.read.parquet(dir).inputFiles.toSeq
    val expected = allFiles.count(f => keep.exists(b => f.contains(s"file_id=$b/")))
    assert(opened === expected.toLong && opened < allFiles.size.toLong,
      s"pruned scan opened $opened files; expected $expected of ${allFiles.size}")
    // EXACT: pruned + residual ≡ the plain filter over the source
    val a = pruned.filter(col("l_orderkey").between(qLo, qHi))
      .groupBy("l_orderkey").agg(sum("l_quantity"))
    val b = li.filter(col("l_orderkey").between(qLo, qHi))
      .groupBy("l_orderkey").agg(sum("l_quantity"))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // and the registry query's file counts agree with this re-derivation
    val row = operators.Sources.statsPrunedScan(spark, Sf).collect().head
    assert(row.getLong(3) === manifest.size.toLong &&
      row.getLong(4) === keep.size.toLong)
  }

  test("f18 fact scan carries a dynamic pruning filter and opens ONLY Monday files") {
    val out = operators.Sources.dynamicPruning(spark, Sf)
    out.collect()
    def findScans(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findScans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(findScans) ++
        other.subqueries.flatMap(findScans)
    }
    val scans = findScans(out.queryExecution.executedPlan)
    val dpp = scans.filter(_.partitionFilters.mkString.toLowerCase
      .contains("dynamicpruning"))
    assert(dpp.nonEmpty, "no scan carries a dynamic partition pruning filter:\n" +
      out.queryExecution.executedPlan.toString.take(1500))
    val scan = dpp.head
    // the scan's own metrics: files actually opened vs the static count
    // the planner would have read without the runtime filter
    val opened = scan.metrics("numFiles").value
    val static = scan.metrics.get("staticFilesNum").map(_.value)
      .getOrElse(scan.relation.location.inputFiles.length.toLong)
    assert(opened > 0L && opened < static,
      s"dynamic pruning did not bite: opened $opened of $static files")
    // and the opened count is EXACTLY the Monday dirs' file count
    // (day_id % 7 == 4 — 1970-01-01 was a Thursday)
    val dayRe = "day_id=(\\d+)/".r
    val monday = scan.relation.location.inputFiles.count(f =>
      dayRe.findFirstMatchIn(f).exists(_.group(1).toLong % 7 == 4))
    assert(opened === monday.toLong,
      s"opened $opened files; the Monday dirs hold $monday")
  }

  test("f19 all-or-nothing: a bad table blocks EVERY promotion; survivors byte-identical") {
    val docs = Tables.documents(spark, Sf)
    val a = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val b = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val base = s"$wh/atomic"
    val total = docs.count()
    // a failed FIRST publish leaves nothing published at all
    val m0 = operators.Sources.atomicPublishStaged(spark,
      Seq(("by_lang", a, "lang"), ("by_source", b, "source")), total + 1, base)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(!m0("by_lang_total_rows") && !m0("by_lang_published_rows"))
    assert(!new java.io.File(s"$base/by_lang/published").exists &&
      !new java.io.File(s"$base/by_source/published").exists)
    // happy path: both live
    val m1 = operators.Sources.atomicPublishStaged(spark,
      Seq(("by_lang", a, "lang"), ("by_source", b, "source")), total, base)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(m1.values.forall(identity))
    val aSnap = spark.read.parquet(s"$base/by_lang/published")
      .collect().map(_.toString).sorted.toSeq
    val bSnap = spark.read.parquet(s"$base/by_source/published")
      .collect().map(_.toString).sorted.toSeq
    // poison ONE table (dup key in by_source): the OTHER table's new
    // content must not land either — both survivors stay byte-identical
    val m2 = operators.Sources.atomicPublishStaged(spark,
      Seq(("by_lang", a.withColumn("n", col("n") + 1), "lang"),
        ("by_source", b.union(b.limit(1)), "source")), total, base)
      .collect().map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(!m2("by_source_dup_keys") && !m2("by_lang_published_rows"))
    assert(spark.read.parquet(s"$base/by_lang/published")
      .collect().map(_.toString).sorted.toSeq === aSnap,
      "the GOOD table's publish leaked through a failed snapshot")
    assert(spark.read.parquet(s"$base/by_source/published")
      .collect().map(_.toString).sorted.toSeq === bSnap)
    // round-13 advice pin: a crash MID-promote (audit green, first table
    // already promoted, second table's swap throws at the commit
    // failpoint) must roll the already-promoted tables back from
    // published.old before rethrowing — no persistently torn snapshot
    // beyond the documented rename window.
    // the staged content must differ from the published snapshot (else a
    // missing rollback would be invisible) while still passing the audit:
    // move one document's count between two langs — totals unchanged
    val langs = a.select("lang").as[String].collect().sorted
    val aShift = a.withColumn("n",
      when(col("lang") === langs.head, col("n") - 1)
        .when(col("lang") === langs.last, col("n") + 1)
        .otherwise(col("n")))
    val thrown = intercept[IllegalStateException] {
      CrashStates.withFailpoint(crashAt("by_source", "injected promote crash")) {
        operators.Sources.atomicPublishStaged(spark,
          Seq(("by_lang", aShift, "lang"), ("by_source", b, "source")), total, base)
      }
    }
    assert(thrown.getMessage.contains("injected promote crash"))
    assert(spark.read.parquet(s"$base/by_lang/published")
      .collect().map(_.toString).sorted.toSeq === aSnap,
      "partial promote was not rolled back: by_lang kept the new content")
    assert(spark.read.parquet(s"$base/by_source/published")
      .collect().map(_.toString).sorted.toSeq === bSnap)
  }

  /** A commit failpoint that throws before the renames of the swap
    * into `<table>/published`. */
  private def crashAt(table: String, msg: String)(
      p: operators.Commit.Point, target: java.io.File): Unit =
    if (p == operators.Commit.BeforeRenames &&
        target.toString.endsWith(s"$table/published"))
      throw new IllegalStateException(s"$msg at $table")

  test("f21 race: one publisher wins, the stale loser is rejected and its retry includes the winner's rows") {
    import operators.Sources
    val base = s"$wh/occ"
    val cust = Tables.customer(spark, Sf)
    val snapshot = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("op", lit("upsert"))
    val payload = org.apache.spark.sql.types.StructType(
      snapshot.schema.filterNot(_.name == "op"))
    assert(Sources.optimisticMerge(spark, base, "init", snapshot, "c_custkey") === 1)
    assert(Sources.baseVersionOf(base, 1) === 0)
    // B stages against v1; A promotes v2 first
    val feedA = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
    val feedB = cust.filter(pmod(col("c_custkey"), lit(10L)) === 7)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op"))
    val (bvB, curB) = Sources.readForUpdate(spark, base, payload)
    val stagedB = Sources.stageOptimistic(spark, base, "pubB",
      Sources.mergeUpsertOver(curB, feedB, "c_custkey").drop("action"),
      Seq("c_custkey"))
    assert(Sources.optimisticMerge(spark, base, "pubA", feedA, "c_custkey") === 1)
    val v2Snap = spark.read.parquet(s"$base/published")
      .collect().map(_.toString).sorted.toSeq
    // the CAS rejects the stale staging: no clobber, staging discarded
    assert(!Sources.casPromote(base, stagedB, bvB),
      "stale base was accepted — lost update")
    assert(spark.read.parquet(s"$base/published")
      .collect().map(_.toString).sorted.toSeq === v2Snap,
      "rejected promote must leave the winner's table byte-identical")
    assert(!new java.io.File(stagedB).exists, "stale staging not discarded")
    // the retried merge re-derives from v2 — A's +100 updates survive
    assert(Sources.optimisticMerge(spark, base, "pubB", feedB, "c_custkey") === 1)
    assert(Sources.currentVersion(base) === 3)
    assert((1 to 3).map(Sources.baseVersionOf(base, _)) === Seq(0, 1, 2))
    val v3 = spark.read.parquet(s"$base/published")
    assert(v3.filter(pmod(col("c_custkey"), lit(10L)) === 7).count() === 0L,
      "B's deletes missing from the final version")
    val bumped = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"),
        (col("c_acctbal") + 100.0).as("want")).as[(Long, Double)].collect().toMap
    val got = v3.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_acctbal")).as[(Long, Double)].collect().toMap
    assert(got === bumped, "the WINNER's updates were lost in the retried merge")
    // retry exhaustion: the bounded loop must fail loudly, never spin —
    // exercised via the real require at maxRetries = 0
    val ex = intercept[IllegalArgumentException] {
      Sources.optimisticMerge(spark, base, "loser", feedA, "c_custkey",
        maxRetries = 0)
    }
    assert(ex.getMessage.contains("still stale"))
  }

  test("f22 multi-table CAS: stale snapshot rejects atomically; mid-commit crash rolls back") {
    import operators.Sources
    val base = s"$wh/mcas"
    val docs = Tables.documents(spark, Sf)
    def rollup(k: String) = docs.groupBy(k).agg(count(lit(1)).as("n"))
    def stage(job: String): Seq[(String, String)] = Seq(
      "by_lang" -> Sources.stageOptimistic(spark, s"$base/by_lang", job,
        rollup("lang"), Seq("lang")),
      "by_source" -> Sources.stageOptimistic(spark, s"$base/by_source", job,
        rollup("source"), Seq("source")))
    val v0 = Map("by_lang" -> 0, "by_source" -> 0)
    assert(Sources.atomicCasPublish(base, stage("init"), v0))
    val v1 = Map("by_lang" -> 1, "by_source" -> 1)
    def snap(n: String) = spark.read.parquet(s"$base/$n/published")
      .collect().map(_.toString).sorted.toSeq
    val (l1, s1) = (snap("by_lang"), snap("by_source"))
    // half-stale snapshot: by_lang advanced (a single-table publisher),
    // by_source did not — the WHOLE two-table commit must reject and
    // discard BOTH stagings
    val stagedB = stage("pubB")
    assert(Sources.casPromote(s"$base/by_lang",
      Sources.stageOptimistic(spark, s"$base/by_lang", "solo",
        rollup("lang").withColumn("n", col("n") + 1), Seq("lang")), 1))
    assert(!Sources.atomicCasPublish(base, stagedB,
      Map("by_lang" -> 1, "by_source" -> 1)),
      "half-stale snapshot committed — torn write")
    assert(snap("by_source") === s1, "rejected commit advanced a table")
    stagedB.foreach { case (_, dir) =>
      assert(!new java.io.File(dir).exists, s"staging not discarded: $dir")
    }
    // mid-commit crash: first table promotes, second throws — rollback
    // must restore the first table byte-identically
    val (l2, s2) = (snap("by_lang"), snap("by_source"))
    val ex = intercept[IllegalStateException] {
      CrashStates.withFailpoint(crashAt("by_source", "injected commit crash")) {
        Sources.atomicCasPublish(base,
          stage("pubC"), Map("by_lang" -> 2, "by_source" -> 1))
      }
    }
    assert(ex.getMessage.contains("injected commit crash"))
    assert(snap("by_lang") === l2, "mid-commit crash left a torn snapshot")
    assert(snap("by_source") === s2)
    // round-13 advice pin: a SECOND crash at the same base versions
    // runs after the first crash's rollback — the rollback must leave
    // nothing that makes the second one throw inside its catch (that
    // would mask the injected error and leave exactly the torn
    // snapshot the rollback exists to prevent)
    val ex2 = intercept[IllegalStateException] {
      CrashStates.withFailpoint(crashAt("by_source", "injected commit crash")) {
        Sources.atomicCasPublish(base,
          stage("pubD"), Map("by_lang" -> 2, "by_source" -> 1))
      }
    }
    assert(ex2.getMessage.contains("injected commit crash"),
      s"rollback masked the original error: ${ex2.getMessage}")
    assert(snap("by_lang") === l2, "repeat crash left a torn snapshot")
    assert(snap("by_source") === s2)
  }

  test("f23 deletion vectors: data files untouched, DV read ≡ copy-on-write, " +
    "idempotent re-delete, compaction round-trips and clears the vector") {
    import operators.Sources
    val base = s"$wh/dv"
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    Sources.writeAuditPublishStaged(spark, cust, cust.count(), base,
      keyCols = Seq("c_custkey"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def dataFiles(): Seq[(String, Long)] =
      new java.io.File(s"$base/published").listFiles
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).sorted.toSeq
    val filesBefore = dataFiles()
    val b = pmod(col("c_custkey"), lit(10L))
    // merge-on-read claim: the delete writes ONLY the sidecar
    assert(Sources.dvDelete(spark, base, b === 5) > 0L)
    assert(dataFiles() === filesBefore,
      "a DV delete touched a data file — that is copy-on-write")
    // the DV read is exactly the copy-on-write result
    assert(rows(Sources.readWithDv(spark, base)) ===
      rows(cust.filter(b =!= 5)))
    // idempotent: tombstoning tombstoned rows adds nothing
    assert(Sources.dvDelete(spark, base, b === 5) === 0L)
    // vectors accumulate across deletes
    assert(Sources.dvDelete(spark, base, b === 7) > 0L)
    val live = rows(cust.filter(b =!= 5 && b =!= 7))
    assert(rows(Sources.readWithDv(spark, base)) === live)
    // compaction: content round-trips, vector cleared, pre-compaction
    // snapshot retained in f14 history WITH its rows (the DV is not
    // part of the archived version — history is physical)
    val audit = Sources.dvCompact(spark, base, Seq("c_custkey"))
    assert(audit.filter(!col("ok")).isEmpty)
    assert(!new java.io.File(s"$base/dv").exists,
      "compaction must clear the vector")
    assert(rows(spark.read.parquet(s"$base/published")) === live)
    assert(rows(Sources.readAsOf(spark, base, 1)) === rows(cust),
      "the pre-compaction snapshot must keep every physical row")
    // the rewritten files are a fresh coordinate space: deletes keep working
    assert(Sources.dvDelete(spark, base, b === 3) > 0L)
    assert(rows(Sources.readWithDv(spark, base)) ===
      rows(cust.filter(b =!= 5 && b =!= 7 && b =!= 3)))
  }

  test("f23 DV swap crash recovery: the between-renames gap heals FORWARD " +
    "(never an empty vector), and a post-compaction stale dv_old is never restored") {
    import operators.{Commit, Sources}
    val base = s"$wh/dv_crash"
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    Sources.writeAuditPublishStaged(spark, cust, cust.count(), base,
      keyCols = Seq("c_custkey"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val b = pmod(col("c_custkey"), lit(10L))
    Sources.dvDelete(spark, base, b === 5)
    val v1 = rows(Sources.readDv(spark, base))
    // the killed-JVM state BETWEEN the second dvDelete's two renames,
    // captured at the commit failpoint: dv absent, dv_old = the older
    // vector, staging_dv = the complete newer vector
    val gap = CrashStates.at(base, Commit.BetweenRenames, "dv") {
      Sources.dvDelete(spark, base, b === 7) }
    val v2 = rows(Sources.readDv(spark, base))
    assert(v2.size > v1.size)
    CrashStates.restore(gap, base)
    val dv = new java.io.File(s"$base/dv")
    val dvOld = new java.io.File(s"$base/dv_old")
    val dvStaging = new java.io.File(s"$base/staging_dv")
    assert(!dv.exists && dvOld.exists && dvStaging.exists)
    // the recovery: readDv completes the swap forward to the NEW vector
    assert(rows(Sources.readDv(spark, base)) === v2,
      "the between-renames crash must heal to the new vector, not empty")
    assert(dv.exists && !dvStaging.exists && !dvOld.exists,
      "recovery must restore dv and clear the swap leftovers")
    assert(rows(Sources.readWithDv(spark, base)) ===
      rows(cust.filter(b =!= 5 && b =!= 7)),
      "a recovered vector must keep every tombstone")
    // post-compaction: a stale dv_old alone is NOT a crash state — the
    // vector was legitimately cleared, and restoring dv_old would
    // resurrect pre-compaction tombstones against rewritten files
    Sources.dvCompact(spark, base, Seq("c_custkey"))
    assert(!dv.exists && !dvStaging.exists && !dvOld.exists,
      "compaction must clear the vector AND the swap leftovers")
    dvOld.mkdirs() // a stray leftover from an ancient crash
    assert(rows(Sources.readDv(spark, base)) === Nil,
      "a stale dv_old must never be restored into a cleared vector")
  }

  test("f24 branching: zero-copy fork, write isolation, fast-forward merge, " +
    "stale rejection, re-fork rebase") {
    import operators.Sources
    val main = s"$wh/branch"
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // branching an unpublished table refuses loudly
    intercept[IllegalArgumentException] {
      Sources.createBranch(spark, main, "early")
    }
    Sources.writeAuditPublishStaged(spark, cust, cust.count(), main,
      keyCols = Seq("c_custkey"), retainVersions = true)
    val snap = rows(spark.read.parquet(s"$main/published"))
    assert(Sources.createBranch(spark, main, "exp") === 1)
    // duplicate branch names refuse
    intercept[IllegalArgumentException] {
      Sources.createBranch(spark, main, "exp")
    }
    // ZERO-COPY: the fork wrote one ref file, no data
    assert(new java.io.File(s"$main/branches/exp").listFiles.map(_.getName)
      .toSeq === Seq("_fork"), "a fork must copy no data")
    assert(rows(Sources.readBranch(spark, main, "exp")) === snap,
      "an unwritten branch reads the forked snapshot")
    // ISOLATION: a branch write leaves main byte-identical
    val b = pmod(col("c_custkey"), lit(10L))
    val bumped = Sources.readBranch(spark, main, "exp")
      .withColumn("c_acctbal",
        when(b === 2, col("c_acctbal") + 100.0).otherwise(col("c_acctbal")))
    Sources.writeBranch(spark, main, "exp", bumped, Seq("c_custkey"))
    assert(rows(spark.read.parquet(s"$main/published")) === snap,
      "a branch write leaked into main")
    val expRows = rows(Sources.readBranch(spark, main, "exp"))
    assert(expRows !== snap)
    // a second branch forked from the same base, then a fast-forward
    // merge of the first: main adopts the branch content, v1 archives
    Sources.createBranch(spark, main, "stale")
    assert(Sources.mergeBranch(spark, main, "exp", Seq("c_custkey")))
    assert(rows(spark.read.parquet(s"$main/published")) === expRows)
    assert(rows(Sources.readAsOf(spark, main, 1)) === snap,
      "pre-merge main must survive as the archived version")
    assert(new java.io.File(s"$main/branches/exp/_merged").exists)
    // STALE REJECTION: fork base 1, main now 2 — refused whole, main
    // and the stale branch both untouched
    assert(!Sources.mergeBranch(spark, main, "stale", Seq("c_custkey")))
    assert(rows(spark.read.parquet(s"$main/published")) === expRows)
    assert(!new java.io.File(s"$main/branches/stale/_merged").exists)
    // the rebase path: re-fork from current and merge cleanly
    assert(Sources.createBranch(spark, main, "stale2") === 2)
    assert(Sources.mergeBranch(spark, main, "stale2", Seq("c_custkey")),
      "a re-forked branch must fast-forward")
  }

  test("f24 concurrent merge race: two branches racing under main's publish " +
    "lock — exactly one fast-forwards, the loser CAS-rejects whole") {
    import operators.Sources
    val main = s"$wh/branch_race"
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Sources.writeAuditPublishStaged(spark, cust, cust.count(), main,
      keyCols = Seq("c_custkey"), retainVersions = true)
    val b = pmod(col("c_custkey"), lit(10L))
    // two branches forked from the SAME base, divergent content
    Seq(("r1", 100.0), ("r2", 200.0)).foreach { case (name, bump) =>
      Sources.createBranch(spark, main, name)
      Sources.writeBranch(spark, main, name,
        Sources.readBranch(spark, main, name).withColumn("c_acctbal",
          when(b === 2, col("c_acctbal") + bump).otherwise(col("c_acctbal"))),
        Seq("c_custkey"))
    }
    val (w1, w2) = (rows(Sources.readBranch(spark, main, "r1")),
      rows(Sources.readBranch(spark, main, "r2")))
    // race the merges from two real threads: the publish lock
    // serializes them, and whichever runs second sees main advanced
    // past its fork base and must reject — the f21/f22 CAS shape
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val gate = new java.util.concurrent.CountDownLatch(1)
    def racer(name: String) = Future {
      gate.await()
      Sources.mergeBranch(spark, main, name, Seq("c_custkey"))
    }
    val (f1, f2) = (racer("r1"), racer("r2"))
    gate.countDown()
    val results = Seq(Await.result(f1, 5.minutes), Await.result(f2, 5.minutes))
    assert(results.count(identity) === 1,
      s"exactly one racing merge must win, got $results")
    val winner = if (results.head) w1 else w2
    assert(rows(spark.read.parquet(s"$main/published")) === winner,
      "main must hold exactly the winning branch's content")
    assert(operators.Sources.currentVersion(main) === 2,
      "the losing merge must not have minted a version")
  }

  test("f24 branch-from-branch: the ref mechanics recurse — fork off a " +
    "WRITTEN branch works end-to-end, fork off an unwritten branch refuses") {
    import operators.Sources
    val main = s"$wh/branch_nest"
    val cust = Tables.customer(spark, Sf)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    Sources.writeAuditPublishStaged(spark, cust, cust.count(), main,
      keyCols = Seq("c_custkey"), retainVersions = true)
    val mainSnap = rows(spark.read.parquet(s"$main/published"))
    Sources.createBranch(spark, main, "exp")
    // an UNWRITTEN branch has no version ladder of its own — forking
    // from it refuses loudly (same guard as branching an unpublished
    // table), rather than silently forking from nothing
    intercept[IllegalArgumentException] {
      Sources.createBranch(spark, s"$main/branches/exp", "sub")
    }
    val b = pmod(col("c_custkey"), lit(10L))
    Sources.writeBranch(spark, main, "exp",
      Sources.readBranch(spark, main, "exp").withColumn("c_acctbal",
        when(b === 2, col("c_acctbal") + 100.0).otherwise(col("c_acctbal"))),
      Seq("c_custkey"))
    val expSnap = rows(Sources.readBranch(spark, main, "exp"))
    // a WRITTEN branch is itself a version ladder — the same ref-file
    // mechanics recurse: fork it, diverge, merge back into the PARENT
    val expBase = s"$main/branches/exp"
    assert(Sources.createBranch(spark, expBase, "sub") === 1)
    assert(rows(Sources.readBranch(spark, expBase, "sub")) === expSnap,
      "an unwritten sub-branch reads the parent branch's snapshot")
    Sources.writeBranch(spark, expBase, "sub",
      Sources.readBranch(spark, expBase, "sub").withColumn("c_acctbal",
        when(b === 5, col("c_acctbal") + 7.0).otherwise(col("c_acctbal"))),
      Seq("c_custkey"))
    val subSnap = rows(Sources.readBranch(spark, expBase, "sub"))
    assert(subSnap !== expSnap)
    assert(rows(Sources.readBranch(spark, main, "exp")) === expSnap,
      "a sub-branch write leaked into its parent branch")
    assert(rows(spark.read.parquet(s"$main/published")) === mainSnap,
      "a sub-branch write leaked into main")
    assert(Sources.mergeBranch(spark, expBase, "sub", Seq("c_custkey")),
      "merging a fresh sub-branch into its parent must fast-forward")
    assert(rows(Sources.readBranch(spark, main, "exp")) === subSnap,
      "the parent branch must adopt the sub-branch content")
    assert(rows(spark.read.parquet(s"$main/published")) === mainSnap,
      "a sub-branch merge must not move main")
  }

  test("f21 audit failure discards its staging — no orphan staging dirs") {
    import operators.Sources
    val base = s"$wh/occ_audit"
    val ex = intercept[IllegalArgumentException] {
      Sources.stageOptimistic(spark, base, "dupjob",
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), Seq("k"))
    }
    assert(ex.getMessage.contains("audit failed"))
    assert(!new java.io.File(s"$base/staging_dupjob").exists,
      "failed audit leaked an orphan staging dir under the table base")
  }

  test("f08 z-order files are narrow in BOTH dimensions; a linear sort is not") {
    val li = Tables.lineitem(spark, Sf).select("l_orderkey", "l_partkey")
    operators.Sources.zorderWrite(li, "l_orderkey", "l_partkey", s"$wh/z", 8)
    li.repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$wh/linear")
    // per-file min/max envelope — what parquet stats-based skipping sees
    def envelopes(path: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("l_orderkey"), max("l_orderkey"),
          min("l_partkey"), max("l_partkey"))
        .as[(String, Long, Long, Long, Long)].collect().toSeq
        .map(e => (e._2, e._3, e._4, e._5))
    val z = envelopes(s"$wh/z")
    val lin = envelopes(s"$wh/linear")
    assert(z.length === 8 && lin.length === 8)
    // a narrow band on the SECOND dimension (12.5% of the partkey
    // domain): how many files can a stats-pruned scan NOT skip?
    val pkMax = li.agg(max("l_partkey")).as[Long].collect().head
    val (lo, hi) = (0L, pkMax / 8)
    def cannotSkip(env: Seq[(Long, Long, Long, Long)]): Int =
      env.count(e => e._3 <= hi && e._4 >= lo)
    assert(cannotSkip(lin) === lin.length,
      "linear layout: every file spans the full second-dimension domain")
    assert(cannotSkip(z) <= z.length / 2,
      s"z-order: the band must prune at least half the files " +
        s"(${cannotSkip(z)} of ${z.length} remain)")
    // layout only: the row multiset survives the clustered write
    val a = spark.read.parquet(s"$wh/z")
      .groupBy("l_orderkey", "l_partkey").count()
    val b = li.groupBy("l_orderkey", "l_partkey").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("f09 WAP rejection: a poisoned staged table never publishes") {
    import graft.operators.Sources
    val base = java.nio.file.Files.createTempDirectory("graft-wap-rej").toString
    // duplicate key AND wrong expected count: two independent failures
    val poisoned = Seq((1L, 5L), (1L, 5L), (2L, 3L)).toDF("doc_id", "norm_len")
    val manifest = Sources.writeAuditPublishStaged(spark, poisoned, 99L, base)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(!manifest("rows_match_expected")._2)
    assert(manifest("dup_keys") === ((1L, false)))
    assert(manifest("published_rows") === ((0L, false)))
    assert(!new java.io.File(s"$base/published").exists(),
      "rejected stage must never appear at the published location")
    // the staged data is retained for debugging, not silently dropped
    assert(new java.io.File(s"$base/staging").exists())
  }

  test("f09 WAP happy path: audits pass and the published read-back matches") {
    import graft.operators.Sources
    val base = java.nio.file.Files.createTempDirectory("graft-wap-ok").toString
    val derived = Seq((1L, 5L), (2L, 3L), (3L, 9L)).toDF("doc_id", "norm_len")
    val manifest = Sources.writeAuditPublishStaged(spark, derived, 3L, base)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(manifest.values.forall(_._2), s"all checks should pass: $manifest")
    assert(manifest("published_rows")._1 === 3L)
    assert(new java.io.File(s"$base/published").exists())
    assert(!new java.io.File(s"$base/staging").exists(), "staging moved, not copied")
    val back = spark.read.parquet(s"$base/published")
      .as[(Long, Long)].collect().toSet
    assert(back === Set((1L, 5L), (2L, 3L), (3L, 9L)))
  }

  test("f09 WAP observed row count sits above every exchange of the stage write") {
    // the retry argument in Sources.writeAuditPublishImpl: an observe
    // with no exchange above it runs only in the write job's result
    // tasks, so a task or stage retry cannot count a partition twice
    import graft.operators.Sources
    import org.apache.spark.sql.execution.{CollectMetricsExec, CommandResultExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    // the ancestors of every CollectMetricsExec under p
    def above(p: SparkPlan, anc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
      case _: CollectMetricsExec => Seq(anc)
      case _ => kids(p).flatMap(above(_, p :: anc))
    }
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val base = java.nio.file.Files.createTempDirectory("graft-wap-obs").toString
    // an aggregate and a sort: two exchanges inside the staged frame
    val derived = (1L to 200L).toDF("k")
      .groupBy((col("k") % 37).as("doc_id")).agg(count(lit(1)).as("norm_len"))
      .orderBy("doc_id")
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val manifest =
      try {
        val m = Sources.writeAuditPublishStaged(spark, derived, base, Seq("doc_id"),
          false, None).collect()
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        m
      } finally spark.listenerManager.unregister(listener)
    assert(manifest.forall(_.getBoolean(2)), manifest.mkString(", "))
    val stage = writes.asScala.filter(w => above(w, Nil).nonEmpty).toSeq
    assert(stage.size === 1, s"one observed stage write: ${writes.asScala.mkString("\n")}")
    val paths = above(stage.head, Nil)
    assert(paths.size === 1, stage.head.toString)
    assert(!paths.head.exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"an exchange sits above the observed count:\n${stage.head}")
    assert(nodes(stage.head).count(_.isInstanceOf[ShuffleExchangeLike]) >= 2,
      s"fixture must shuffle below the observe:\n${stage.head}")
  }

  test("f10 compaction: file count hits the declared target, strictly fewer files") {
    // layout facts the SQL oracle cannot see: the compacted directory
    // holds exactly n_target_files parquet parts, strictly fewer than
    // the 64-way fragmented layout, and content survives the rewrite
    def parts(p: String) = Option(new java.io.File(p).listFiles())
      .map(_.count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))).getOrElse(0)
    val row = operators.Sources.compaction(spark, Sf).head()
    val (nRows, target) = (row.getLong(0), row.getLong(2))
    assert(nRows > 0 && target > 0)
    val (frag, compacted) = operators.Sources.compactionDirs
    assert(parts(compacted) === target.toInt,
      "compacted layout must hold exactly the declared target file count")
    assert(parts(frag) > parts(compacted),
      "compaction must strictly reduce the file count")
    // fidelity: the compacted re-read is row-identical to the source
    val src = Tables.documents(spark, Sf).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val back = spark.read.parquet(compacted)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === src)
  }

  test("f12 corrupt records: bad rows quarantined whole, clean rows lossless") {
    import org.apache.spark.sql.functions._
    val row = operators.Sources.corruptRecords(spark, Sf).head()
    val want = Tables.part(spark, Sf)
      .agg(count(lit(1)),
        sum((col("p_partkey") % 13 === 0).cast("long")),
        sum((col("p_partkey") % 13 =!= 0).cast("long")),
        sum(when(col("p_partkey") % 13 =!= 0, col("p_size"))))
      .head()
    assert(row.getLong(0) === want.getLong(0))            // every line arrives
    assert(row.getLong(1) === want.getLong(1))            // all planted rows corrupt
    assert(row.getLong(2) === want.getLong(2))            // nothing silently dropped
    assert(row.getLong(3) === want.getLong(3))            // clean values lossless
    assert(row.getLong(1) > 0, "fixture must plant at least one corrupt row")
  }

  test("f11 dynamic overwrite touches ONE partition; siblings survive verbatim") {
    import org.apache.spark.sql.functions._
    val got = operators.Sources.partitionOverwrite(spark, Sf)
      .as[(String, Long, Long)].collect().toSeq
    val target = Tables.documents(spark, Sf)
      .agg(min(col("lang"))).head().getString(0)
    def sums(transformTarget: Boolean) = Tables.documents(spark, Sf)
      .withColumn("text",
        when(lit(transformTarget) && col("lang") === target,
          upper(col("text"))).otherwise(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long")), lit(0L)).as("cs"))
      .orderBy("lang").as[(String, Long, Long)].collect().toSeq
    val want = sums(transformTarget = true)
    assert(got === want)
    // every lang partition still present with full rows (a STATIC-mode
    // overwrite would have deleted every non-target partition)...
    assert(got.map(_._1) === sums(false).map(_._1))
    // ...and the non-target partitions' content is bit-identical to the
    // ORIGINAL (untouched files), while the target's differs
    val orig = sums(transformTarget = false).map(r => r._1 -> r._3).toMap
    got.foreach { case (lang, _, cs) =>
      if (lang == target) assert(cs !== orig(lang), "target must be rewritten")
      else assert(cs === orig(lang), s"sibling $lang must be untouched")
    }
  }

  test("f13 merge algebra on a planted feed: update/insert/delete/kept exact") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (2L, "b2", 22.0, "upsert"),  // matched → updated
      (4L, "d", 40.0, "upsert"),   // unmatched → inserted
      (3L, "c", 30.0, "delete"),   // matched → gone
      (9L, "x", 0.0, "delete"))    // unmatched tombstone → no-op
      .toDF("k", "name", "bal", "op")
    val got = operators.Sources.mergeUpsertOver(target, changes, "k")
      .orderBy("k").as[(Long, String, Double, String)].collect().toSeq
    assert(got === Seq(
      (1L, "a", 10.0, "kept"),
      (2L, "b2", 22.0, "updated"),
      (4L, "d", 40.0, "inserted")))
  }

  test("f13 merge rejects a malformed op instead of merging it silently") {
    val target = Seq((1L, "a", 10.0)).toDF("k", "name", "bal")
    val bad = Seq((1L, "a2", 11.0, "update")) // not in {upsert, delete}
      .toDF("k", "name", "bal", "op")
    val ex = intercept[Exception] {
      operators.Sources.mergeUpsertOver(target, bad, "k").collect()
    }
    // the raise_error message survives Spark's task-failure wrapping
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("op must be 'upsert' or 'delete'")),
      s"unexpected failure: ${msgs(ex).mkString(" | ")}")
  }

  test("f13 row identity through storage: published re-read ≡ in-memory merge") {
    val published = operators.Sources.mergeUpsert(spark, Sf)
      .as[(Long, String, Double, String)].collect().toSeq
    val cust = Tables.customer(spark, Sf)
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val changes = cust.filter(col("c_custkey") % 10 === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
      .unionByName(cust.filter(col("c_custkey") % 10 === 5)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("delete").as("op")))
      .unionByName(cust.filter(col("c_custkey") % 10 === 8)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("New#"), col("c_custkey").cast("string")).as("c_name"),
          col("c_custkey").cast("double").as("c_acctbal"),
          lit("upsert").as("op")))
    val inMemory = operators.Sources.mergeUpsertOver(target, changes, "c_custkey")
      .orderBy("c_custkey").as[(Long, String, Double, String)].collect().toSeq
    assert(published === inMemory)
    // sanity: all three actions actually occur at this SF
    assert(published.map(_._4).toSet === Set("kept", "updated", "inserted"))
  }

  test("f14 version ladder: three publishes readable AS-OF, out-of-range throws") {
    val base = java.nio.file.Files.createTempDirectory("graft-asof-spec").toString
    def pub(rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("k", "v")
      operators.Sources.writeAuditPublishStaged(spark, df, rows.size.toLong,
        base, keyCols = Seq("k"), retainVersions = true)
    }
    val gens = Seq(
      Seq((1L, "a")),
      Seq((1L, "a2"), (2L, "b")),
      Seq((2L, "b"), (3L, "c")))
    gens.foreach(pub)
    assert(operators.Sources.currentVersion(base) === 3)
    gens.zipWithIndex.foreach { case (want, i) =>
      val got = operators.Sources.readAsOf(spark, base, i + 1)
        .orderBy("k").as[(Long, String)].collect().toSeq
      assert(got === want, s"version ${i + 1}")
    }
    intercept[IllegalArgumentException] {
      operators.Sources.readAsOf(spark, base, 4)
    }
    intercept[IllegalArgumentException] {
      operators.Sources.readAsOf(spark, base, 0)
    }
  }

  test("f16 retention: purge keeps newest 2, v1 throws, ids never slide") {
    val base = java.nio.file.Files.createTempDirectory("graft-vac-spec").toString
    def pub(rows: Seq[(Long, String)]): Unit =
      operators.Sources.writeAuditPublishStaged(spark, rows.toDF("k", "v"),
        rows.size.toLong, base, keyCols = Seq("k"), retainVersions = true)
    Seq(
      Seq((1L, "a")),
      Seq((1L, "a2"), (2L, "b")),
      Seq((2L, "b"), (3L, "c"))).foreach(pub)
    def readV(v: Int) = operators.Sources.readAsOf(spark, base, v)
      .orderBy("k").as[(Long, String)].collect().toSeq
    val pre2 = readV(2)
    val pre3 = readV(3)
    val v1Bytes = org.apache.commons.io.FileUtils
      .sizeOfDirectory(new java.io.File(s"$base/v1"))
    val m = operators.Sources.purgeVersions(spark, base, keepLast = 2)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(m.map(r => (r._1, r._2, r._3)) ===
      Seq((1L, "purged", 1L), (2L, "kept", 2L), (3L, "current", 2L)))
    assert(m.head._4 === v1Bytes, "manifest must record the reclaimed bytes")
    m.foreach(r => assert(r._4 > 0L))
    assert(!new java.io.File(s"$base/v1").exists, "v1 directory must be gone")
    // retained versions byte-identical to their pre-purge reads
    assert(readV(2) === pre2)
    assert(readV(3) === pre3)
    // in-range but vacuumed: the distinct out-of-retention diagnostic
    val ex = intercept[IllegalArgumentException] {
      operators.Sources.readAsOf(spark, base, 1)
    }
    assert(ex.getMessage.contains("out of retention"))
    assert(ex.getMessage.contains("earliest retained is 2"))
    // numbering is max-based: still at version 3, and the next publish
    // mints a FRESH id (v3 archive, version 4 current) — purged ids
    // are never reused
    assert(operators.Sources.currentVersion(base) === 3)
    pub(Seq((4L, "d")))
    assert(operators.Sources.currentVersion(base) === 4)
    assert(readV(4) === Seq((4L, "d")))
    assert(readV(3) === pre3, "archive of the replaced current is v3")
    // keepLast covering every version: a pure no-op audit pass
    val m2 = operators.Sources.purgeVersions(spark, base, keepLast = 10)
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(m2.map(r => (r._1, r._2)) ===
      Seq((2L, "kept"), (3L, "kept"), (4L, "current")))
  }

  test("f14 AS-OF v1 ≡ pre-merge snapshot bytes; current diverges") {
    // run the registry flow's publishes by hand so we hold the base dir
    val cust = Tables.customer(spark, Sf)
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val merged = operators.Sources.mergeUpsertOver(target,
      cust.filter(col("c_custkey") % 10 === 5)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("delete").as("op")), "c_custkey").drop("action")
    val base = java.nio.file.Files.createTempDirectory("graft-asof-spec2").toString
    operators.Sources.writeAuditPublishStaged(spark, target, target.count(),
      base, keyCols = Seq("c_custkey"), retainVersions = true)
    operators.Sources.writeAuditPublishStaged(spark, merged, merged.count(),
      base, keyCols = Seq("c_custkey"), retainVersions = true)
    val asof = operators.Sources.readAsOf(spark, base, 1)
      .orderBy("c_custkey").as[(Long, String, Double)].collect().toSeq
    val preMerge = target
      .orderBy("c_custkey").as[(Long, String, Double)].collect().toSeq
    assert(asof === preMerge, "AS-OF v1 must be the pre-merge snapshot, byte for byte")
    val cur = operators.Sources.readAsOf(spark, base, 2)
      .orderBy("c_custkey").as[(Long, String, Double)].collect().toSeq
    assert(cur !== asof, "current must have advanced past v1")
    assert(cur === preMerge.filterNot(_._1 % 10 == 5),
      "current ≡ merge applied to v1")
  }

  test("f15 change feed: planted versions yield exact CDC rows; unchanged silent") {
    val base = java.nio.file.Files.createTempDirectory("graft-cdf-spec").toString
    def pub(rows: Seq[(Long, String, Double)]): Unit =
      operators.Sources.writeAuditPublishStaged(spark,
        rows.toDF("k", "name", "bal"), rows.size.toLong, base,
        keyCols = Seq("k"), retainVersions = true)
    pub(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    pub(Seq((2L, "b", 20.0),          // unchanged → silent
      (3L, "c2", 30.0),               // name changed → update pair
      (4L, "d", 40.0)))               // new → insert; 1 gone → delete
    val got = operators.Sources.changesBetween(spark, base, 1, 2, "k")
      .as[(Long, String, Double, String)].collect().toSet
    assert(got === Set(
      (1L, "a", 10.0, "delete"),
      (3L, "c", 30.0, "update_preimage"),
      (3L, "c2", 30.0, "update_postimage"),
      (4L, "d", 40.0, "insert")))
  }

  test("f15 inverse property: applying the change feed to v1 reproduces v2") {
    // the CDC contract: v2 = v1 − deletes − preimages + inserts + postimages
    val cust = Tables.customer(spark, Sf)
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val merged = operators.Sources.mergeUpsertOver(target,
      cust.filter(col("c_custkey") % 10 === 2)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
        .unionByName(cust.filter(col("c_custkey") % 10 === 5)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            lit("delete").as("op"))), "c_custkey").drop("action")
    val base = java.nio.file.Files.createTempDirectory("graft-cdf-spec2").toString
    operators.Sources.writeAuditPublishStaged(spark, target, target.count(),
      base, keyCols = Seq("c_custkey"), retainVersions = true)
    operators.Sources.writeAuditPublishStaged(spark, merged, merged.count(),
      base, keyCols = Seq("c_custkey"), retainVersions = true)
    val feed = operators.Sources.changesBetween(spark, base, 1, 2, "c_custkey")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.select("c_custkey", "c_name", "c_acctbal")
        .as[(Long, String, Double)].collect().toSet
    val v1 = rows(operators.Sources.readAsOf(spark, base, 1))
    val v2 = rows(operators.Sources.readAsOf(spark, base, 2))
    val minus = rows(feed.filter(
      col("change_type").isin("delete", "update_preimage")))
    val plus = rows(feed.filter(
      col("change_type").isin("insert", "update_postimage")))
    assert((v1 -- minus) ++ plus === v2)
    assert(minus.subsetOf(v1) && plus.subsetOf(v2))
    assert((v1 & plus).isEmpty, "postimages must differ from their preimages")
  }

  // ———— bucketed O(Δ) store upserts (the s17–s20 publish path) ————

  /** Content fingerprint of a bucket dir: relative path → (size, MD5).
    * Byte-identity of untouched buckets is THE O(Δ) claim — if a delta
    * batch leaves a bucket's files bit-for-bit unchanged, it never
    * rewrote them. */
  private def fingerprint(dir: java.io.File): Map[String, (Long, String)] =
    Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isFile).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getName -> ((f.length(),
        md.digest(java.nio.file.Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString))
    }.toMap

  private def bucketDirs(base: String): Seq[java.io.File] =
    Option(new java.io.File(s"$base/published").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("bucket=")).toSeq
      .sortBy(_.getName)

  test("bucketed upsert: untouched buckets byte-identical, insert-only keeps " +
    "the stored row, redelivery skips, result ≡ full rewrite") {
    import operators.Sources
    val base = s"$wh/bup"
    val a = (1L to 200L).map(k => (k, s"payload_$k")).toDF("k", "v")
    val audit0 = Sources.bucketedUpsertStaged(spark, a, base, Seq("k"), "_batch_0")
    assert(audit0.filter(!col("ok")).isEmpty)
    assert(bucketDirs(base).size > 1, "fixture must span several buckets")
    val before = bucketDirs(base).map(d => d.getName -> fingerprint(d)).toMap
    // delta: two new keys + one RE-SENT key with a changed payload
    val delta = Seq((1001L, "new_a"), (1002L, "new_b"), (7L, "CONFLICT"))
      .toDF("k", "v")
    val touched = delta
      .select(Sources.bucketOf(Sources.MaintBuckets, Seq("k")).as("b"))
      .distinct().as[Int].collect().toSet
    assert(touched.size < Sources.MaintBuckets,
      "delta must leave at least one bucket untouched for the pin to bite")
    val audit1 = Sources.bucketedUpsertStaged(spark, delta, base, Seq("k"), "_batch_1")
    assert(audit1.filter(!col("ok")).isEmpty)
    // THE O(Δ) pin: every untouched bucket's files are bit-for-bit
    // unchanged — the batch never read or wrote them
    bucketDirs(base).filterNot(d =>
        touched.contains(d.getName.stripPrefix("bucket=").toInt))
      .foreach { d =>
        assert(fingerprint(d) === before(d.getName),
          s"${d.getName} was rewritten by a delta that never touched it")
      }
    // markers land on touched buckets only
    bucketDirs(base).foreach { d =>
      val b = d.getName.stripPrefix("bucket=").toInt
      assert(new java.io.File(d, "_batch_1").exists === touched.contains(b))
    }
    // bucketed ≡ full rewrite; insert-only means the STORE's row wins a
    // key conflict — consistently (the re-sent key keeps payload_7)
    val expect = ((1L to 200L).map(k => (k, s"payload_$k")) ++
      Seq((1001L, "new_a"), (1002L, "new_b"))).map(_.toString()).sorted
    def readStore(): Seq[String] =
      Sources.readBucketedStore(spark, base, a.schema)
        .as[(Long, String)].collect().map(_.toString()).sorted.toSeq
    assert(readStore() === expect)
    // redelivery with the same marker and DIFFERENT data: every touched
    // bucket carries the marker, so nothing moves — all dirs identical
    val after = bucketDirs(base).map(d => d.getName -> fingerprint(d)).toMap
    val audit2 = Sources.bucketedUpsertStaged(spark,
      Seq((9999L, "ghost")).toDF("k", "v"), base, Seq("k"), "_batch_1")
    assert(audit2.filter(!col("ok")).isEmpty)
    assert(bucketDirs(base).map(d => d.getName -> fingerprint(d)).toMap
      === after, "a marker-skipped redelivery mutated the store")
    // null keys fail the audit and nothing promotes
    val bad = Seq((Some(1L), "x"), (None: Option[Long], "null_key"))
      .toDF("k", "v")
    val audit3 = Sources.bucketedUpsertStaged(spark, bad, base, Seq("k"), "_batch_2")
    assert(audit3.filter(col("check_name") === "null_keys" && !col("ok"))
      .count() === 1L, "a null key must fail the audit")
    assert(readStore() === expect, "a failed audit must promote nothing")
  }

  test("bucketed upsert newWins + deletes: CDC apply at bucket grain, " +
    "untouched buckets byte-identical, empty-bucket delete promotes as removal") {
    import operators.Sources
    val base = s"$wh/bup_cdc"
    val a = (1L to 200L).map(k => (k, s"v0_$k")).toDF("k", "v")
    Sources.bucketedUpsertStaged(spark, a, base, Seq("k"), "_batch_0")
    val before = bucketDirs(base).map(d => d.getName -> fingerprint(d)).toMap
    // CDC batch: update key 3, insert key 5000, delete key 8
    val post = Seq((3L, "v1_3"), (5000L, "v1_5000")).toDF("k", "v")
    val dels = Seq(Tuple1(8L)).toDF("k")
    val touched = post.select("k").union(dels)
      .select(Sources.bucketOf(Sources.MaintBuckets, Seq("k")).as("b"))
      .distinct().as[Int].collect().toSet
    assert(touched.size < Sources.MaintBuckets)
    val audit = Sources.bucketedUpsertStaged(spark, post, base, Seq("k"),
      "_batch_1", newWins = true, deleteKeys = Some(dels))
    assert(audit.filter(!col("ok")).isEmpty)
    bucketDirs(base).filterNot(d =>
        touched.contains(d.getName.stripPrefix("bucket=").toInt))
      .foreach(d => assert(fingerprint(d) === before(d.getName)))
    val expect = ((1L to 200L).filterNot(_ == 8L).filterNot(_ == 3L)
      .map(k => (k, s"v0_$k")) ++ Seq((3L, "v1_3"), (5000L, "v1_5000")))
      .map(_.toString()).sorted
    assert(Sources.readBucketedStore(spark, base, a.schema)
      .as[(Long, String)].collect().map(_.toString()).sorted.toSeq === expect)
    // deleting EVERY key of one bucket promotes the bucket's removal —
    // and the store stays readable
    val all = Sources.readBucketedStore(spark, base, a.schema)
      .withColumn("b", Sources.bucketOf(Sources.MaintBuckets, Seq("k")))
    val victim = all.groupBy("b").count().orderBy("b").limit(1)
      .select("b").as[Int].head()
    val victimKeys = all.filter(col("b") === victim).select("k")
    val survivors = all.filter(col("b") =!= victim)
      .select("k", "v").as[(Long, String)].collect().map(_.toString()).sorted.toSeq
    val audit2 = Sources.bucketedUpsertStaged(spark,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        a.schema),
      base, Seq("k"), "_batch_2", newWins = true, deleteKeys = Some(victimKeys))
    assert(audit2.filter(!col("ok")).isEmpty)
    assert(!new java.io.File(s"$base/published/bucket=$victim").exists,
      "an all-rows-deleted bucket must be removed")
    assert(Sources.readBucketedStore(spark, base, a.schema)
      .as[(Long, String)].collect().map(_.toString()).sorted.toSeq === survivors)
  }

  test("f25 bucket rescale: content identical at the new modulus, routing " +
    "exact, upserts continue at the new width, crash heals forward") {
    import operators.{Commit, Sources}
    val base = s"$wh/rescale"
    val a = (1L to 300L).map(k => (k, s"v_$k")).toDF("k", "v")
    Sources.bucketedUpsertStaged(spark, a, base, Seq("k"), "_batch_0")
    def content(): Seq[(Long, String)] =
      Sources.readBucketedStore(spark, base, a.schema)
        .as[(Long, String)].collect().sorted.toSeq
    val before = content()
    val audit = Sources.rebucketStore(spark, base, Seq("k"), 32)
    assert(audit.filter(!col("ok")).isEmpty)
    // the layout actually widened, every row routed by the NEW modulus,
    // and the content is identical as a set
    val out = spark.read.parquet(s"$base/published")
    assert(out.filter(col("bucket") =!= Sources.bucketOf(32, Seq("k")))
      .count() === 0L, "a row survived the rescale in a stale bucket")
    assert(out.select("bucket").distinct().count() > Sources.MaintBuckets,
      "the rescale must widen the physical layout")
    assert(content() === before, "the rescale changed the content")
    // the store keeps absorbing deltas at the new width
    Sources.bucketedUpsertStaged(spark, Seq((9001L, "new")).toDF("k", "v"),
      base, Seq("k"), "_batch_1", nBuckets = 32)
    assert(content() === (before :+ ((9001L, "new"))).sorted)
    // killed-JVM states of a second rescale's layout swap, captured at
    // the commit failpoint. BETWEEN the renames: published absent,
    // restage = the complete audited layout with its marker — the next
    // reader completes the swap forward
    val pub = new java.io.File(s"$base/published")
    val restage = new java.io.File(s"$base/staging_rescale")
    val want = content()
    val states = CrashStates.capture(base) {
      Sources.rebucketStore(spark, base, Seq("k"), 32) }.toMap
    CrashStates.restore(states(s"${Commit.BetweenRenames}@published"), base)
    assert(content() === want, "the mid-swap crash must heal forward")
    assert(pub.exists && !restage.exists)
    // BEFORE the renames: published intact, restage complete and marked
    // — completed forward too, never left behind for a later reader
    CrashStates.restore(states(s"${Commit.BeforeRenames}@published"), base)
    assert(content() === want)
    assert(!restage.exists, "a complete restage must not be left behind")
  }

  test("bucketed upsert crash recovery: the mid-swap gap heals forward " +
    "(killed-JVM state), and readers self-heal") {
    import operators.{Commit, Sources}
    val base = s"$wh/bup_crash"
    val a = (1L to 100L).map(k => (k, s"v0_$k")).toDF("k", "v")
    Sources.bucketedUpsertStaged(spark, a, base, Seq("k"), "_batch_0")
    val delta = Seq((2001L, "new")).toDF("k", "v")
    val b = delta.select(Sources.bucketOf(Sources.MaintBuckets, Seq("k")).as("b"))
      .as[Int].head()
    // the killed-JVM state BETWEEN a bucket's two renames, captured at
    // the commit failpoint: published/bucket=b absent, aside_bucket_b =
    // the old bucket, staging/bucket=b = the complete new bucket
    val gap = CrashStates.at(base, Commit.BetweenRenames, s"bucket=$b") {
      Sources.bucketedUpsertStaged(spark, delta, base, Seq("k"), "_batch_1") }
    val want = Sources.readBucketedStore(spark, base, a.schema)
      .as[(Long, String)].collect().map(_.toString()).sorted.toSeq
    CrashStates.restore(gap, base)
    val pub = new java.io.File(s"$base/published/bucket=$b")
    val aside = new java.io.File(s"$base/aside_bucket_$b")
    assert(!pub.exists && aside.exists)
    // the reader heals forward from the staged dir and clears the aside
    assert(Sources.readBucketedStore(spark, base, a.schema)
      .as[(Long, String)].collect().map(_.toString()).sorted.toSeq === want,
      "the mid-swap crash must heal to the complete staged bucket")
    assert(pub.exists && !aside.exists,
      "recovery must restore the bucket and clear the aside")
  }

  test("bucketed upsert sum-merge + subset routing: counters add exactly once, " +
    "pruned probe reads only its buckets") {
    import operators.Sources
    val base = s"$wh/bup_sum"
    // keyed (g, m), bucketed by g alone — the shidx routing shape
    val a = (1L to 100L).map(k => (s"g_${k % 25}", (k % 4).toInt, 1L)).toDF("g", "m", "n")
      .groupBy("g", "m").agg(sum("n").as("n"))
    Sources.bucketedUpsertStaged(spark, a, base, Seq("g", "m"), "_batch_0",
      bucketCols = Seq("g"), sumCols = Seq("n"))
    val before = bucketDirs(base).map(d => d.getName -> fingerprint(d)).toMap
    // delta overlaps half the keys and adds a new one
    val delta = Seq(("g_1", 1, 10L), ("g_2", 2, 20L), ("g_new", 0, 5L))
      .toDF("g", "m", "n")
    val touched = delta
      .select(Sources.bucketOf(Sources.MaintBuckets, Seq("g")).as("b"))
      .distinct().as[Int].collect().toSet
    assert(touched.size < Sources.MaintBuckets,
      "delta must leave buckets untouched for the pins to bite")
    val audit = Sources.bucketedUpsertStaged(spark, delta, base, Seq("g", "m"),
      "_batch_1", bucketCols = Seq("g"), sumCols = Seq("n"))
    assert(audit.filter(!col("ok")).isEmpty)
    // counters added exactly once; untouched rows untouched
    def readStore(): Map[(String, Int), Long] =
      Sources.readBucketedStore(spark, base, delta.schema)
        .as[(String, Int, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val expect = a.as[(String, Int, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap ++
      Map(("g_1", 1) -> (a.filter(col("g") === "g_1" && col("m") === 1)
        .select("n").as[Long].head() + 10L),
        ("g_2", 2) -> (a.filter(col("g") === "g_2" && col("m") === 2)
          .select("n").as[Long].head() + 20L),
        ("g_new", 0) -> 5L)
    assert(readStore() === expect)
    bucketDirs(base).filterNot(d =>
        touched.contains(d.getName.stripPrefix("bucket=").toInt))
      .foreach(d => assert(fingerprint(d) === before(d.getName),
        s"${d.getName} rewritten by a delta that never routed to it"))
    // THE load-bearing sum-merge pin: a redelivered batch (same marker)
    // must NOT add its counters a second time
    Sources.bucketedUpsertStaged(spark, delta, base, Seq("g", "m"),
      "_batch_1", bucketCols = Seq("g"), sumCols = Seq("n"))
    assert(readStore() === expect, "redelivery double-added counters")
    // bucket-pruned probe: only the named buckets' files enter the scan
    val probe = Sources.readBucketedStoreBuckets(spark, base, delta.schema,
      touched.toSeq)
    val allowed = touched.map(b => s"$base/published/bucket=$b/")
    assert(probe.inputFiles.nonEmpty && probe.inputFiles.forall(f =>
        allowed.exists(f.replaceFirst("^file:/*", "/").startsWith)),
      s"pruned probe escaped its buckets: ${probe.inputFiles.toSeq}")
    // and it returns exactly the store's rows that route there
    assert(probe.as[(String, Int, Long)].collect().toSet ===
      Sources.readBucketedStore(spark, base, delta.schema)
        .filter(Sources.bucketOf(Sources.MaintBuckets, Seq("g"))
          .isin(touched.toSeq.map(Integer.valueOf): _*))
        .as[(String, Int, Long)].collect().toSet)
  }

  test("s17 batch plan is bucket-pruned end to end: input files stay inside " +
    "the touched buckets (no corpus-sized scan)") {
    import operators.{Sources, Streaming}
    val base = s"$wh/s17_pruned"
    // bootstrap corpus: enough docs to populate several buckets
    val corpus = (1L to 60L)
      .map(k => (k, s"tok${k}a tok${k}b tok${k}c tok${k}d tok${k}e"))
      .toDF("doc_id", "text")
    Streaming.pairStoreSink(base)(corpus, 0L)
    val dfBefore = bucketDirs(s"$base/shdf")
      .map(d => d.getName -> fingerprint(d)).toMap
    // a one-doc batch: its few shingles route to a strict bucket subset
    val batch = Seq((1001L, "tokZa tokZb tokZc tokZd")).toDF("doc_id", "text")
    val newDocs = batch.join(
      Sources.readBucketedStoreBuckets(spark, s"$base/docs", batch.schema,
        Sources.touchedBucketIds(batch, Seq("doc_id")))
        .select(col("doc_id")), Seq("doc_id"), "left_anti")
    val shBuckets = Streaming.shingleStoreMerge(spark, base, newDocs, 1L)
    assert(shBuckets.size < Sources.MaintBuckets,
      "fixture must leave shingle buckets untouched for the pin to bite")
    val (pairs, cached) = Streaming.incrementalPairs(spark, base, newDocs, shBuckets)
    try {
      // THE read-side O(Δ) pin: every file the pair plan reads lives in
      // a TOUCHED shdf/shidx bucket or a docs bucket — never in an
      // untouched shingle bucket, never in a corpus-sized relation.
      // Collected from the ANALYZED plan: the candidate subtree is
      // persisted, and inputFiles on the optimized plan would hide its
      // scans behind the InMemoryRelation substitution.
      def scanFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.queryExecution.analyzed.collectLeaves().flatMap {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.inputFiles.toSeq
              case _ => Nil
            }
          case _ => Nil
        }.toSeq
      val shAllowed = shBuckets.flatMap(b => Seq(
        s"$base/shdf/published/bucket=$b/", s"$base/shidx/published/bucket=$b/"))
      val files = scanFiles(pairs).map(_.replaceFirst("^file:/*", "/"))
      val offenders = files.filterNot(f =>
        shAllowed.exists(f.startsWith) || f.startsWith(s"$base/docs/published/"))
      assert(offenders.isEmpty,
        s"pair plan read outside the touched buckets: $offenders")
      assert(files.exists(_.startsWith(s"$base/shidx/published/")),
        "vacuous pin: the plan must actually probe the shingle index")
      pairs.collect() // the plan executes cleanly end to end
    } finally cached.unpersist()
    // untouched shingle-DF buckets are byte-identical across the batch
    bucketDirs(s"$base/shdf").filterNot(d =>
        shBuckets.contains(d.getName.stripPrefix("bucket=").toInt))
      .foreach(d => assert(fingerprint(d) === dfBefore(d.getName),
        s"shdf ${d.getName} rewritten by a batch that never touched it"))
  }

  test("s17 zipf-head eviction: a shingle crossing the df cap leaves the " +
    "posting index that batch, and the store still matches one-shot") {
    import operators.{PairGraph, Sources, Streaming}
    val base = s"$wh/s17_evict"
    val cap = PairGraph.MaxShingleDf.toInt
    // every doc shares "hot hot1 hot2"; unique tails keep pairs apart
    def doc(k: Long) = (k, s"hot hot1 hot2 u${k}a u${k}b u${k}c")
    val b0 = (1L to (cap - 5L)).map(doc).toDF("doc_id", "text")
    val b1 = ((cap - 4L) to (cap + 5L)).map(doc).toDF("doc_id", "text")
    Streaming.pairStoreSink(base)(b0, 0L)
    def hotPostings(): Long =
      spark.read.parquet(s"$base/shidx/published")
        .filter(col("shingle") === "hot hot1 hot2").count()
    assert(hotPostings() === cap - 5L,
      "rare-phase postings must be indexed")
    Streaming.pairStoreSink(base)(b1, 1L)
    assert(hotPostings() === 0L,
      "crossing the cap must evict the shingle's postings")
    val dfRow = spark.read.parquet(s"$base/shdf/published")
      .filter(col("shingle") === "hot hot1 hot2").select("df").as[Long].collect()
    assert(dfRow.toSeq === Seq(cap + 5L),
      "the maintained df keeps counting past the cap")
    // and the published pair relation still equals the one-shot batch
    // derivation over the full corpus (vacuously empty here: the only
    // shared shingle is hot / sub-threshold — assert BOTH empty)
    val oneShot = PairGraph.jaccardPairsOver(
      operators.LlmOps.docShinglesOver(b0.unionByName(b1)), 0.8,
      PairGraph.MaxShingleDf)
    val storePairs = new java.io.File(s"$base/pairs/published")
    assert(oneShot.isEmpty)
    assert(!storePairs.exists ||
      spark.read.parquet(storePairs.toString).isEmpty)
  }

  test("s17 eviction with a rare-phase pair: a pair verified while its " +
    "shingles were rare SURVIVES the cap crossing; one-shot would drop it " +
    "— the superset semantics pinned non-vacuously") {
    import operators.{PairGraph, Streaming}
    val base = s"$wh/s17_evict_pair"
    // batch 0: two identical docs — 3 shared shingles, each df = 2
    // (rare), so pair (1,2) verifies at jac = 1.0 and publishes
    val b0 = Seq((1L, "p1 p2 p3 p4 p5"), (2L, "p1 p2 p3 p4 p5"))
      .toDF("doc_id", "text")
    Streaming.pairStoreSink(base)(b0, 0L)
    def pairs(): Seq[(Long, Long, Double)] =
      spark.read.parquet(s"$base/pairs/published")
        .select("i", "j", "jac").as[(Long, Long, Double)].collect().toSeq
    assert(pairs() === Seq((1L, 2L, 1.0)), "rare-phase pair must publish")
    // batch 1: 25 docs carry the same phrase behind unique tails — the
    // shared shingles cross the df cap (2 + 25 > 20) while every NEW
    // candidate dies on the size-ratio prefilter (8 shingles vs 3) or
    // post-merge rarity (the shared shingles are already hot)
    val b1 = (101L to 125L)
      .map(k => (k, s"p1 p2 p3 p4 p5 u${k}a u${k}b u${k}c u${k}d u${k}e"))
      .toDF("doc_id", "text")
    Streaming.pairStoreSink(base)(b1, 1L)
    assert(spark.read.parquet(s"$base/shidx/published")
      .filter(col("shingle") === "p1 p2 p3").count() === 0L,
      "cap crossing must evict the shared shingle's postings")
    // THE intended store semantics: pairs are verified against the
    // union-so-far df, and eviction stops FUTURE candidate generation —
    // it never retracts verified history. The rare-phase pair stays.
    assert(pairs() === Seq((1L, 2L, 1.0)),
      "cap crossing must not retract the rare-phase pair")
    // …while the one-shot derivation over the FINAL corpus suppresses
    // the pair (its only shared shingles are hot there): the store is a
    // strict superset in exactly this case — the honest trade the s17
    // scaladoc documents, and the reason convergence specs carry a
    // per-sf set-equality precondition
    val oneShot = PairGraph.jaccardPairsOver(
      operators.LlmOps.docShinglesOver(b0.unionByName(b1)), 0.8,
      PairGraph.MaxShingleDf)
    assert(oneShot.isEmpty,
      "fixture drift: one-shot must suppress the hot-shingle pair for " +
        "the superset pin to bite")
  }

  test("f17 manifest store: incremental add/compact/delete ≡ full recompute, " +
    "untouched manifest buckets byte-identical") {
    import operators.Sources
    val layout = s"$wh/f17_layout"
    val store = s"$wh/f17_manifest"
    // file_id lives in the directory name only, as the production
    // writer's partitionBy("file_id") lays it out
    def bin(b: Long, keys: Seq[Long]): Unit =
      keys.toDF("l_orderkey").write.mode("overwrite").parquet(s"$layout/file_id=$b")
    (0L to 5L).foreach(b => bin(b, (b * 100 + 1) to (b * 100 + 50)))
    def fullRecompute(): Set[(Long, Long, Long, Long)] =
      spark.read.parquet(layout)
        .withColumn("file_id", col("file_id").cast("long"))
        .groupBy("file_id")
        .agg(min("l_orderkey").as("mn"), max("l_orderkey").as("mx"),
          count(lit(1)).as("cnt"))
        .as[(Long, Long, Long, Long)].collect().toSet
    def storeRows(): Set[(Long, Long, Long, Long)] =
      Sources.readBucketedStore(spark, store, Sources.ManifestSchema)
        .as[(Long, Long, Long, Long)].collect().toSet
    // bootstrap: every file
    Sources.refreshManifest(spark, layout, store, Sources.listFileIds(layout))
    assert(storeRows() === fullRecompute())
    val before = bucketDirs(store).map(d => d.getName -> fingerprint(d)).toMap
    // ADD a file: refresh names only the new id
    bin(99L, 9901L to 9920L)
    Sources.refreshManifest(spark, layout, store, Seq(99L))
    assert(storeRows() === fullRecompute(), "add diverged from recompute")
    // COMPACT a file (rewrite with different content): row replaced
    bin(3L, Seq(301L, 399L))
    Sources.refreshManifest(spark, layout, store, Seq(3L))
    assert(storeRows() === fullRecompute(), "compaction diverged")
    // DELETE a file: its manifest row drops
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$layout/file_id=5"))
    Sources.refreshManifest(spark, layout, store, Seq(5L))
    assert(storeRows() === fullRecompute(), "delete left a stale row")
    assert(!storeRows().exists(_._1 == 5L))
    // untouched manifest buckets never rewritten across the three
    // mutations (the O(Δ) grain at manifest scale)
    val touchedIds = Seq(99L, 3L, 5L).toDF("file_id")
      .select(Sources.bucketOf(Sources.MaintBuckets, Seq("file_id")).as("b"))
      .distinct().as[Int].collect().toSet
    bucketDirs(store).filterNot(d =>
        touchedIds.contains(d.getName.stripPrefix("bucket=").toInt))
      .foreach(d => assert(fingerprint(d) === before(d.getName),
        s"manifest ${d.getName} rewritten by a refresh that never touched it"))
  }

  test("f13 Type-1 merge of the latest-change feed ≡ e31 SCD2 current rows") {
    // SCD Type-2 keeps history; Type-1 keeps only the latest value. So
    // merging each user's LAST event (by the e31 (ts, event_id) order)
    // into an empty snapshot must land exactly on e31's is_current rows.
    val emptyTarget = Seq.empty[(Long, String)].toDF("user_id", "event_type")
    val latest = Tables.events(spark, Sf)
      .groupBy("user_id")
      .agg(expr("max_by(event_type, struct(ts, event_id))").as("event_type"))
      .withColumn("op", lit("upsert"))
    val merged = operators.Sources.mergeUpsertOver(emptyTarget, latest, "user_id")
    assert(merged.select("action").distinct().as[String].collect().toSeq ===
      Seq("inserted"))
    val got = merged.select("user_id", "event_type")
      .orderBy("user_id").as[(Long, String)].collect().toSeq
    val scd2Current = operators.Relational.scd2Intervals(spark, Sf)
      .filter(col("is_current"))
      .select("user_id", "event_type")
      .orderBy("user_id").as[(Long, String)].collect().toSeq
    assert(got === scd2Current)
  }
}
