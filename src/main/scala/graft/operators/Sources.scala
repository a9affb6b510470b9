package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-format source/sink exercises beyond parquet and text: CSV and
  * JSON (line-delimited) round-trips.
  *
  * Each query writes a projection of `part` to the format under test
  * (inside the build's `target/` dir), reads it back with the ORIGINAL
  * schema — so type fidelity is part of the check: doubles survive via
  * shortest-roundtrip text, quoting survives names with spaces — and
  * aggregates the re-read rows. The DuckDB oracle computes the same
  * aggregate from the original parquet, so any loss in the round-trip
  * (type, precision, quoting, nulls) breaks the hash match.
  *
  * Scale note: both sinks write one file per partition (no coalesce) —
  * the same layout a cluster write produces; the re-read is a normal
  * distributed scan.
  */
object Sources {
  import Canon._

  // one fresh scratch root per JVM: no dependence on the harness's cwd,
  // and concurrent processes can't race each other's overwrite+re-read
  // of a shared path.
  private lazy val scratchRoot: String =
    java.nio.file.Files.createTempDirectory("graft-roundtrip").toString

  private def dir(name: String): String = s"$scratchRoot/$name"

  private def partCols(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")

  /** Shared post-roundtrip aggregate: per brand, count, exact
    * revenue-ish sum, size sum, and min/max name (string fidelity). */
  private def summarize(back: DataFrame): DataFrame =
    back.groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        dsum(col("p_retailprice")).as("total_retail"),
        sum(col("p_size")).cast("long").as("sum_size"),
        min(col("p_name")).as("min_name"),
        max(col("p_name")).as("max_name"))
      .orderBy("p_brand")

  /** f01 — CSV sink + source round-trip (header, quoting, typed read). */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val orig = partCols(s, d)
    val path = dir("part_csv")
    orig.write.mode("overwrite").option("header", "true").csv(path)
    summarize(s.read.option("header", "true").schema(orig.schema).csv(path))
  }

  /** f02 — line-delimited JSON sink + source round-trip (typed read). */
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    val orig = partCols(s, d)
    val path = dir("part_json")
    orig.write.mode("overwrite").json(path)
    summarize(s.read.schema(orig.schema).json(path))
  }

  /** f04 — ORC sink + source round-trip: the third columnar-format
    * surface (after parquet and CSV/JSON text), same typed re-read +
    * aggregate contract as f01/f02 — the oracle reads the ORIGINAL
    * parquet, so ORC type fidelity (doubles, strings-with-spaces) is
    * what's under test. */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val orig = partCols(s, d)
    val path = dir("part_orc")
    orig.write.mode("overwrite").orc(path)
    summarize(s.read.schema(orig.schema).orc(path))
  }

  /** f05 — bucketed-table co-located join: both sides written
    * `bucketBy(8, key).sortBy(key)` into the session warehouse, then
    * joined WITHOUT a shuffle OR a sort on either side — the storage
    * layout that turns a repeated 100 TB fact-fact join from
    * shuffle-bound into scan-bound. The `repartition(8, key)` before
    * each write is load-bearing: it makes each bucket exactly ONE file,
    * and Spark trusts a bucket's sortBy metadata ONLY in the
    * one-file-per-bucket layout (multiple writer tasks each emit a
    * sorted file per bucket, whose concatenation is not sorted — so the
    * reader must re-sort, observed as a SortExec under the SMJ before
    * this fix). StorageSpec asserts both properties on this very plan
    * shape. The oracle recomputes from the original parquet, so
    * bucketed write+read fidelity is checked too. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    Seq("graft_f05_lineitem", "graft_f05_orders").foreach { t =>
      // clean slate: a crashed previous run leaves a managed-table dir
      // saveAsTable refuses to overwrite
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_f05_lineitem")
    Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_f05_orders")
    s.table("graft_f05_lineitem")
      .join(s.table("graft_f05_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** f06 — schema-evolution read (`mergeSchema`): a dataset written in
    * two generations — v1 lacking `o_orderstatus`, v2 carrying it — read
    * back as ONE table with the union schema (v1 rows NULL in the new
    * column). This is how a 100 TB dataset actually ages: columns are
    * added mid-life and historical files are never rewritten; the
    * merged-footer read (per-file schema reconciliation is distributed
    * across executors) replaces a full historical rewrite. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val path = dir("orders_evolving")
    val o = Tables.orders(s, d)
    o.filter(year(col("o_orderdate")) <= 1994)
      .select("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$path/gen=1")
    o.filter(year(col("o_orderdate")) >= 1995)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").parquet(s"$path/gen=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy(coalesce(col("o_orderstatus"), lit("<legacy>")).as("status"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .orderBy("status")
  }

  /** f03 — Hive-style partitioned parquet sink + pruned re-read: orders
    * written partitioned by order year, re-read with a single-year
    * predicate. The year filter prunes to one directory at planning time
    * (PartitionFilters in the scan — the disk-layout analog of the
    * bucketed-join test in StorageSpec); the oracle recomputes from the
    * original table, so partition-column round-trip fidelity is checked
    * too. */
  def partitionedParquet(s: SparkSession, d: String): DataFrame = {
    val path = dir("orders_by_year")
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(path)
    s.read.parquet(path)
      .filter(col("o_year") === 1995)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Spread the low 16 bits of `c` so a bit lands at every EVEN
    * position (the classic mask-shift Morton dilation — 4 shift/or/and
    * steps, all codegen'd long arithmetic). */
  private def spreadBits(c: Column): Column = {
    val s0 = c.cast("long")
    val s1 = s0.bitwiseOR(shiftleft(s0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(0x33333333L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton (Z-order) code of two 16-bit bucket columns:
    * x-bits at even positions, y-bits at odd. */
  private[graft] def mortonCode(bx: Column, by: Column): Column =
    spreadBits(bx).bitwiseOR(shiftleft(spreadBits(by), 1))

  /** Z-order the table on two numeric columns and write it: each column
    * is range-binned into 2¹⁶ buckets off its global min/max (two
    * scalars — a 100 TB deployment swaps in approx-quantile bins so
    * skewed columns still fill the grid evenly), the Morton code
    * interleaves the bucket bits, and `repartitionByRange` +
    * `sortWithinPartitions` on the code clusters each output file onto
    * a compact curve segment — so every file's min/max envelope is
    * narrow in BOTH dimensions and parquet file/row-group stats prune
    * 2-d box predicates, where a linear sort prunes only its leading
    * column. Layout only: the row set is untouched (f08's oracle reads
    * the original table). */
  private[graft] def zorderWrite(df: DataFrame, cx: String, cy: String,
      path: String, nFiles: Int): Unit = {
    // 4 scalars off one reduced aggregate — not a data collect; an
    // empty table has null extrema (the bins then bucket zero rows, any
    // range works)
    val r = df.agg(
      min(col(cx)).cast("long"), max(col(cx)).cast("long"),
      min(col(cy)).cast("long"), max(col(cy)).cast("long")).head()
    def at(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val (xMin, xMax, yMin, yMax) = (at(0), at(1), at(2), at(3))
    // multiply-first is exact but (c-lo)*65536 overflows a long once the
    // column range exceeds 2^47 (snowflake ids, nano timestamps) — wide
    // ranges divide by a ceil bucket width instead; both land in
    // [0, 65535]
    def bin(c: Column, lo: Long, hi: Long): Column = {
      val range = BigInt(hi) - BigInt(lo) + 1
      if (range <= (BigInt(1) << 47))
        (c.cast("long") - lo) * 65536L / range.toLong.max(1L)
      else
        (c.cast("long") - lo) / ((range + 65535) / 65536).toLong
    }
    df.withColumn("z", mortonCode(
        bin(col(cx), xMin, xMax), bin(col(cy), yMin, yMax)))
      .repartitionByRange(nFiles, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(path)
  }
  /** f08 — Z-order layout + 2-d box-filtered re-read: lineitem clustered
    * on (l_orderkey, l_partkey), then scanned with a box predicate on
    * both keys. The result is layout-invariant (the oracle filters the
    * original parquet), so the query proves the curve write+read loses
    * nothing; StorageSpec separately pins the layout property that
    * makes it worth doing — per-file envelopes narrow in both
    * dimensions, vs a linear sort whose second dimension spans the full
    * domain in every file. */
  def zorderScan(s: SparkSession, d: String): DataFrame = {
    val path = dir("lineitem_zorder")
    zorderWrite(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"),
      "l_orderkey", "l_partkey", path, nFiles = 8)
    s.read.parquet(path)
      .filter(col("l_orderkey").between(500, 2500) &&
        col("l_partkey").between(50, 250))
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
  }

  /** f17 — MANIFEST-STATS FILE SKIPPING: the lakehouse data-skipping
    * rung f08 only gestures at. f08 relies on parquet's own row-group
    * stats inside whatever files the scan already OPENED; a table
    * format (Iceberg/Delta) goes one level up — a per-FILE manifest of
    * column min/max lets the planner drop whole files before listing
    * or opening them, for predicates on DATA columns that are not the
    * partition key (where Hive-style dir pruning is blind).
    *
    * The layout: lineitem is range-binned on `l_orderkey` into 16
    * explicit `file_id` bins (the deterministic multiply-first formula
    * zorderWrite uses — exact, and mirrored by the oracle with DuckDB's
    * `//`; overflows only past a 2^55 key range, far beyond any real
    * key domain) and written `partitionBy("file_id")` — dirs stand in
    * for files. The MANIFEST is computed by RE-READING what the write
    * left on disk (never from the source frame, the f09 audit
    * discipline — a writer bug must surface as a wrong manifest, not a
    * silently wrong prune): per file_id, min/max/count of the stats
    * column. The read side translates the `l_orderkey BETWEEN` box
    * into a file list by interval overlap against the manifest — a
    * driver-side decision over 16 manifest rows, exactly the collect a
    * real planner performs (manifest-sized, never data-sized) — and
    * scans only the surviving dirs via partition pruning on `file_id`,
    * with the original predicate retained as the residual filter
    * (pruning is conservative; the residual makes it exact).
    *
    * Output: the pruned-scan aggregate plus `files_total`/`files_read`
    * — both DETERMINISTIC (bins come from a closed-form over global
    * min/max, not a sampled range partitioner), so the DuckDB oracle
    * recomputes the manifest arithmetic and proves BOTH that skipping
    * lost no rows AND that it read exactly the overlapping file set.
    * StorageSpec additionally pins the physical claim: the pruned
    * frame's `inputFiles` touch only the surviving dirs. At 100 TB the
    * manifest is itself a parquet table maintained incrementally at
    * publish time (the f09/f14 ladder); the overlap join stays
    * manifest-sized — file skipping is why a 10⁶-file table answers a
    * narrow scan without 10⁶ opens. */
  def statsPrunedScan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = dir("lineitem_manifest")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val NBins = 16L
    val r = li.agg(min(col("l_orderkey")).cast("long"),
      max(col("l_orderkey")).cast("long")).head()
    // an empty table has null extrema AND an unreadable empty
    // partitioned write (no part files to infer from) — the manifest is
    // trivially empty, nothing to write or prune
    if (r.isNullAt(0))
      return li.filter(lit(false))
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("revenue"))
        .withColumn("files_total", lit(0L))
        .withColumn("files_read", lit(0L))
    val (kLo, kHi) = (r.getLong(0), r.getLong(1))
    val range = math.max(kHi - kLo + 1, 1L)
    // SQL `div`, not Column./ — the latter is DOUBLE division, and a
    // quotient a hair under a bin boundary can round UP across it where
    // DuckDB's exact `//` floors; integral div keeps both engines on
    // the same longs (overflow only past a 2^59 key range — the
    // wide-range fallback is zorderWrite's divide-by-ceil-width form)
    li.withColumn("file_id",
        least(lit(NBins - 1),
          expr(s"(l_orderkey - $kLo) * $NBins div $range")))
      .write.mode("overwrite").partitionBy("file_id").parquet(path)
    // the manifest is ITSELF an incrementally-maintained bucketed store
    // (round 16 — the scaladoc's 100 TB promise made code): the refresh
    // recomputes rows for the NAMED files only (from the bytes on disk,
    // the f09 discipline) and newWins-upserts them — an added or
    // compacted file touches its own manifest bucket, never the table.
    // The registry twin rewrites its whole 16-file layout per call, so
    // it refreshes all 16 ids (∪ any stale store ids → deleted); the
    // incremental grain is exercised by StorageSpec's add/compact/
    // delete pins. The pruned read consumes the STORE — one
    // manifest-sized scan, no per-query rebuild.
    val storeBase = dir("lineitem_manifest_store")
    val onDisk = listFileIds(path)
    val stale = readBucketedStore(s, storeBase, ManifestSchema)
      .select(col("file_id")).as[Long].collect().toSeq.filterNot(onDisk.contains)
    refreshManifest(s, path, storeBase, onDisk ++ stale)
    // 16 rows → driver (planner-sized) — the collect a real planner does
    val manifest = readBucketedStore(s, storeBase, ManifestSchema)
      .select(col("file_id"), col("mn"), col("mx")).collect()
    val (qLo, qHi) = (500L, 2500L)
    val keep = manifest
      .filter(m => m.getLong(2) >= qLo && m.getLong(1) <= qHi)
      .map(_.getLong(0)).sorted
    val pruned =
      if (keep.isEmpty) li.filter(lit(false)) // empty table: no dirs exist
      else s.read.parquet(path)
        // dir-level partition prune; INT literals so no cast wraps the
        // partition attribute (a wrapped attribute can defeat pruning)
        .filter(col("file_id").isin(keep.map(_.toInt): _*))
        .drop("file_id")
    pruned.filter(col("l_orderkey").between(qLo, qHi)) // residual: exactness
      .agg(count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
      .withColumn("files_total", lit(manifest.length.toLong))
      .withColumn("files_read", lit(keep.length.toLong))
  }

  private[graft] val ManifestSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "file_id BIGINT, mn BIGINT, mx BIGINT, cnt BIGINT")

  /** The `file_id=<b>` ids present in a layout — a driver-side dir
    * listing (what a catalog serves), never a data scan. */
  private[graft] def listFileIds(layout: String): Seq[Long] =
    Option(new java.io.File(layout).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("file_id="))
      .map(_.getName.stripPrefix("file_id=").toLong).toSeq.sorted

  private val manifestRefreshSeq = new java.util.concurrent.atomic.AtomicLong

  /** f17's manifest MAINTENANCE job (the f25 cadence): recompute the
    * (file_id, min, max, count) manifest rows for the NAMED file ids
    * only — reading exactly those `file_id=` dirs from the layout, the
    * bytes-on-disk discipline — and newWins-upsert them into the
    * manifest store; an id with no surviving dir is a DELETED file and
    * drops its row. Added file → one new row staged into its bucket;
    * compacted file → its row replaced; untouched files' manifest
    * buckets are never read or written (StorageSpec pins byte-identity
    * and store ≡ full recompute after each mutation). */
  private[graft] def refreshManifest(s: SparkSession, layout: String,
      store: String, fileIds: Seq[Long]): DataFrame = {
    import s.implicits._
    val (live, gone) = fileIds.distinct
      .partition(b => new java.io.File(s"$layout/file_id=$b").exists)
    val rows =
      if (live.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          ManifestSchema)
      else s.read.option("basePath", layout)
        .parquet(live.map(b => s"$layout/file_id=$b"): _*)
        .withColumn("file_id", col("file_id").cast("long"))
        .groupBy("file_id")
        .agg(min(col("l_orderkey")).as("mn"), max(col("l_orderkey")).as("mx"),
          count(lit(1)).as("cnt"))
    bucketedUpsertStaged(s, rows, store, Seq("file_id"),
      stagedMarker = s"_refresh_${manifestRefreshSeq.incrementAndGet()}",
      newWins = true,
      deleteKeys = Some(gone.toDF("file_id")))
  }

  /** f18 — DYNAMIC PARTITION PRUNING (runtime file skipping off a
    * dimension filter — the star-schema complement of f17's static
    * manifest prune): the fact side is `events` written
    * `partitionBy(day_id)` (epoch-day of `ts`); the date DIMENSION is
    * derived from the distinct partition keys with a day-of-week
    * attribute computed by pure integer arithmetic (`day_id % 7`,
    * 0 ≡ Thursday since 1970-01-01 was one — no engine-specific
    * dayofweek numbering to drift); the query joins the fact to the
    * dimension filtered to Mondays (dow ≡ 4). NOTHING in the query
    * names a partition statically — the surviving `day_id` set exists
    * only at RUNTIME, after the dimension filter runs, which is
    * exactly what Catalyst's DynamicPartitionPruning handles: the
    * broadcast of the filtered dimension is REUSED as an
    * `InSubquery` partition filter on the fact scan, so only the 5
    * Monday directories of the 30 are listed and read. StorageSpec
    * pins the physical claim (a `dynamicpruningexpression` in the
    * fact scan's partition filters + the scan's numFiles metric ≡ the
    * Monday dirs' file count); the oracle pins that pruning lost
    * nothing. At 100 TB this is THE mechanism that makes
    * "fact JOIN dim WHERE dim.attr = x" read days, not years — free
    * once the fact is date-partitioned, no manifest needed. */
  def dynamicPruning(s: SparkSession, d: String): DataFrame = {
    val path = dir("events_by_day")
    val ev = Tables.events(s, d).select(
      datediff(to_date(col("ts")), to_date(lit("1970-01-01"))).as("day_id"),
      col("event_id"), col("value"))
    // an empty events table writes no partition dirs (unreadable) — the
    // f17 empty-source rule: emit the empty aggregate without a write
    if (ev.isEmpty)
      return ev.filter(lit(false)).groupBy(col("day_id").cast("long").as("day_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    ev.write.mode("overwrite").partitionBy("day_id").parquet(path)
    val fact = s.read.parquet(path) // day_id inferred INT — keep it raw:
    // a cast wrapped around the partition attribute can defeat pruning,
    // so the DIM side is built in the fact's inferred type instead.
    // The dim is MATERIALIZED (a real date-dimension table, the star
    // shape): were dow computed inline from day_id, constraint
    // propagation would push a static pmod filter through the join and
    // the dynamic prune would be decorative — reading dow back as
    // opaque DATA is what makes the surviving key set knowable only at
    // runtime, i.e. what DPP is for
    val dimPath = dir("date_dim")
    fact.select(col("day_id")).distinct()
      .withColumn("dow", pmod(col("day_id"), lit(7))) // 0 ≡ Thu; Mon ≡ 4
      .write.mode("overwrite").parquet(dimPath)
    val mondays = s.read.parquet(dimPath)
      .filter(col("dow") === 4).select("day_id")
    fact.join(broadcast(mondays), Seq("day_id"))
      .groupBy(col("day_id").cast("long").as("day_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("day_id")
  }

  /** f07 — `binaryFile` source: whole files as opaque BINARY rows — the
    * ingestion path for raw multimodal assets (images/audio the
    * [[Multimodal]] operators then process) and for any format Spark has
    * no reader for. Documents are first written out as text files (one
    * doc per line, one file per partition — a real multi-file layout),
    * then the DIRECTORY is re-read with `format("binaryFile")`, whose
    * schema is (path, modificationTime, length, content BINARY).
    *
    * The aggregate is layout-INDEPENDENT on purpose: file count and
    * per-file contents depend on write partitioning, so the query
    * reports only totals that are invariant to how lines pack into
    * files — total payload bytes (each line = doc bytes + '\n') and the
    * total line count recovered by counting newline bytes inside the
    * binary payloads. The oracle computes both from the original
    * parquet, so the whole write→binary-read→decode chain must be
    * byte-exact. Scale: one file per task on read (binaryFile does not
    * split files) — fine for asset-sized files, and exactly why huge
    * corpora should NOT be stored as one giant blob. */
  def binarySource(s: SparkSession, d: String): DataFrame = {
    val path = dir("docs_text")
    Tables.documents(s, d).select(col("text")).write.mode("overwrite").text(path)
    val bin = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt").load(path)
    // coalesce: an EMPTY corpus writes no part files, so the global agg
    // sums zero rows — (0, 0) must match the oracle's count(*) = 0.
    // Line-based invariant: a document containing '\n' is not
    // representable in a text sink (each row = one line); the corpus
    // schema guarantees newline-free text.
    bin.select(col("length"),
        (length(decode(col("content"), "UTF-8")) -
          length(regexp_replace(decode(col("content"), "UTF-8"), "\n", "")))
          .cast("long").as("n_lines"))
      .agg(coalesce(sum(col("length")), lit(0L)).as("total_bytes"),
        coalesce(sum(col("n_lines")), lit(0L)).as("n_docs"))
  }

  /** f09 — WRITE-AUDIT-PUBLISH: the staging discipline every production
    * derived-table pipeline runs (Iceberg/Delta call it WAP): write the
    * derived table to a STAGING location, audit what was actually
    * written (re-read the staged files — not the source frame, so
    * writer bugs are caught too), and atomically promote to the
    * published location only if every audit passes. The promote is
    * [[Commit.swap]] (an object-store deployment swaps in a
    * transactional table commit, same gate logic). The derived table
    * here is the d01 exact-dedup
    * survivor set of `documents` — deterministic, so the audit
    * manifest is DuckDB-oracle-checkable end to end.
    *
    * Returns the audit manifest: one row per check (observed value +
    * pass flag) plus a `published_rows` row proving the read-back from
    * the PUBLISHED location. [[writeAuditPublishStaged]] is the
    * library surface taking any staged frame + expected row count;
    * SourcesSpec drives the REJECTION path with a poisoned staged
    * table (duplicate keys) and asserts nothing publishes.
    *
    * Jobs per publish, by label (`<phase>:<table>`):
    *  - `wap-stage`: the staging write — one job, plus one per
    *    broadcast or exchange in the derived plan;
    *  - `wap-audit`: two — the per-key grouping's map stage, then the
    *    per-partition sums collected to the driver ([[auditKeys]]);
    *  - `wap-recount`: one — the promoted files counted per partition.
    * No phase runs a schema-inference job: every re-read carries the
    * schema of the frame that was written. */
  def writeAuditPublish(s: SparkSession, d: String): DataFrame = {
    val survivors = Tables.documents(s, d)
      // the d01 dedup identity, NFC included (see LlmOps.normText)
      .groupBy(lower(trim(regexp_replace(
        call_function(graft.functions.NfcNormalize.Name, col("text")),
        "\\s+", " "))).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), length(col("norm")).cast("long").as("norm_len"))
    // register the scratch area for JVM-exit cleanup: a multi-pass bench
    // (warmup + 3 timed passes) would otherwise leak one full parquet
    // copy per invocation
    val base = java.nio.file.Files.createTempDirectory("graft-wap").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    writeAuditPublishStaged(s, survivors, base.toString,
      Seq("doc_id"), false, None)
  }

  /** f13 — batch keyed MERGE (SCD Type-1 / CDC upsert-delete): the
    * warehouse MERGE-INTO shape — one pass reconciles a keyed snapshot
    * with a change feed (matched rows updated in place, unmatched
    * upserts inserted, tombstoned keys deleted) and publishes the new
    * snapshot through the same WAP gate as f09. The streaming
    * [[Streaming.upsertBatch]] applies the same algebra per micro-batch;
    * e31 builds the HISTORY-keeping (Type-2) intervals of the same idea
    * — Scd2Props cross-checks Type-1 over a change stream ≡ e31's
    * `is_current` rows.
    *
    * Fixture: target = the `customer` (key, name, acctbal) snapshot;
    * the change feed is derived deterministically from it (custkey
    * % 10 = 2 → balance update, = 5 → tombstone, = 8 → a new key offset
    * by 10⁶) so the DuckDB oracle can re-derive feed and merge verbatim.
    * Output = the PUBLISHED snapshot re-read (proving the write path),
    * each row tagged kept / updated / inserted; deleted keys absent.
    * The +100.0 update is one IEEE double add of exactly-representable
    * operands — bit-identical cross-engine, no rounding canon. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
    val deletes = cust.filter(pmod(col("c_custkey"), lit(10L)) === 5)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op"))
    val inserts = cust.filter(pmod(col("c_custkey"), lit(10L)) === 8)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("New#"), col("c_custkey").cast("string")).as("c_name"),
        col("c_custkey").cast("double").as("c_acctbal"),
        lit("upsert").as("op"))
    val merged =
      mergeUpsertOver(target, updates.unionByName(deletes).unionByName(inserts),
        "c_custkey")
    // eager JOB like f09/f10: stage (count observed on the write), audit,
    // promote — then the returned frame scans the PUBLISHED files, so row
    // identity through storage is part of the oracle check
    val base = java.nio.file.Files.createTempDirectory("graft-merge").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    writeAuditPublishStaged(s, merged, base.toString,
      Seq("c_custkey"), false, None)
    s.read.parquet(s"$base/published").orderBy("c_custkey")
  }

  /** The merge algebra, generic over the payload columns: `changes`
    * carries `key`, every non-key column of `target`, and `op` ∈
    * {'upsert', 'delete'}. upsert = update-if-matched / insert-if-not
    * (SCD Type-1 overwrite); delete = drop-if-matched / no-op-if-not.
    * PRECONDITION: the feed is key-unique (one op per key — dedupe
    * upstream, s04's job); the WAP dup-key audit enforces it on the
    * output side.
    *
    * Scale: ONE full-outer shuffle join on the key — both sides are
    * corpus-sized so neither broadcasts, and the key shuffle is the
    * minimal data movement any keyed merge needs; AQE splits skewed
    * keys. Everything else is per-row projection. At 100 TB the same
    * plan runs unchanged; a table bucketed on the key skips the
    * snapshot-side exchange entirely (the f05 layout lever). */
  private[graft] def mergeUpsertOver(target: DataFrame, changes: DataFrame,
      key: String): DataFrame = {
    val payload = target.columns.filterNot(_ == key).toSeq
    val t = target.select(col(key) +:
      (payload.map(c => col(c).as(s"t_$c")) :+ lit(true).as("t_present")): _*)
    // op-domain guard: a malformed feed value ('update', 'UPSERT', …)
    // must fail the job loudly, not merge silently as an upsert — the
    // key-uniqueness precondition is audited by WAP, but op validity
    // can only be checked here, before delete-filtering erases the
    // evidence. raise_error is per-row and codegen'd: zero cost on
    // clean feeds.
    val opChecked = when(col("op").isin("upsert", "delete"), col("op"))
      .otherwise(raise_error(concat(
        lit("mergeUpsertOver: op must be 'upsert' or 'delete', got '"),
        // a NULL op would null the whole concat and fail with a blank
        // message — coalesce keeps the diagnostic readable
        coalesce(col("op"), lit("NULL")), lit("'"))))
    val c = changes.select(col(key) +:
      (payload.map(p => col(p).as(s"c_$p")) :+ opChecked.as("op")): _*)
    t.join(c, Seq(key), "full_outer")
      .filter(col("op").isNull || col("op") =!= "delete")
      .select(col(key) +: (payload.map(p =>
        when(col("op").isNotNull, col(s"c_$p")).otherwise(col(s"t_$p")).as(p)) :+
        when(col("op").isNotNull && col("t_present"), lit("updated"))
          .when(col("op").isNotNull, lit("inserted"))
          .otherwise(lit("kept")).as("action")): _*)
  }

  /** Archived-version directories under a WAP base: `v1`, `v2`, … in
    * publish order; `published` is always the LATEST version (number =
    * archived count + 1). */
  private def archivedVersions(base: String): Seq[Int] =
    Option(new java.io.File(base).list()).getOrElse(Array.empty[String])
      .toSeq.collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .sorted

  /** The table's current version number: 1 + the HIGHEST archived
    * version (0 if nothing has ever published). Max-based, not
    * count-based: after [[purgeVersions]] removes old `v<K>/`
    * directories the numbering must not slide — version ids are
    * forever. Completes an interrupted swap first ([[Commit.recover]]). */
  private[graft] def currentVersion(base: String): Int = {
    Commit.recover(base)
    val hasPublished = new java.io.File(s"$base/published").exists
    if (!hasPublished) 0 else archivedVersions(base).lastOption.getOrElse(0) + 1
  }

  /** Where a promote archives the replaced `published/`: the next
    * version directory, max-based like [[currentVersion]] so a publish
    * after a purge mints a fresh number. */
  private def nextArchive(base: String): java.io.File =
    new java.io.File(s"$base/v${archivedVersions(base).lastOption.getOrElse(0) + 1}")

  /** f14 — snapshot AS-OF read (time travel): scan the table as it was
    * at `version`. Version n < current reads the retained `v<n>/`
    * directory; version == current reads `published/` — both are plain
    * parquet scans, so filters and pruning push down identically on
    * historical and current reads. Out-of-range versions fail loudly
    * (a silent fallback to current is the one bug a time-travel API
    * must never have).
    *
    * Retention layout: [[writeAuditPublishStaged]] with
    * `retainVersions = true` parks the replaced `published/` at the
    * next `v<N>/` during the promote's [[Commit.swap]]. Each
    * retained version is a FULL directory here (the local-FS manifest
    * layout); a 100 TB table format (Iceberg/Delta) gets the same API
    * from snapshot manifests that SHARE unchanged data files across
    * versions, so retention costs O(changed files) — the read-side
    * contract (this function) is identical, which is the point: the
    * query layer never knows which layout is underneath. */
  def readAsOf(s: SparkSession, base: String, version: Int): DataFrame = {
    val current = currentVersion(base)
    require(version >= 1 && version <= current,
      s"version $version out of range: table at $base has versions 1..$current")
    if (version == current) s.read.parquet(s"$base/published")
    else {
      // in-range but vacuumed: the other loud failure a time-travel API
      // owes its callers — distinct message from out-of-range, so an
      // operator can tell "never existed" from "purged by retention"
      require(new java.io.File(s"$base/v$version").exists,
        s"version $version at $base is out of retention (purged); " +
          s"earliest retained is ${archivedVersions(base).headOption.getOrElse(current)}")
      s.read.parquet(s"$base/v$version")
    }
  }

  /** The f14 registry query: the WAP → MERGE → history ladder end to
    * end. Publish the `customer` snapshot (version 1), advance it with
    * the f13 merge feed (version 2 — updates, inserts, tombstones), then
    * read BOTH versions back AS-OF and compare their per-bucket
    * aggregates side by side. The divergence is the proof the history
    * read works: bucket 2 differs in balance (updated +100), bucket 5
    * is absent from current (tombstoned), bucket 8 doubles its count
    * (inserted keys land on the same mod); every other bucket is
    * identical. Both sides are scans of what PROMOTE left on disk, so
    * the archived bytes — not a cached plan — are what is checked. */
  /** The shared f14/f15/f16/s16 version ladder: the `customer`
    * snapshot (version 1), the f13 change FEED (bucket-2 updates,
    * bucket-5 tombstones, offset-10⁶ bucket-8 inserts), and the merged
    * successor (version 2). */
  private[operators] def customerLadder(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val cust = Tables.customer(s, d)
    val target = cust.select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
    val deletes = cust.filter(pmod(col("c_custkey"), lit(10L)) === 5)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op"))
    val inserts = cust.filter(pmod(col("c_custkey"), lit(10L)) === 8)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("New#"), col("c_custkey").cast("string")).as("c_name"),
        col("c_custkey").cast("double").as("c_acctbal"),
        lit("upsert").as("op"))
    val feed = updates.unionByName(deletes).unionByName(inserts)
    val merged = mergeUpsertOver(target, feed, "c_custkey")
      .drop("action") // versions share one schema: the snapshot's
    (target, feed, merged)
  }

  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val (target, _, merged) = customerLadder(s, d)
    val base = java.nio.file.Files.createTempDirectory("graft-asof").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    writeAuditPublishStaged(s, target, base.toString,
      Seq("c_custkey"), true, None)
    writeAuditPublishStaged(s, merged, base.toString,
      Seq("c_custkey"), true, None)
    def byBucket(df: DataFrame, nc: String, bc: String): DataFrame =
      df.groupBy(pmod(col("c_custkey"), lit(10L)).as("bucket"))
        .agg(count(lit(1)).as(nc), dsum(col("c_acctbal")).as(bc))
    val v1 = byBucket(readAsOf(s, base.toString, 1), "n_v1", "bal_v1")
    val cur = byBucket(readAsOf(s, base.toString, 2), "n_cur", "bal_cur")
    v1.join(cur, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("bal_v1"), lit(0.0)).as("bal_v1"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        coalesce(col("bal_cur"), lit(0.0)).as("bal_cur"))
      .orderBy("bucket")
  }

  /** f15 — CHANGE-DATA-FEED read between two retained versions: the
    * keyed diff of AS-OF `from` vs AS-OF `to`, emitted in the CDC shape
    * streaming consumers apply (Delta CDF's contract): one `insert` row
    * per new key (payload = `to`), one `delete` per vanished key
    * (payload = `from`), and an `update_preimage` + `update_postimage`
    * PAIR per key whose payload changed; unchanged keys emit NOTHING —
    * the property that makes a change feed O(changes), not O(table),
    * to consume. Inverse of f13: MERGE applies a feed, f15 recovers
    * the minimal feed between any two versions after the fact.
    *
    * Plan: ONE full-outer key join of two plain parquet scans, then a
    * per-row conditional array + explode (unchanged rows produce a
    * null array the explode drops — no second pass, no union of four
    * filtered scans). Payload comparison is null-safe struct equality.
    * Scale: the key shuffle is the minimal movement any keyed diff
    * needs (p06's argument); a table format with file-level change
    * manifests skips the unchanged-file scans entirely — same output
    * contract. */
  def changesBetween(s: SparkSession, base: String, from: Int, to: Int,
      key: String): DataFrame = {
    val a = readAsOf(s, base, from)
    val payload = a.columns.filterNot(_ == key).toSeq
    def packed(df: DataFrame, side: String) = df.select(col(key) +:
      Seq(struct(payload.map(col): _*).as(s"p_$side"),
        lit(true).as(s"in_$side")): _*)
    val joined = packed(a, "a")
      .join(packed(readAsOf(s, base, to), "b"), Seq(key), "full_outer")
    val change = when(col("in_a").isNull,
        array(struct(col("p_b").as("p"), lit("insert").as("t"))))
      .when(col("in_b").isNull,
        array(struct(col("p_a").as("p"), lit("delete").as("t"))))
      .when(!(col("p_a") <=> col("p_b")),
        array(struct(col("p_a").as("p"), lit("update_preimage").as("t")),
          struct(col("p_b").as("p"), lit("update_postimage").as("t"))))
    // unchanged → null array → explode emits nothing
    joined.select(col(key), explode(change).as("c"))
      .select(col(key) +: (payload.map(p => col(s"c.p.$p").as(p)) :+
        col("c.t").as("change_type")): _*)
  }

  /** The f15 registry query: the f14 two-version flow (customer
    * snapshot → f13 merge), then the change feed between them. The
    * result is exactly the merge's effect re-derived from STORAGE:
    * bucket-5 deletes, bucket-2 update pairs, offset-8 inserts; every
    * untouched customer absent. */
  def changeFeed(s: SparkSession, d: String): DataFrame = {
    val (target, _, merged) = customerLadder(s, d)
    val base = java.nio.file.Files.createTempDirectory("graft-cdf").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    writeAuditPublishStaged(s, target, base.toString,
      Seq("c_custkey"), true, None)
    writeAuditPublishStaged(s, merged, base.toString,
      Seq("c_custkey"), true, None)
    changesBetween(s, base.toString, 1, 2, "c_custkey")
      .orderBy("c_custkey", "change_type")
  }

  /** f16 — version RETENTION / vacuum (the last rung of the lakehouse
    * ladder): f14's `retainVersions` archives every replaced
    * `published/` as `v<N>/` FOREVER — unbounded storage growth, and
    * the first operational question any time-travel user asks. The
    * job: keep the newest `keepLast` versions (current included),
    * delete every older archived directory, and emit a manifest row
    * per version — (version, status current/kept/purged, n_rows,
    * bytes) — measured BEFORE any deletion, so the manifest records
    * what was reclaimed.
    *
    * Contract after the purge: version ids never slide (numbering is
    * max-based, so the next publish mints a fresh id); [[readAsOf]] on
    * retained versions is byte-identical to pre-purge; an in-range but
    * vacuumed version THROWS the out-of-retention diagnostic (never a
    * silent fallback — the d37/f14 rule). Like f09/f10 this is an
    * eager maintenance JOB: deletions happen at call time, the
    * returned frame is the manifest. At 100 TB on a snapshot-manifest
    * table format (Iceberg/Delta) "delete v<K>/" becomes "expire
    * snapshot + delete newly-unreferenced data files" — same manifest,
    * same read-side contract, cost O(files only v<K> references). */
  private[graft] def purgeVersions(s: SparkSession, base: String,
      keepLast: Int): DataFrame = {
    import s.implicits._
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val cur = currentVersion(base)
    require(cur >= 1, s"no published table at $base")
    val cutoff = cur - keepLast // versions <= cutoff go
    val rows = (archivedVersions(base).map(v => (v, new java.io.File(s"$base/v$v")))
        :+ (cur, new java.io.File(s"$base/published"))).map { case (v, f) =>
      val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(f)
      val nRows = s.read.parquet(f.toString).count()
      val status =
        if (v == cur) "current"
        else if (v <= cutoff) {
          org.apache.commons.io.FileUtils.deleteDirectory(f); "purged"
        } else "kept"
      (v.toLong, status, nRows, bytes)
    }
    rows.toDF("version", "status", "n_rows", "bytes")
  }

  /** The f16 registry query: a THREE-version ladder (snapshot → f13
    * merge → bucket-7 delete-only feed), purged to `keepLast = 2`,
    * then every surviving version re-read FROM DISK. Output per
    * version: the manifest's status and pre-purge row count, plus
    * `n_read` — the post-purge [[readAsOf]] count (NULL for the purged
    * version). `n_read = n_rows` on kept/current rows proves retention
    * left the archived bytes intact; the NULL proves v1 is gone.
    * `bytes` stays in the library manifest but out of the registry row
    * (file sizes are not SQL-derivable — the StorageSpec pin covers
    * the reclaimed-bytes arithmetic). */
  def versionRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (target, _, merged) = customerLadder(s, d)
    val merged2 = merged.filter(pmod(col("c_custkey"), lit(10L)) =!= 7)
    val base = java.nio.file.Files.createTempDirectory("graft-vacuum").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    Seq(target, merged, merged2).foreach(df =>
      writeAuditPublishStaged(s, df, base.toString,
        Seq("c_custkey"), true, None))
    val manifest = purgeVersions(s, base.toString, keepLast = 2)
    val cur = currentVersion(base.toString)
    val reads = (1 to cur).map { v =>
      val readable = v == cur || new java.io.File(s"$base/v$v").exists
      (v.toLong, if (readable) Some(readAsOf(s, base.toString, v).count()) else None)
    }.toDF("version", "n_read")
    manifest.join(reads, Seq("version"))
      .select(col("version"), col("status"), col("n_rows"), col("n_read"))
      .orderBy("version")
  }

  private[graft] def writeAuditPublishStaged(s: SparkSession, derived: DataFrame,
      expectedRows: Long, base: String,
      keyCols: Seq[String] = Seq("doc_id"),
      retainVersions: Boolean = false,
      stagedMarker: Option[String] = None): DataFrame =
    writeAuditPublishImpl(s, derived, Some(expectedRows), base, keyCols,
      retainVersions, stagedMarker)

  /** [[writeAuditPublishStaged]] without a caller-supplied expectation:
    * `expected` is OBSERVED on the staging write itself
    * (`Dataset.observe` — the count of rows the plan produced into the
    * sink, collected by the write job at zero extra cost). Before this
    * overload every same-frame caller ran `df.count()` + the write —
    * TWO full evaluations of the derivation (for d61 that is two Lloyd
    * chains, for d85 two unigram-EM trainings). The expected-vs-staged
    * check keeps its meaning — rows the plan produced vs rows the
    * parquet read-back returns — it just no longer pays a separate
    * pass to learn the former (guide §1.2: don't compute things
    * twice). Callers asserting an EXTERNAL expectation (the poisoned-
    * stage rejection spec) keep the explicit-count overload. */
  private[graft] def writeAuditPublishStaged(s: SparkSession, derived: DataFrame,
      base: String, keyCols: Seq[String],
      retainVersions: Boolean,
      stagedMarker: Option[String]): DataFrame =
    writeAuditPublishImpl(s, derived, None, base, keyCols,
      retainVersions, stagedMarker)

  /** Run `body` with the thread's job description set to `label`
    * (guide §1.5 — label your jobs), restoring the caller's label
    * after: the publish machinery runs many small jobs per call and an
    * unlabeled job log is unreadable. */
  private[graft] def labeled[T](s: SparkSession, label: String)(body: => T): T = {
    val key = "spark.job.description"
    val prev = s.sparkContext.getLocalProperty(key)
    s.sparkContext.setLocalProperty(key,
      if (prev == null) label else s"$prev | $label")
    try body finally s.sparkContext.setLocalProperty(key, prev)
  }

  /** A parquet read of files this code has just written, with the
    * schema of the frame that wrote them: `spark.read.parquet` without
    * a schema runs one inference job per call (a footer read), and the
    * publish paths re-read their own output several times per batch.
    * Hive-style `bucket=<b>` directories still surface as a `bucket`
    * column when `schema` carries it (typed by the schema). */
  private def readParquet(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val r = s.read.schema(schema)
    basePath.fold(r)(r.option("basePath", _)).parquet(paths: _*)
  }

  /** Rows of `df` counted in ONE job with no exchange: per-partition
    * counts summed on the driver. `Dataset.count` plans an aggregate
    * exchange, which adaptive execution runs as a second job. Every row
    * is still read back (no column is needed to count it). */
  private def countRows(df: DataFrame): Long =
    df.select().queryExecution.toRdd.count()

  /** Collected published models by directory: (label @ path) →
    * (directory identity, collected value); least recently used first,
    * at most 32 entries. */
  private val frozenModels =
    new java.util.LinkedHashMap[String, (Seq[String], Any)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Seq[String], Any)]): Boolean = size > 32
    }

  /** `collect` applied to the FROZEN model table published at `dir` (a
    * centroid table or codebook that a maintenance sink trains once and
    * then only reads), re-run only when the table changes. A hit costs
    * one directory listing instead of a schema-inference job and a
    * collect job per trigger. The cache key is the directory's identity:
    * its path plus the name and size of every file in it (the part files
    * and the `_batch_<id>` marker). Every publish writes part files with
    * fresh names, so a table re-published at the same path never serves
    * a stale model. `label` names the table read and separates two
    * collected forms of one directory. An interrupted swap of the table
    * completes first ([[Commit.recover]] on its base). */
  private[graft] def readFrozen[T](s: SparkSession, dir: String, label: String)(
      collect: DataFrame => T): T = {
    val d = new java.io.File(dir)
    Commit.recover(d.getAbsoluteFile.getParent)
    val identity = Option(d.listFiles()).getOrElse(Array.empty)
      .map(f => s"${f.getName}:${f.length}").sorted.toSeq
    val key = s"$label@${d.getCanonicalPath}"
    frozenModels.synchronized(Option(frozenModels.get(key)))
      .collect { case (`identity`, m) => m.asInstanceOf[T] }
      .getOrElse {
        val m = collect(labeled(s, label)(s.read.parquet(dir)))
        frozenModels.synchronized(frozenModels.put(key, (identity, m)))
        m
      }
  }

  /** A key audit of a staged read-back: `rows`, rows with a NULL key
    * column, rows beyond the first of each non-NULL key, and rows where
    * `misrouted` holds. */
  private final case class KeyAudit(rows: Long, nullKeys: Long,
      dupKeys: Long, misrouted: Long)

  /** [[KeyAudit]] of `staged`: one grouping by the key, then
    * per-partition sums added up on the driver — two jobs, where one
    * global aggregate with countDistinct plans two exchanges and runs
    * three. A key with a NULL column counts as a null-key row, never as
    * a distinct key (countDistinct's rule), so `dupKeys` counts over
    * the null-free rows. */
  private def auditKeys(staged: DataFrame, keyCols: Seq[String],
      misrouted: Column = lit(false)): KeyAudit = {
    val perKey = staged.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(when(misrouted, 1L).otherwise(0L)).as("mis"))
      .select(keyCols.map(col(_).isNull).reduce(_ || _), col("n"), col("mis"))
    // per partition: rows, null-key rows, non-null keys, misrouted rows
    val t = perKey.queryExecution.toRdd.mapPartitions { it =>
      val acc = new Array[Long](4)
      it.foreach { r =>
        val n = r.getLong(1)
        acc(0) += n
        if (r.getBoolean(0)) acc(1) += n else acc(2) += 1
        acc(3) += r.getLong(2)
      }
      Iterator.single(acc)
    }.collect().foldLeft(new Array[Long](4))((a, b) => a.zip(b).map(p => p._1 + p._2))
    KeyAudit(t(0), t(1), (t(0) - t(1)) - t(2), t(3))
  }

  /** The distinct values of an int column, in ONE job with no exchange:
    * each partition's distinct set, unioned on the driver. For a
    * planner-sized value set (bucket ids, ≤ the bucket count) this
    * replaces `distinct().collect()`'s exchange and its second job. */
  private def distinctInts(df: DataFrame): Seq[Int] = {
    import df.sparkSession.implicits._
    df.as[Int].mapPartitions(it => Iterator.single(it.toSet.toArray))
      .collect().flatten.distinct.sorted.toSeq
  }

  private def writeAuditPublishImpl(s: SparkSession, derived: DataFrame,
      expectedOpt: Option[Long], base: String,
      keyCols: Seq[String],
      retainVersions: Boolean,
      stagedMarker: Option[String]): DataFrame = {
    import s.implicits._
    Commit.recover(base)
    val staging = new java.io.File(s"$base/staging")
    val published = new java.io.File(s"$base/published")
    val tbl = base.split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
    val obs = new org.apache.spark.sql.Observation()
    val toStage = expectedOpt match {
      case Some(_) => derived
      case None => derived.observe(obs, count(lit(1)).as("n"))
    }
    labeled(s, s"wap-stage:$tbl") {
      toStage.write.mode("overwrite").parquet(staging.toString)
    }
    val expectedRows = expectedOpt.getOrElse(obs.get("n").asInstanceOf[Long])
    val staged = readParquet(s, derived.schema, Seq(staging.toString))
    // ONE audit pass over the staged bytes — this gate runs on every
    // publish of every store, and its job count is the dominant fixed
    // cost of the model-table publishes
    val audit = labeled(s, s"wap-audit:$tbl")(auditKeys(staged, keyCols))
    val checks = Seq(
      // Under the observe overload `expectedRows` is the count the
      // staging write's own plan produced. The observe sits at the root
      // of the staged frame and a plain `.write.parquet` adds no
      // exchange above it, so it runs only in the write job's result
      // tasks and counts each partition once under task or stage
      // retries (the argument in Fixpoint's scaladoc; StorageSpec pins
      // the plan shape). What it cannot tell from row loss is a
      // nondeterministic derivation: callers asserting an EXTERNAL
      // expectation pick the explicit-count overload.
      ("rows_match_expected", audit.rows, audit.rows == expectedRows),
      ("null_keys", audit.nullKeys, audit.nullKeys == 0L),
      ("dup_keys", audit.dupKeys, audit.dupKeys == 0L))
    val allOk = checks.forall(_._3)
    if (allOk) {
      // stagedMarker (underscore-prefixed, so parquet readers ignore it)
      // travels with the promoted data, so a caller can detect an
      // already-promoted payload (e.g. a streaming batch id) even if it
      // crashed before writing any side-channel marker — see
      // Streaming.versionedSink's effectively-once contract.
      stagedMarker.foreach(m => new java.io.File(staging, m).createNewFile(): Unit)
      // the replaced table becomes the next archived version (f14's
      // history) or parks at published.old (single-slot undo)
      Commit.swap(Some(staging), published,
        if (retainVersions) nextArchive(base) else new java.io.File(s"$base/published.old"),
        keepAside = true)
    }
    val nPublished =
      if (allOk) labeled(s, s"wap-recount:$tbl") {
        countRows(readParquet(s, derived.schema, Seq(published.toString))) }
      else 0L
    (checks :+ (("published_rows", nPublished, allOk)))
      .toDF("check_name", "observed", "ok")
      .orderBy("check_name")
  }

  // ———— bucketed O(Δ) store upserts (the maintenance-sink publish path) ————

  /** Bucket count for the streaming-maintained stores (docs/pairs,
    * labels, cells/codes, CDC replica). The store's published layout
    * is `published/bucket=<b>/` — a delta batch stages and swaps ONLY
    * its touched buckets, so per-batch bytes written are
    * O(Δ · bucketBytes), never the corpus: the Delta/Hudi copy-on-write
    * grain, where a bucket plays the role of one target-sized file. At
    * 100 TB the knob scales with store size (keep bucketBytes ≈ one
    * ideal file; a uniformly-hashed Δ of n keys then touches ≤ n
    * buckets and rewrites ≤ n ideal files); locally 8 keeps sf0.1
    * buckets file-sized. */
  private[graft] val MaintBuckets = 8

  /** The bucket a key routes to — a pure function of the key columns
    * (xxhash64, Spark's codegen'd 64-bit hash), so a key can never
    * change buckets and per-bucket key-uniqueness implies store-wide
    * key-uniqueness (the audit below never needs a cross-bucket
    * check). */
  private[graft] def bucketOf(nBuckets: Int, keyCols: Seq[String]): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int")

  /** Read a bucketed store's published table (Hive `bucket=<b>` dirs),
    * dropping the routing column; an empty `schema`-typed frame when
    * nothing has published yet. Runs [[Commit.recover]] first. */
  private[graft] def readBucketedStore(s: SparkSession, base: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    Commit.recover(base)
    val pub = new java.io.File(s"$base/published")
    val hasData = pub.exists &&
      Option(pub.list()).exists(_.exists(_.startsWith("bucket=")))
    if (hasData) readParquet(s, withBucket(schema), Seq(pub.toString)).drop("bucket")
    else s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The bucket ids a frame's rows route to — the read-side half of the
    * O(Δ) contract: collect the (≤ nBuckets, planner-sized) id set,
    * then scan ONLY those `bucket=<b>` dirs. */
  private[graft] def touchedBucketIds(df: DataFrame, cols: Seq[String],
      nBuckets: Int = MaintBuckets): Seq[Int] =
    distinctInts(df.select(bucketOf(nBuckets, cols)))

  /** Bucket-PRUNED read of a bucketed store: only the named buckets'
    * published dirs enter the scan, so a probe's read I/O is
    * O(|buckets| · bucketBytes) regardless of store size — the
    * "probe a published index" shape s17's incremental maintenance
    * rides on. Missing dirs (nothing ever routed there) read as empty;
    * an empty id set (or an unborn store) yields a typed empty frame.
    * Runs [[Commit.recover]] first. */
  private[graft] def readBucketedStoreBuckets(s: SparkSession, base: String,
      schema: org.apache.spark.sql.types.StructType,
      buckets: Seq[Int]): DataFrame = {
    Commit.recover(base)
    val pubRoot = s"$base/published"
    val paths = buckets.map(b => s"$pubRoot/bucket=$b")
      .filter(p => new java.io.File(p).exists)
    if (paths.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else readParquet(s, withBucket(schema), paths, Some(pubRoot))
      .select(schema.fieldNames.map(col): _*)
  }

  /** A bucketed store's read schema: its row schema plus the `bucket`
    * directory column. */
  private def withBucket(schema: org.apache.spark.sql.types.StructType) =
    if (schema.fieldNames.contains("bucket")) schema
    else schema.add("bucket", org.apache.spark.sql.types.IntegerType)

  /** O(Δ) keyed upsert into a bucketed store — the publish half the
    * streaming maintenance sinks (s17/s18/s19/s20) need at 100 TB,
    * where "read the whole store, union the delta, rewrite everything"
    * turns a micro-batch into a corpus-sized write. Protocol:
    *
    *   1. route the delta (and any delete keys) to buckets via
    *      [[bucketOf]]; collect the touched bucket ids (≤ nBuckets —
    *      planner-sized by construction);
    *   2. skip buckets already carrying this batch's `stagedMarker`
    *      (a redelivered/crash-resumed batch re-promotes nothing);
    *   3. read ONLY the pending buckets' published dirs, merge:
    *      insert-only (default) keeps the STORE's row on a key
    *      collision — a re-sent key with a changed payload is ignored
    *      consistently, never split across tables — while
    *      `newWins = true` (the CDC apply rule) replaces touched keys
    *      with the delta's rows and removes `deleteKeys`;
    *   4. stage the merged pending buckets in ONE partitioned write,
    *      audit (expected rows, null/dup keys, misrouted keys — bucket
    *      = f(key) makes per-bucket dup-freedom store-wide);
    *   5. on a clean audit, drop the marker into each staged bucket
    *      and [[Commit.swap]] each pending bucket in. A bucket whose
    *      merged content is EMPTY (every row deleted) promotes as a
    *      removal.
    *
    * Untouched buckets are never read, never written, byte-identical
    * across the batch (StorageSpec pins this). Crash anywhere:
    * re-running the batch is idempotent — promoted buckets skip via
    * their marker, unpromoted buckets re-merge to identical content
    * (both merge rules are pure functions of (published bucket, delta)
    * and re-applying a delta already absorbed is a no-op); a swap a
    * crash interrupted completes in [[Commit.recover]]. A reader
    * between two bucket swaps sees some buckets new and some old — the
    * local-FS gap a transactional table commit closes.
    * Returns the (check_name, observed, ok) audit manifest.
    *
    * Jobs per call, by label (`<phase>:<table>`; PublishBudgetSpec pins
    * 7 for a 2-row delta read from a file and 10 for a whole s18
    * trigger):
    *  - `upsert-touched`: one — per-partition bucket-id sets unioned on
    *    the driver. A delta plan with a broadcast or an exchange (s18's
    *    assignment) adds one job for each, and one that materializes
    *    the persisted delta;
    *  - `upsert-stage`: three — the broadcast of the pending buckets'
    *    stored keys (insert-only rule), the one-file-per-bucket
    *    repartition's map stage, and the write;
    *  - `upsert-audit`: two ([[auditKeys]]);
    *  - `upsert-recount`: one — the promoted buckets counted per
    *    partition.
    * Every re-read carries the written frame's schema, so no phase runs
    * a schema-inference job. */
  private[graft] def bucketedUpsertStaged(s: SparkSession, delta: DataFrame,
      base: String, keyCols: Seq[String], stagedMarker: String,
      nBuckets: Int = MaintBuckets, newWins: Boolean = false,
      deleteKeys: Option[DataFrame] = None,
      bucketCols: Seq[String] = Nil, sumCols: Seq[String] = Nil): DataFrame = {
    import s.implicits._
    require(!(newWins && sumCols.nonEmpty),
      "newWins and sumCols are distinct merge rules — pick one")
    require(bucketCols.isEmpty || bucketCols.forall(keyCols.contains),
      "bucketCols must be a subset of keyCols: bucket = f(key) is what " +
        "makes per-bucket key-uniqueness store-wide")
    // sum(bigint) is bigint: the counter merge then keeps the delta's
    // schema, so every batch writes, and re-reads, one store schema
    require(sumCols.forall(c =>
        delta.schema(c).dataType == org.apache.spark.sql.types.LongType),
      "sumCols must be BIGINT counters")
    Commit.recover(base)
    val pubRoot = new java.io.File(s"$base/published")
    // routing on a key-column SUBSET (e.g. a posting index keyed
    // (shingle, doc_id) but bucketed by shingle alone) keeps a probe
    // by that subset bucket-prunable — readBucketedStoreBuckets reads
    // only the buckets the probe keys route to
    val bCol = bucketOf(nBuckets, if (bucketCols.nonEmpty) bucketCols else keyCols)
    // persisted: the DELTA plan is evaluated by two actions here — the
    // touched-bucket collect and the staged write — and a maintenance
    // sink's delta is often the expensive half of the whole batch
    // (s17's incremental pair derivation: candidate self-join + exact
    // verify). Measured on the s17 probe: the pairs upsert spent
    // 22 s in upsert-touched + 19 s in upsert-stage re-running the
    // same delta plan before this persist (guide §1.2 / §5: cache a
    // reused expensive subtree, unpersist when done).
    val deltaB = delta.withColumn("bucket", bCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delB = deleteKeys.map(_.withColumn("bucket", bCol))
    try {
    // NULL keys are never lost here: Spark's hash expressions are
    // null-safe (a null child leaves the hash at its seed), so a
    // null-key row routes to a REAL bucket and the staged null_keys
    // audit below rejects it — it cannot silently vanish from the write
    val tbl = base.split('/').filter(_.nonEmpty).takeRight(2).mkString("/")
    val touched: Seq[Int] = labeled(s, s"upsert-touched:$tbl") {
      distinctInts((deltaB.select("bucket") +: delB.map(_.select("bucket")).toSeq)
        .reduce(_ unionByName _)) }
    val pending = touched.filterNot(b =>
      new java.io.File(s"$pubRoot/bucket=$b/$stagedMarker").exists)
    if (pending.isEmpty)
      return Seq(("already_applied", touched.size.toLong, true))
        .toDF("check_name", "observed", "ok")
    val deltaP = deltaB.filter(col("bucket").isin(pending.map(Integer.valueOf): _*))
    val delP = delB.map(_.filter(col("bucket").isin(pending.map(Integer.valueOf): _*)))
    val existingPaths = pending
      .map(b => s"$pubRoot/bucket=$b")
      .filter(p => new java.io.File(p).exists)
    val existing =
      if (existingPaths.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          deltaP.schema)
      else readParquet(s, deltaP.schema, existingPaths, Some(pubRoot.toString))
        .select(deltaP.columns.map(col): _*)
    val merged =
      if (sumCols.nonEmpty)
        // counter merge (the s17 shingle-DF store): one row per key,
        // counters added — re-applying an absorbed delta is NOT a
        // no-op here, which is exactly why the per-bucket marker skip
        // above is load-bearing for this rule
        existing.unionByName(deltaP)
          .groupBy((keyCols :+ "bucket").map(col): _*)
          .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
          .toDF(keyCols ++ Seq("bucket") ++ sumCols: _*)
          .select(deltaP.columns.map(col): _*)
      else if (!newWins)
        existing.unionByName(
          deltaP.join(existing.select(keyCols.map(col): _*), keyCols, "left_anti"))
      else {
        val touchedKeys = delP.foldLeft(deltaP.select(keyCols.map(col): _*))(
          (a, d) => a.unionByName(d.select(keyCols.map(col): _*))).distinct()
        existing.join(touchedKeys, keyCols, "left_anti").unionByName(deltaP)
      }
    // `expected` is OBSERVED on the staging write itself (the
    // writeAuditPublishStaged discipline): the merge joins and the
    // touched-bucket read run exactly once, in the write job — the old
    // persist + count + write shape materialized the merge twice and
    // paid a cache round-trip per publish, and this sink is the inner
    // loop of every maintenance twin (guide §1.2: remove passes first)
    val obs = new org.apache.spark.sql.Observation()
    val staging = new java.io.File(s"$base/staging")
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    labeled(s, s"upsert-stage:$tbl") {
      // ONE file per bucket (guide §6): the design already sizes a
      // bucket ≈ one ideal file, but the un-repartitioned write emitted
      // up to shuffle.partitions files per bucket — after two batches a
      // probe-side scan of the store paid hundreds of tiny parquet
      // opens. The extra (delta-sized) shuffle buys every later read.
      merged.repartition(col("bucket"))
        .observe(obs, count(lit(1)).as("n"))
        .write.partitionBy("bucket").mode("overwrite").parquet(staging.toString)
    }
    val expected = obs.get("n").asInstanceOf[Long]
    // an all-rows-deleted merge stages no bucket dir (partitionBy writes
    // none for an empty frame): the read-back is empty, and the promote
    // loop below still runs the removals
    val staged = readParquet(s, merged.schema, Seq(staging.toString))
    // ONE audit pass over the staged bytes: count, null keys, dup keys
    // and misroutes (the per-publish job count is the constant that
    // dominates these sinks at toy scale)
    val audit = labeled(s, s"upsert-audit:$tbl") {
      auditKeys(staged, keyCols, col("bucket") =!= bCol) }
    val checks = Seq(
      ("rows_match_expected", audit.rows, audit.rows == expected),
      ("null_keys", audit.nullKeys, audit.nullKeys == 0L),
      ("dup_keys", audit.dupKeys, audit.dupKeys == 0L),
      ("misrouted_keys", audit.misrouted, audit.misrouted == 0L))
    val allOk = checks.forall(_._3)
    if (allOk) pending.foreach { b =>
      // no staged dir: every row deleted, and the swap is the removal
      val stagedDir = Some(new java.io.File(staging, s"bucket=$b")).filter(_.exists)
      stagedDir.foreach(new java.io.File(_, stagedMarker).createNewFile(): Unit)
      Commit.swap(stagedDir, new java.io.File(pubRoot, s"bucket=$b"),
        new java.io.File(s"$base/aside_bucket_$b"))
    }
    val nTouchedPublished =
      if (allOk) {
        val livePaths = pending.map(b => s"$pubRoot/bucket=$b")
          .filter(p => new java.io.File(p).exists)
        if (livePaths.isEmpty) 0L
        else labeled(s, s"upsert-recount:$tbl") {
          countRows(readParquet(s, merged.schema, livePaths,
            Some(pubRoot.toString))) }
      } else 0L
    (checks :+ (("published_rows_touched", nTouchedPublished, allOk)))
      .toDF("check_name", "observed", "ok")
      .orderBy("check_name")
    } finally deltaB.unpersist(blocking = false)
  }

  /** f25 — BUCKET-COUNT RESCALING for the O(Δ)-maintained stores: the
    * maintenance job that keeps [[bucketedUpsertStaged]]'s guarantee
    * honest as a store GROWS. Per-batch upsert I/O is
    * O(Δ · bucketBytes); with the bucket count fixed, bucketBytes grows
    * with the store and the O(Δ) publish silently decays toward
    * O(store / nBuckets) per touched bucket. The fix every bucketed
    * format ships (Delta OPTIMIZE / Hudi clustering / Hive
    * ALTER ... INTO n BUCKETS): periodically rewrite the store at a
    * wider modulus. A key's bucket is a pure function of (key, n), so
    * the rescale must rewrite EVERYTHING — a full-store pass, correct
    * for a rare maintenance job (the f10/d74 cadence), wrong per batch,
    * which is exactly why it is a separate operator and not part of the
    * upsert.
    *
    * Protocol: restage the whole store partitioned by the NEW modulus,
    * audit (rows preserved, null/dup keys, every row routed to its
    * new-modulus bucket), then [[Commit.swap]] the layouts. Old per-bucket
    * `_batch_<id>` markers do not survive the rewrite — a batch
    * redelivered from before the rescale RE-APPLIES (idempotently, by
    * the merge rules) instead of skipping; the effectively-once side
    * markers (`_applied/<id>`) are unaffected. */
  private[graft] def rebucketStore(s: SparkSession, base: String,
      keyCols: Seq[String], newBuckets: Int): DataFrame = {
    import s.implicits._
    Commit.recover(base)
    val pub = new java.io.File(s"$base/published")
    require(pub.exists, s"rebucketStore: nothing published at $base")
    val bCol = bucketOf(newBuckets, keyCols)
    // the one inferred read: the store's schema is not passed in
    val cur = s.read.parquet(pub.toString)
    val expected = countRows(cur)
    val df = cur.drop("bucket").withColumn("bucket", bCol)
    val restage = new java.io.File(s"$base/staging_rescale")
    org.apache.commons.io.FileUtils.deleteQuietly(restage)
    df.write.partitionBy("bucket").mode("overwrite").parquet(restage.toString)
    val audit = auditKeys(readParquet(s, df.schema, Seq(restage.toString)),
      keyCols, col("bucket") =!= bCol)
    val checks = Seq(
      ("rows_match_expected", audit.rows, audit.rows == expected),
      ("null_keys", audit.nullKeys, audit.nullKeys == 0L),
      ("dup_keys", audit.dupKeys, audit.dupKeys == 0L),
      ("misrouted_keys", audit.misrouted, audit.misrouted == 0L))
    val allOk = checks.forall(_._3)
    if (allOk)
      Commit.swap(Some(restage), pub, new java.io.File(s"$base/published.old"))
    val nPublished =
      if (allOk) countRows(readParquet(s, df.schema, Seq(pub.toString))) else 0L
    (checks :+ (("published_rows", nPublished, allOk)))
      .toDF("check_name", "observed", "ok")
      .orderBy("check_name")
  }

  /** The f25 registry query: build a bucketed store from two
    * insert-only delta batches over `customer` at the default modulus,
    * rescale it to 2× [[MaintBuckets]], and output the content re-read
    * from the NEW layout — each row carrying `routed_ok`, the
    * Spark-side MEASUREMENT that its physical `bucket=` partition
    * equals the new modulus's routing function (the oracle pins the
    * all-true column; bucket ids themselves are xxhash64 artifacts no
    * SQL oracle can reproduce — the d73/d74 footnote discipline). A
    * lost row, a duplicated row, or one mis-moved row is a wrong row
    * here. */
  def bucketRescale(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val base = java.nio.file.Files.createTempDirectory("graft-rescale").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    bucketedUpsertStaged(s, cust.filter(pmod(col("c_custkey"), lit(10L)) < 8),
      base.toString, Seq("c_custkey"), "_batch_0")
    bucketedUpsertStaged(s, cust.filter(pmod(col("c_custkey"), lit(10L)) >= 8),
      base.toString, Seq("c_custkey"), "_batch_1")
    val widened = MaintBuckets * 2
    if (new java.io.File(s"$base/published").exists) {
      val audit = rebucketStore(s, base.toString, Seq("c_custkey"), widened)
      val failed = audit.filter(!col("ok")).collect()
      require(failed.isEmpty, s"f25 rescale audit failed: ${failed.mkString(", ")}")
      s.read.parquet(s"$base/published")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          (col("bucket") === bucketOf(widened, Seq("c_custkey")))
            .as("routed_ok"))
        .orderBy("c_custkey")
    } else // empty corpus: no key ever routed, nothing to rescale
      cust.limit(0).withColumn("routed_ok", lit(true))
  }

  /** f19 — ATOMIC MULTI-TABLE PUBLISH (the consistent-snapshot rung
    * the single-table WAP ladder is missing): derived tables that are
    * only correct TOGETHER — a pair relation and its cluster labels, a
    * fact rollup and its dimension — must promote as one snapshot, or
    * a reader joining them sees a torn state no single-table audit can
    * catch. The protocol: stage EVERY table, audit EVERY table (per-
    * table null/dup keys + row totals) AND the CROSS-TABLE invariant
    * (here: both rollups partition the same corpus, so their totals
    * must agree with each other and with the source count), then
    * promote ALL tables or NONE — a failed audit on any table leaves
    * every published table untouched (StorageSpec pins byte-identical
    * survivors). Promotion is one [[Commit.swap]] per table
    * ([[swapAll]]); a reader between two tables' swaps, or a JVM killed
    * there, sees a torn snapshot of whole tables — the local-FS gap a
    * production catalog closes with a single multi-table transactional
    * commit (Iceberg/Nessie-style). The AUDIT-level all-or-nothing is
    * what this operator adds over f09.
    *
    * The registry instance publishes the per-lang and per-source
    * document rollups; output = the audit manifest (one row per check
    * per table + the cross check + per-table published_rows re-read
    * from DISK), so a wrong promote hashes as a wrong manifest. */
  def atomicPublish(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val b = docs.groupBy("source").agg(count(lit(1)).as("n"))
    atomicPublishStaged(s,
      Seq(("by_lang", a, "lang"), ("by_source", b, "source")),
      docs.count(), dir("snapshot_pair"))
  }

  private[graft] def atomicPublishStaged(s: SparkSession,
      tables: Seq[(String, DataFrame, String)], expectedTotal: Long,
      base: String): DataFrame = {
    import s.implicits._
    def at(name: String, leaf: String) = new java.io.File(s"$base/$name/$leaf")
    tables.foreach { case (name, df, _) =>
      Commit.recover(s"$base/$name")
      df.write.mode("overwrite").parquet(at(name, "staging").toString)
    }
    val per = tables.map { case (name, df, key) =>
      val st = readParquet(s, df.schema, Seq(at(name, "staging").toString))
      val audit = auditKeys(st, Seq(key))
      val r = st.agg(sum(col("n"))).head()
      (name, audit.nullKeys, audit.dupKeys, if (r.isNullAt(0)) 0L else r.getLong(0))
    }
    val totalsOk = per.forall(_._4 == expectedTotal)
    val checks = per.flatMap { case (name, nNull, nDup, total) => Seq(
      (s"${name}_null_keys", nNull, nNull == 0L),
      (s"${name}_dup_keys", nDup, nDup == 0L),
      (s"${name}_total_rows", total, total == expectedTotal))
    } :+ (("totals_consistent", expectedTotal, totalsOk))
    val allOk = checks.forall(_._3)
    if (allOk) swapAll(tables.map { case (name, _, _) =>
      (at(name, "staging"), at(name, "published"), at(name, "published.old")) })
    val pubRows = tables.map { case (name, df, _) =>
      (s"${name}_published_rows",
        if (allOk) countRows(readParquet(s, df.schema, Seq(at(name, "published").toString)))
        else 0L,
        allOk)
    }
    (checks ++ pubRows).toDF("check_name", "observed", "ok")
      .orderBy("check_name")
  }

  /** The multi-table promote of f19 and f22: [[Commit.swap]] each
    * (staged, target, aside) in order, keeping the asides. If a swap
    * throws, the targets already promoted swap back to their asides
    * (a first publish, with no aside, is removed) before rethrowing, so
    * a failure mid-promote leaves the snapshot it found. */
  private def swapAll(swaps: Seq[(java.io.File, java.io.File, java.io.File)]): Unit = {
    val done = scala.collection.mutable.ArrayBuffer.empty[(java.io.File, java.io.File)]
    try swaps.foreach { case (staged, target, aside) =>
      Commit.swap(Some(staged), target, aside, keepAside = true)
      done += target -> aside
    } catch { case e: Throwable =>
      done.foreach { case (target, aside) =>
        Commit.swap(Some(aside).filter(_.exists), target,
          new java.io.File(target.getParentFile, "rolledback"))
      }
      throw e
    }
  }

  // ———— f21: optimistic concurrency for WAP publishers ————

  private val publishLocks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def publishLockFor(b: String): Object =
    publishLocks.getOrElseUpdate(b, new Object)

  /** Snapshot read for an optimistic publisher: (current version id,
    * current table) — version 0 / an empty `schema`-typed frame when
    * nothing has published yet. The version is the publisher's BASE:
    * its later promote succeeds only if the table is still there. */
  private[graft] def readForUpdate(s: SparkSession, base: String,
      schema: org.apache.spark.sql.types.StructType): (Int, DataFrame) = {
    val v = currentVersion(base)
    if (v > 0) (v, s.read.parquet(s"$base/published"))
    else (0, s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  /** Stage `derived` and promote it IFF the table's version still equals
    * `baseVersion` — the optimistic-concurrency CAS the WAP ladder was
    * missing: a publisher whose base advanced mid-derivation is REJECTED
    * (returns false; its staging is discarded) instead of clobbering the
    * concurrent winner's rows. The check-and-promote critical section is
    * a per-base JVM lock (single-writer-process semantics — a production
    * catalog runs the same compare-and-swap on its table pointer;
    * Iceberg/Delta commit protocols are exactly this shape). A promoted
    * version carries its lineage as an atomic `_base_v<n>` marker staged
    * BEFORE the swap (the s16 marker discipline), so the version
    * graph is reconstructable from disk alone. Audit (null/dup keys)
    * runs before the lock — stale work never holds it. */
  private[graft] def promoteOptimistic(s: SparkSession, base: String,
      name: String, derived: DataFrame, baseVersion: Int,
      keyCols: Seq[String]): Boolean =
    casPromote(base,
      stageOptimistic(s, base, name, derived, keyCols), baseVersion)

  /** Stage half: write + audit `derived` under `staging_<name>` and
    * return the dir. MATERIALIZES the derived plan — a publisher's work
    * must be on disk before any competitor's promote renames the base
    * version's files out from under its lazy scan. `name` must be
    * unique per concurrent publisher (it is the staging path): two
    * racers sharing a name would overwrite each other's staging — give
    * each job its own name, as the registry race does. */
  private[graft] def stageOptimistic(s: SparkSession, base: String,
      name: String, derived: DataFrame, keyCols: Seq[String]): String = {
    Commit.recover(base)
    val dir = s"$base/staging_$name"
    labeled(s, s"cas-stage:$name") {
      derived.write.mode("overwrite").parquet(dir)
    }
    // ONE audit pass over the staged bytes (the wap-audit discipline
    // applied to the optimistic publishers; f21/f22 each run several
    // stagings per publish race)
    val audit = labeled(s, s"cas-audit:$name") {
      auditKeys(readParquet(s, derived.schema, Seq(dir)), keyCols) }
    val nNull = audit.nullKeys
    val nDup = audit.dupKeys
    if (nNull != 0L || nDup != 0L) {
      // discard the staging before refusing — an audit failure must not
      // leak an orphan staging_<name> dir under the table base (the
      // same discard discipline casPromote applies to stale stagings)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      throw new IllegalArgumentException(
        s"requirement failed: optimistic publish audit failed for $name: " +
          s"nulls=$nNull dups=$nDup")
    }
    dir
  }

  /** CAS half: promote an already-staged dir IFF the version still
    * equals `baseVersion`; a stale base discards the staging and
    * returns false. */
  private[graft] def casPromote(base: String, stagingDir: String,
      baseVersion: Int): Boolean = {
    val dir = new java.io.File(stagingDir)
    publishLockFor(base).synchronized {
      if (currentVersion(base) != baseVersion) {
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
        false
      } else {
        new java.io.File(dir, s"_base_v$baseVersion").createNewFile(): Unit
        Commit.swap(Some(dir), new java.io.File(s"$base/published"),
          nextArchive(base), keepAside = true)
        true
      }
    }
  }

  /** Bounded-retry optimistic MERGE publisher: read the current
    * (version, table), merge `feed` into it, stage, CAS-promote; a
    * stale base re-derives from the NEW current — the loser's retried
    * merge therefore INCLUDES the winner's rows (no lost update).
    * Returns the number of attempts the promote took. */
  private[graft] def optimisticMerge(s: SparkSession, base: String,
      name: String, feed: DataFrame, key: String,
      maxRetries: Int = 5): Int = {
    val payload = org.apache.spark.sql.types.StructType(
      feed.schema.filterNot(_.name == "op"))
    var attempt = 0
    var done = false
    while (!done) {
      attempt += 1
      require(attempt <= maxRetries,
        s"optimistic publish for $name still stale after $maxRetries attempts")
      val (bv, cur) = readForUpdate(s, base, payload)
      done = promoteOptimistic(s, base, name,
        mergeUpsertOver(cur, feed, key).drop("action"), bv, Seq(key))
    }
    attempt
  }

  /** Read back the `_base_v<n>` lineage marker a promoted version
    * carries (underscore-prefixed — invisible to parquet readers). */
  private[graft] def baseVersionOf(base: String, version: Int): Int = {
    val dir =
      if (version == currentVersion(base)) s"$base/published"
      else s"$base/v$version"
    Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
      .collectFirst { case f if f.matches("_base_v\\d+") => f.drop(7).toInt }
      .getOrElse(sys.error(s"no lineage marker in $dir"))
  }

  /** f23 — DELETION VECTORS: merge-on-read row-level deletes. f13's
    * MERGE is copy-on-write — a delete REWRITES every file holding a
    * matched row, which at 100 TB turns a point delete (GDPR erasure,
    * a bad-record purge) into a table-sized write. The merge-on-read
    * alternative every modern table format ships (Delta deletion
    * vectors, Iceberg v2 position deletes): a delete writes only a
    * SIDECAR of (data file, row position) tombstones; reads apply the
    * sidecar with one anti-join; a later compaction materializes the
    * deletes and clears the vector — write cost moves from
    * O(files touched) to O(rows deleted), read cost gains one narrow
    * keyed anti-join until compaction.
    *
    * Row identity is the PHYSICAL coordinate (file path, row index)
    * from Spark's `_metadata` hidden column — exactly what the real
    * formats use (stable, key-free, unique by construction, uniformly
    * distributed: the anti-join can never skew, the d42 coordinate
    * argument). The vector is bound to the CURRENT published snapshot:
    * compaction rewrites live rows as a fresh version (f14 history
    * intact) and clears it. Deletes are idempotent — a re-delete of an
    * already-deleted row adds nothing (hits are computed against the
    * DV-applied read). Sidecar updates go through [[Commit.swap]]
    * (never delete-then-write live state): a crash mid-swap completes
    * to the NEW vector, never to an empty one (which would silently
    * resurrect every tombstoned row), and a replaced `dv_old` is never
    * restored (after [[dvCompact]] clears the vector it would
    * resurrect pre-compaction tombstones against rewritten files).
    *
    * StorageSpec pins the merge-on-read CLAIM itself: the data files
    * are byte-identical after a DV delete, the DV read equals the
    * copy-on-write result, re-deletes are no-ops, and compaction
    * round-trips content while clearing the vector. */
  private val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType)))

  /** The current deletion vector — (file, pos) — empty if none.
    * Runs [[Commit.recover]] first. */
  private[graft] def readDv(s: SparkSession, base: String): DataFrame = {
    Commit.recover(base)
    val dir = new java.io.File(s"$base/dv")
    if (dir.exists) s.read.parquet(dir.toString)
    else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      DvSchema)
  }

  /** The published table with its physical row coordinates exposed. */
  private def taggedScan(s: SparkSession, base: String): DataFrame =
    s.read.parquet(s"$base/published")
      .withColumn("file", col("_metadata.file_path"))
      .withColumn("pos", col("_metadata.row_index"))

  /** Merge-on-read READ path: published data minus the deletion
    * vector — one left-anti join on the (file, pos) coordinate. */
  private[graft] def readWithDv(s: SparkSession, base: String): DataFrame = {
    val t = taggedScan(s, base)
    t.join(readDv(s, base), Seq("file", "pos"), "left_anti")
      .drop("file", "pos")
  }

  /** Merge-on-read DELETE: append the coordinates of LIVE rows matching
    * `pred` to the deletion vector. Touches no data file. Returns the
    * number of newly tombstoned rows (0 on a re-delete). */
  private[graft] def dvDelete(s: SparkSession, base: String,
      pred: Column): Long = {
    val existing = readDv(s, base)
    dvAppend(s, base, existing, taggedScan(s, base).filter(pred)
      .join(existing, Seq("file", "pos"), "left_anti")
      .select(col("file"), col("pos")))
  }

  /** [[dvDelete]] keyed by a FRAME instead of a predicate — the s23
    * streaming shape: a micro-batch of delete keys semi-joins the
    * tagged scan (never a driver-side `isin`, so a wide delta batch
    * stays distributed), and the sidecar append is the same
    * stage-then-swap. Idempotent like dvDelete: already-
    * tombstoned coordinates are anti-joined away, so a redelivered
    * batch appends nothing. */
  private[graft] def dvDeleteMatching(s: SparkSession, base: String,
      keys: DataFrame, joinCols: Seq[String]): Long = {
    val existing = readDv(s, base)
    dvAppend(s, base, existing, taggedScan(s, base)
      .join(keys.select(joinCols.map(col): _*).dropDuplicates(joinCols),
        joinCols, "left_semi")
      .join(existing, Seq("file", "pos"), "left_anti")
      .select(col("file"), col("pos")))
  }

  /** The shared sidecar-append core behind [[dvDelete]] /
    * [[dvDeleteMatching]]: union `hits` into the current vector and
    * swap it in. Returns the newly tombstoned row count. */
  private def dvAppend(s: SparkSession, base: String,
      existing: DataFrame, hits: DataFrame): Long = {
    // stage the UNIONED vector first (the plan reads the old dv dir)
    val staging = new java.io.File(s"$base/staging_dv")
    val merged = existing.unionByName(hits)
    merged.write.mode("overwrite").parquet(staging.toString)
    val nNew = s.read.parquet(staging.toString).count() - existing.count()
    Commit.swap(Some(staging), new java.io.File(s"$base/dv"),
      new java.io.File(s"$base/dv_old"))
    nNew
  }

  /** Compaction: materialize the deletion vector — rewrite the live
    * rows as a fresh retained version (f14 history keeps the
    * pre-compaction snapshot) and clear the vector. Returns the audit
    * manifest of the promote. */
  private[graft] def dvCompact(s: SparkSession, base: String,
      keyCols: Seq[String]): DataFrame = {
    val live = readWithDv(s, base)
    val audit = writeAuditPublishStaged(s, live, base,
      keyCols, true, None)
    // clear the vector WITH any swap leftovers: an unmarked staging_dv
    // from a crashed stage write, a discarded dv_old
    if (audit.filter(!col("ok")).isEmpty)
      Seq("dv", "staging_dv", "dv_old").foreach(n =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$base/$n")))
    audit
  }

  /** The f23 registry query: publish the customer snapshot, tombstone
    * buckets 5 and 7 through two DV deletes (data files untouched —
    * spec-pinned byte identity), and report the per-bucket live/deleted
    * split read back through the merge-on-read path: buckets 5/7 show
    * zero live rows and their full populations deleted, every other
    * bucket the reverse — the row-level delete observable without one
    * data file rewritten. */
  def deletionVectors(s: SparkSession, d: String): DataFrame = {
    import graft.Canon.dsum
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val base = java.nio.file.Files.createTempDirectory("graft-dv").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    writeAuditPublishStaged(s, cust, base.toString,
      Seq("c_custkey"), false, None)
    dvDelete(s, base.toString, pmod(col("c_custkey"), lit(10L)) === 5)
    dvDelete(s, base.toString, pmod(col("c_custkey"), lit(10L)) === 7)
    val bucket = pmod(col("c_custkey"), lit(10L)).as("bucket")
    val live = readWithDv(s, base.toString)
      .groupBy(bucket).agg(count(lit(1)).as("n_live"),
        dsum(col("c_acctbal")).as("bal_live"))
    // the tombstoned rows, recovered by joining the vector back to the
    // physical coordinates — the DV never stores payload
    val dead = taggedScan(s, base.toString)
      .join(readDv(s, base.toString), Seq("file", "pos"), "left_semi")
      .groupBy(bucket).agg(count(lit(1)).as("n_deleted"))
    live.join(dead, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_live"), lit(0L)).as("n_live"),
        col("bal_live"),
        coalesce(col("n_deleted"), lit(0L)).as("n_deleted"))
      .orderBy("bucket")
  }

  /** f24 — ZERO-COPY BRANCHING over the version store: the catalog
    * feature (Nessie, LakeFS, Iceberg branches) that turns a versioned
    * table into a git-like workspace — fork the current snapshot for
    * free, experiment in isolation, merge back atomically or be
    * rejected if main moved.
    *
    * Model (LakeFS semantics): a branch is a REF — `branches/<name>/
    * _fork` records the main version it forked from; until the first
    * branch write, reads resolve straight to the forked main snapshot
    * (ZERO data copied, the whole point). A branch write publishes into
    * the branch's OWN WAP base (`branches/<name>/` — its own version
    * ladder, its own audits), leaving main's version pool untouched:
    * isolation is structural, not conventional. Merge-back is f21's
    * compare-and-swap: under main's publish lock, a branch whose fork
    * base is no longer main's current version is REJECTED whole (the
    * caller re-forks and re-applies — the optimistic-concurrency
    * rebase), otherwise the branch snapshot promotes as main's next
    * retained version and the branch is marked merged. On this local-FS
    * layout the merge writes the branch content once into main's
    * staging; a manifest table format re-points data files instead —
    * same API, O(metadata) merge. */
  private[graft] def createBranch(s: SparkSession, main: String,
      name: String): Int = {
    val fork = currentVersion(main)
    require(fork >= 1, s"cannot branch $main before its first publish")
    val dir = new java.io.File(s"$main/branches/$name")
    require(!dir.exists, s"branch $name already exists at $main")
    dir.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_fork"), fork.toString)
    fork
  }

  private[graft] def forkVersionOf(main: String, name: String): Int =
    java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$main/branches/$name/_fork")).trim.toInt

  /** Branch read: branch-local published if any write happened, else
    * the forked main snapshot (the zero-copy path). */
  private[graft] def readBranch(s: SparkSession, main: String,
      name: String): DataFrame = {
    val bBase = s"$main/branches/$name"
    Commit.recover(bBase)
    if (new java.io.File(s"$bBase/published").exists)
      s.read.parquet(s"$bBase/published")
    else readAsOf(s, main, forkVersionOf(main, name))
  }

  /** Branch write: full WAP publish into the branch's own base. */
  private[graft] def writeBranch(s: SparkSession, main: String,
      name: String, df: DataFrame, keyCols: Seq[String]): DataFrame =
    writeAuditPublishStaged(s, df, s"$main/branches/$name",
      keyCols, true, None)

  /** Merge-back: fast-forward CAS. True iff main's current version
    * still equals the branch's fork base; a stale branch is rejected
    * whole and left intact for the caller to re-fork. */
  private[graft] def mergeBranch(s: SparkSession, main: String,
      name: String, keyCols: Seq[String]): Boolean =
    publishLockFor(main).synchronized {
      val fork = forkVersionOf(main, name)
      if (currentVersion(main) != fork) false
      else {
        val content = readBranch(s, main, name)
        val audit = writeAuditPublishStaged(s, content,
          main, keyCols, true, None)
        require(audit.filter(!col("ok")).isEmpty,
          s"branch $name failed main's publish audit")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$main/branches/$name/_merged"),
          currentVersion(main).toString)
        true
      }
    }

  /** The f24 registry query: fork two branches off the customer
    * snapshot, update bucket-2 balances on one, and walk the whole
    * lifecycle — isolation (main unchanged while the branch diverges),
    * fast-forward merge (main adopts the branch content), stale
    * rejection (the second branch, forked from the same base, is
    * refused after main moved — and main is untouched by the refusal).
    * Output: per-bucket aggregates at each lifecycle stage, all
    * re-read from DISK. */
  def branchMerge(s: SparkSession, d: String): DataFrame = {
    import graft.Canon.dsum
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val main = java.nio.file.Files.createTempDirectory("graft-branch").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(main)
    writeAuditPublishStaged(s, cust, main.toString,
      Seq("c_custkey"), true, None)
    createBranch(s, main.toString, "exp")
    createBranch(s, main.toString, "stale")
    val bumped = readBranch(s, main.toString, "exp")
      .withColumn("c_acctbal",
        when(pmod(col("c_custkey"), lit(10L)) === 2, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
    writeBranch(s, main.toString, "exp", bumped, Seq("c_custkey"))
    def agg(stage: String, df: DataFrame): DataFrame =
      df.groupBy(pmod(col("c_custkey"), lit(10L)).as("bucket"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("c_acctbal")).as("bal_sum"))
        .select(lit(stage).as("stage"), col("bucket"), col("n_rows"),
          col("bal_sum"))
    require(mergeBranch(s, main.toString, "exp", Seq("c_custkey")),
      "fast-forward merge of a fresh branch must succeed")
    // the stale branch (fork v1, main now v2) must be refused whole —
    // and the refusal must not move main
    require(!mergeBranch(s, main.toString, "stale", Seq("c_custkey")),
      "a stale branch must be rejected")
    // all four stages read AFTER the lifecycle completes, so no lazy
    // scan races the merge's promote rename: pre-merge main is the
    // archived v1 (byte-identical to the pre-merge published — the f14
    // retention contract, StorageSpec-pinned), the branch keeps its own
    // published, and the two post-stages both read main's current
    // published (equal by design: the stale rejection moved nothing)
    agg("main_v1", readAsOf(s, main.toString, 1))
      .unionByName(agg("branch_exp", readBranch(s, main.toString, "exp")))
      .unionByName(agg("main_merged", s.read.parquet(s"$main/published")))
      .unionByName(agg("main_after_stale_reject",
        s.read.parquet(s"$main/published")))
      .orderBy("stage", "bucket")
  }

  /** f22 — MULTI-TABLE optimistic CAS publish: f19's all-or-nothing
    * snapshot × f21's compare-and-swap, the full transactional-catalog
    * commit shape. A publisher stages EVERY table of its snapshot
    * (audited, work on disk), then under ONE commit lock checks that
    * EVERY table's version still equals the base it read: any advanced
    * table rejects the WHOLE commit (all stagings discarded — a
    * half-stale snapshot must not half-promote), otherwise all tables
    * promote with lineage markers and the f19 mid-promote rollback
    * ([[swapAll]]). Returns true iff the snapshot committed. */
  private[graft] def atomicCasPublish(base: String,
      staged: Seq[(String, String)], baseVersions: Map[String, Int]): Boolean =
    publishLockFor(base).synchronized {
      val stale = staged.exists { case (name, _) =>
        currentVersion(s"$base/$name") != baseVersions(name)
      }
      if (stale) {
        staged.foreach { case (_, dir) =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
        }
        false
      } else {
        swapAll(staged.map { case (name, dir) =>
          new java.io.File(dir, s"_base_v${baseVersions(name)}").createNewFile()
          (new java.io.File(dir), new java.io.File(s"$base/$name/published"),
            nextArchive(s"$base/$name"))
        })
        true
      }
    }

  /** f22 registry instance — a deterministic two-publisher race on a
    * TWO-table snapshot (the per-lang and per-source document rollups):
    * publisher B reads both tables at v1 and stages its bucket-9 merge;
    * publisher A replaces both with the bucket-8-inclusive rollups
    * (v2); B's whole-snapshot CAS is REJECTED atomically (neither table
    * advances, both stagings discarded), B re-derives from v2 and lands
    * v3 = the full corpus — both publishers' effects present in BOTH
    * tables. Output: per (tbl, version) the lineage base and the
    * exact group-count/total re-read from DISK; the oracle recomputes
    * the three versions as slice rollups, so a torn snapshot (one
    * table at v3 semantics, the other missing A's rows) hashes wrong. */
  def atomicCasFeed(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    def rollups(pred: Column): Map[String, DataFrame] = Map(
      "by_lang" -> docs.filter(pred).groupBy("lang").agg(count(lit(1)).as("n")),
      "by_source" -> docs.filter(pred).groupBy("source").agg(count(lit(1)).as("n")))
    val keyOf = Map("by_lang" -> "lang", "by_source" -> "source")
    val base = java.nio.file.Files.createTempDirectory("graft-mcas").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    val names = Seq("by_lang", "by_source")
    def stageAll(job: String, rels: Map[String, DataFrame]): Seq[(String, String)] =
      names.map(n => n -> stageOptimistic(s, s"$base/$n", job, rels(n),
        Seq(keyOf(n))))
    def versionsNow(): Map[String, Int] =
      names.map(n => n -> currentVersion(s"$base/$n")).toMap
    // v1: the reference snapshot (buckets 0–7)
    require(atomicCasPublish(base.toString,
      stageAll("init", rollups(pmod(col("doc_id"), lit(10L)) < 8)),
      names.map(_ -> 0).toMap), "initial commit cannot be stale")
    // B reads v1 and stages its bucket-9 MERGE (current + bucket-9 counts)
    val bvB = versionsNow()
    def mergeNine(cur: Map[String, DataFrame]): Map[String, DataFrame] =
      names.map { n =>
        val k = keyOf(n)
        val nine = docs.filter(pmod(col("doc_id"), lit(10L)) === 9)
          .groupBy(k).agg(count(lit(1)).as("n9"))
        n -> cur(n).join(nine, Seq(k), "full_outer")
          .select(col(k),
            (coalesce(col("n"), lit(0L)) + coalesce(col("n9"), lit(0L))).as("n"))
      }.toMap
    def currentTables(): Map[String, DataFrame] =
      names.map(n => n -> s.read.parquet(s"$base/$n/published")).toMap
    val stagedB = stageAll("pubB", mergeNine(currentTables()))
    // A replaces both tables with the bucket-8-inclusive rollups → v2
    require(atomicCasPublish(base.toString,
      stageAll("pubA", rollups(pmod(col("doc_id"), lit(10L)) < 9)), bvB),
      "publisher A raced nobody and must commit")
    // B's stale snapshot: the whole commit must reject atomically
    require(!atomicCasPublish(base.toString, stagedB, bvB),
      "multi-table CAS accepted a stale snapshot — lost update")
    // B retries from v2 → v3 carries BOTH publishers' effects
    require(atomicCasPublish(base.toString,
      stageAll("pubB", mergeNine(currentTables())), versionsNow()),
      "retry from the advanced snapshot should commit")
    names.flatMap { n =>
      (1 to 3).map { v =>
        val r = readAsOf(s, s"$base/$n", v)
          .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("total_n")).head()
        (n, v.toLong, baseVersionOf(s"$base/$n", v).toLong,
          r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    }.toDF("tbl", "version", "base_version", "n_groups", "total_n")
      .orderBy("tbl", "version")
  }

  /** f21 — the registry instance: a deterministic two-publisher RACE on
    * one customer table. Publisher B reads the v1 snapshot and derives
    * its delete-merge; publisher A publishes its update-merge first
    * (v2, base 1); B's promote is REJECTED (stale base — the require
    * makes a silent clobber fail the whole query), B retries from v2
    * and lands v3 (base 2) containing BOTH feeds' effects. Output: every
    * version re-read from DISK with its lineage marker — (version,
    * base_version, n_rows, exact-decimal balance sum); the oracle
    * recomputes v1/v2/v3 as sequential merges, so a lost update (v3
    * missing A's +100s) hashes wrong. */
  def optimisticPublish(s: SparkSession, d: String): DataFrame = {
    import graft.Canon.dsum
    val cust = Tables.customer(s, d)
    val snapshot = cust
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .withColumn("op", lit("upsert"))
    val feedA = cust.filter(pmod(col("c_custkey"), lit(10L)) === 2)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), lit("upsert").as("op"))
    val feedB = cust.filter(pmod(col("c_custkey"), lit(10L)) === 7)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        lit("delete").as("op"))
    val base = java.nio.file.Files.createTempDirectory("graft-occ").toFile
    org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
    val payload = org.apache.spark.sql.types.StructType(
      snapshot.schema.filterNot(_.name == "op"))
    optimisticMerge(s, base.toString, "init", snapshot, "c_custkey") // v1
    // the race: B reads v1 and STAGES its merge first (work on disk —
    // a real racer's staging precedes the competitor's promote), A
    // publishes, then B's CAS must reject the stale staging
    val (bvB, curB) = readForUpdate(s, base.toString, payload)
    val stagedB = stageOptimistic(s, base.toString, "pubB",
      mergeUpsertOver(curB, feedB, "c_custkey").drop("action"), Seq("c_custkey"))
    optimisticMerge(s, base.toString, "pubA", feedA, "c_custkey") // v2
    require(!casPromote(base.toString, stagedB, bvB),
      "optimistic publish ACCEPTED a stale base — lost update")
    require(optimisticMerge(s, base.toString, "pubB", feedB, "c_custkey") == 1,
      "retry from the advanced version should promote first try")
    (1 to 3).map { v =>
      readAsOf(s, base.toString, v)
        .agg(count(lit(1)).as("n_rows"), dsum(col("c_acctbal")).as("bal_sum"))
        .select(lit(v.toLong).as("version"),
          lit(baseVersionOf(base.toString, v).toLong).as("base_version"),
          col("n_rows"), col("bal_sum"))
    }.reduce(_.unionByName(_)).orderBy("version")
  }

  /** f20 — RUNTIME BLOOM-FILTER JOIN (InjectRuntimeFilter — the DPP
    * analog for DATA columns): when a fact⋈dim join keys on a column
    * that is NOT the partition key, f18's partition pruning is blind —
    * but Catalyst can build a bloom filter over the FILTERED dim's join
    * keys at runtime and inject `might_contain(xxhash64(l_partkey))`
    * as a fact-side pre-filter, pruning fact rows BEFORE the join
    * shuffle (the shuffle, not just the scan, is what hurts at 100 TB:
    * a 1% -selective dim turns a 100 TB fact exchange into ~1 TB).
    * Exactness is unaffected — the bloom is conservative and the real
    * join runs after it, which the plain-join oracle pins.
    *
    * Spark gates the rewrite on size estimates tuned for production
    * (creation side ≤ 10 MB by default, application side ≥ 10 GB), so
    * the fixture FORCES the thresholds and disables broadcast for this
    * query only (saved/restored session confs, the f11 discipline) —
    * on a real 100 TB fact the defaults fire by themselves. The
    * returned frame is the conf-scoped result materialized eagerly
    * (k-brand rows, planner-sized): the injected filter exists only
    * while the confs are set, so a lazy frame optimized later would
    * silently lose it; PlanSpec pins the `might_contain` +
    * `bloom_filter_agg` nodes inside the conf scope and bloom-on ≡
    * bloom-off results. */
  def runtimeBloomJoin(s: SparkSession, d: String): DataFrame = {
    val (rows, schema) = withBloomConfs(s) {
      val q = bloomJoinFrame(s, d)
      (q.collect().toSeq, q.schema)
    }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  private[graft] def bloomJoinFrame(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val dim = Tables.part(s, d).filter(col("p_size") === 1)
      .select("p_partkey", "p_brand")
    li.join(dim, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")
  }

  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T = {
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) =>
      k -> scala.util.Try(s.conf.get(k)).toOption }
    keys.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => scala.util.Try(s.conf.unset(k))
    }
  }

  /** Compaction rewrite target: ~256 KiB of text per output file —
    * deliberately tiny so the fixtures produce a multi-file compacted
    * layout; production binds 128 MB–1 GB. */
  val CompactTargetBytes: Long = 256L * 1024

  /** f10 — small-file COMPACTION (the maintenance job behind the
    * "small-file problem"): streaming ingests, per-partition writers,
    * and frequent upserts leave tables as thousands of KB-sized files,
    * and at 100 TB file-open/footer overhead then dominates every scan
    * (a 1000-executor scan of 10⁷ 10 KB files is metadata-bound, not
    * IO-bound). The job: measure the table's CONTENT size, derive the
    * target file count from a size budget, and rewrite into that many
    * files — here simulated by first writing `documents` fragmented
    * 64 ways, then compacting.
    *
    * Like f09 this is an eager JOB, not a lazy plan (it performs its
    * writes when invoked). The returned row carries only
    * CONTENT-derived facts the oracle can recompute (row count, text
    * bytes, the target-count arithmetic, an order-independent content
    * checksum summed from per-doc md5 prefixes — integer-exact in any
    * engine), aggregated from the COMPACTED files re-read, so the
    * rewrite's fidelity is what is checked. File counts live in
    * StorageSpec (layout facts are not SQL-derivable): compacted file
    * count = the declared target, strictly fewer than fragmented.
    * Scale: both rewrites are one shuffle each (round-robin
    * repartition); the stats pass is a 2-scalar aggregate. */
  /** The two scratch layouts [[compaction]] writes — exposed so
    * StorageSpec can pin the layout facts (file counts) the SQL oracle
    * cannot see. */
  private[graft] def compactionDirs: (String, String) =
    (dir("docs_fragmented"), dir("docs_compacted"))

  /** f12 — CORRUPT-record CSV ingestion (PERMISSIVE mode): real feeds
    * carry malformed rows, and the production pattern is schema-on-read
    * with `columnNameOfCorruptRecord` — clean rows parse, bad rows land
    * whole in the corrupt column for quarantine, and NOTHING throws or
    * is silently dropped (FAILFAST kills the job on one bad row;
    * DROPMALFORMED loses data without a trace — the corrupt-column mode
    * is the only auditable one). Corruption is PLANTED deterministically
    * (every p_partkey ≡ 0 mod 13 writes an unparseable p_size), so the
    * oracle recomputes both populations from the clean source.
    *
    * The output aggregates count rows, corrupt rows, and clean-row
    * sums, with clean rows identified by a NULL corrupt column —
    * deliberately not relying on how PERMISSIVE fills the OTHER fields
    * of a bad row (partial-field preservation is version-dependent;
    * the quarantine contract is not). Scan-parallel: the CSV read and
    * the single aggregate are one pass, the write one round-robin
    * shuffle. */
  def corruptRecords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val base = dir("corrupt_csv")
    val p = Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"), col("p_size"), col("p_retailprice"))
    val line = when(col("p_partkey") % 13 === 0,
      concat_ws(",", col("p_partkey"), col("p_name"), lit("NOT_A_NUMBER"),
        col("p_retailprice")))
      .otherwise(concat_ws(",", col("p_partkey"), col("p_name"), col("p_size"),
        col("p_retailprice")))
    p.select(line.as("value")).write.mode("overwrite").text(base)
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_size", LongType),
      StructField("p_retailprice", DoubleType),
      StructField("_corrupt", StringType)))
    val back = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(base)
    val clean = col("_corrupt").isNull
    back.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(col("_corrupt").isNotNull.cast("long")), lit(0L)).as("n_corrupt"),
      coalesce(sum(clean.cast("long")), lit(0L)).as("n_clean"),
      coalesce(sum(when(clean, col("p_size"))), lit(0L)).as("size_sum"),
      dsum(when(clean, col("p_retailprice"))).as("retail_sum"))
  }

  /** f11 — DYNAMIC partition overwrite (INSERT OVERWRITE by partition):
    * the incremental-reprocess primitive. A daily job recomputes ONE
    * partition's data and overwrites ONLY that partition — with
    * `partitionOverwriteMode=dynamic` the write replaces exactly the
    * partitions present in its data, while STATIC mode (the default)
    * would silently DELETE every other partition first: the difference
    * is the whole operator, and the re-read proves the sibling
    * partitions survived byte-identical. At 100 TB this is how backfills
    * work: reprocess day N, overwrite `dt=N`, never rewrite the table.
    *
    * An eager JOB like f09/f10. Seed: `documents` Hive-partitioned by
    * lang; update: the minimum lang's docs with text UPPERCASED (a
    * visible, oracle-recomputable transform). Output: per-lang rows +
    * md5-prefix content checksum from the re-read — the target lang
    * must carry the UPPERCASED checksum, every other lang the original
    * (a static-mode regression empties them instead). The session's
    * overwrite mode is saved/restored around the write. */
  def partitionOverwrite(s: SparkSession, d: String): DataFrame = {
    val base = dir("po_table")
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"), col("lang"))
    docs.write.partitionBy("lang").mode("overwrite").parquet(base)
    // deterministic target: the minimum lang present (one-scalar head,
    // the f10 stats discipline)
    val minLang = docs.agg(min(col("lang"))).head().getString(0)
    def summarize(df: DataFrame): DataFrame = df
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long")), lit(0L)).as("content_sum"))
      .orderBy("lang")
    // empty corpus: the partitioned write emitted no partition files
    // (nothing to re-read), so the summary runs on the empty source
    if (minLang == null) return summarize(docs)
    val upd = docs.filter(col("lang") === minLang)
      .withColumn("text", upper(col("text")))
    val conf = "spark.sql.sources.partitionOverwriteMode"
    val prev = s.conf.getOption(conf)
    s.conf.set(conf, "dynamic")
    try upd.write.partitionBy("lang").mode("overwrite").parquet(base)
    finally prev match {
      case Some(v) => s.conf.set(conf, v)
      case None => s.conf.unset(conf)
    }
    summarize(s.read.parquet(base))
  }

  def compaction(s: SparkSession, d: String): DataFrame = {
    val (frag, compacted) = compactionDirs
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .repartition(64).write.mode("overwrite").parquet(frag)
    val src = s.read.parquet(frag)
    val stats = src.agg(count(lit(1)),
      coalesce(sum(octet_length(col("text"))), lit(0L))).head()
    val (n, bytes) = (stats.getLong(0), stats.getLong(1))
    val nTarget: Long =
      if (n == 0) 0L
      else math.max(1L, (bytes + CompactTargetBytes - 1) / CompactTargetBytes)
    if (nTarget > 0)
      src.repartition(nTarget.toInt).write.mode("overwrite").parquet(compacted)
    val back = if (nTarget > 0) s.read.parquet(compacted) else src
    back.agg(
      count(lit(1)).as("n_rows"),
      coalesce(sum(octet_length(col("text"))), lit(0L)).as("text_bytes"),
      lit(nTarget).as("n_target_files"),
      coalesce(sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long")), lit(0L)).as("content_sum"))
  }
}
