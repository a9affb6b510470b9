package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data profiling and data-quality checks — the validation stage every
  * ingest pipeline runs before data is trusted.
  *
  * Float discipline: profiles carry exact decimal sums (n, Σx, Σx²) out
  * of the aggregation; mean/stddev are then derived with single double
  * ops on engine-identical inputs, so no rounding is needed (and per the
  * [[graft.Canon.round4]] note, rounding identical doubles could itself
  * diverge).
  */
object Profiling {
  import Canon._

  /** p01 — numeric column profile of `lineitem` in ONE scan and ONE
    * aggregation row: all three columns' stats run as parallel aggregate
    * buffers over the original rows (no pre-agg row explosion — an
    * unpivot-first plan triples the rows through the aggregate and
    * measured ~2× slower), then the single result row unpivots to one
    * row per column. */
  /** p11 — per-DIMENSION embedding profile: the p01 column profile
    * applied to the vector corpus, one row per embedding position with
    * (n, mean, stddev, min, max). This is the QA gate a vector pipeline
    * runs before committing to a storage/index layout: a dead dimension
    * (stddev ≈ 0) wastes PQ codebook capacity and Matryoshka prefix
    * budget (d15/d29 consumers), a scale-outlier dimension dominates
    * int8 quantization ranges, and a mean far from 0 breaks the
    * symmetric-quantizer assumption — all visible from this one
    * relation.
    *
    * Plan: ONE corpus scan, posexplode to (pos, val), then a 64-group
    * aggregate — partial aggregation collapses each map task to
    * dim-many rows before the shuffle, so shuffled bytes are
    * O(dim · tasks) at any corpus size. Exact-decimal sums (dsum, the
    * p01/Canon discipline) make mean/stddev order-independent and
    * bit-identical cross-engine; min/max are exact by nature. */
  def embeddingProfile(s: SparkSession, d: String): DataFrame = {
    val x = Tables.embeddings(s, d)
      .select(posexplode(col("embedding").cast("array<double>")))
      .toDF("pos", "val")
    x.groupBy(col("pos"))
      .agg(count(col("val")).as("n"),
        dsum(col("val")).as("s"),
        dsum(col("val") * col("val")).as("s2"),
        min(col("val")).as("min"), max(col("val")).as("max"))
      .select(col("pos"), col("n"),
        (col("s") / col("n")).as("mean"),
        sqrt((col("s2") - col("s") * col("s") / col("n")) /
          (col("n") - 1)).as("stddev"),
        col("min"), col("max"))
      .orderBy("pos")
  }

  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val aggs = cols.flatMap { c =>
      val x = col(c).cast("double")
      Seq(count(x).as(s"${c}_n"),
        (count(lit(1)) - count(x)).as(s"${c}_nn"),
        dsum(x).as(s"${c}_s"),
        dsum(x * x).as(s"${c}_s2"),
        min(x).as(s"${c}_min"),
        max(x).as(s"${c}_max"))
    }
    Tables.lineitem(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(s"${c}_n").as("n"),
          col(s"${c}_nn").as("n_null"), col(s"${c}_s").as("sum"),
          col(s"${c}_s2").as("sum_sq"), col(s"${c}_min").as("min"),
          col(s"${c}_max").as("max"))): _*)).as("p"))
      .select(col("p.column").as("column"), col("p.n").as("n"),
        col("p.n_null").as("n_null"),
        (col("p.sum") / col("p.n")).as("mean"),
        col("p.min").as("min"), col("p.max").as("max"),
        sqrt((col("p.sum_sq") - col("p.sum") * col("p.sum") / col("p.n")) /
          (col("p.n") - 1)).as("stddev"))
      .orderBy("column")
  }

  /** Pipeline observability via `Dataset.observe`: named QC metrics
    * (row count, rule-violation count, exact revenue control total)
    * accumulated ON the rows as the query executes — no second scan, no
    * extra shuffle; the metrics ride the action and are read from the
    * returned [[org.apache.spark.sql.Observation]] after it completes.
    * This is the control-total pattern every ingest job wants: the
    * pipeline's own run reports the numbers reconciliation checks
    * against, at zero additional passes (where p01/p02 are standalone
    * audit queries). Library surface (metrics are a side channel, not a
    * result set) — ProfilingSpec pins metrics ≡ direct aggregation. */
  def observedScan(s: SparkSession, d: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = new org.apache.spark.sql.Observation("ingest_qc")
    val df = Tables.lineitem(s, d)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L))
          .as("qty_violations"),
        dsum(col("l_extendedprice")).as("control_total"))
    (df, obs)
  }

  /** p02 — declarative data-quality rules, one result row per rule:
    * range violations, referential orphans (anti-join), duplicate keys,
    * and null checks. Each rule is a filter/anti-join count — all
    * shuffle-light; the orphan check is the only join and it shuffles on
    * the key being validated. */
  def dqChecks(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val e = Tables.events(s, d)
    def rule(name: String, violations: DataFrame): DataFrame =
      violations.select(lit(name).as("rule"),
        count(lit(1)).as("n_violations"))
    val rows = Seq(
      rule("lineitem_quantity_in_1_50",
        li.filter(!col("l_quantity").between(1.0, 50.0))),
      rule("lineitem_orphan_orderkey",
        li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")),
      rule("orders_nonpositive_total",
        o.filter(col("o_totalprice") <= 0.0)),
      rule("customer_duplicate_key",
        c.groupBy("c_custkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)),
      rule("events_null_ts",
        e.filter(col("ts").isNull)))
    rows.reduce(_.unionAll(_)).orderBy("rule")
  }

  /** p03 — equi-width histogram of a numeric column (here
    * `l_extendedprice`, 16 bins): the distribution-shape profile p01's
    * moment statistics can't show (skew, modes, outlier mass).
    *
    * Two passes over ONE pruned column: pass 1 reduces to a single
    * (min, max) row — broadcast, never collected — and pass 2 bins each
    * value by pure arithmetic (`floor((x − lo) / w)`, clamped so
    * `x = max` lands in the last bin) into a `nBins`-group aggregate.
    * No corpus sort, no corpus shuffle: the only exchange carries
    * `nBins` partial-count rows. (`approx_percentile`-style one-pass
    * sketches trade exactness for the second scan; the profiling
    * contract here is exact counts over exact global edges.)
    *
    * Float discipline: bin index and edges are chains of single IEEE
    * ops (sub/div/mul/floor) on engine-identical doubles — bit-exact in
    * any engine, no rounding needed (Canon.round4 note). Empty bins
    * emit no row (both engines agree; a reporting layer can spine-join
    * zeros). */
  def histogram(s: SparkSession, d: String, nBins: Int = 16): DataFrame = {
    val x = Tables.lineitem(s, d).select(col("l_extendedprice").cast("double").as("x"))
    val ext = x.agg(min("x").as("lo"), max("x").as("hi"))
    val w = (col("hi") - col("lo")) / nBins
    x.join(broadcast(ext))
      .select(least(lit(nBins - 1L),
        floor((col("x") - col("lo")) / w)).as("bin"), col("lo"), col("hi"))
      .groupBy("bin", "lo", "hi")
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (col("lo") + col("bin") * ((col("hi") - col("lo")) / nBins)).as("bin_lo"),
        (col("lo") + (col("bin") + 1) * ((col("hi") - col("lo")) / nBins)).as("bin_hi"),
        col("n"))
      .orderBy("bin")
  }

  /** p07 — ROBUST outlier profile (median / MAD, the z-score's
    * heavy-tail-safe sibling): per event_type, med = median(value),
    * MAD = median(|value − med|), and an outlier is
    * |value − med| > 3·1.4826·MAD (the normal-consistency constant;
    * written as the single literal 4.4478 so both engines run ONE
    * multiply — a·b·c reassociated can differ in the last ulp). Mean ±
    * k·σ (p01's moments) moves with the outliers it is hunting; the
    * median pair does not — this is the profiling rule real DQ suites
    * ship for skewed metrics.
    *
    * Two passes by necessity (deviations need the finished median), each
    * reduced to a ≤|types|-row frame that broadcasts back — no corpus
    * re-shuffle, same shape as p03's extrema pass. Exact `percentile`
    * buffers each group's values (fine at profile granularity; the
    * 100 TB swap is `approx_percentile`, same plan — e09c's note).
    * Float discipline: med and MAD are round4-CONTRACTED decimals (the
    * e33 contract: interpolated midpoints agree across engines only to
    * ~ulp, so the contract pins them); deviations and the threshold
    * compare are then single IEEE ops on engine-identical doubles. */
  def madOutliers(s: SparkSession, d: String): DataFrame = {
    val v = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = v.groupBy("event_type")
      .agg(round4(expr("percentile(value, 0.5)")).as("med"))
    val dev = v.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(round4(expr("percentile(dev, 0.5)")).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("thr", round4(col("mad") * 4.4478))
      .groupBy(col("event_type"), col("med"), col("mad"), col("thr"))
      .agg(count(lit(1)).as("n"),
        sum((col("dev") > col("thr")).cast("long")).as("n_outliers"),
        round4(max(col("dev"))).as("max_dev"))
      .orderBy("event_type")
  }

  /** p09 — KEY-candidate and FUNCTIONAL-DEPENDENCY profile (schema
    * discovery): which columns actually behave as keys, and which
    * declared X→Y dependencies hold — the checks a catalog/modeling
    * tool runs before anyone trusts a join key or a dimension
    * hierarchy. A key rule reports `violations` = rows − distinct
    * values (0 ⇔ unique); an FD rule reports the number of LHS groups
    * carrying MORE THAN ONE distinct RHS value (0 ⇔ X→Y holds).
    *
    * Plan: each rule is one aggregate pass reduced to a single row
    * (key rules: count + countDistinct in one scan; FD rules: a keyed
    * countDistinct then a one-row rollup), then a tiny union — the p02
    * declarative-rules shape. `countDistinct` shuffles exact distincts
    * at profile granularity; the 100 TB swap is HLL
    * (`approx_count_distinct` / the stored sketches) in the same
    * plans. */
  def fdProfile(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.Column
    def keyRule(name: String, df: DataFrame, cols: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n"),
        countDistinct(col(cols.head), cols.tail.map(col): _*).as("nd"))
        .select(lit(name).as("rule"), col("n").as("lhs_count"),
          (col("n") - col("nd")).as("violations"),
          (col("n") === col("nd")).as("holds"))
    def fdRule(name: String, df: DataFrame, x: Column, y: Column): DataFrame =
      df.groupBy(x.as("x")).agg(countDistinct(y).as("ny"))
        .agg(count(lit(1)).as("lhs_count"),
          coalesce(sum((col("ny") > 1).cast("long")), lit(0L)).as("violations"))
        .select(lit(name).as("rule"), col("lhs_count"), col("violations"),
          (col("violations") === 0L).as("holds"))
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val docs = Tables.documents(s, d)
    keyRule("key_orders_orderkey", o, Seq("o_orderkey"))
      .unionByName(keyRule("key_lineitem_orderkey_linenumber", li,
        Seq("l_orderkey", "l_linenumber")))
      .unionByName(keyRule("key_orders_custkey", o, Seq("o_custkey")))
      .unionByName(fdRule("fd_orderkey_to_orderdate", o,
        col("o_orderkey"), col("o_orderdate")))
      .unionByName(fdRule("fd_custkey_to_orderpriority", o,
        col("o_custkey"), col("o_orderpriority")))
      .unionByName(fdRule("fd_lang_to_source", docs,
        col("lang"), col("source")))
      .orderBy("rule")
  }

  /** p08 — shuffle-KEY SKEW profile: the calibration tool that decides
    * whether a key needs salting / AQE skew handling BEFORE the big job
    * runs (this repo's own e21/e20b/d42 mitigations all presuppose
    * knowing WHICH keys are hot). Per-key counts reduce the corpus to
    * one row per key; the profile is the top-[[SkewTopK]] heavy hitters
    * (count desc, key asc — TakeOrderedAndProject, never a global sort)
    * annotated with the global distribution: `share` = n/total,
    * `ratio_to_mean` = n·n_keys/total (the skew factor AQE's
    * skewedPartitionFactor thresholds), and round4-contracted p50/p90/
    * p99 of the per-key count distribution (the e33/p07 discipline for
    * interpolated medians). The corpus shuffles ONCE (the count
    * aggregate, map-side combined); everything downstream runs on
    * key-cardinality rows, and the stats frame broadcasts back.
    * At extreme key cardinality the exact percentile's per-group buffer
    * swaps for `approx_percentile`/KLL in the same plan (e09c note). */
  val SkewTopK = 10

  def skewProfile(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val stats = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("n")).as("total_rows"),
      round4(expr("percentile(n, 0.5)")).as("p50"),
      round4(expr("percentile(n, 0.9)")).as("p90"),
      round4(expr("percentile(n, 0.99)")).as("p99"))
    counts
      .orderBy(col("n").desc, col("user_id")).limit(SkewTopK)
      .join(broadcast(stats))
      .select(col("user_id"), col("n"),
        (col("n").cast("double") / col("total_rows")).as("share"),
        ((col("n") * col("n_keys")).cast("double") / col("total_rows"))
          .as("ratio_to_mean"),
        col("n_keys"), col("total_rows"), col("p50"), col("p90"), col("p99"))
      .orderBy(col("n").desc, col("user_id"))
  }

  /** p05 — POPULATION STABILITY INDEX (PSI) drift detection: the
    * standard "did today's data shift against the reference?" check a
    * continuous training pipeline runs before trusting a new snapshot
    * (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted). Feature
    * here: document token count, equi-width-binned with the p03
    * histogram arithmetic over the COMBINED extrema; slices are the
    * deterministic doc_id parity split standing in for
    * reference/current snapshots (a real deployment passes two
    * snapshot frames through the same body).
    *
    * Per bin: psi_term = (p − q)·ln(p/q) with Laplace smoothing
    * p = (ref_n+1)/(n_ref+B), q = (cur_n+1)/(n_cur+B) — the smoothing
    * keeps empty-on-one-side bins finite and engine-safe. Exactness:
    * counts are integers; p, q, and p/q are IEEE ops on
    * engine-identical inputs; the ln is DECIMAL(30,6)-canonicalized
    * (the d34 discipline) before the one multiply, so every term is
    * bit-exact cross-engine. ONE aggregation pass computes both slice
    * histograms (conditional sums — no second scan, no join between
    * slices); totals fold the ≤nBins-row histogram, and the extrema row
    * broadcasts (p03 pattern). Observed bins only: a bin empty in BOTH
    * slices is omitted (its smoothed term is the same tiny constant in
    * any engine, but emitting it would require a bin spine for no
    * analytical value). */
  def psiDrift(s: SparkSession, d: String, nBins: Int = 10): DataFrame = {
    val t = Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("x"))
    val ext = t.agg(min("x").as("lo"), max("x").as("hi"))
    val w = (col("hi") - col("lo")) / nBins
    val counts = t.join(broadcast(ext))
      .select(least(lit(nBins - 1L), floor((col("x") - col("lo")) / w)).as("bin"),
        (col("doc_id") % 2 === 0).as("is_ref"))
      .groupBy("bin")
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_n"))
    val totals = counts.agg(sum(col("ref_n")).as("nr"), sum(col("cur_n")).as("nc"))
    val p = (col("ref_n") + 1).cast("double") / (col("nr") + nBins)
    val q = (col("cur_n") + 1).cast("double") / (col("nc") + nBins)
    counts.join(broadcast(totals))
      .select(col("bin"), col("ref_n"), col("cur_n"),
        ((p - q) * dec(log(p / q)).cast("double")).as("psi_term"))
      .orderBy("bin")
  }

  /** p06 — snapshot RECONCILIATION (the data-diff tool shape): compare
    * two versions of a keyed table and report added / removed /
    * changed / unchanged row counts plus per-column change counts —
    * the audit every pipeline migration, backfill, and CDC consumer
    * runs before trusting a new snapshot ("what exactly did this
    * change?"). p05 answers "did the DISTRIBUTION move"; p06 answers
    * "which ROWS moved, and in which columns".
    *
    * The fixtures carry one snapshot, so the previous version is
    * DERIVED deterministically (the p05 discipline, reproduced verbatim
    * by the oracle): rows with doc_id ≡ 0 (mod 17) are absent from
    * prev (→ `added`), rows with doc_id ≡ 0 (mod 10) carry a draft
    * marker in prev's text (→ `changed`, text column), prev's lang is
    * blanked where doc_id ≡ 0 (mod 13) (→ `changed`, lang column), and
    * prev has synthetic rows at doc_id+1000000 for doc_id ≡ 0 (mod 23)
    * (→ `removed`). A real deployment passes two real snapshots.
    *
    * Plan: ONE full-outer shuffle join on the key, then a single global
    * conditional-sum aggregate — the canonical reconciliation topology.
    * At 100 TB both snapshots live bucketed on the key (f05), making
    * the join zero-shuffle and the diff scan-bound; all outputs are
    * integer counts, bit-exact anywhere. */
  def tableDiff(s: SparkSession, d: String): DataFrame = {
    val cur = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val mutated = cur
      .filter(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 0, concat(col("text"), lit(" [draft]")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 13 === 0, lit("")).otherwise(col("lang"))
          .as("lang"),
        col("source"))
    val prev = mutated.unionByName(
      cur.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text"), col("lang"), col("source")))
    val joined = cur.as("c").join(prev.as("p"),
      col("c.doc_id") === col("p.doc_id"), "full_outer")
    def both = col("c.doc_id").isNotNull && col("p.doc_id").isNotNull
    def chg(n: String) = both && col(s"c.$n") =!= col(s"p.$n")
    // coalesce: a day-one EMPTY table must diff to all-zero counts, not
    // a row of NULL sums
    def cnt(cond: org.apache.spark.sql.Column) =
      coalesce(sum(when(cond, 1L).otherwise(0L)), lit(0L))
    joined.agg(
      cnt(col("p.doc_id").isNull).as("n_added"),
      cnt(col("c.doc_id").isNull).as("n_removed"),
      cnt(both && (chg("text") || chg("lang") || chg("source")))
        .as("n_changed"),
      cnt(both && !chg("text") && !chg("lang") && !chg("source"))
        .as("n_unchanged"),
      cnt(chg("text")).as("chg_text"),
      cnt(chg("lang")).as("chg_lang"),
      cnt(chg("source")).as("chg_source"))
  }

  /** p04 — exact equi-DEPTH binning (quantile discretizer) of
    * `orders.o_totalprice` into `nBuckets` buckets of (near-)equal row
    * count — the feature-binning step of ML prep, and the general
    * "distributed order statistics" pattern.
    *
    * A naive ntile is a GLOBAL window: one task sorts the whole table —
    * the anti-pattern every other window here avoids. Instead the rank
    * is computed distributed: `repartitionByRange` on (value, key)
    * gives 32 ordered, non-overlapping shards; per-shard counts (a
    * ≤32-row aggregate) turn into per-shard offsets by a predecessor
    * sum: the count rows joined to a broadcast copy of themselves and
    * summed over the strictly-smaller shards (≤ 32² rows, no
    * unpartitioned window); the global zero-based rank is then
    * offset + (row_number within shard) − 1, a window PARTITIONED by
    * shard. Bucket = ⌊rank·nBuckets / n⌋ — pure
    * integer arithmetic, so the oracle's single-window row_number
    * reproduces it exactly.
    *
    * The counts subtree and the rank subtree must see the SAME shard
    * boundaries: RangePartitioner's sample seed involves the RDD id, so
    * two independent executions of the range exchange could draw
    * DIFFERENT boundaries and misalign offsets against partitions
    * (observed as ±1-bucket drift near boundaries when the offsets were
    * collected in a separate job). The sharded frame is therefore
    * PERSISTED ([[LlmOps.persistCorpus]]): boundaries are drawn exactly
    * once when the cache materializes, and both subtrees read the
    * materialized shards — a structural guarantee that does not depend
    * on the planner's ReuseExchange firing. Scale: one range shuffle +
    * one 32-key shuffle for the window; no global single-task sort;
    * cache is 2 narrow columns + shard id. */
  def equidepthBins(s: SparkSession, d: String, nBuckets: Int = 10): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"))
    globalRankByRange(o, Seq(col("o_totalprice"), col("o_orderkey")))
      .select(col("o_orderkey"), col("o_totalprice"),
        expr(s"(rank0 * $nBuckets) div n").as("bucket"))
      .orderBy("o_orderkey")
  }

  /** Distributed exact GLOBAL zero-based rank of `df`'s rows under the
    * total order `sortExprs` (which must be a unique key for a
    * deterministic result) — the shared kernel behind [[equidepthBins]]
    * (p04) and [[QualityOps.perplexityBuckets]] (d50). Adds `rank0` (0-based
    * global rank) and `n` (total rows) to `df`'s columns; see the p04
    * scaladoc above for the shard/offset construction and the
    * persist-once boundary-stability argument. */
  private[graft] def globalRankByRange(df: DataFrame,
      sortExprs: Seq[Column], nShards: Int = 32): DataFrame = {
    val sharded = LlmOps.persistCorpus(df
      .repartitionByRange(nShards, sortExprs: _*)
      .withColumn("shard", spark_partition_id()))
    val counts = sharded.groupBy("shard").agg(count(lit(1)).as("cnt"))
    // predecessor sums over the ≤ nShards count rows: off = rows in
    // strictly-smaller shards, n = all rows — a broadcast self-join of
    // the counts, where an unpartitioned prefix-sum window would pull
    // them into one partition
    val offsets = counts.select(col("shard")).crossJoin(broadcast(
        counts.select(col("shard").as("p_shard"), col("cnt"))))
      .groupBy("shard")
      .agg(sum(when(col("p_shard") < col("shard"), col("cnt"))
          .otherwise(0L)).as("off"),
        sum(col("cnt")).as("n"))
    val w = Window.partitionBy("shard").orderBy(sortExprs: _*)
    sharded
      .join(broadcast(offsets), "shard")
      .withColumn("rank0", col("off") + row_number().over(w) - 1)
  }

  /** Mergeable FREQUENT-ITEMS sketches (DataSketches ItemsSketch —
    * Misra–Gries/Space-Saving family): approximate token heavy-hitters
    * over `documents.text` without a full token shuffle. The exact
    * top-k (Q-TK) shuffles every token once; at 100 TB the sketch
    * build touches the corpus scan-only — each partition folds its
    * tokens into one bounded map (`maxMapSize` counters, size
    * independent of row count), and only those fixed-size binaries
    * reduce to the final sketch. Same surface family as the
    * HLL/KLL/Theta sketches and the same no-oracle rationale (sketch
    * state is engine-specific); ProfilingSpec pins the published
    * guarantees instead:
    *
    *  1. no false negatives — every token whose true count exceeds the
    *     sketch's `getMaximumError` appears in the NO_FALSE_NEGATIVES
    *     result set;
    *  2. bounded estimates — every reported [lb, ub] brackets the true
    *     count;
    *  3. mergeability — sketching each half and merging preserves both
    *     properties (daily jobs keep running sketches, never rescan).
    *
    * Returns (token, est, lb, ub), heaviest first. */
  def sketchFrequentTokens(docs: DataFrame, maxMapSize: Int = 1024): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.memory.Memory
    // the serde is not Serializable — construct it inside each closure
    val merged = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .as[String]
      .mapPartitions { it =>
        val sk = new ItemsSketch[String](maxMapSize)
        it.foreach(sk.update)
        Iterator.single(sk.toByteArray(new ArrayOfStringsSerDe))
      }
      .reduce { (a, b) =>
        val serde = new ArrayOfStringsSerDe
        val sa = ItemsSketch.getInstance(Memory.wrap(a), serde)
        sa.merge(ItemsSketch.getInstance(Memory.wrap(b), serde))
        sa.toByteArray(serde)
      }
    val sk = ItemsSketch.getInstance(Memory.wrap(merged), new ArrayOfStringsSerDe)
    sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).toSeq
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
      .toDF("token", "est", "lb", "ub")
      .orderBy(col("est").desc, col("token"))
  }

  /** Mergeable distinct-count SKETCHES (Apache DataSketches HLL via
    * Spark's `hll_sketch_agg`/`hll_union_agg`): per-event-type distinct
    * users as a sketch, not a number. Library surface, not a `queries`
    * entry — sketch binaries are engine-specific, so there is no DuckDB
    * oracle; ProfilingSpec pins the two properties that make sketches
    * THE 100 TB distinct-count tool instead:
    *
    *  1. mergeability — sketching each half of the data and unioning
    *     the sketches yields the SAME estimate as sketching the whole
    *     (HLL unions take per-register maxima, so this is exact sketch
    *     equality, not approximation): incremental daily jobs can keep
    *     running sketches and never rescan history, where
    *     `countDistinct` forces a full recompute;
    *  2. bounded error — the estimate lands within HLL's published
    *     relative error of the exact count at lgK = 12.
    *
    * The sketch aggregation is partial/final like any hash agg: each
    * executor sketches its partition, sizes are O(2^lgK) regardless of
    * row count, and the driver merges fixed-size buffers. */
  def sketchDistinct(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sketch"),
        count_distinct(col("user_id")).as("exact_users"))
      .withColumn("approx_users", hll_sketch_estimate(col("sketch")))

  /** Union previously-built sketches (grouped by type) into estimates —
    * the "merge yesterday's sketch with today's" half of the pattern. */
  def sketchUnion(sketches: DataFrame): DataFrame =
    sketches.groupBy("event_type")
      .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))
      .select(col("event_type"),
        hll_sketch_estimate(col("sketch")).as("approx_users"))

  /** Mergeable QUANTILE sketches (Apache DataSketches KLL doubles) —
    * the rank/percentile analog of [[sketchDistinct]]: per-event-type
    * p50/p95 of `value` as a sketch, not a number. Spark 4 ships no KLL
    * aggregate function, so this is the sanctioned `mapPartitions` case
    * (genuinely imperative per-partition accumulation): stage 1 builds
    * ONE sketch per (partition, type) — O(k·log n) bytes each,
    * independent of row count — and stage 2 shuffles only those
    * fixed-size sketches (≤ partitions × types rows) for the per-type
    * merge. The corpus itself never shuffles; this is how a 100 TB
    * percentile job avoids the full sort `percentile()` costs, and
    * unlike `approx_percentile`'s opaque internal state the sketch is a
    * STORABLE column — daily jobs persist it and re-merge history for
    * free ([[sketchQuantileUnion]]).
    *
    * KLL compaction is randomized, so estimates carry rank error (±1.65%
    * at k=200, 99% at 3σ) rather than exact equality — ProfilingSpec
    * asserts the TRUE rank of every estimate lands inside the bound, for
    * the whole-corpus sketch and for a merge of half-sketches.
    * Library surface, not a `queries` entry — sketch binaries are
    * engine-specific, so there is no DuckDB oracle (same exemption
    * rationale as the HLL surface). */
  def sketchQuantiles(events: DataFrame, k: Int = 200): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    val partial = events
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)]
      .mapPartitions { it =>
        val sks = scala.collection.mutable.Map.empty[String, KllDoublesSketch]
        it.foreach { case (t, v) =>
          sks.getOrElseUpdate(t, KllDoublesSketch.newHeapInstance(k)).update(v)
        }
        sks.iterator.map { case (t, s) => (t, s.toByteArray) }
      }
    sketchQuantileUnion(partial.toDF("event_type", "sketch"), k)
  }

  /** Merge per-type KLL sketches (today's partials, or stored history)
    * into one sketch + estimates per type. Input rows are fixed-size
    * sketch binaries — reduced data, never corpus rows. */
  def sketchQuantileUnion(sketches: DataFrame, k: Int = 200): DataFrame = {
    import sketches.sparkSession.implicits._
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    sketches.select(col("event_type"), col("sketch"))
      .as[(String, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (t, it) =>
        val m = KllDoublesSketch.newHeapInstance(k)
        it.foreach { case (_, b) => m.merge(KllDoublesSketch.heapify(Memory.wrap(b))) }
        (t, m.toByteArray, m.getN, m.getQuantile(0.5), m.getQuantile(0.95))
      }
      .toDF("event_type", "sketch", "n", "p50", "p95")
      .orderBy("event_type")
  }

  /** Mergeable SET sketches (DataSketches Theta) — the third sketch
    * surface: per-event-type user SETS as sketches, supporting
    * approximate intersection/union cardinalities ACROSS sets. The
    * question "how many users did both A and B" costs a corpus
    * self-join exactly; with theta sketches it costs two fixed-size
    * binaries and a set operation. Build shape = [[sketchQuantiles]]:
    * per-partition sketches via mapPartitions (no theta aggregate in
    * Spark 4), per-type merge of O(2^lgK)-bounded binaries.
    *
    * Theta retains the k smallest hash values of the SET — a
    * set-determined state, independent of insertion order or
    * partitioning — so merging half-corpus sketches yields the
    * byte-identical compact sketch of the whole corpus (the HLL
    * register-maxima argument, pinned exactly in ProfilingSpec). */
  def sketchUserSets(events: DataFrame, lgK: Int = 12): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.datasketches.theta.{SetOperation, Sketches, UpdateSketch}
    import org.apache.datasketches.memory.Memory
    events.select(col("event_type"), col("user_id").cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val sks = scala.collection.mutable.Map.empty[String, UpdateSketch]
        it.foreach { case (t, u) =>
          sks.getOrElseUpdate(t,
            UpdateSketch.builder().setLogNominalEntries(lgK).build()).update(u)
        }
        sks.iterator.map { case (t, s) => (t, s.compact().toByteArray) }
      }
      .groupByKey(_._1)
      .mapGroups { (t, it) =>
        val u = SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
        it.foreach { case (_, b) => u.union(Sketches.wrapSketch(Memory.wrap(b))) }
        (t, u.getResult.compact().toByteArray)
      }
      .toDF("event_type", "sketch")
      .orderBy("event_type")
  }

  /** Intersection / union / difference estimates between two stored set
    * sketches, with the library's own 2σ bounds. The inputs are two
    * fixed-size binaries — reduced data (the centroid-table argument),
    * never corpus rows; the corpus was last touched when the sketches
    * were built. */
  def sketchOverlap(sketches: DataFrame, typeA: String, typeB: String): DataFrame = {
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    val s = sketches.sparkSession
    val two = sketches
      .filter(col("event_type").isin(typeA, typeB))
      .select("event_type", "sketch")
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    Seq(typeA, typeB).foreach { t =>
      require(two.contains(t),
        s"no stored sketch for event_type '$t' — absent types are an " +
          "empty set; sketch them (or skip) upstream")
    }
    val (a, b) = (Sketches.wrapSketch(Memory.wrap(two(typeA))),
      Sketches.wrapSketch(Memory.wrap(two(typeB))))
    val inter = SetOperation.builder().buildIntersection()
    inter.intersect(a); inter.intersect(b)
    val ix = inter.getResult
    val un = SetOperation.builder().buildUnion()
    un.union(a); un.union(b)
    val ux = un.getResult
    import s.implicits._
    Seq((typeA, typeB,
      ix.getEstimate, ix.getLowerBound(2), ix.getUpperBound(2),
      ux.getEstimate, ix.getEstimate / ux.getEstimate))
      .toDF("type_a", "type_b", "inter_est", "inter_lb", "inter_ub",
        "union_est", "jaccard_est")
  }

  /** p10 — CORRELATION / REGRESSION profile (the deequ-style
    * two-column relationship check p01's per-column moments cannot
    * see): per `l_returnflag` group, Pearson r and the OLS
    * slope/intercept of `l_extendedprice` against `l_quantity`.
    *
    * One scan, ONE map-side-combined k-group aggregate of the exact
    * DECIMAL power sums (n, Σx, Σy, Σxy, Σx², Σy²) — never a centered
    * two-pass and never Welford (per-partition streaming moments are
    * combine-order-dependent; decimal sums are exact and order-free,
    * the Canon discipline, with the x·y / x² products formed in DOUBLE
    * first — bit-identical cross-engine — then canonicalized, the
    * revenue-sum precedent). The closed forms then run in DOUBLE on
    * the exact sums: one deterministic decimal→double rounding per
    * sum, a fixed IEEE expression tree mirrored textually by the
    * oracle (intercept uses the un-nested (Σy·Σx² − Σx·Σxy)/D form so
    * neither engine rounds an intermediate the other doesn't), round4
    * at the edge. Degenerate groups (constant x or y — not in this
    * fixture, but library surface) yield NULL via a positive-variance
    * guard rather than a NaN that hashes differently. */
  def regressionProfile(s: SparkSession, d: String): DataFrame =
    regressionProfileOver(Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y")))

  /** [[regressionProfile]] over an explicit (flag, x, y) frame —
    * package-visible for the planted exact-line / degenerate specs. */
  private[graft] def regressionProfileOver(df: DataFrame): DataFrame = {
    val x = col("x"); val y = col("y")
    val agg = df
      .groupBy(col("flag"))
      .agg(count(lit(1)).as("n"),
        dsum(x).as("sx"), dsum(y).as("sy"), dsum(x * y).as("sxy"),
        dsum(x * x).as("sxx"), dsum(y * y).as("syy"))
    val dx = agg("n") * agg("sxx") - agg("sx") * agg("sx")
    val dy = agg("n") * agg("syy") - agg("sy") * agg("sy")
    val cov = agg("n") * agg("sxy") - agg("sx") * agg("sy")
    agg.select(col("flag"), col("n"), col("sx").as("sum_x"),
        col("sy").as("sum_y"),
        when(dx > 0 && dy > 0, round4(cov / sqrt(dx * dy))).as("pearson_r"),
        when(dx > 0, round4(cov / dx)).as("slope"),
        when(dx > 0, round4(
          (agg("sy") * agg("sxx") - agg("sx") * agg("sxy")) / dx))
          .as("intercept"))
      .orderBy("flag")
  }

}
