package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** d46–d48 — the MATERIALIZED verified-pair relation: the production
  * composition of the near-dup family, a [[PublishedStore]] of one
  * table, `pairs` (i, j, n_common, n_i, n_j, jac) keyed on (i, j).
  *
  * d46 ([[publish]]) is the publisher job, derived from
  * [[PairGraph.jaccardPairsRaw]] at [[Threshold]]; every threshold-0.8
  * consumer ([[PairGraph.jaccardPairs]]: d19/d20/d30/d45/d53) and the
  * consumers below read the published table. d02 (the reported pair
  * derivation) and the publisher are the self-contained producers.
  * PairStoreSpec pins each consumer ≡ its `*Over` twin fed the raw
  * derivation. At 100 TB the table is bucketed on (i, j) (or on doc key
  * for the per-doc consumers).
  *
  * Reference analogue: the reference pipelines each run standalone over
  * raw text (`wordCount/wordCount.cpp:67-157`); materialized
  * intermediate relations are the capability a multi-query engine adds.
  */
object PairStore extends PublishedStore("pairstore", Seq("pairs" -> Seq("i", "j"))) {
  /** Jaccard threshold of the published relation — the d02 default. */
  val Threshold = 0.8

  protected def derive(s: SparkSession, d: String): Map[String, DataFrame] =
    Map("pairs" -> PairGraph.jaccardPairsRaw(s, d, Threshold))

  /** d47 — [[PairGraph.contamination]] fed from the published store:
    * two split probes against an output-sized parquet scan, zero
    * shingle/candidate work on the read path. */
  def storeContamination(s: SparkSession, d: String): DataFrame =
    PairGraph.contaminationOver(s, d, read(s, d))

  /** d48 — [[PairGraph.editVerify]] fed from the published store: the
    * O(|a|·|b|)-per-pair levenshtein runs over the store relation
    * directly — the candidate chain is never re-derived. */
  def storeEditVerify(s: SparkSession, d: String): DataFrame =
    PairGraph.editVerifyOver(s, d, read(s, d), Threshold)

  /** d30b — [[PairGraph.incrementalDedup]] fed from the published store:
    * the delta-admission gate probes the materialized pair relation
    * directly, so each incremental batch costs one output-sized store
    * scan plus the O(Δ) flag aggregation and left join — the corpus
    * pair graph is never re-derived per delta. This is the production
    * incremental-dedup read path (d30 is its standalone twin, kept for
    * the pipelines that have no published store to probe). */
  def storeIncrementalDedup(s: SparkSession, d: String): DataFrame =
    PairGraph.incrementalDedupOver(s, d, read(s, d))

  /** d49 — [[PairGraph.neardupClusters]] fed from the published store: the
    * large/small-star CC loop runs over the stored edge list, so a
    * cluster refresh (the keep-one-per-family pass every dedup pipeline
    * re-runs after any upstream change) costs the CC rounds alone — the
    * shingle → candidate → verify chain is never re-derived. */
  def storeClusters(s: SparkSession, d: String): DataFrame =
    PairGraph.clusterAssign(s, d,
      read(s, d).select(org.apache.spark.sql.functions.col("i"),
        org.apache.spark.sql.functions.col("j")))

  /** d69 — CONTRASTIVE training-pair generation (pair-store consumer
    * #5): the (anchor, positive, negatives) triples embedding/reranker
    * training starts from. Anchors are the docs in the published
    * verified near-dup relation; the positive is the anchor's BEST
    * partner (max jac, ties to the smaller id — the d59 min-of-struct
    * discipline); negatives are 3 deterministic md5 probes of the
    * doc-id domain (the d17/d25 hash rule — no RNG state, no
    * multiplicative-constant overflow), kept only if the id EXISTS in
    * the corpus (id gaps safe) and is NOT one of the anchor's verified
    * near-dups — a near-dup negative is a FALSE negative, the classic
    * contrastive-mining bug, so the exclusion anti-join is the point.
    * A production pipeline swaps the probes for hard negatives from
    * d04's ANN and keeps the exclusion join unchanged.
    *
    * Scale: everything is OUTPUT-sized off the published store — store
    * scan, per-anchor best aggregate, 8-probe explode, existence
    * semi-join (the corpus appears only as its doc_id column), family
    * anti-join, probe-collision dedup, and a per-anchor array top-3 (no
    * window). */
  def contrastivePairs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = read(s, d).select(col("i"), col("j"), col("jac"))
    val sym = p.union(p.select(col("j"), col("i"), col("jac")))
      .toDF("a", "b", "jac")
    // rank on the ROUNDED jac: the store keeps full precision but the
    // contract (and the oracle) order by the round4 value — ranking raw
    // could pick a different partner on a beyond-4-decimals tie
    val best = sym.groupBy(col("a").as("anchor"))
      .agg(min(struct((-graft.Canon.round4(col("jac"))).as("nj"),
        col("b").as("b"))).as("w"))
      .select(col("anchor"), col("w.b").as("positive"),
        (-col("w.nj")).as("pos_jac"))
    val ids = graft.Tables.documents(s, d).select(col("doc_id"))
    // probe domain = max id + 1 (one planner-sized row; the existence
    // semi-join below makes id gaps harmless; empty corpus → no anchors
    // either, any positive modulus works)
    val r0 = ids.agg(max(col("doc_id"))).head()
    val n = if (r0.isNullAt(0)) 1L else r0.getLong(0) + 1
    val probes = best.select(col("anchor"))
      .withColumn("c", explode(sequence(lit(1), lit(8))))
      .withColumn("cand", pmod(conv(substring(md5(concat(
          col("anchor").cast("string"), lit("_"), col("c").cast("string"))),
          1, 8), 16, 10).cast("long"), lit(n)))
      .filter(col("cand") =!= col("anchor"))
      .join(ids.select(col("doc_id").as("cand")), Seq("cand"), "left_semi")
      .join(sym.select(col("a").as("anchor"), col("b").as("cand")),
        Seq("anchor", "cand"), "left_anti")
      // two probes can collide on the same cand (mod n) — keep min c so
      // the top-3 rank is well-defined
      .groupBy("anchor", "cand").agg(min(col("c")).as("c"))
    val negs = probes.groupBy("anchor")
      .agg(array_sort(collect_list(struct(col("c"), col("cand")))).as("ns"))
      .select(col("anchor"),
        get(col("ns"), lit(0)).getField("cand").as("neg1"),
        get(col("ns"), lit(1)).getField("cand").as("neg2"),
        get(col("ns"), lit(2)).getField("cand").as("neg3"))
    best.join(negs, Seq("anchor"), "left").orderBy("anchor")
  }

  /** d72 — LEAKAGE-FREE train/val/test split (store consumer #7): the
    * d17 hash-split rule applied at near-dup CLUSTER grain instead of
    * document grain. A doc-grain split puts two near-duplicates on
    * opposite sides of the train/test fence with probability ~2·p·(1−p)
    * per pair — the CONTAMINATION d20 then has to detect; assigning
    * whole d49 families to one split makes the leak structurally
    * impossible instead of detectable-after-the-fact. Singletons are
    * their own cluster (the d49 rule), so non-duplicated docs split
    * exactly as d17 would on their own id — the distribution shifts
    * only where shifting is the point.
    *
    * Output carries BOTH assignments (cluster-grain `split`, doc-grain
    * `naive_split`) and the `moved` flag, so the blast radius of the
    * fix is itself measurable. Shape: the d49 cluster labels (an
    * output-sized store read + O(log n) CC over the stored edges), one
    * md5 bucket expression per grain — no new shuffles beyond the
    * labeling. */
  def leakageFreeSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    def bucket(c: org.apache.spark.sql.Column) =
      pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
        lit(100L))
    def splitOf(b: org.apache.spark.sql.Column) =
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    storeClusters(s, d).select(col("doc_id"), col("cluster_id"))
      .withColumn("split", splitOf(bucket(col("cluster_id"))))
      .withColumn("naive_split", splitOf(bucket(col("doc_id"))))
      .withColumn("moved", col("split") =!= col("naive_split"))
      .orderBy("doc_id")
  }

  /** The d70 band configurations: (label, bands, rows-per-band), all
    * with b·r = 64 hash functions — the knob a dedup team actually
    * turns (d03 ships 16×4). Shared with the oracle generator so the
    * two sides can never disagree on the sweep. */
  val LshConfigs: Seq[(String, Int, Int)] =
    Seq(("b32_r2", 32, 2), ("b16_r4", 16, 4), ("b8_r8", 8, 8))

  /** d70 — LSH PARAMETER-TUNING profile (pair-store consumer #6): for
    * each banding (b, r) of the same 64-hash MinHash budget, the
    * expected recall of the VERIFIED pair relation — the S-curve
    * `catch(s) = 1 − (1 − s^r)^b` evaluated at every stored pair's
    * (rounded) jaccard and averaged — plus the config's 50%-threshold
    * `s* = (1/b)^(1/r)` and the worst-case pair probability. This is
    * the measurement behind "should we run 16×4 or 8×8": computed
    * against ground truth the store already paid for, so the sweep is
    * OUTPUT-sized (three scalar aggregates over the pair relation —
    * the corpus is never touched).
    *
    * Numeric determinism: `pow` is libm (1-ulp engine drift), so s^r
    * and (1−s^r)^b are fixed-order MULTIPLICATION CHAINS generated
    * from [[LshConfigs]] — identical expression trees on both sides,
    * bit-identical IEEE results; s* is one driver-side constant
    * injected as the same literal into both plans; the average is an
    * exact decimal sum over the per-pair probabilities divided by the
    * count. */
  def lshTuning(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.Canon.{dsum, round4}
    val p = read(s, d).select(round4(col("jac")).as("jac"))
    LshConfigs.map { case (name, b, r) =>
      val sr = Seq.fill(r)(col("jac")).reduce(_ * _)
      val missAll = Seq.fill(b)(lit(1.0) - sr).reduce(_ * _)
      val catchP = lit(1.0) - missAll
      // rounded DRIVER-side and injected as the same literal into both
      // plans — a round4 CAST chain on the raw pow value turned out to
      // round differently across engines (DuckDB parses the long
      // literal as DECIMAL and its decimal→decimal cast truncates
      // where Spark's double→decimal rounds half-up)
      val sStar = BigDecimal(math.pow(1.0 / b, 1.0 / r))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      p.agg(count(lit(1)).as("n_pairs"),
          dsum(round4(catchP)).as("sum_p"),
          min(round4(catchP)).as("min_p"))
        .select(lit(name).as("config"),
          lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          lit(sStar).as("s_star"), col("n_pairs"),
          round4(col("sum_p") / col("n_pairs")).as("expected_recall"),
          col("min_p"))
    }.reduce(_ union _).orderBy("config")
  }
}
