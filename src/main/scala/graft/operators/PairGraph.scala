package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The near-duplicate PAIR-RELATION family (E19 and its consumers):
  * shingle/MinHash/SimHash candidate generation, exact verification,
  * connected-component clustering, and the pair-relation decision
  * queries (contamination, incremental admission, edit verification).
  * Split out of the original LlmOps module (round 11) — shared text
  * primitives stay in [[LlmOps]]; behavior is unchanged and every
  * registry key kept its oracle. Scale posture: candidate generation is
  * always a BUCKETED equi-join (shared rare shingle, MinHash band, sign
  * bucket) — never an all-pairs cross product. */
object PairGraph {
  import Canon._
  import LlmOps._
  import DedupOps._
  import EmbeddingOps._
  import QualityOps._
  import SamplingOps._


  /** Document-frequency cap for shared-shingle candidate generation.
    *
    * Shingle frequency is zipfian in a real corpus; a shingle occurring
    * in k documents emits O(k²) candidate pairs inside ONE join bucket —
    * AQE skew-join can split the shuffle partition but cannot shrink the
    * inherent pair-count blowup, so hot shingles must be excluded from
    * candidate generation. The cap introduces a bounded recall tradeoff
    * (a pair is missed only if EVERY shared shingle is hotter than the
    * cap — near-duplicate documents share many shingles, almost all
    * rare), and the banded-MinHash path ([[minhashNearDup]]) is the
    * recall backstop: its bands hash the full signature, unaffected by
    * per-shingle frequency. 20 keeps every planted pair at every test
    * scale while actually dropping hot shingles at sf0.1 (measured:
    * max shingle DF 25, worst pair's rarest shared shingle DF 10);
    * a 100 TB run tunes it to the corpus (typical: 100–1000, or a
    * quantile of the DF distribution). */
  val MaxShingleDf = 20L

  /** Exact Jaccard over candidate pairs from a shared-shingle bucketed
    * self-join. Candidate generation joins only on shingles with
    * document frequency ≤ `maxShingleDf` (see [[MaxShingleDf]] for the
    * zipfian-skew rationale), so bucket occupancy — and with it the
    * worst-case pair blowup — is capped at O(maxShingleDf²) per shingle.
    * Verification then counts common shingles over the FULL shingle
    * sets, so every reported Jaccard is exact (the cap affects recall
    * only, never the value; hot shingles still count toward n_common).
    * Never forms a cross product: both joins are equi-joins (shingle;
    * candidate doc_id). */
  /** The pair relation as CONSUMERS see it. At the published threshold
    * this reads the [[PairStore]] table (publish-if-absent: the first
    * consumer in a JVM pays one build, every later consumer pays an
    * output-sized parquet scan) — the production composition the
    * round-10 verdict priced: of the ~107 s bench total, ~25 s was the
    * same shingle → capped-candidate → exact-verify subtree re-derived
    * by eight queries. The store is published from [[jaccardPairsRaw]],
    * so every consumer's rows are byte-equal to its `*Over` twin fed the
    * raw derivation (PairStoreSpec). Non-default thresholds always
    * re-derive — the store is a single-threshold relation. */

  private[graft] def jaccardPairs(s: SparkSession, d: String, threshold: Double): DataFrame =
    if (threshold == PairStore.Threshold) PairStore.read(s, d)
    else jaccardPairsRaw(s, d, threshold)

  /** The self-contained derivation — what d02 reports and what the d46
    * publisher job materializes. Never reads the store (the publisher
    * calling a store-reading form would recurse). */

  private[graft] def jaccardPairsRaw(s: SparkSession, d: String, threshold: Double): DataFrame =
    jaccardPairsOver(docShingles(s, d), threshold, MaxShingleDf)

  /** [[jaccardPairs]] over an explicit (doc_id, shingle) set — package-
    * visible so specs can exercise the DF cap on synthetic corpora.
    *
    * Three stages, each with a provable property:
    *   1. capped candidate counting — the pair self-join runs over the
    *      corpus MINUS the zipf head (an anti-join against the tiny
    *      over-cap shingle set: AQE broadcasts it, the corpus side never
    *      shuffles for the cap), aggregating the rare-common count
    *      inline exactly like the uncapped plan did; a size-ratio
    *      prefilter (jac ≤ min(|A|,|B|)/max(|A|,|B|)) rejects hopeless
    *      pairs inside the join. Lossless apart from the documented cap
    *      recall tradeoff.
    *   2. sound upper-bound pruning — true common ≤ rare-common +
    *      min(hot_i, hot_j) (a shared hot shingle must be hot in BOTH
    *      docs), and jac is increasing in the common count, so pairs
    *      whose bound misses the threshold are rejected exactly; only
    *      near-threshold pairs survive (a tiny, output-sized set).
    *   3. exact verification — survivors' FULL shingle sets (hot
    *      included, restricted to survivor docs by a semi-join) meet in
    *      an `array_intersect`, so every reported jac is exact. The cap
    *      affects recall only, never a value.
    */

  /** Delta-restricted pair derivation for incremental maintenance
    * (s17): pairs of the FULL corpus `docs` whose candidate generation
    * is restricted to pairs TOUCHING a probe doc — exactly the
    * "probe the shingle index with the delta" shape a streaming dedup
    * runs. df/cap and sizes come from the full corpus, the bound and
    * exact verify are unchanged, so the output is EXACTLY
    * `jaccardPairsOver(full).filter(i ∈ probe ∨ j ∈ probe)`
    * (PairStoreSpec pins the identity); candidate volume is
    * Δ-proportional. */
  private[graft] def deltaPairs(docs: DataFrame, probeIds: DataFrame,
      threshold: Double): DataFrame =
    jaccardPairsOver(LlmOps.docShinglesOver(docs), threshold, MaxShingleDf,
      probe = Some(probeIds))

  private[graft] def jaccardPairsOver(shingles: DataFrame, threshold: Double,
      maxShingleDf: Long, probe: Option[DataFrame] = None): DataFrame = {
    val sh = persistCorpus(shingles)
    // the zipf head: shingles in more than maxShingleDf documents (df
    // counts docs because sh is distinct per doc). TINY at any corpus
    // scale — that is the point of a frequency cap — so joining it back
    // is a broadcast probe, never a corpus shuffle.
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("shingle"), lit(1L).as("is_hot"))
    // ONE flagging pass feeds everything: per-doc sizes AND hot counts
    // from a single aggregate, and the capped candidate stream is just
    // a filter on the flag (no separate anti-join / hot-count passes).
    val shFlag = sh.join(hot, Seq("shingle"), "left")
    val sizes = shFlag.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("is_hot"), lit(0L))).as("n_hot"))
    // corpus-sized (all rare shingles + sizes): the corpus persist policy,
    // not a memory-first cache. With a probe, each shingle row carries
    // an is_new flag so candidate generation can demand the pair TOUCH
    // the delta (probe = None leaves the plan byte-identical — the
    // `&& true` folds away).
    val shSizedBase = shFlag.filter(col("is_hot").isNull).drop("is_hot")
      .join(sizes, "doc_id")
    // candidate keys NARROWED to xxhash64 (round 19, guide §2.3 shuffle
    // fewer bytes): the self-join below is the corpus-shaped exchange
    // of this kernel and needs only shingle EQUALITY — an 8-byte hash
    // replaces the full n-gram string in the persisted/shuffled rows. A
    // collision can only ADD join rows (equal strings hash equal), so
    // `n_cr` — which feeds ONLY the upper bound, never the output — can
    // only rise: the prune weakens, never tightens, and the exact
    // verify over the TRUE shingle strings below is unchanged.
    val shSized = persistCorpus(probe.fold(shSizedBase)(p =>
      shSizedBase.join(
        p.select(col("doc_id"), lit(1L).as("is_new")).distinct(),
        Seq("doc_id"), "left"))
      .withColumn("sh", xxhash64(col("shingle"))).drop("shingle"))
    val probeCond =
      if (probe.isDefined)
        col("a.is_new").isNotNull || col("b.is_new").isNotNull
      else lit(true)
    val commonRare = shSized.as("a")
      .join(shSized.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n_sh") * threshold <= col("b.n_sh") &&
        col("b.n_sh") * threshold <= col("a.n_sh") &&
        probeCond)
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_cr"),
        first(col("a.n_sh")).as("n_i"), first(col("b.n_sh")).as("n_j"),
        first(col("a.n_hot")).as("h_i"), first(col("b.n_hot")).as("h_j"))
    // reduced, output-sized data read twice below (survivor docs + the
    // verify probe) — safe to cache at any scale.
    val bounded = commonRare
      .filter(jaccardUbKeep(least(col("h_i"), col("h_j")), threshold))
      .select("i", "j", "n_cr", "n_i", "n_j")
      .cache()
    // one explode, not union(i-side, j-side): keeps the (cached but
    // still plan-heavy) `bounded` subtree out of the closure twice
    val survivorDocs = bounded
      .select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
    val docsets = sh.join(survivorDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("shingle")).as("ss"))
    bounded
      .join(docsets.select(col("doc_id").as("i"), col("ss").as("ss_i")), "i")
      .join(docsets.select(col("doc_id").as("j"), col("ss").as("ss_j")), "j")
      .withColumn("n_common",
        size(array_intersect(col("ss_i"), col("ss_j"))).cast("long"))
      .withColumn("jac",
        col("n_common").cast("double") / (col("n_i") + col("n_j") - col("n_common")))
      .filter(col("jac") >= threshold)
      .select("i", "j", "n_common", "n_i", "n_j", "jac")
  }

  /** The Jaccard upper bound of a candidate row (n_cr, n_i, n_j): with
    * `hot` the hot-shingle allowance (min of the pair's hot counts),
    * ub = least(n_cr + hot, n_i, n_j) bounds the true common count n_c.
    * Soundness: n_c ≤ n_cr + hot (a common shingle is rare, hence
    * counted in n_cr, or hot in both docs), and n_c ≤ min(n_i, n_j). A
    * hash collision in the narrowed candidate key only ADDS join rows,
    * so it can only raise n_cr: ub rises, the prune weakens, and the
    * exact verify downstream is unchanged. The cap keeps the
    * denominator n_i + n_j − ub ≥ max(n_i, n_j), so an inflated n_cr
    * can never flip its sign; the ratio stays in [0, 1]. Without a
    * collision n_cr + hot ≤ min(n_i, n_j) already, so the cap never
    * binds. A null `hot` drops out of `least`, leaving the always-sound
    * min(n_i, n_j). */
  private[graft] def jaccardUb(hot: Column): Column = {
    val ub = least(col("n_cr") + hot, col("n_i"), col("n_j"))
    ub.cast("double") / (col("n_i") + col("n_j") - ub)
  }

  /** The prune of the Jaccard kernels (d02's [[jaccardPairsOver]] and
    * s17's `Streaming.incrementalPairs`): keep a candidate iff its
    * [[jaccardUb]] can reach `threshold`. */
  private[graft] def jaccardUbKeep(hot: Column, threshold: Double): Column =
    jaccardUb(hot) >= threshold

  /** d40 — shingle-set CONTAINMENT pairs: the partial-duplicate detector
    * Jaccard can't be. A 50-token quote embedded in a 5,000-token page
    * has near-zero Jaccard (union is huge) but containment
    * `|A∩B| / min(|A|,|B|)` ≈ 1 — exactly the "document swallowed by
    * another" shape (quoted articles, boilerplate-wrapped reposts,
    * chunk-level copies) that substring-level dedup targets.
    *
    * Same three-stage plan as [[jaccardPairsOver]] — capped candidate
    * generation, sound upper bound, exact verify — with two deliberate
    * differences:
    *   - NO size-ratio prefilter: wildly different sizes are the point
    *     here, where for Jaccard they are a rejection certificate;
    *   - the bound and the final score divide by `least(n_i, n_j)`
    *     (containment of the smaller set), still monotone in the common
    *     count, so the pruning stays exact-value-preserving.
    * The containment value is one IEEE division of engine-identical
    * integers — bit-exact, no rounding (Canon.round4 note). */

  def containmentPairs(s: SparkSession, d: String, threshold: Double = 0.9): DataFrame =
    containmentPairsOver(docShingles(s, d), threshold, MaxShingleDf)

  /** [[containmentPairs]] over an explicit (doc_id, shingle) set —
    * package-visible so specs can plant a true subset document (the
    * fixtures' near-dups are same-size edits). */

  private[graft] def containmentPairsOver(shingles: DataFrame, threshold: Double,
      maxShingleDf: Long): DataFrame = {
    val sh = persistCorpus(shingles)
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("shingle"), lit(1L).as("is_hot"))
    val shFlag = sh.join(hot, Seq("shingle"), "left")
    val sizes = shFlag.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("is_hot"), lit(0L))).as("n_hot"))
    // xxhash64 candidate-key narrowing — see [[jaccardPairsOver]]: a
    // collision only raises n_cr/ub (prune weakens), the exact verify
    // over true shingle strings is unchanged, output identical.
    val shSized = persistCorpus(shFlag.filter(col("is_hot").isNull).drop("is_hot")
      .join(sizes, "doc_id")
      .withColumn("sh", xxhash64(col("shingle"))).drop("shingle"))
    val commonRare = shSized.as("a")
      .join(shSized.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_cr"),
        first(col("a.n_sh")).as("n_i"), first(col("b.n_sh")).as("n_j"),
        first(col("a.n_hot")).as("h_i"), first(col("b.n_hot")).as("h_j"))
    val bounded = commonRare
      .withColumn("ub", col("n_cr") + least(col("h_i"), col("h_j")))
      .filter(col("ub").cast("double") / least(col("n_i"), col("n_j")) >= threshold)
      .select("i", "j", "n_i", "n_j")
      .cache()
    val survivorDocs = bounded
      .select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
    val docsets = sh.join(survivorDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("shingle")).as("ss"))
    bounded
      .join(docsets.select(col("doc_id").as("i"), col("ss").as("ss_i")), "i")
      .join(docsets.select(col("doc_id").as("j"), col("ss").as("ss_j")), "j")
      .withColumn("n_common",
        size(array_intersect(col("ss_i"), col("ss_j"))).cast("long"))
      .withColumn("cont",
        col("n_common").cast("double") / least(col("n_i"), col("n_j")))
      .filter(col("cont") >= threshold)
      .select("i", "j", "n_i", "n_j", "cont")
      .orderBy("i", "j")
  }

  // ————————————————————————— E18: exact dedup —————————————————————————


  /** E19a — exact n-gram Jaccard near-duplicate pairs (threshold 0.8;
    * the corpus has a planted family of ~25 pairs ≥ 0.8 with the next
    * pair below 0.1, so the threshold is far from any boundary). */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    jaccardPairsRaw(s, d, 0.8)
      .select(col("i"), col("j"), round4(col("jac")).as("jac"))
      .orderBy("i", "j")

  /** E19b — banded MinHash LSH near-dup: the 100 TB plan.
    *
    * 64 minhashes banded 16×4: docs agreeing on all 4 rows of any band
    * become candidates (P[candidate | jac=0.9] = 1−(1−0.9⁴)¹⁶ ≈
    * 1−1.5e-7; at the 0.8 threshold boundary ≈ 99.98%), then candidates
    * are verified with exact Jaccard — same output contract as
    * [[ngramJaccard]]. Candidate generation joins on (band, band
    * signature), so work scales with bucket occupancy, not n². No SQL
    * oracle (the signature is engine-specific); LlmOpsSpec asserts it
    * reproduces [[ngramJaccard]] exactly at test scale. */

  def minhashNearDup(s: SparkSession, d: String): DataFrame = {
    val nHashes = 64
    val rowsPerBand = 4
    // shingle rows feed signature building AND both sides of the exact
    // verify join — persist the one corpus-sized table all stages share.
    val sh = persistCorpus(docShingles(s, d))
    // ONE expensive string hash per shingle, then nHashes cheap linear
    // permutations h_i = (a_i·x + b_i) mod p over a 32-bit base hash —
    // the classic universal-hash MinHash family, same construction as
    // spark.ml's MinHashLSH; coefficient bounds keep ANSI-mode long
    // arithmetic overflow-free. The signature is built as nHashes
    // parallel `min` AGGREGATE COLUMNS over the shingle stream (the
    // same buffer layout as [[simhash]]'s 32 bit-counters): one
    // codegen'd groupBy(doc_id) computes all 64 permutations with NO
    // row expansion — the earlier (shingle × seed) broadcast-join form
    // materialized 64× the shingle stream and re-shuffled (doc, seed)
    // rows into a second band aggregation (measured 2.8 → 1.7 s at
    // sf0.1; a `transform`/`aggregate` HOF fold is worse still — it
    // runs interpreted, measured ~3× slower than even the join form).
    val (as, bs) = LinearPerms(nHashes)
    val nBands = nHashes / rowsPerBand
    val sigs = sh
      .select(col("doc_id"),
        pmod(xxhash64(col("shingle")), lit(4294967296L)).as("base"))
      .groupBy("doc_id")
      .agg(
        min(pmod(col("base") * as(0) + bs(0), lit(MinHashP))).as("mh0"),
        (1 until nHashes).map(i =>
          min(pmod(col("base") * as(i) + bs(i), lit(MinHashP))).as(s"mh$i")): _*)
    // band bucket key: hash of the band's rows in seed order — derived
    // by a plain projection + explode over the one-row-per-doc
    // signatures (reduced data). Cached: the bucket self-join reads
    // this twice, and it is nBands rows per doc — safe at any scale.
    val bands = sigs
      .select(col("doc_id"), posexplode(array((0 until nBands).map(b =>
        xxhash64(concat_ws(",", (0 until rowsPerBand).map(r =>
          col(s"mh${b * rowsPerBand + r}")): _*))): _*)))
      .toDF("doc_id", "band", "band_sig")
      .cache()
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // exact-verify candidates only. NO broadcast hint on `candidates`:
    // its size scales with near-dup density, not corpus size — a
    // duplicate-heavy corpus (web crawls run ~30% dup) would blow a
    // forced broadcast. AQE broadcasts it while small and degrades to a
    // shuffle join gracefully (PlanSpec pins the degraded plan).
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a")
      .join(candidates, col("a.doc_id") === col("i"))
      .join(sh.as("b"), col("b.doc_id") === col("j") &&
        col("a.shingle") === col("b.shingle"))
      .groupBy("i", "j").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.withColumnRenamed("doc_id", "i").withColumnRenamed("n_sh", "n_i"), "i")
      .join(sizes.withColumnRenamed("doc_id", "j").withColumnRenamed("n_sh", "n_j"), "j")
      .withColumn("jac",
        col("n_common").cast("double") / (col("n_i") + col("n_j") - col("n_common")))
      .filter(col("jac") >= 0.8)
      .select(col("i"), col("j"), round4(col("jac")).as("jac"))
      .orderBy("i", "j")
  }

  /** SimHash near-dup: 32-bit simhash from per-token md5, pairs within
    * Hamming distance ≤ 2 (the planted near-dup families sit at ≤ 2 on
    * this corpus; ≥ 3 admits thousands of tiny-vocabulary noise pairs).
    * md5 is identical across engines, and the
    * simhash is pure integer arithmetic → exact oracle.
    *
    * Candidate generation is BANDED, not all-pairs: the 32-bit simhash
    * splits into 4 byte chunks, and by pigeonhole a pair within Hamming
    * distance 2 has ≥ 2 undamaged chunks, so it MUST agree on at least
    * one (chunk_id, chunk_value) bucket — the equi-join below therefore
    * has no false negatives (this plan and the all-pairs form produce
    * identical rows; the oracle runs the all-pairs SQL). Work scales
    * with bucket occupancy instead of n². */

  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // reduced data (one long per doc), read by both join sides → cache.
    val sims = simhash(s, d).cache()
    val chunks = sims.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> shiftright(simhash, c * 8) & 255)")))
      .toDF("doc_id", "simhash", "chunk_id", "chunk_val")
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk_id") === col("b.chunk_id") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
      .orderBy("i", "j")
  }

  /** 32-bit SimHash per document: per token occurrence, h = first 8 hex
    * chars of md5(token); bit i of the simhash is 1 iff the (+1/−1) vote
    * sum over tokens of bit i is > 0.
    *
    * The 32 per-bit votes are 32 conditional-sum buffers in ONE
    * aggregation pass over the token stream — the same shape p01 uses
    * for its per-column profiles (Profiling.scala) — instead of an
    * `explode(sequence(0, 31))` that would Generate 32 rows per token
    * occurrence before the first aggregate (partial aggregation bounds
    * the shuffle either way, but the 32× row expansion through the scan
    * stage is pure waste; measured ~2× faster as buffers). Bit positions
    * are Scala literals, so the DSL shiftright/shiftleft apply. */

  def simhash(s: SparkSession, d: String): DataFrame = {
    val tokenHash = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .select(col("doc_id"),
        conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long").as("h"))
    val votes = (0 until 32).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$b")
    }
    tokenHash
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  /** Document fingerprint: min md5 over the doc's 3-token shingles (the
    * MinHash idea with one cross-engine-stable hash function) — a
    * compact near-dup prefilter key. */

  def fingerprint(s: SparkSession, d: String): DataFrame =
    docShingles(s, d)
      .groupBy("doc_id")
      .agg(min(md5(col("shingle"))).as("fp"),
        count(lit(1)).as("n_shingles"))
      .orderBy("doc_id")

  // ——————————————— E20: vector similarity search ———————————————


  /** d45 — EDIT-DISTANCE verification of near-dup candidate pairs: the
    * character-level second opinion on the shingle-level d02 relation
    * (pipelines that act destructively on dedup output often gate on
    * edit similarity, which token shingles approximate but don't
    * guarantee — transpositions and in-token edits read differently at
    * the two granularities). Levenshtein is O(|a|·|b|) PER PAIR, so it
    * can never run on candidates at scale — here it runs on the
    * OUTPUT-sized verified pair set (the d02 relation), each side's
    * normalized text fetched by a keyed semi-join-shaped lookup. The
    * distance is integer DP (identical in any engine) and `edit_sim` is
    * one IEEE division of engine-identical integers — bit-exact, no
    * rounding. */
  def editVerify(s: SparkSession, d: String, threshold: Double = 0.8): DataFrame =
    editVerifyOver(s, d, jaccardPairs(s, d, 0.8), threshold)

  /** [[editVerify]] over an explicit verified-pair relation (i, j, …) —
    * the read-side entry [[PairStore]] feeds from the published store
    * (d48). */

  private[graft] def editVerifyOver(s: SparkSession, d: String,
      pairs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val norm = Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"))
    pairs.select(col("i"), col("j"))
      .join(norm.select(col("doc_id").as("i"), col("norm").as("norm_i")), "i")
      .join(norm.select(col("doc_id").as("j"), col("norm").as("norm_j")), "j")
      .select(col("i"), col("j"),
        levenshtein(col("norm_i"), col("norm_j")).cast("long").as("lev"),
        greatest(length(col("norm_i")), length(col("norm_j"))).as("mx"))
      .select(col("i"), col("j"), col("lev"),
        (lit(1.0) - col("lev").cast("double") / col("mx")).as("edit_sim"))
      .withColumn("verified", col("edit_sim") >= threshold)
      .orderBy("i", "j")
  }


  /** d19 — near-duplicate CLUSTERS: connected components over the exact
    * Jaccard pair graph ([[ngramJaccard]]'s edges), every document
    * labeled with the smallest doc_id reachable through near-dup edges.
    * Pairwise near-dup output is not what a dedup pipeline actually
    * consumes — it keeps ONE representative per duplicate GROUP, and
    * groups are the transitive closure of the pair relation (A≈B, B≈C ⇒
    * {A,B,C} even if A,C don't pair directly).
    *
    * Algorithm: [[ConnectedComponents.largeSmallStar]] (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — O(log n) rounds
    * of edge-proportional equi-join work regardless of component
    * diameter, so a pathological chain-shaped duplicate family
    * (serially edited boilerplate) cannot blow the round count the way
    * diameter-bound label propagation would. Non-pair docs never enter
    * the loop and are labeled as singletons at the end by a left join;
    * ConnectedComponentsSpec pins the algorithm against a driver-side
    * union-find on the real pair graph and against planted
    * high-diameter chains. */
  def neardupClusters(s: SparkSession, d: String): DataFrame =
    clusterAssign(s, d, jaccardPairs(s, d, 0.8).select(col("i"), col("j")))

  /** Shared d19/d41 labeling: CC over `edges`, every document labeled
    * (non-pair docs become singletons via the left join), cluster sizes
    * and the min-id canonical flag attached. */

  private[graft] def clusterAssign(s: SparkSession, d: String, edges: DataFrame): DataFrame = {
    val labels = ConnectedComponents.largeSmallStar(edges)
    val asg = Tables.documents(s, d).select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
    val sizes = asg.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    asg.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }


  /** d41 — PARTIAL-duplicate clusters: connected components over the
    * UNION of the Jaccard pair graph (d02, symmetric near-dups) and the
    * containment pair graph (d40, subset/partial dups). This is the edge
    * set substring-level dedup pipelines actually cluster on: a page
    * that quotes a small doc wholesale (containment edge) and a light
    * edit of that page (Jaccard edge) must land in ONE family even
    * though the quote and the edit relate under different metrics.
    *
    * The union is built in ONE candidate pass, not two: the
    * rare-shingle pair self-join runs once WITHOUT d02's size-ratio
    * prefilter (the prefilter is a necessary condition for jac ≥ θ, so
    * dropping it only admits extra candidates the threshold filter
    * rejects — values never change), both upper bounds prune from the
    * same counted stats, and ONE exact-verify join scores the union of
    * survivors with both metrics (edge ⇔ jac ≥ 0.8 ∨ cont ≥ 0.9).
    * Versus unioning d02's and d40's outputs this halves the pair-join
    * and verify work — the dominant cost — while the CC loop stays the
    * same O(log n) large/small-star as d19. LlmOpsSpec pins
    * edge-set ≡ union-of-query-outputs. */
  def partialDupClusters(s: SparkSession, d: String): DataFrame =
    clusterAssign(s, d, partialDupEdges(docShingles(s, d), 0.8, 0.9, MaxShingleDf))

  private[graft] def partialDupEdges(shingles: DataFrame, jacT: Double,
      contT: Double, maxShingleDf: Long): DataFrame = {
    val sh = persistCorpus(shingles)
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxShingleDf)
      .select(col("shingle"), lit(1L).as("is_hot"))
    val shFlag = sh.join(hot, Seq("shingle"), "left")
    val sizes = shFlag.groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(coalesce(col("is_hot"), lit(0L))).as("n_hot"))
    // xxhash64 candidate-key narrowing — see [[jaccardPairsOver]]: a
    // collision only raises n_cr/ub (prune weakens), the exact verify
    // over true shingle strings is unchanged, output identical.
    val shSized = persistCorpus(shFlag.filter(col("is_hot").isNull).drop("is_hot")
      .join(sizes, "doc_id")
      .withColumn("sh", xxhash64(col("shingle"))).drop("shingle"))
    val commonRare = shSized.as("a")
      .join(shSized.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_cr"),
        first(col("a.n_sh")).as("n_i"), first(col("b.n_sh")).as("n_j"),
        first(col("a.n_hot")).as("h_i"), first(col("b.n_hot")).as("h_j"))
    // survive if EITHER metric's sound upper bound clears its threshold
    val bounded = commonRare
      .withColumn("ub", col("n_cr") + least(col("h_i"), col("h_j")))
      .filter(
        col("ub").cast("double") / (col("n_i") + col("n_j") - col("ub")) >= jacT ||
        col("ub").cast("double") / least(col("n_i"), col("n_j")) >= contT)
      .select("i", "j", "n_i", "n_j")
      .cache()
    val survivorDocs = bounded
      .select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
    val docsets = sh.join(survivorDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("shingle")).as("ss"))
    bounded
      .join(docsets.select(col("doc_id").as("i"), col("ss").as("ss_i")), "i")
      .join(docsets.select(col("doc_id").as("j"), col("ss").as("ss_j")), "j")
      .withColumn("n_common",
        size(array_intersect(col("ss_i"), col("ss_j"))).cast("long"))
      .filter(
        col("n_common").cast("double") /
          (col("n_i") + col("n_j") - col("n_common")) >= jacT ||
        col("n_common").cast("double") / least(col("n_i"), col("n_j")) >= contT)
      .select("i", "j")
  }

  /** d20 — train/test CONTAMINATION check: near-dup pairs that straddle
    * the [[hashSplit]] boundary. An eval split leaks whenever a test/val
    * document has a near-duplicate in train — the standard benchmark-
    * decontamination question asked of every pretraining corpus. Output
    * is every near-dup pair with both splits and a `contaminated` flag
    * (splits differ), so the clean pairs double as the negative control.
    * Two broadcast-size probes against the pair set; at corpus scale the
    * split table joins by doc_id (shuffle on a unique key, no skew). */

  def contamination(s: SparkSession, d: String): DataFrame =
    contaminationOver(s, d, jaccardPairs(s, d, 0.8))

  /** [[contamination]] over an explicit verified-pair relation
    * (i, j, jac) — the read-side entry [[PairStore]] feeds from the
    * published store (d47). */

  private[graft] def contaminationOver(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    val splits = splitAssign(s, d).select(col("doc_id"), col("split"))
    pairs
      .select(col("i"), col("j"), round4(col("jac")).as("jac"))
      .join(splits.select(col("doc_id").as("i"), col("split").as("split_i")), "i")
      .join(splits.select(col("doc_id").as("j"), col("split").as("split_j")), "j")
      .select(col("i"), col("j"), col("jac"), col("split_i"), col("split_j"),
        (col("split_i") =!= col("split_j")).as("contaminated"))
      .orderBy("i", "j")
  }


  /** d30 — INCREMENTAL ingestion dedup: the admission decision for a new
    * batch of documents arriving against an already-ingested corpus —
    * the shape every continuously-fed training corpus runs daily (dedup
    * the delta, never re-dedup the whole corpus). The batch is the
    * `doc_id % 10 ≥ 8` slice (a stand-in for "today's crawl"); a batch
    * document is rejected as `dup_existing` if it has a near-dup partner
    * (the [[ngramJaccard]] pair relation at 0.8) already in the corpus,
    * else `dup_batch` if an EARLIER batch document (smaller doc_id — the
    * same deterministic keep rule as [[exactDedup]]) is its near-dup,
    * else admitted as `new`. The rule is pairwise by design: transitive
    * closure is [[neardupClusters]]' job; the delta gate stays a cheap
    * join.
    *
    * Scale: the pair build is the capped candidate join (see
    * [[jaccardPairsOver]]); the decision itself is one edge-table
    * aggregation keyed by batch doc_id plus a left join — O(Δ) work per
    * delta, independent of corpus history size beyond the pair probe. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame =
    incrementalDedupOver(s, d, jaccardPairs(s, d, 0.8))

  /** [[incrementalDedup]] over an explicit verified-pair relation — the
    * read-side entry [[PairStore]] feeds from the published store
    * (d30b). This is the PRODUCTION incremental shape: a daily delta
    * gate should probe the corpus pair relation that the d46 publisher
    * job already materialized, never rebuild the shingle → candidate →
    * verify chain per delta (the rebuild made the pre-share standalone
    * d30 the most expensive — and most box-variance-exposed — query in
    * the registry; since round 11 d30 itself reads the shared store by
    * default via [[jaccardPairs]], and d30b remains the explicit
    * store-composition surface). */

  private[graft] def incrementalDedupOver(s: SparkSession, d: String,
      pairsIn: DataFrame): DataFrame = {
    def inBatch(c: Column): Column = pmod(c, lit(10L)) >= 8
    val pairs = pairsIn.select(col("i"), col("j"))
    // both edge directions from ONE explode, not union(pairs, swap):
    // the union form embedded the whole pair-build subtree TWICE in
    // every downstream stage closure — measured 12.2 MiB task binaries
    // (the round-5 bench-tail warning), halved by the single-subtree
    // form
    val edges = pairs.select(explode(array(
        struct(col("i").as("b"), col("j").as("p")),
        struct(col("j").as("b"), col("i").as("p")))).as("e"))
      .select("e.b", "e.p")
    val flags = edges.filter(inBatch(col("b")))
      .groupBy(col("b").as("doc_id"))
      .agg(max(when(!inBatch(col("p")), 1L).otherwise(0L)).as("has_existing"),
        max(when(inBatch(col("p")) && col("p") < col("b"), 1L).otherwise(0L))
          .as("has_earlier"))
    Tables.documents(s, d).select(col("doc_id")).filter(inBatch(col("doc_id")))
      .join(flags, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("has_existing") === 1L, lit("dup_existing"))
          .when(col("has_earlier") === 1L, lit("dup_batch"))
          .otherwise(lit("new")).as("status"))
      .withColumn("admitted", col("status") === "new")
      .orderBy("doc_id")
  }

  // ———————————— d32–d35: redaction / decontamination / DSIR / semdedup ————————————

}
