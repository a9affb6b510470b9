package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The TEXT-QUALITY / ANALYSIS family (E21 + filters): stats, language
  * id, LM scoring and perplexity buckets, quality classifiers and
  * ensembles, tf-idf/BM25 ranking, redaction, decontamination, DSIR.
  * Split out of the original LlmOps module (round 11). Scale posture:
  * scan-parallel projections and key-partitioned aggregates; reduced
  * stats broadcast back, corpora never re-shuffle for scoring. */
object QualityOps {
  import Canon._
  import LlmOps._
  import PairGraph._
  import DedupOps._
  import EmbeddingOps._
  import SamplingOps._


  /** d44 — hashed-feature LINEAR quality classifier (the fastText-style
    * model-based quality filter — the stage that scores each document
    * with a trained linear model over hashed bag-of-words features and
    * keeps the high scorers). Tokens hash into 64 feature buckets (the
    * d34 md5-bucket idiom); the logit is Σ c_b·w_b / (100·n) with c_b
    * the doc's bucket counts. The weight VECTOR here is a deterministic
    * closed form over the bucket id, w_b = ((37·b + 11) mod 101 − 50)
    * (a stand-in the oracle recomputes — a real deployment broadcasts
    * its trained vector; the plan is identical). Weight numerators are
    * INTEGERS, so the per-doc sum is exact in any engine and the logit
    * is ONE IEEE division of engine-identical integers — bit-exact, no
    * rounding (Canon.round4 note). `keep` thresholds the logit at 0
    * (the sigmoid is monotone in the logit, so scoring and gating need
    * no exp/division chain). ONE shuffle keyed by doc_id; at 100 TB the
    * hash-and-weight projection is scan-parallel map work. */
  def qualityClassifier(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"),
          lit(64L)).as("b"))
      .select(col("doc_id"),
        (pmod(col("b") * 37 + 11, lit(101L)) - 50).as("wnum"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("wnum")).as("znum"))
      .select(col("doc_id"), col("n_tokens"),
        (col("znum").cast("double") / (col("n_tokens") * 100)).as("logit"))
      .withColumn("keep", col("logit") >= 0.0)
      .orderBy("doc_id")


  /** The composite quality score of [[textStats]] (d08), factored out so
    * the gate in [[prepPipeline]] is definitionally the same number. */
  private[operators] def qualityScore(t: Column): Column =
    round4(log(lit(1.0) + size(t).cast("double")) *
      round4(size(array_distinct(t)).cast("double") / size(t)))


  /** d21 — within-document repetition filter (the Gopher/MassiveText
    * quality rule): the fraction of a document's word-3-gram OCCURRENCES
    * that repeat an already-counted 3-gram, plus the share of the single
    * most frequent 3-gram. Boilerplate/template/spam text scores high
    * and gets dropped; `keep` applies the 0.2 duplicate-fraction
    * threshold. Same shingle OCCURRENCE stream as [[docShingles]] but
    * WITHOUT the distinct (occurrence counts are the point); one
    * shuffle keyed by doc_id, ratios are single divisions of exact
    * counts (round4 for the multi-op top-share chain). Docs with <3
    * tokens have no 3-grams and are kept by definition. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    val grams = gramStream(s, d).withColumnRenamed("shingle", "g")
    val perGram = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val perDoc = perGram.groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"))
    Tables.documents(s, d).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        round4(when(col("n_grams").isNull, lit(0.0))
          .otherwise((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams")))
          .as("dup_frac"),
        round4(when(col("n_grams").isNull, lit(0.0))
          .otherwise(col("top_count").cast("double") / col("n_grams")))
          .as("top_share"))
      .withColumn("keep", col("dup_frac") < 0.2)
      .orderBy("doc_id")
  }

  /** d22 — vocabulary coverage / OOV rate: the corpus top-K vocabulary
    * by token frequency (deterministic boundary tie-break on the token
    * itself) and each document's out-of-vocabulary token rate — the
    * metric that drives tokenizer/vocab sizing and flags domain-shifted
    * documents a fixed vocab would shred into rare pieces. One token
    * shuffle to build the vocab, then a broadcast membership join (the
    * vocab is K rows — broadcast by construction at any corpus scale)
    * and a per-doc aggregation. */

  def vocabCoverage(s: SparkSession, d: String, k: Int = 20): DataFrame = {
    // K is the vocabulary size — a real corpus binds K ~ tokenizer vocab
    // size; the registered d22 query binds 20 because the synthetic
    // corpus draws from a 31-word vocabulary (verified at every sf), so
    // K=20 keeps the metric non-degenerate (the 11 rarest words are OOV).
    // the token stream feeds BOTH the vocab build and the membership
    // join — persist the one corpus-sized table both passes share
    // (Verify/Bench clear caches per query)
    val tok = persistCorpus(Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("word")))
    val vocab = tok.groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), asc("word")).limit(k)
      .select(col("word"), lit(1).as("in_vocab"))
    tok.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round4(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
      .orderBy("doc_id")
  }


  /** d54 — FILTER-agreement audit (learned vs rule-based): the 2×2
    * confusion table between the d44 linear classifier's keep and the
    * d52 ensemble's keep, plus each cell's share — the governance check
    * a pipeline runs BEFORE swapping a rule-based filter for a learned
    * one (the disagreement cells are exactly the documents to audit;
    * a swap that silently flips 30% of verdicts is a dataset change,
    * not a refactor). Both scorers are the registered operators reused
    * verbatim — one definition each, no drift.
    *
    * Plan: two scan-parallel scoring subtrees join co-keyed on doc_id,
    * then a 4-group aggregate; the share denominator is a one-row
    * broadcast. All counts integer; `share` is ONE IEEE division. */
  def filterAgreement(s: SparkSession, d: String): DataFrame = {
    val model = qualityClassifier(s, d).select(col("doc_id"),
      col("keep").as("model_keep"))
    val rules = qualityEnsemble(s, d).select(col("doc_id"),
      col("keep").as("rules_keep"))
    val joined = model.join(rules, "doc_id")
    val total = joined.agg(count(lit(1)).as("n_docs"))
    joined.groupBy("model_keep", "rules_keep")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(total))
      .select(col("model_keep"), col("rules_keep"), col("n"),
        (col("n").cast("double") / col("n_docs")).as("share"))
      .orderBy("model_keep", "rules_keep")
  }


  /** Bigram language-model scoring — the perplexity-style quality signal
    * (CCNet-style pipelines drop documents whose LM score is an outlier).
    * The corpus is its own training data: P(w1|w0) = (c(w0,w1)+1) /
    * (heads(w0)+V) with add-one smoothing, and each document's score is
    * the mean ln P over its bigrams.
    *
    * Float discipline: like [[langId]], each bigram's ln P is
    * canonicalized to DECIMAL(30,6) BEFORE the per-document sum (exact,
    * order-independent); `avg_logp` is then ONE division of
    * engine-identical doubles and ships RAW — per the [[graft.Canon]]
    * round4 note, rounding identical doubles can itself diverge.
    * Counts shuffle on bigram/word keys; V broadcasts. */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    // w0/w1 recovered from the joined bigram: tokens never contain the
    // separator, so the first/last space split is exact (empty tokens
    // included)
    val bigrams = gramOccurrences(s, d, 2)
      .select(col("doc_id"),
        substring_index(col("gram"), " ", 1).as("w0"),
        substring_index(col("gram"), " ", -1).as("w1"))
    val c2 = bigrams.groupBy("w0", "w1").agg(count(lit(1)).as("c2"))
    val c1 = bigrams.groupBy("w0").agg(count(lit(1)).as("c1"))
    val v = Tables.documents(s, d)
      .select(explode(toks(col("text"))).as("word")).distinct()
      .select(count(lit(1)).as("v"))
    bigrams
      .join(c2, Seq("w0", "w1"))
      .join(c1, Seq("w0"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        dec(log((col("c2") + 1).cast("double") / (col("c1") + col("v"))))
          .as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logp")).cast("double").as("sum_logp"))
      .withColumn("avg_logp", col("sum_logp") / col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** d50 — CCNet-style perplexity bucketing: rank every document by its
    * LM score ([[bigramLm]]'s `avg_logp` — higher = more probable =
    * lower perplexity) and split the corpus into exact terciles:
    * `head` (most fluent), `middle`, `tail` — the quality partition
    * CCNet/RedPajama pipelines feed to sampling (train mostly on head,
    * downweight tail) after scoring with a KenLM.
    *
    * The trap is the ranking: NTILE over a corpus is a GLOBAL window —
    * one task sorts 100 TB. This plan instead reuses the p04
    * distributed-rank kernel ([[Profiling.globalRankByRange]]): a range
    * repartition on (avg_logp DESC, doc_id) gives ordered shards, a
    * shard-count-sized prefix sum gives offsets, and the global rank is
    * offset + per-shard row_number. NTILE(k) is then pure integer
    * arithmetic on (rank0, n) — the first n mod k tiles hold
    * ⌈n/k⌉ rows, the rest ⌊n/k⌋ — so the oracle's single-window
    * `ntile(3)` reproduces the bucket ids exactly. Ranking consumes
    * engine-identical doubles (avg_logp is one division of
    * decimal-exact operands, the d18 discipline), tie-broken by doc_id.
    * Docs with <2 tokens have no bigrams and are absent, as in d18. */

  def perplexityBuckets(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    val scores = bigramLm(s, d).select(col("doc_id"), col("avg_logp"))
    val ranked = Profiling.globalRankByRange(scores,
      Seq(col("avg_logp").desc, col("doc_id")))
    // NTILE(k) from (rank0, n): big tiles first, integer arithmetic only
    // (n < k never reaches the ELSE division: every rank0 < n = bigSpan)
    val tile = expr(
      s"""CASE WHEN rank0 < (n % $k) * ((n div $k) + 1)
         |     THEN rank0 div ((n div $k) + 1)
         |     ELSE (n % $k) + (rank0 - (n % $k) * ((n div $k) + 1)) div (n div $k)
         |END + 1""".stripMargin)
    ranked
      .withColumn("bucket", tile.cast("long"))
      .select(col("doc_id"), col("avg_logp"), col("bucket"),
        when(col("bucket") === 1, "head")
          .when(col("bucket") === k, "tail")
          .otherwise("middle").as("band"))
      .orderBy("doc_id")
  }

  /** d51 — per-document n-gram NOVELTY: the fraction of a document's
    * distinct 3-gram shingles whose globally-FIRST occurrence (min
    * doc_id) is this document — the marginal-contribution/redundancy
    * signal data-curation pipelines use to rank sources ("how much text
    * does this document add that the corpus doesn't already have?"),
    * the scoring-side complement of d42's span REMOVAL.
    *
    * Same scale shape as the d38/d42 rewrites: the first owner per
    * shingle is `groupBy(shingle).agg(min(doc_id))` — partial
    * aggregation collapses a boilerplate shingle map-side, never a
    * content-keyed window — and the join back on `shingle` has a
    * one-row-per-shingle build side, so a hot shingle skews only a
    * shuffle partition AQE can split. Per-doc novelty is then a keyed
    * aggregate on doc_id. At 100 TB the shingle key becomes
    * `xxhash64(shingle)` (d01 note) to keep shuffle rows narrow.
    * `novelty` is one IEEE division of engine-identical integers —
    * ships raw (Canon round4 note). Docs with <3 tokens have no
    * shingles and are absent, as across the shingle family. */

  def gramNovelty(s: SparkSession, d: String): DataFrame = {
    val sh = docShingles(s, d)
    val first = sh.groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_shingles"))
      .orderBy("doc_id")
  }

  /** d52 — composite quality-filter ENSEMBLE (the C4/Gopher shape:
    * several cheap rules evaluated in one pass, a document keeps only
    * if ALL pass, and the output says WHICH rules failed): minimum
    * length, mean-word-length band, max single-token share, and
    * distinct-token ratio, each surfaced as a flag plus a reasons
    * BITMASK — the "why was this dropped" diagnostic a production
    * filter pipeline reports, where single-signal operators (d08 stats,
    * d21 repetition, d27 entropy) each return only their own score.
    *
    * Every threshold compares by INTEGER cross-multiplication
    * (`sum_len·10 ≥ n·40` instead of `sum_len/n ≥ 4.0`) so the
    * verdicts are bit-exact across engines — no float division ever
    * happens. One (doc_id, token) count aggregation then a doc_id
    * rollup: two keyed shuffles, both partial-aggregated map-side, no
    * window, no content-keyed anything; at 100 TB the token key becomes
    * xxhash64 like the rest of the family. Note the split semantics:
    * `split("", " ")` is `[""]` in BOTH engines, so an empty-text doc
    * still emits one row (an empty token counts toward n_tokens, and
    * r_len rejects it) — unlike the shingle family, whose n-gram window
    * genuinely yields zero rows under 3 tokens. */

  def qualityEnsemble(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * length(col("w"))).as("sum_len"),
        max(col("c")).as("max_cnt"),
        count(lit(1)).as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_tokens") >= 12).as("r_len"),
        (col("sum_len") * 10 >= col("n_tokens") * 40 &&
          col("sum_len") * 10 <= col("n_tokens") * 50).as("r_wordlen"),
        (col("max_cnt") * 5 <= col("n_tokens")).as("r_maxshare"),
        (col("n_distinct") * 10 >= col("n_tokens") * 3).as("r_distinct"))
      .withColumn("reasons",
        (when(col("r_len"), 0L).otherwise(1L) +
          when(col("r_wordlen"), 0L).otherwise(2L) +
          when(col("r_maxshare"), 0L).otherwise(4L) +
          when(col("r_distinct"), 0L).otherwise(8L)).as("reasons"))
      .withColumn("keep", col("reasons") === 0L)
      .orderBy("doc_id")
  }

  // ————————————————— E21: text analysis / tf-idf —————————————————

  /** E21a — tf-idf: top-3 terms per document by tf × ln(N/df), ties
    * broken by word. All shuffle-based: tf is a (doc, word) aggregate,
    * df a word aggregate, N a scalar broadcast. */

  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tokens = docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val tf = tokens.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tokens.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word").asc)
    tf.join(df, "word").crossJoin(broadcast(n))
      .withColumn("score",
        round4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"), col("word"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** D31 — BM25 keyword retrieval (the Okapi formula with Lucene's
    * `ln(1 + …)` idf floor, so every matching term contributes a
    * positive score).
    *
    * For a FIXED small query-term set, retrieval needs none of the
    * corpus-wide token explode that indexing (d07 tf-idf) pays:
    *   1. one scan pass computes each document's length and its per-term
    *      tf via array `filter` over the already-split token array —
    *      q extra columns, zero extra rows;
    *   2. ONE single-row aggregate (N, Σdl, one df per term) is
    *      broadcast back to the corpus side;
    *   3. scoring is per-row arithmetic and the top-k collapses into
    *      TakeOrderedAndProject — scan-parallel, no global sort, no
    *      single-partition window.
    * Total: one corpus scan (the per-doc tf table feeds both the stats
    * aggregate and the scoring join, so it is persisted via
    * [[persistCorpus]] — without it the scan runs twice), zero
    * corpus-sized shuffles — retrieval for a known query is strictly
    * cheaper than building the index, and the plan shows it. Ordering
    * ties break on the ROUNDED score then doc_id, so the order is
    * reproducible across engines.
    * Reference analogue: scoring over phoenixLab's inverted-index output
    * (invert/invert.cpp:67-105 builds the postings; BM25 is the standard
    * ranking the reference stops short of). */

  def bm25(s: SparkSession, d: String,
      terms: Seq[String] = Seq("spark", "join", "window"),
      k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct == terms, "bm25 query terms must be distinct")
    require(terms.forall(_.matches("[A-Za-z0-9_]+")),
      "bm25 terms must be column-name-safe tokens ([A-Za-z0-9_]+)")
    val t = toks(col("text"))
    // read by BOTH the stats aggregate and the scoring join — persist so
    // the corpus really is scanned once (the documented plan claim)
    val perDoc = persistCorpus(Tables.documents(s, d).select(
      col("doc_id") +: size(t).cast("long").as("dl") +:
        terms.map(q =>
          size(filter(t, w => w === lit(q))).cast("long").as(s"tf_$q")): _*))
    val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl")) ++
      terms.map(q => sum((col(s"tf_$q") > 0).cast("long")).as(s"df_$q"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    // the tf > 0 guard keeps ANSI mode from evaluating 0/0 at k1 = 0
    // (for k1 > 0 the unmatched branch is already exactly 0)
    val score = terms.map { q =>
      val tf = col(s"tf_$q").cast("double")
      val df = col(s"df_$q").cast("double")
      val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
      when(col(s"tf_$q") > 0,
        idf * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id") +: col("dl") +:
        terms.map(q => col(s"tf_$q")) :+ round4(score).as("score"): _*)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** The d31 kernel factored to POSTING grain for multi-query retrieval
    * (d66b): per-(doc, term) Okapi BM25 contributions over ONE corpus
    * scan (the same persisted perDoc + broadcast single-row stats), but
    * melted to (doc_id, term, tscore) rows for only the MATCHING
    * (tf > 0) postings — the inverted-index semantics, so a downstream
    * per-query sum over its term subset scores exactly the docs a
    * posting-list retriever would visit. Term arithmetic is d31's
    * expression verbatim (same operand association, so the two surfaces
    * can't drift numerically); the melt is a `stack` generator over the
    * q tf columns — q·matching rows, zero extra scans. */
  private[graft] def bm25TermContrib(s: SparkSession, d: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms &&
      terms.forall(_.matches("[A-Za-z0-9_]+")), s"bad bm25 terms: $terms")
    val t = toks(col("text"))
    val perDoc = persistCorpus(Tables.documents(s, d).select(
      col("doc_id") +: size(t).cast("long").as("dl") +:
        terms.map(q =>
          size(filter(t, w => w === lit(q))).cast("long").as(s"tf_$q")): _*))
    val aggs = Seq(count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl")) ++
      terms.map(q => sum((col(s"tf_$q") > 0).cast("long")).as(s"df_$q"))
    val stats = perDoc.agg(aggs.head, aggs.tail: _*)
    val termStats = stats.selectExpr("n_docs", "sum_dl",
      s"stack(${terms.size}, ${terms.map(q => s"'$q', df_$q").mkString(", ")}) AS (term, df)")
    val melted = perDoc.selectExpr("doc_id", "dl",
      s"stack(${terms.size}, ${terms.map(q => s"'$q', tf_$q").mkString(", ")}) AS (term, tf)")
      .filter(col("tf") > 0)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val tf = col("tf").cast("double")
    val df = col("df").cast("double")
    val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
    melted.join(broadcast(termStats), "term")
      .select(col("doc_id"), col("term"),
        (idf * (tf * lit(k1 + 1.0)) /
          (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)))
          .as("tscore"))
  }

  /** E21b — per-document text statistics / quality scoring: token
    * counts, lexical diversity, length agreement with the `n_chars`
    * metadata column, and a simple composite quality score. */

  def textStats(s: SparkSession, d: String): DataFrame = {
    val t = toks(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(t).cast("long").as("n_tokens"),
        size(array_distinct(t)).cast("long").as("n_distinct"),
        length(col("text")).cast("long").as("text_len"),
        (col("n_chars") === length(col("text"))).as("chars_match"),
        round4(size(array_distinct(t)).cast("double") / size(t)).as("distinct_ratio"),
        // avg token length: exact integer sums → identical double division
        round4((length(col("text")) - (size(t) - 1)).cast("double") / size(t))
          .as("avg_token_len"),
        round4(size(filter(t, w => length(w) >= 6)).cast("double") / size(t))
          .as("long_token_ratio"),
        // BPE-ish subword proxy: maximal word-char runs OR single
        // non-space symbols — the pre-tokenization regex a byte-pair
        // tokenizer segments on (≡ whitespace count on clean text, and
        // diverges exactly where punctuation appears)
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long").as("n_subword_tokens"),
        // the SAME function the d16 pipeline gates on — one definition,
        // not a drift-prone inline copy
        qualityScore(t).as("quality_score"))
      .orderBy("doc_id")
  }

  /** E21c — corpus profile per language: doc/token counts and the most
    * frequent word (deterministic tie-break by word). */

  def langProfile(s: SparkSession, d: String): DataFrame = {
    val tokens = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), explode(toks(col("text"))).as("word"))
    val perWord = tokens.groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("word").asc)
    val top = perWord.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("lang"), col("word").as("top_word"), col("cnt").as("top_word_cnt"))
    val stats = tokens.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        countDistinct(col("word")).as("n_distinct_words"))
    stats.join(top, "lang")
      .withColumn("avg_tokens_per_doc",
        round4(col("n_tokens").cast("double") / col("n_docs")))
      .orderBy("lang")
  }

  /** E21d — language-ID: add-one-smoothed naive-Bayes over the corpus's
    * own per-language unigram profiles (the n-gram-heuristic classifier
    * with n=1 over words; the synthetic corpus shares one vocabulary
    * across languages, so accuracy is weak by construction — the
    * operator contract is the deterministic scoring pipeline).
    *
    * Float discipline: each token's ln P(w|L) is canonicalized to
    * DECIMAL(30,6) *before* the per-document sum, so the score is an
    * exact order-independent decimal sum — same trick as [[Canon.dsum]]
    * — and argmax ties break by language code. */

  def langId(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // four consumers re-derive this stream; measured WORSE persisted
    // (2.2 → 2.8 s at sf0.1) — the explode recompute off the page-
    // cached scan is cheaper than materializing the token stream
    val tokens = docs.select(col("doc_id"), col("lang"), explode(toks(col("text"))).as("word"))
    val langTotals = tokens.groupBy(col("lang").as("l"))
      .agg(count(lit(1)).as("total"))
    val vocab = tokens.select(col("word")).distinct()
    val vSize = vocab.select(count(lit(1)).as("v"))
    val counts = tokens.groupBy(col("lang").as("l"), col("word")).agg(count(lit(1)).as("cnt"))
    // dense lang × vocab grid so unseen words get the +1 smoothing mass.
    val grid = langTotals.crossJoin(vocab)
      .join(counts, Seq("l", "word"), "left_outer")
      .crossJoin(broadcast(vSize))
      .select(col("l"), col("word"),
        dec(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("total") + col("v")))).as("logp"))
    // NO broadcast hint on `grid`: it is lang × vocab rows — tiny at the
    // 31-word test vocab, but a real ~1M-word vocabulary would blow a
    // forced broadcast. AQE broadcasts it while small and degrades to a
    // shuffle join at real vocab scale.
    val scores = tokens
      .join(grid, "word")
      .groupBy(col("doc_id"), col("lang"), col("l"))
      .agg(sum(col("logp")).cast("double").as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("l").asc)
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("l").as("pred"),
        round4(col("score")).as("score"),
        (col("l") === col("lang")).as("correct"))
      .orderBy("doc_id")
  }

  // ———————————— corpus selection / quality scoring (round 5) ————————————


  /** d27 — unigram token-ENTROPY quality score: Shannon entropy of each
    * document's token distribution, H = (1/n)·Σ c·(ln n − ln c) over the
    * per-token counts c. Low entropy = repetitive/templated text (the
    * within-doc complement of [[bigramLm]]'s corpus-relative LM score;
    * a keyword-stuffed page scores near 0, diverse prose near ln V).
    * `keep` applies a 2.5-nat floor — on the synthetic corpus entropy
    * spans 1.64–3.35 with median 3.09, so the flag is non-degenerate.
    *
    * Float discipline (see [[graft.Canon]]): every ln lives INSIDE a
    * per-term `dec` canonicalization — the decimal sum is exact and
    * order-independent, and the final entropy is ONE division of
    * engine-identical doubles, shipped raw (same contract as
    * [[bigramLm]]'s avg_logp). The per-doc totals n and n_distinct ride
    * the same doc_id shuffle as the count aggregation (window over the
    * grouped counts, not a second corpus scan). */
  def tokenEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val wDoc = Window.partitionBy("doc_id")
    counts
      .withColumn("n", sum(col("c")).over(wDoc))
      .withColumn("nd", count(lit(1)).over(wDoc))
      .select(col("doc_id"), col("n"), col("nd"),
        dec(col("c") * (log(col("n")) - log(col("c")))).as("term"))
      .groupBy("doc_id")
      .agg(max(col("n")).as("n_tokens"), max(col("nd")).as("n_distinct"),
        sum(col("term")).cast("double").as("sum_t"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("sum_t") / col("n_tokens")).as("entropy"))
      .withColumn("keep", col("entropy") >= 2.5)
      .orderBy("doc_id")
  }

  /** d28 — corpus-RELATIVE length outlier trim: drop each language's
    * shortest and longest 10% of documents by token count (truncation
    * fragments and concatenation blobs — the C4/CCNet length gate, but
    * percentile-based so it needs no hand-tuned absolute cutoffs and
    * survives corpus drift). `pct` is SQL `percent_rank` over
    * (lang, n_tokens): ties share a rank, so equal-length documents
    * share a fate — the flag never depends on an arbitrary tie-break.
    *
    * Scale design: percent_rank depends only on the (lang, n_tokens)
    * VALUE, so it is computed on the length HISTOGRAM — a
    * `groupBy(lang, n_tokens).count` of at most langs × max_doc_len rows
    * — via a running sum ordered by length (rank of length L = rows
    * strictly shorter + 1), then broadcast-joined back to the corpus.
    * No corpus-sized window: the per-lang serial pass that a direct
    * `percent_rank().over(partitionBy(lang))` would cost at 100 TB
    * never happens, and the histogram window is O(distinct lengths).
    * Single-doc languages guard to pct = 0 (percent_rank's n = 1 case). */

  def lengthTrim(s: SparkSession, d: String, lo: Double = 0.1, hi: Double = 0.9): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      size(toks(col("text"))).cast("long").as("n_tokens"))
    val wLen = Window.partitionBy("lang").orderBy("n_tokens")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hist = docs.groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wLen))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("n_tokens"),
        when(col("total") === 1, lit(0.0))
          .otherwise((col("cum") - col("cnt")).cast("double") / (col("total") - 1))
          .as("pct"))
    docs.join(broadcast(hist), Seq("lang", "n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("pct"),
        (col("pct") >= lo && col("pct") <= hi).as("keep"))
      .orderBy("doc_id")
  }


  /** Default binding for [[redact]]: one real-world PII pattern (email —
    * the fixtures contain none, exercising the zero-match path end to
    * end) and one corpus-visible stand-in (the entity words that DO
    * occur), so the oracle checks both the no-op and the rewrite path.
    * Real deployments swap in their own (name, regex, token) list —
    * phone/SSN/IP/credit-card — the plan shape is invariant in the list. */
  val DefaultRedactions: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("entity", "\\b(customer|supplier)\\b", "<ENT>"))

  /** d32 — pattern redaction (the PII-scrub stage of a training-data
    * pipeline): per-pattern match counts plus the text with every match
    * replaced by its token, applied in list order.
    *
    * Pure per-row projection — `regexp_extract_all` / `regexp_replace`
    * are codegen'd and the plan has ZERO exchanges (one scan, one
    * project, plus the presentation sort), so the operator is embarrass-
    * ingly parallel at any corpus size; regex cost is linear in text
    * length. Patterns stay in the Java/RE2 common subset (no backrefs,
    * no lookaround) so the DuckDB oracle (`regexp_replace(..., 'g')` —
    * DuckDB replaces first-match-only without the flag; Spark is global
    * by default) matches byte for byte. */

  def redact(s: SparkSession, d: String,
      patterns: Seq[(String, String, String)] = DefaultRedactions): DataFrame = {
    // sequential semantics: pattern i is counted on the text AFTER
    // patterns 1..i-1 have been applied, so every count states exactly
    // how many of ITS tokens appear in `redacted` — overlapping
    // patterns ("customer@x.com": email consumes the entity word)
    // can't over-report. The chained regex subexpressions stay one
    // codegen'd projection.
    var cur = col("text")
    val counts = patterns.map { case (nm, re, tok) =>
      val c = size(regexp_extract_all(cur, lit(re), lit(0))).as(s"n_$nm")
      cur = regexp_replace(cur, re, tok)
      c
    }
    Tables.documents(s, d)
      .select(col("doc_id") +: counts :+ cur.as("redacted"): _*)
      .withColumn("n_redacted_chars", length(col("redacted")))
      .orderBy("doc_id")
  }

  /** Distinct word-n-grams per document — [[docShingles]] generalized to
    * n tokens over the shared [[gramOccurrences]] stream. */

  private[operators] def nGramSet(s: SparkSession, d: String, n: Int): DataFrame =
    gramOccurrences(s, d, n).distinct()

  /** d33 — train/test n-gram decontamination (the GPT-3/PaLM-style
    * benchmark-leakage check, run here between the md5-hash train and
    * test splits of [[hashSplit]]): a train document is contaminated if
    * it shares at least one word-n-gram with any test document. Reports
    * the distinct shared grams and the number of distinct test documents
    * hit. n = 5 on this corpus: the 31-word vocabulary makes 3-grams
    * collide by chance (31⁵ ≈ 28.6M possible 5-grams ≫ the ~50k gram
    * stream, so surviving overlaps are genuine planted near-duplicates
    * that straddle the split).
    *
    * Scale: candidate generation is a bucketed equi-join on the gram —
    * never all-pairs — with the test side's zipf head excluded by the
    * same document-frequency cap as [[MaxShingleDf]] (an ultra-frequent
    * gram is boilerplate, not leakage signal, and is what would blow a
    * join bucket; the cap never fires at sf0.1 — measured max 5-gram DF
    * is 3 — so the oracle mirrors it exactly). The test side is a
    * fraction of the corpus, so the join's build side is the small one. */

  def decontamNgrams(s: SparkSession, d: String, n: Int = 5,
      maxTestDf: Long = MaxShingleDf): DataFrame = {
    // three consumers (train filter, test filter, hot-gram aggregate)
    // re-read this corpus-sized stream — persist it once
    val grams = persistCorpus(nGramSet(s, d, n)
      .join(splitAssign(s, d).select(col("doc_id"), col("split")), "doc_id"))
    val train = grams.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc"), col("gram"))
    val test = grams.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc"), col("gram"))
    val hot = test.groupBy("gram")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxTestDf)
      .select("gram")
    train.join(test.join(hot, Seq("gram"), "left_anti"), "gram")
      .groupBy(col("train_doc").as("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared_grams"),
        countDistinct(col("test_doc")).as("n_test_docs"))
      .orderBy("doc_id")
  }

  /** d34 — DSIR-style importance weights (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * score every document by how target-like its hashed-n-gram feature
    * distribution is. Features are word bigrams hashed into `nBuckets`
    * buckets (md5-based so the oracle reproduces the bucketing exactly);
    * the weight is the log-likelihood ratio Σ_g ln(p̂_target(b(g)) /
    * p̂_raw(b(g))) over the document's bigram OCCURRENCES, with add-1
    * smoothing on both bucket distributions. Target = the `targetLang`
    * documents, raw = the whole corpus; positive weight ⇒ resample-in.
    *
    * Scale: two bucket histograms (≤ nBuckets rows each — reduced
    * data, broadcast back), one corpus-sized bigram stream consumed
    * twice (persisted via [[persistCorpus]]), and a final groupBy
    * doc_id. The per-occurrence ln is canonicalized to DECIMAL(30,6)
    * pre-sum (the [[bigramLm]] pattern) so the cross-engine sum is
    * order-independent. */

  def dsirWeights(s: SparkSession, d: String, targetLang: String = "en",
      nBuckets: Int = 64): DataFrame =
    dsirRaw(s, d, targetLang, nBuckets).orderBy("doc_id")

  /** [[dsirWeights]] without the presentation sort — reusable inside
    * [[importanceSample]] where a buried ORDER BY is dead weight. */

  private[operators] def dsirRaw(s: SparkSession, d: String, targetLang: String,
      nBuckets: Int): DataFrame = {
    val bi = persistCorpus(gramOccurrences(s, d, 2, extra = Seq("lang"))
      .select(col("doc_id"), col("lang"),
        pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10)
          .cast("long"), lit(nBuckets.toLong)).as("b")))
    val tgt = bi.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val raw = bi.groupBy("b").agg(count(lit(1)).as("cr"))
    // totals fold the ≤64-row histograms, NOT a third pass over the
    // corpus-sized bigram stream (rt = Σcr, tt = Σct by construction)
    val totals = raw.agg(sum(col("cr")).as("rt"))
      .crossJoin(tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("tt")))
    val ratios = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        dec(log(((col("ct") + 1).cast("double") / (col("tt") + nBuckets)) /
          ((col("cr") + 1).cast("double") / (col("rt") + nBuckets)))).as("logr"))
    bi.join(broadcast(ratios), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("logr")).cast("double").as("weight"))
  }

  /** d67 — SOURCE-CONDITIONAL BOILERPLATE REMOVAL (the CCNet/RefinedWeb
    * cleaning rule d57's global first-occurrence dedup cannot express):
    * a paragraph occurring in ≥ τ share of a SOURCE's documents is that
    * source's boilerplate (nav bar, footer, cookie banner) and EVERY
    * occurrence is dropped — including the first, where d57 keeps it:
    * boilerplate is noise everywhere, not content somewhere. The
    * frequency is conditional on the source — that is what separates a
    * site's footer (frequent within the site) from a common sentence of
    * the language (frequent overall, rare per site). A `minDf = 2`
    * floor keeps a singleton source from boilerplating ITSELF (with one
    * document, every paragraph trivially has 100% share).
    *
    * Scale: the d42/d51/d57 partial-agg discipline — the per-(source,
    * paragraph) doc-frequency is ONE map-side-combined aggregate (a
    * footer repeated 10⁶× reduces before the shuffle), the per-source
    * doc count is a tiny broadcast dimension, and removal is an
    * anti-join back on (source, norm) — never a content-partitioned
    * window. The boilerplate relation is structurally bounded:
    * ≤ paras-per-doc / τ rows PER SOURCE regardless of source size
    * (Σ df ≤ total occurrences), so AQE broadcasts it when the source
    * count allows and a shuffle anti-join handles the web-scale case.
    * Neither small side is FORCED broadcast — both scale with the
    * source count (~10⁷ sites on a web corpus), the one dimension AQE
    * should size at runtime, not the plan.
    * Reassembly is per-document state only (sorted collect_list of the
    * doc's own kept paragraphs); output carries length + md5, not the
    * text. Same single-line-fixture stand-in as d57: a deterministic
    * boundary every 8 tokens ([[DedupOps.Paragraphize]]); a corpus with
    * real newlines skips that projection and nothing else changes.
    *
    * The synthetic corpus has NO natural cross-document paragraph
    * repetition (max within-source share 12%, far under any sane τ), so
    * the registry instance PLANTS its boilerplate deterministically —
    * the f12 corrupt-records discipline: a per-source footer on every
    * document (100% share — must go), a doc_id%3 banner (~⅓ share —
    * goes wherever a source's draw reaches 30%), and a doc_id%20 promo
    * (~5% — must SURVIVE). The oracle recomputes the same planting, so
    * removal AND retention both hash; a real corpus skips the planting
    * projection. */
  def boilerplateRemoval(s: SparkSession, d: String): DataFrame =
    boilerplateRemovalOver(plantBoilerplate(Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))))

  /** The registry fixture's deterministic boilerplate planting (see
    * [[boilerplateRemoval]]) — package-visible so the differential spec
    * replays the exact planted frame through a reference removal. */
  private[graft] def plantBoilerplate(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(DedupOps.Paragraphize(col("text")),
        lit("\nfooter nav "), col("source"),
        when(col("doc_id") % 3 === 0,
          concat(lit("\ncookie banner "), col("source"))).otherwise(lit("")),
        when(col("doc_id") % 20 === 0, lit("\nrare promo")).otherwise(lit("")))
        .as("text"))

  private[graft] def boilerplateRemovalOver(docs: DataFrame,
      tauPct: Int = 30, minDf: Int = 2): DataFrame = {
    val paras = persistCorpus(docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), "\n")))
      .select(col("doc_id"), col("source"), col("pos").cast("long").as("pos"),
        trim(call_function(graft.functions.NfcNormalize.Name, col("col")))
          .as("norm"))
      .filter(length(col("norm")) > 0))
    val nDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val bp = paras.groupBy("source", "norm")
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(nDocs, "source")
      .filter(col("df") >= minDf &&
        col("df") * 100 >= lit(tauPct) * col("n_docs"))
      .select("source", "norm")
    val kept = paras.join(bp, Seq("source", "norm"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("norm")))),
          x => x.getField("norm")), "\n").as("kept_text"))
    val totals = paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
    docs.select("doc_id", "source")
      .join(totals, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        length(coalesce(col("kept_text"), lit(""))).cast("long").as("kept_len"),
        md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** d65 — BPE MERGE-RULE TRAINING (Sennrich byte-pair encoding, the
    * tokenizer-induction step of a pretraining pipeline): learn the
    * first `iters` merge rules from the corpus word-frequency table —
    * each round counts adjacent symbol pairs weighted by word count
    * (overlaps included: "aaa"×2 contributes (a,a)×4, the classic
    * formulation) and merges the argmax pair everywhere.
    *
    * Merge semantics, exactly: one guarded literal `replace` consumes
    * BOTH guard spaces, so two occurrences of the pair that ABUT
    * (share the middle guard — the word contains `l r l r`) would
    * merge only the first where reference BPE (Sennrich's
    * lookaround-regex sub) merges both. A SECOND identical replace
    * pass fixes that exactly for l ≠ r: pass one takes every other
    * occurrence of an abutting chain, leaving the survivors isolated,
    * and pass two takes the rest — provably Sennrich-equal (spec-
    * planted on an abutting fixture). The one case literal replace
    * cannot reproduce is a SELF-pair (l == r) over a symbol run ≥ 4
    * (`a a a a`: reference left-aligns `[aa, aa]`; replace strands
    * `[aa, a, a]`, and re-passing mis-ALIGNS longer runs) — that case
    * RAISES with a diagnostic rather than silently diverging (the e45
    * MaxRounds refusal discipline; runs ≤ 3 are exact and common,
    * run-4+ of a winning pair means pathological repetition the d21
    * quality gate should have dropped upstream).
    *
    * The scale shape. BPE never touches the raw corpus after ONE
    * token-count aggregation: training runs over the AGGREGATED
    * (word, count) relation — corpus-size-independent (vocabulary
    * grows ~Heaps-law sublinearly; at 100 TB it is millions of rows,
    * not trillions) — so each round is a scan-parallel map over the
    * vocabulary plus one pair-count aggregate. The merge PASS is the
    * DOUBLE guarded literal `replace` of [[mergePass]]: a word's symbol
    * sequence is represented as its symbols joined by ' ' with guard
    * spaces (words are space-SPLIT, so ' ' can never occur inside a
    * symbol); both engines' `replace` scans left to right and resumes
    * after each replacement, and the second pass makes abutting-
    * occurrence merging exactly Sennrich's (the semantics note below);
    * the DuckDB oracle mirrors the whole round with the same two
    * replaces. Argmax pair =
    * min-of-struct (−count, l, r) — the d59 discipline: deterministic
    * ties, no corpus window. The chosen pair is ONE row pulled to the
    * driver per round (planner-sized, like the f17 manifest): its
    * symbols become string LITERALS in the next round's plan, so
    * lineage never compounds across rounds (no growing plan, no
    * checkpoint needed). Counts are integer sums — exact cross-engine;
    * fixed `iters` so the oracle unrolls the same rounds as CTEs. */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    // production read path: the merge table trains ONCE per corpus
    // snapshot through the d85 store and every consumer reads the
    // published parquet
    TokenizerStore.read(s, d, "bpe_merges")
      .select(col("step"), col("lhs"), col("rhs"), col("pair_count"))
      .orderBy("step")

  private[graft] def bpeMergesOver(s: SparkSession, docs: DataFrame,
      iters: Int): DataFrame =
    bpeMergesWf(s, docs
      .select(explode(toks(normText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt")), iters)

  /** [[bpeMergesOver]] over an already-derived (word, cnt) frame — the
    * round-18 fix for the d83/store callers that HOLD the shared
    * [[wordFreq]] (re-deriving it here cost one extra corpus scan per
    * profile run; the expressions are identical, so the split is
    * byte-≡ — TokenizerStoreSpec pins store-fed d83 ≡ its `*Over` twin). */
  private[operators] def bpeMergesWf(s: SparkSession, words: DataFrame,
      iters: Int): DataFrame = {
    import s.implicits._
    // " a b c " — chars joined by the guard separator
    var reps = persistCorpus(words.select(col("cnt"),
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("rep")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    for (step <- 1 to iters) {
      val syms = split(trim(col("rep")), " ")
      // adjacent pairs = zip(syms[0..n-2], syms[1..n-1]); slice length
      // 0 on single-symbol words explodes to nothing, no guard needed
      val pairs = reps
        .select(col("cnt"), explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pair_count"))
      // argmax with deterministic ties; one planner-sized row collected
      val bRow = pairs.agg(min(struct((-col("pair_count")).as("nc"),
        col("l"), col("r"))).as("b")).head()
      if (!bRow.isNullAt(0)) {
        val b = bRow.getStruct(0)
        val (l, r, cnt) = (b.getString(1), b.getString(2), -b.getLong(0))
        merges += ((step.toLong, l, r, cnt))
        if (l == r) // self-pair run >= 4: literal replace cannot left-align
          require(reps.filter(col("rep").contains(s" $l $l $l $l ")).isEmpty,
            s"bpeMerges: winning self-pair ($l,$l) occurs in a symbol run" +
              " of length >= 4; literal-replace merging would diverge from" +
              " reference BPE's left-aligned pairing — refusing")
        val next = persistCorpus(reps.select(col("cnt"),
          mergePass(col("rep"), l, r).as("rep")))
        next.count() // materialize before dropping the previous round
        reps.unpersist()
        reps = next
      }
    }
    reps.unpersist()
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_count").orderBy("step")
  }

  /** The d71 operating points: logit cutoffs in integer PERCENT
    * (−25% … +25% by 5) — integer grid so the sweep key is exact and
    * both engines derive the same τ = pct/100 double. Shared with the
    * oracle generator. */
  val SweepPcts: Seq[Int] = (-25 to 25 by 5)

  /** d71 — THRESHOLD SWEEP (the precision/recall curve behind "where
    * do we set the filter?"): the d44 model score evaluated against
    * the d21 repetition rule as reference label at 11 logit cutoffs —
    * per τ the confusion counts and precision/recall/F1. d54 answers
    * "do the two filters agree at their shipped thresholds"; d71 maps
    * the whole operating curve so the threshold is CHOSEN, not
    * inherited.
    *
    * Shape: one corpus pass per signal (the d44 and d21 aggregates),
    * one doc-keyed join, a broadcast 11-row τ grid, one (τ) aggregate
    * — map-side combined, counts integer-exact, the three ratios
    * single divisions round4'd with zero-denominator guards (an empty
    * positive class yields NULL, never an unhashable NaN). At 100 TB
    * the per-doc frame is the only corpus-sized relation and it
    * shuffles once, by the 11-key τ after map-side combine. */
  def thresholdSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val model = qualityClassifier(s, d).select(col("doc_id"), col("logit"))
    val rule = repetition(s, d).select(col("doc_id"), col("keep").as("label"))
    val taus = SweepPcts.map(_.toLong).toDF("tau_pct")
    val pred = col("logit") >= col("tau_pct") / lit(100.0)
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val agg = model.join(rule, "doc_id")
      .crossJoin(broadcast(taus))
      .groupBy("tau_pct")
      .agg(cnt(pred && col("label")).as("tp"),
        cnt(pred && !col("label")).as("fp"),
        cnt(!pred && col("label")).as("fn"),
        cnt(!pred && !col("label")).as("tn"))
    agg.select(col("tau_pct"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round4(col("tp").cast("double") / (col("tp") + col("fp"))))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round4(col("tp").cast("double") / (col("tp") + col("fn"))))
          .as("recall"),
        when(col("tp") * 2 + col("fp") + col("fn") > 0,
          round4(col("tp").cast("double") * 2 /
            (col("tp") * 2 + col("fp") + col("fn")))).as("f1"))
      .orderBy("tau_pct")
  }

  /** One BPE merge applied everywhere — the DOUBLE guarded replace (see
    * the [[bpeMerges]] semantics note): pass two catches the
    * every-other survivors of abutting l≠r chains, making the literal
    * replace exactly Sennrich's lookaround sub. Shared by training and
    * [[bpeEncode]] so the two can never drift. */
  private def mergePass(rep: Column, l: String, r: String): Column = {
    def one(c: Column) = replace(c, lit(s" $l $r "), lit(s" $l$r "))
    one(one(rep))
  }

  /** d68 — BPE ENCODE (tokenizer APPLICATION, closing the d65 loop):
    * learn the merge table with [[bpeMerges]], then apply it to the
    * corpus and report per-document token counts — the "how many
    * tokens is my corpus under this tokenizer" question every
    * pretraining budget starts from.
    *
    * Scale shape: the merge table is `iters` driver rows
    * (planner-sized, the f17-manifest kind of collect) whose symbols
    * become string literals in the plan. The string work runs on the
    * DISTINCT VOCABULARY (Heaps-law sublinear — millions of rows at
    * 100 TB), one guarded literal `replace` per rule exactly as
    * training did, so encode-time merging is BY CONSTRUCTION the same
    * greedy left-to-right pass training counted. Document grain comes
    * from ONE (word) equi-join of the corpus token stream against the
    * vocab-sized symbol counts (AQE broadcasts the vocab side when it
    * fits) plus a map-side-combined per-doc sum — the corpus never
    * carries symbol strings, only its words. `n_chars` = pre-merge
    * symbol count, so `n_tokens / n_chars` is the compression the
    * learned rules bought; integer counts, one double division,
    * nothing to drift. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeEncodeApplied(s, Tables.documents(s, d),
      Some(TokenizerStore.read(s, d, "word_freq").select("word")),
      storeMerges(s, d))

  /** The published d85 merge table as driver rows, in step order. */
  private def storeMerges(s: SparkSession, d: String): Array[org.apache.spark.sql.Row] =
    TokenizerStore.read(s, d, "bpe_merges").select("step", "lhs", "rhs", "pair_count")
      .collect().sortBy(_.getLong(0))

  private[graft] def bpeEncodeOver(s: SparkSession, docs: DataFrame,
      iters: Int): DataFrame =
    bpeEncodeApplied(s, docs, None,
      bpeMergesOver(s, docs, iters).collect().sortBy(_.getLong(0)))

  /** The d68 ENCODE kernel over an explicit merge table (`iters`
    * driver rows — store-read or just trained) and an optional
    * pre-derived distinct-word source (the store's word_freq; None =
    * re-derive from the token stream — identical set, spec-pinned). */
  private def bpeEncodeApplied(s: SparkSession, docs: DataFrame,
      vocabWords: Option[DataFrame],
      merges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(toks(normText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val vocab0 = vocabWords.getOrElse(words.select("word").distinct())
      .withColumn("rep",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
    val applied = merges.foldLeft(vocab0) { (v, m) =>
      val (l, r) = (m.getString(1), m.getString(2))
      v.withColumn("rep", mergePass(col("rep"), l, r))
    }
    val wordTok = applied.select(col("word"),
      size(split(trim(col("rep")), " ")).cast("long").as("n_sym"),
      length(col("word")).cast("long").as("n_chr"))
    val perDoc = words.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_sym")).as("n_tokens"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_chars").isNotNull && col("n_chars") > 0,
          round4(col("n_tokens").cast("double") / col("n_chars")))
          .as("compression"))
      .orderBy("doc_id")
  }

  // ———— d76: unigram-LM tokenizer training (hard-EM / Viterbi) ————

  /** Max piece length the DP considers (SentencePiece defaults to much
    * longer; 3 keeps the oracle's candidate fan-in at 3 per position). */
  private[graft] val UniMaxPiece = 3
  /** Seed-vocabulary cap for multi-char pieces (top-V by weighted
    * substring count, ties by piece — deterministic). */
  private[graft] val UniSeedMulti = 60
  /** DP unroll bound: the DuckDB oracle materializes exactly this many
    * per-position steps, so a longer word REFUSES loudly (the d65/e45
    * discipline) instead of silently truncating its segmentation. */
  private[graft] val UniMaxWord = 12

  /** d76 — UNIGRAM-LM TOKENIZER TRAINING (the SentencePiece family —
    * Kudo 2018 — the production complement to d65's BPE): seed a
    * vocabulary from frequent substrings, then alternate (E) segmenting
    * the corpus into the maximum-likelihood piece sequence per word and
    * (M) re-estimating piece probabilities from segmentation usage,
    * pruning pieces the segmentations abandoned. This implementation is
    * the hard-EM / VITERBI form: the E-step takes each word's single
    * best segmentation rather than full forward–backward expectations —
    * the standard decode-time rule, and the training variant this
    * engine can ORACLE: lattice expectations are unboundedly long float
    * sums no cross-engine hash can pin, whereas the Viterbi argmin over
    * DECIMAL(30,6)-canonicalized ln scores (the d34 ln contract, with
    * d18's add-one smoothing) is exact in both engines.
    *
    * The plan shape, per EM round: ONE corpus scan ever happens (the
    * word-frequency aggregate — the d65 grain; everything after runs at
    * vocabulary grain, Heaps-law sublinear in corpus size). The Viterbi
    * DP is a single codegen'd `aggregate` fold over each word's
    * positions with a 3-slot sliding window — dp state is a PACKED
    * string (12-char zero-padded DECIMAL cost ‖ piece path), so the
    * argmin over split candidates is one `least(...)` (cost compares
    * numerically at fixed width, then the path lexicographically —
    * deterministic tie-break, both engines byte-wise). Piece costs
    * reach the fold as one broadcast map (KB-sized at any corpus
    * scale). The DuckDB oracle unrolls the same DP as [[UniMaxWord]]
    * per-position CTE steps over the same packed strings — byte-equal
    * candidates, byte-equal `least`.
    *
    * Rounds: seed counts (weighted substring occurrences, all chars +
    * top-[[UniSeedMulti]] multi-char) → segment → usage counts → PRUNE
    * multi-char pieces with zero usage (chars always survive — the
    * SentencePiece character-coverage invariant) → re-score → segment →
    * final (piece, n_used, share). Fixed two rounds so the oracle
    * unrolls them as CTEs (the d59/d65 discipline). */
  def unigramLm(s: SparkSession, d: String): DataFrame =
    // d85 store read path: the FROZEN final piece costs (the trained
    // model) come from the published parquet; one vocabulary-grain
    // Viterbi E-step re-derives usage
    unigramUsageOut(TokenizerStore.read(s, d, "word_freq"), storeCosts(s, d))

  /** The published d85 final unigram piece costs (piece, c). */
  private def storeCosts(s: SparkSession, d: String): DataFrame =
    TokenizerStore.read(s, d, "uni_costs").select(col("piece"), col("c"))

  private[graft] def unigramLmOver(s: SparkSession, docs: DataFrame): DataFrame = {
    val (wf, c1) = unigramTrain(docs)
    unigramUsageOut(wf, c1)
  }

  /** The d76 output tail over the final costs: one Viterbi
    * segmentation → usage counts → round4 shares. */
  private def unigramUsageOut(wf: DataFrame, c1: DataFrame): DataFrame = {
    val u2 = pieceUsage(viterbiPaths(wf, c1))
    val tot2 = u2.agg(sum(col("ucnt")).as("t2"))
    u2.crossJoin(broadcast(tot2))
      .select(col("piece"), col("ucnt").as("n_used"),
        round4(col("ucnt").cast("double") / col("t2").cast("double"))
          .as("share"))
      .orderBy("piece")
  }

  /** The d76 training loop through its FINAL piece costs: word-freq
    * table (cached — vocabulary-sized, read by the seed pass and both
    * E-steps), seed vocabulary, round-1 segment/usage, prune-unused,
    * re-score. Shared by d76 (one more segmentation → usage output)
    * and d77 (one more segmentation → per-doc token counts). */
  /** The shared word-frequency table + the DP-unroll refusal rule —
    * the ONE corpus scan under d76/d77/d81 (everything downstream runs
    * at vocabulary grain). */
  private[operators] def wordFreq(docs: DataFrame, who: String): DataFrame = {
    val wf = persistCorpus(docs
      .select(explode(toks(normText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt")))
    // refuse loudly past the oracle's unroll (never truncate a word)
    val maxLen = Option(wf.agg(max(length(col("word")))).head().get(0))
      .map(_.asInstanceOf[Int]).getOrElse(0)
    require(maxLen <= UniMaxWord,
      s"$who: a corpus word of length $maxLen exceeds the " +
        s"$UniMaxWord-position unroll the oracle mirrors exactly; " +
        "raise UniMaxWord (and the oracle's step count) for such corpora")
    wf
  }

  private def unigramTrain(docs: DataFrame): (DataFrame, DataFrame) =
    unigramTrainWf(wordFreq(docs, "unigramLm"))

  /** [[unigramTrain]] over an already-derived word-frequency table —
    * the d83 profile shares ONE wf across all three families instead
    * of re-deriving it per trainer. */
  private[operators] def unigramTrainWf(wf: DataFrame): (DataFrame, DataFrame) = {
    val (lMax, v) = (UniMaxPiece, UniSeedMulti)
    // seed counts: weighted occurrences of every substring of length
    // 1..lMax (the d75 position-explode at word grain, corpus-free)
    val subs = (1 to lMax).map { k =>
      wf.filter(length(col("word")) >= k)
        .select(col("cnt"), col("word"),
          explode(sequence(lit(1), length(col("word")) - (k - 1))).as("p"))
        .select(col("word").substr(col("p"), lit(k)).as("piece"), col("cnt"))
    }.reduce(_ unionByName _)
      .groupBy("piece").agg(sum(col("cnt")).cast("long").as("ucnt"))
    val chars = subs.filter(length(col("piece")) === 1)
    val vocab0 = chars.unionByName(
      subs.filter(length(col("piece")) > 1)
        .orderBy(col("ucnt").desc, col("piece")).limit(v))
    val u1 = pieceUsage(viterbiPaths(wf, pieceCosts(vocab0)))
    // prune: multi-char pieces the segmentation abandoned drop; chars
    // always survive (full character coverage keeps every word
    // segmentable), carrying their usage (0 if always inside pieces)
    val v1 = chars.select("piece").join(u1, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("ucnt"), lit(0L)).as("ucnt"))
      .unionByName(u1.filter(length(col("piece")) > 1))
    (wf, pieceCosts(v1))
  }

  /** Piece costs from usage counts: cost = dec(ln(total + |V|)) −
    * dec(ln(cnt + 1)) ≥ 0 — the negated add-one-smoothed log
    * probability, each ln canonicalized to DECIMAL(30,6) BEFORE any
    * arithmetic (the d34 cross-engine ln contract). */
  private def pieceCosts(vc: DataFrame): DataFrame = {
    val t = vc.agg(sum(col("ucnt")).as("tot"), count(lit(1)).as("nv"))
    vc.crossJoin(broadcast(t)).select(col("piece"),
      (dec(log(col("tot") + col("nv"))) - dec(log(col("ucnt") + lit(1))))
        .cast(org.apache.spark.sql.types.DecimalType(30, 6)).as("c"))
  }

  /** Weighted piece usage (piece, ucnt) from per-word segmentations. */
  private def pieceUsage(paths: DataFrame): DataFrame =
    paths.select(col("cnt"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).cast("long").as("ucnt"))

  /** One E-step: Viterbi-segment every distinct word against `costs`,
    * returning (word, cnt, pieces array). The DP state per position is
    * a PACKED string — `lpad(cost, 12, '0') ‖ path` with the path
    * carrying its leading guard space — so the 3-candidate argmin is
    * one `least` (both engines skip null candidates and compare
    * byte-wise: cost numerically at fixed width, then the path
    * lexicographically). The fold keeps a 3-slot sliding window
    * (s0 = dp[j−1], s1 = dp[j−2], s2 = dp[j−3]); chars are always in
    * the vocabulary, so dp[j] is never null on a feasible prefix. */
  private def viterbiPaths(wf: DataFrame, costs: DataFrame): DataFrame = {
    val vm = costs.agg(
      map_from_arrays(collect_list(col("piece")), collect_list(col("c")))
        .as("vm"))
    val word = col("word")
    def unpack(dp: Column): Column =
      dp.substr(lit(1), lit(12))
        .cast(org.apache.spark.sql.types.DecimalType(30, 6))
    def path(dp: Column): Column = dp.substr(lit(13), lit(1000))
    def cand(prev: Column, j: Column, k: Int): Column = {
      val piece = word.substr((j - lit(k - 1)).cast("int"), lit(k))
      val pc = element_at(col("vm"), piece)
      when(j >= k && prev.isNotNull && pc.isNotNull,
        concat(
          lpad(((unpack(prev) + pc)
              .cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .cast("string"), 12, "0"),
          path(prev), lit(" "), piece))
    }
    val init = struct(
      lit("00000.000000").as("s0"),
      lit(null).cast("string").as("s1"),
      lit(null).cast("string").as("s2"))
    val dp = aggregate(sequence(lit(1), length(word)), init,
      (acc, j) => struct(
        least(cand(acc.getField("s0"), j, 1),
          cand(acc.getField("s1"), j, 2),
          cand(acc.getField("s2"), j, 3)).as("s0"),
        acc.getField("s0").as("s1"),
        acc.getField("s1").as("s2")),
      acc => acc.getField("s0"))
    wf.crossJoin(broadcast(vm))
      .select(col("word"), col("cnt"),
        split(trim(path(dp)), " ").as("pieces"))
  }

  /** d77 — UNIGRAM-LM ENCODE / corpus token counting (the d68
    * complement, completing the unigram family as d65/d68 complete
    * BPE): train the d76 vocabulary, then segment the corpus under the
    * FINAL piece costs — the same shared Viterbi fold training used, so
    * train/encode can never drift — and report per-document
    * n_words/n_chars/n_tokens + round4 compression. String work runs on
    * the DISTINCT VOCABULARY (Heaps-law sublinear); doc grain comes
    * from one (word) equi-join of the corpus token stream against the
    * vocabulary-sized per-word token counts + a map-side-combined
    * per-doc sum — the corpus never carries piece strings (the d68
    * plan shape verbatim). */
  def unigramEncode(s: SparkSession, d: String): DataFrame =
    unigramEncodeApplied(s, Tables.documents(s, d),
      TokenizerStore.read(s, d, "word_freq"), storeCosts(s, d))

  private[graft] def unigramEncodeOver(s: SparkSession, docs: DataFrame): DataFrame = {
    val (wf, c1) = unigramTrain(docs)
    unigramEncodeApplied(s, docs, wf, c1)
  }

  /** The d77 ENCODE kernel over explicit (wf, final costs). */
  private def unigramEncodeApplied(s: SparkSession, docs: DataFrame,
      wf: DataFrame, c1: DataFrame): DataFrame = {
    val wordTok = viterbiPaths(wf, c1).select(col("word"),
      size(col("pieces")).cast("long").as("n_sym"),
      length(col("word")).cast("long").as("n_chr"))
    val words = docs
      .select(col("doc_id"), explode(toks(normText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val perDoc = words.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_sym")).as("n_tokens"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_chars").isNotNull && col("n_chars") > 0,
          round4(col("n_tokens").cast("double") / col("n_chars")))
          .as("compression"))
      .orderBy("doc_id")
  }

  /** d81 — WORDPIECE ENCODE (BERT's tokenizer family, completing the
    * trio beside BPE d65/d68 and unigram-LM d76/d77): greedy
    * LONGEST-MATCH segmentation under a trained vocabulary with the
    * `##` continuation convention — a word-INITIAL piece is stored
    * bare, a word-INTERNAL piece is stored `##`-prefixed, and the
    * encoder consumes the longest vocabulary piece at each position
    * (no DP, no costs — the decode rule BERT ships). Greedy is NOT
    * Viterbi: where d76 minimizes total canonicalized cost, WordPiece
    * commits to the longest prefix and can land on a LONGER
    * segmentation (TokenizerProps plants the classic case and pins
    * the disagreement).
    *
    * Vocabulary: the d76 seed machinery applied positionally — every
    * corpus substring of length 1..[[UniMaxPiece]] counts weighted by
    * word frequency UNDER ITS POSITIONAL FORM (bare at position 1,
    * `##`-prefixed elsewhere); all single-char pieces survive in both
    * forms (positional character coverage: every corpus word stays
    * segmentable, because any char at any position generated its own
    * positional form), plus the top-[[UniSeedMulti]] multi-char
    * pieces by (weighted count desc, piece) — deterministic, no RNG.
    *
    * Plan shape: the d68/d77 discipline verbatim — ONE corpus scan
    * (the shared [[wordFreq]]), the greedy fold runs on the DISTINCT
    * VOCABULARY of words (Heaps-law sublinear) as a codegen'd
    * `aggregate` over positions with a (next-position, path) state
    * and the vocabulary broadcast as one membership map, then doc
    * grain from one (word) equi-join of the token stream. The DuckDB
    * oracle unrolls the same greedy steps ([[UniMaxWord]] CTEs) over
    * the same positional pieces — refuse-loudly past the unroll. */
  def wordpieceEncode(s: SparkSession, d: String): DataFrame =
    wordpieceEncodeApplied(s, Tables.documents(s, d),
      TokenizerStore.read(s, d, "word_freq"), TokenizerStore.read(s, d, "wp_vocab"))

  private[graft] def wordpieceEncodeOver(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val wf = wordFreq(docs, "wordpieceEncode")
    requireNoHash(wf, "wordpieceEncode")
    wordpieceEncodeApplied(s, docs, wf, wordpieceVocab(wf))
  }

  /** The d81 ENCODE kernel over an explicit (wf, positional vocab) —
    * the '#'-refusal precondition is enforced by the trainer (store
    * publish or the self-contained path above), never skipped. */
  private def wordpieceEncodeApplied(s: SparkSession, docs: DataFrame,
      wf: DataFrame, wpv: DataFrame): DataFrame = {
    val wordTok = greedyPaths(wf, wpv).select(col("word"),
      size(col("pieces")).cast("long").as("n_sym"),
      length(col("word")).cast("long").as("n_chr"))
    val words = docs
      .select(col("doc_id"), explode(toks(normText(col("text")))).as("word"))
      .filter(length(col("word")) > 0)
    val perDoc = words.join(wordTok, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chr")).as("n_chars"),
        sum(col("n_sym")).as("n_tokens"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_chars").isNotNull && col("n_chars") > 0,
          round4(col("n_tokens").cast("double") / col("n_chars")))
          .as("compression"))
      .orderBy("doc_id")
  }

  /** WordPiece's `##` continuation marker makes a corpus word that
    * itself contains '#' structurally ambiguous: a word-initial
    * literal "##x" and a word-internal 'x' derive the SAME positional
    * form "##x" (two vocabulary rows, one map key — `map_from_arrays`
    * and DuckDB `map()` both throw on the duplicate), and no tag
    * convention can tell them apart after the fact. Real WordPiece
    * deployments sidestep this at pre-tokenization; this engine
    * REFUSES loudly (the UniMaxWord discipline) instead of letting
    * the hazard surface as an opaque duplicate-key error. */
  private[operators] def requireNoHash(wf: DataFrame, who: String): Unit = {
    val offender = wf.filter(col("word").contains("#"))
      .select("word").limit(1).collect()
    require(offender.isEmpty,
      s"$who: corpus word '${offender.headOption.map(_.getString(0))
        .getOrElse("")}' contains '#', which collides with the " +
        "WordPiece '##' continuation marker (positional forms become " +
        "ambiguous and vocabulary map keys duplicate); strip '#' in " +
        "pre-tokenization for such corpora")
  }

  /** The positional (`##`) seed vocabulary: (piece) rows — all
    * single-char positional forms + the top-[[UniSeedMulti]]
    * multi-char forms by weighted count (ties → piece). */
  private[graft] def wordpieceVocab(wf: DataFrame): DataFrame = {
    val lMax = UniMaxPiece
    val subs = (1 to lMax).map { k =>
      wf.filter(length(col("word")) >= k)
        .select(col("cnt"),
          explode(sequence(lit(1), length(col("word")) - (k - 1))).as("p"),
          col("word"))
        .select(
          when(col("p") === 1, col("word").substr(col("p"), lit(k)))
            .otherwise(concat(lit("##"),
              col("word").substr(col("p"), lit(k)))).as("piece"),
          lit(k).as("stem_len"), col("cnt"))
    }.reduce(_ unionByName _)
      .groupBy("piece", "stem_len")
      .agg(sum(col("cnt")).cast("long").as("ucnt"))
    subs.filter(col("stem_len") === 1).select("piece")
      .unionByName(subs.filter(col("stem_len") > 1)
        .orderBy(col("ucnt").desc, col("piece")).limit(UniSeedMulti)
        .select("piece"))
  }

  /** One greedy longest-match pass: segment every distinct word
    * against the positional `vocab`, returning (word, cnt, pieces).
    * The fold state is (next-unconsumed-position, path); at a position
    * still inside the last consumed piece the state passes through,
    * otherwise the LONGEST positional piece present in the broadcast
    * membership map is taken (single chars are always present, so the
    * fold never stalls). Package-visible so TokenizerProps can plant
    * the greedy-vs-Viterbi disagreement case. */
  private[graft] def greedyPaths(wf: DataFrame, vocab: DataFrame): DataFrame = {
    val vm = vocab.agg(map_from_arrays(collect_list(col("piece")),
      collect_list(lit(1))).as("vm"))
    val word = col("word")
    // each candidate carries the CONSUMED length k alongside the
    // positional piece: the fold advances by the matched k directly
    // (the oracle's `adv` rule), never by inferring the stem from the
    // '##' prefix — prefix inference mis-advances on a piece that
    // starts with a literal '#' (see [[requireNoHash]], which refuses
    // such corpora outright for the vocabulary-key ambiguity)
    def hit(j: Column, k: Int): Column = {
      val raw = word.substr(j.cast("int"), lit(k))
      val tagged = when(j === 1, raw).otherwise(concat(lit("##"), raw))
      when(length(word) >= j + lit(k - 1) &&
        element_at(col("vm"), tagged).isNotNull,
        struct(tagged.as("piece"), lit(k).as("k")))
    }
    val init = struct(lit(1).as("nxt"), lit("").as("path"))
    val path = aggregate(sequence(lit(1), length(word)), init,
      (acc, j) => {
        val chosen = coalesce((UniMaxPiece to 1 by -1).map(hit(j, _)): _*)
        when(j < acc.getField("nxt"), acc).otherwise(struct(
          (j + chosen.getField("k")).cast("int").as("nxt"),
          concat(acc.getField("path"), lit(" "),
            chosen.getField("piece")).as("path")))
      },
      acc => acc.getField("path"))
    wf.crossJoin(broadcast(vm))
      .select(col("word"), col("cnt"), split(trim(path), " ").as("pieces"))
  }

  /** d83 — TOKENIZER-FAMILY COMPARISON profile: the table a curation
    * run reads BEFORE picking a tokenizer — one row per trained family
    * (BPE d65/d68, unigram-LM d76/d77, WordPiece d81) with the
    * corpus-level numbers the choice actually turns on:
    *
    *  - `fertility`  = tokens per word occurrence (the pretraining-
    *    budget multiplier — lower is cheaper),
    *  - `compression` = tokens per character (the d68 metric at corpus
    *    grain),
    *  - `single_share` = share of word OCCURRENCES encoded as ONE
    *    token (whole-word coverage — the "does the vocabulary know the
    *    corpus's words" signal; every family here is OOV-free by
    *    character coverage, so whole-word rate is the discriminating
    *    coverage number),
    *  - `n_pieces_used` = distinct pieces the segmentations actually
    *    used (effective vocabulary).
    *
    * All three encoders run their EXISTING kernels over the ONE shared
    * [[wordFreq]] grain (train + segment at distinct-vocabulary grain,
    * Heaps-law sublinear; the corpus is scanned once for wf plus once
    * inside BPE training's own word aggregate); the profile itself is
    * three vocabulary-sized aggregates + one 3-row union — integer
    * counts, each ratio ONE IEEE division round4'd (the d38 rule). A
    * producer-shaped row: it pays unigram's EM and BPE's merge rounds
    * by construction, like every training twin. */
  def tokenizerProfile(s: SparkSession, d: String): DataFrame =
    // d85 store read path: all three FROZEN family models come from
    // the published parquet, so the profile pays three vocabulary-
    // grain segmentations + aggregates — an output-sized reader, not
    // a three-family retrain (the round-17 bench hotspot)
    tokenizerProfileApplied(TokenizerStore.read(s, d, "word_freq"),
      storeMerges(s, d), storeCosts(s, d), TokenizerStore.read(s, d, "wp_vocab"))

  private[graft] def tokenizerProfileOver(s: SparkSession,
      docs: DataFrame): DataFrame = {
    val wf = wordFreq(docs, "tokenizerProfile")
    requireNoHash(wf, "tokenizerProfile")
    tokenizerProfileApplied(wf,
      bpeMergesWf(s, wf, iters = 3).collect().sortBy(_.getLong(0)),
      unigramTrainWf(wf)._2, wordpieceVocab(wf))
  }

  /** The d83 profile kernel over explicit frozen family models (the
    * shared wf, the BPE merge rows, unigram final costs, the
    * positional WordPiece vocabulary) — three vocabulary-grain
    * segmentations, three aggregates, one 3-row union. */
  private def tokenizerProfileApplied(wf: DataFrame,
      merges: Array[org.apache.spark.sql.Row], c1: DataFrame,
      wpv: DataFrame): DataFrame = {
    // BPE: the d65 merge table applied to the shared vocabulary (the
    // d68 encode shape, segmentation kept as the piece array)
    val rep0 = wf.withColumn("rep",
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))
    val bpe = merges.foldLeft(rep0) { (v, m) =>
        v.withColumn("rep", mergePass(col("rep"), m.getString(1), m.getString(2)))
      }
      .select(col("word"), col("cnt"), split(trim(col("rep")), " ").as("pieces"))
    // unigram-LM: one more Viterbi segmentation under the final costs
    // (the d77 path)
    val uni = viterbiPaths(wf, c1).select(col("word"), col("cnt"), col("pieces"))
    // WordPiece: the d81 greedy walk under the positional vocabulary
    val wp = greedyPaths(wf, wpv)
      .select(col("word"), col("cnt"), col("pieces"))
    Seq(("bpe", bpe), ("unigram", uni), ("wordpiece", wp))
      .map { case (fam, seg) => familyProfile(fam, seg) }
      .reduce(_ unionByName _)
      .orderBy("family")
  }

  /** One family's corpus-level profile row from its (word, cnt,
    * pieces) segmentation — vocabulary-sized aggregates only. */
  private def familyProfile(fam: String, seg: DataFrame): DataFrame = {
    val stats = seg.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("n_words"),
      coalesce(sum(col("cnt") * length(col("word"))), lit(0L)).as("n_chars"),
      coalesce(sum(col("cnt") * size(col("pieces"))), lit(0L)).as("n_tokens"),
      coalesce(sum(when(size(col("pieces")) === 1, col("cnt"))
        .otherwise(0L)), lit(0L)).as("n_single"))
    val pieces = seg.select(explode(col("pieces")).as("piece"))
      .agg(count_distinct(col("piece")).as("n_pieces_used"))
    stats.crossJoin(broadcast(pieces)).select(
      lit(fam).as("family"),
      col("n_words"), col("n_chars"), col("n_tokens"), col("n_pieces_used"),
      when(col("n_words") > 0,
        round4(col("n_tokens").cast("double") / col("n_words"))).as("fertility"),
      when(col("n_chars") > 0,
        round4(col("n_tokens").cast("double") / col("n_chars"))).as("compression"),
      when(col("n_words") > 0,
        round4(col("n_single").cast("double") / col("n_words"))).as("single_share"))
  }

}
