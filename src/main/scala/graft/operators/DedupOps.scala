package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The DEDUP DECISION family (E18 + keep rules): exact/paragraph/span
  * dedup, duplicate weighting, bloom admission, quality-aware keep-best,
  * source caps, tombstone purge, and the fuzzy entity-resolution joins.
  * Split out of the original LlmOps module (round 11). Scale posture:
  * keep rules are min-struct aggregates + join-back — never a window
  * partitioned by raw content. */
object DedupOps {
  import Canon._
  import LlmOps._
  import PairGraph._
  import EmbeddingOps._
  import QualityOps._
  import SamplingOps._


  /** E18 — exact deduplication of `documents` by normalized text.
    *
    * Grouping key is the normalized text itself (grouping equality is the
    * contract; Spark shuffles on its hash anyway, which is exactly the
    * "hash the text, shuffle on the hash" plan — at 100 TB you'd shuffle
    * `xxhash64(norm)` + verify text equality within the group to keep
    * shuffle rows narrow). Deterministic keep-rule: min doc_id per group,
    * so the oracle can reproduce the survivor set exactly. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(normText(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"),
        length(col("norm")).cast("long").as("norm_len"))
      .orderBy("keep_id")

  // ———————————————————— E19: near-dup (two plans) ————————————————————


  /** d42 — cross-document SPAN dedup (the C4/RefinedWeb "remove any span
    * seen elsewhere" rule, at fixed-chunk granularity): the corpus is
    * tiled into DISJOINT [[SpanTokens]]-token chunks, and a chunk
    * occurrence survives only if it is the globally-FIRST occurrence of
    * that chunk content (lexicographic (doc_id, chunk_id) min — a
    * deterministic keep rule the oracle reproduces). Each document is
    * then reassembled from its surviving chunks in order. Document-level
    * dedup (d01/d02/d03) cannot do this: a boilerplate paragraph pasted
    * into a thousand otherwise-unique pages survives document-level
    * filters but is exactly what span dedup strips.
    *
    * Plan — NO content-keyed window anywhere (that is the d42 scale
    * trap: hot 32-token tiles — licenses, navboxes, boilerplate — repeat
    * millions of times, and a `Window.partitionBy(chunk_text)` puts every
    * occurrence of a hot tile in ONE partition that AQE cannot split).
    * Instead the global first occurrence per chunk content is a partial
    * aggregation: `groupBy(chunk_text).agg(min(struct(doc_id, chunk_id)))`
    * collapses a hot tile to one row PER MAP TASK before the shuffle, so
    * the exchange carries ~tasks×distinct rows however hot the tile is.
    * The keep flag then joins back on the OCCURRENCE COORDINATE
    * `(doc_id, chunk_id)` — unique, uniformly distributed, 16 bytes —
    * so no content key survives into any join or window at all (strictly
    * better than the hashed-content join-back: zero skew by construction,
    * not AQE-mitigated skew). Reassembly is ONE shuffle on doc_id. At
    * 100 TB the groupBy key becomes `xxhash64(chunk_text)` with a
    * within-group verify to keep shuffle rows narrow — same note as d01.
    * The reassembled text travels as md5 + length so output rows stay
    * narrow (d14 note); a real sink keeps the text. */
  val SpanTokens = 32

  def spanDedup(s: SparkSession, d: String): DataFrame =
    spanDedupOver(Tables.documents(s, d))

  /** [[spanDedup]] over any (doc_id, text) frame — split out so specs can
    * plant a hot tile (one chunk content present in EVERY document) and
    * audit the plan/result at boilerplate-frequency skew. */

  private[graft] def spanDedupOver(docs: DataFrame): DataFrame = {
    val C = SpanTokens
    val t = docs.select(col("doc_id"), toks(col("text")).as("t"))
    val chunks = t
      .select(col("doc_id"),
        explode(when(size(col("t")) > 0,
          sequence(lit(0), floor((size(col("t")) - 1) / C).cast("int")))
          .otherwise(array().cast("array<int>"))).as("cid"), col("t"))
      .select(col("doc_id"), col("cid").cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("t"), col("cid") * C + 1, lit(C))).as("chunk_text"))
    // global first occurrence per chunk content: lexicographic
    // (doc_id, chunk_id) min via struct ordering — partial-agg collapses
    // hot tiles map-side (a window could not).
    val firsts = chunks
      .groupBy(col("chunk_text"))
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.chunk_id").as("chunk_id"), lit(true).as("is_first"))
    chunks
      .join(firsts, Seq("doc_id", "chunk_id"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_first"), 1L).otherwise(0L)).as("n_kept"),
        // ordered reassembly: kept (chunk_id, text) structs sorted by id
        array_join(transform(
          array_sort(collect_list(when(col("is_first"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("cleaned"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        length(col("cleaned")).cast("long").as("cleaned_len"),
        md5(col("cleaned")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** d75 — EXACT SUBSTRING dedup at arbitrary alignment (the Lee et
    * al. "Deduplicating Training Data Makes Language Models Better"
    * operator, in its distributed k-gram-cover form): find every
    * maximal span of text whose EVERY length-[[SubstringK]] window
    * occurs more than once in the corpus, at any offset — the
    * boilerplate d42's fixed tiles straddle (a duplicated sentence
    * split across two 32-token chunks matches neither tile) and d57's
    * paragraph split misses (a duplicated clause inside an otherwise
    * unique paragraph).
    *
    * Semantics (deterministic, oracle-exact): position p of a document
    * is COVERED iff the k-gram text[p, p+k) occurs ≥ 2 times corpus-
    * wide (counting every occurrence, including self-overlaps within
    * one document — periodic runs self-cover, which is what the rule
    * wants); output = the maximal runs of covered positions as spans
    * [start, start + run + k − 2], one row each, with the d42-style
    * removal rule ("cut these spans") left to the caller. This is the
    * standard conservative approximation of the suffix-array method:
    * a covered run may CHIMERA — stitch k-grams duplicated at
    * *different* sources into a span that nowhere occurs whole — so
    * cover-based removal deletes a superset of the true duplicated
    * substrings (the safe direction for training-data hygiene; the
    * spec pins a planted chimera). Exact suffix-array spans need a
    * global suffix sort, which is the single-node luxury this
    * distributed form trades away.
    *
    * Plan and scale (the d42 discipline): the k-gram relation is
    * corpus-characters-sized — the honest cost of substring-grain
    * dedup — but nothing downstream is content-keyed where it hurts:
    * duplicate detection is `groupBy(g).count` (partial aggregation
    * collapses a hot boilerplate gram to one row per map task BEFORE
    * the shuffle), the cover test is a LEFT SEMI join whose build side
    * is one deduplicated row per duplicated gram (probe-side skew on a
    * hot gram is AQE-splittable — the build side replicates), and the
    * island grouping windows on doc_id (bounded by one document's
    * length) with run-start arithmetic, never on content. At 100 TB
    * the gram key becomes xxhash64(g) with a within-group verify (the
    * d01/d42 narrow-shuffle swap) and k-grams stage as a sorted
    * anchor table reused across runs; the fixture plan keeps exact
    * strings so the DuckDB oracle mirrors it verbatim. */
  val SubstringK = 20

  def substringDedup(s: SparkSession, d: String): DataFrame =
    substringDedupOver(Tables.documents(s, d))

  /** [[substringDedup]] over any (doc_id, text) frame — split out so
    * specs can plant shared substrings, chimeras, and self-overlapping
    * periodic runs. */
  private[graft] def substringDedupOver(docs: DataFrame): DataFrame = {
    val k = SubstringK
    val base = docs.select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= k)
    // the k-gram relation is re-read by BOTH consumers below (the
    // duplicate count and the semi-join probe) — corpus-characters-
    // sized, so it gets the persistCorpus treatment rather than being
    // exploded twice
    val pos = LlmOps.persistCorpus(base.select(col("doc_id"),
        explode(sequence(lit(1L),
          (length(col("text")) - (k - 1)).cast("long"))).as("p"),
        col("text"))
      .select(col("doc_id"), col("p"),
        col("text").substr(col("p").cast("int"), lit(k)).as("g")))
    val dupG = pos.groupBy("g").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("g")
    val cov = pos.join(dupG, Seq("g"), "left_semi").select("doc_id", "p")
    // islands: consecutive covered positions share (p − row_number);
    // the window is doc_id-keyed (bounded by one document) — the
    // content column never reaches a partition spec
    val w = Window.partitionBy("doc_id").orderBy("p")
    cov.withColumn("grp", col("p") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        (count(lit(1)) + (k - 1)).as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_len"))
      .orderBy("doc_id", "span_start")
  }

  /** d57 — C4-style PARAGRAPH-grain dedup: split each document on
    * newline, keep a paragraph occurrence iff it is the corpus-wide
    * FIRST occurrence of its trimmed content (by (doc_id, position) —
    * C4's "remove any line seen before" rule, the variable-length
    * content-boundary complement to d42's fixed 32-token tiles), and
    * reassemble each document from its kept paragraphs in order. The
    * fixture corpus is single-line, so the registry entry inserts a
    * deterministic boundary every 8 tokens ([[Paragraphize]]) — a
    * corpus with real newlines skips that projection and nothing else
    * changes.
    *
    * Scale: the keep rule is the d42/d51 partial-agg pattern — ONE
    * `groupBy(paragraph)` min-struct aggregate (map-side combining, so
    * a boilerplate paragraph repeated 10⁶× reduces before the shuffle)
    * plus a join-back, never a window partitioned by content (AQE
    * splits the join-back's hot buckets). Reassembly is per-DOCUMENT
    * state only (sorted collect_list of a doc's own kept paragraphs —
    * document-sized, like d42); output carries length + md5 of the
    * reassembled text, not the text itself. At 100 TB the groupBy key
    * becomes xxhash64(paragraph) + in-group equality verify to keep
    * shuffle rows narrow (the d01 note). */

  private[graft] def Paragraphize(c: Column): Column =
    regexp_replace(c, "((?:\\S+ ){8})", "$1\n")

  def paragraphDedup(s: SparkSession, d: String): DataFrame =
    paragraphDedupOver(Tables.documents(s, d)
      .select(col("doc_id"), Paragraphize(col("text")).as("text")))

  /** [[paragraphDedup]] over an explicit (doc_id, text-with-newlines)
    * frame — package-visible for the planted reassembly spec. */

  private[graft] def paragraphDedupOver(docs: DataFrame): DataFrame = {
    val paras = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        // NFC at paragraph grain too (the d01 identity rationale); no
        // lower/collapse here — paragraph dedup is deliberately
        // stricter than document dedup (casing differences are real
        // content at this grain)
        trim(call_function(graft.functions.NfcNormalize.Name, col("col")))
          .as("norm"))
      .filter(length(col("norm")) > 0) // blank lines separate, never match
    val first = paras.groupBy("norm")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val kept = paras.join(first, "norm")
      .filter(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
    val keptAgg = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("norm")))),
          x => x.getField("norm")), "\n").as("kept_text"))
    val totals = paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
    docs.select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        length(coalesce(col("kept_text"), lit(""))).cast("long").as("kept_len"),
        md5(coalesce(col("kept_text"), lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** d43 — per-source document cap (the "domain cap" every crawl-derived
    * corpus applies so one host cannot dominate the training mix): rank
    * documents within each source by the d08 composite quality score
    * (desc, doc_id tie-break) and keep the top [[SourceCapK]]. Output
    * carries rank and the kept flag so the drop set doubles as the
    * audit log. One shuffle keyed by source; a 100 TB corpus with
    * mega-hosts first prunes with a per-source approximate quality
    * threshold (KLL sketch) so the exact rank window only sees the
    * near-cap band — the window itself is unchanged. */

  val SourceCapK = 15

  def sourceCap(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        qualityScore(toks(col("text"))).as("quality_score"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("kept", col("rnk") <= SourceCapK)
      .orderBy("doc_id")
  }


  /** d58 — generic blocked FUZZY equi-join (entity resolution's core
    * primitive: match keys that are typo-distance, not string-equal).
    * Blocking is the SymSpell delete-neighborhood: every key emits
    * itself plus its |s| single-character deletions, and two keys
    * within Levenshtein distance 1 PROVABLY share a variant (equal →
    * identity; deletion/insertion → the shorter string is a variant of
    * both; substitution at p → both sides' delete-at-p agree), so the
    * candidate equi-join on the variant has EXACT recall — unlike the
    * d02-style shared-gram blocking, whose DF cap trades recall for
    * skew safety. Precision comes from one exact `levenshtein` pass
    * over the candidate pairs.
    *
    * Scale: fanout is |s|+1 variants per key (for distance d it is the
    * recursive delete set, C(|s|, d)-bounded — the standard SymSpell
    * tradeoff; this operator fixes d = 1, the dominant typo case). The
    * join is a plain equi-join on the variant string — never a cross
    * product — and bucket occupancy is bounded by how many keys share
    * a variant: distinct-key corpora give singleton-ish buckets, and a
    * duplicated-key corpus should dedupe to DISTINCT keys before
    * blocking and map ids back after (key-cardinality work, the d01
    * posture). The verify runs on candidate pairs only — output-sized,
    * the d45 rule.
    *
    * NULL keys match nothing (a null key nulls the position sequence,
    * so the explode emits no rows) — the same null semantics as the
    * plain equi-join this operator fuzzes; rows that must not be
    * dropped should be null-filtered (and audited) upstream. Empty keys
    * are handled: "" has only itself as a variant (the position
    * encoding guards `sequence(1, 0)`'s descending phantom). */
  /** The (id, key, v) delete-variant ROWS of a keyed frame, generated
    * RELATIONALLY (round 19, guide §2/§4): the key itself, its |s|
    * delete-1 variants, and (maxDeletes = 2) its C(|s|,2) delete-2
    * variants — one row per DELETED POSITION (PAIR), built with plain
    * substr/concat expressions under chained codegen'd Generates. The
    * old form built a per-key VARIANT ARRAY with nested `transform`
    * lambdas + array_distinct — higher-order functions evaluate
    * INTERPRETED per element (the cosine-fold trap), ~340 boxed string
    * closures per 18-char key, and it was the dominant cost of both
    * fuzzy joins (the join itself broadcasts the batch side). Variant
    * SETS are unchanged: i<j position pairs enumerate exactly the
    * distinct delete-2 results the recursive del1∘del1 set reached
    * (deleting {i,j} in either order is the same string). A key with
    * repeated letters reaches one variant from several positions (a
    * 12-letter run of one letter: 66 delete-2 rows, one string), so
    * the rows are deduplicated per (id, key, v) BEFORE the join — else
    * two such keys join 66 × 66 times per shared variant, and a
    * low-entropy corpus blows the join up quadratically. The joined/
    * verified output is identical (LlmOpsSpec's unblocked
    * differentials pin it). Null keys emit only a null-variant base row
    * the equi-join drops — the same match-nothing semantics; empty keys
    * emit just themselves (the length guards keep `sequence(1, 0)`'s
    * descending phantom out). */
  private def variantRows(df: DataFrame, idAs: String, keyAs: String,
      maxDeletes: Int): DataFrame = {
    // ONE scan, deletion positions encoded (i, j): i = 0, j = 0 → the
    // key itself; i = 0, j ≥ 1 → delete-1 at j; 1 ≤ i < j → delete-2 at
    // {i, j}. A null key nulls both sequences, so explode drops the row
    // (match-nothing, as before); an empty key walks only (0, 0).
    val renamed = df.select(col("id").as(idAs), col("key").as(keyAs))
    val k = col(keyAs)
    val n = length(k)
    val withI =
      if (maxDeletes < 2)
        renamed.select(col(idAs), col(keyAs), lit(0).as("i"))
      else renamed.select(col(idAs), col(keyAs),
        explode(sequence(lit(0), greatest(n - 1, lit(0)))).as("i"))
    withI
      .select(col(idAs), col(keyAs), col("i"),
        explode(when(col("i") === 0, sequence(lit(0), n))
          .otherwise(sequence(col("i") + 1, n))).as("j"))
      .select(col(idAs), col(keyAs),
        when(col("j") === 0, k)
          .when(col("i") === 0,
            concat(k.substr(lit(1), col("j") - 1), k.substr(col("j") + 1, n)))
          .otherwise(concat(k.substr(lit(1), col("i") - 1),
            k.substr(col("i") + 1, col("j") - col("i") - 1),
            k.substr(col("j") + 1, n))).as("v"))
      .distinct()
  }

  private[graft] def fuzzyJoinOver(left: DataFrame, right: DataFrame): DataFrame = {
    val lv = variantRows(left.select(col("id"), col("key")), "l_id", "l_key", 1)
    val rv = variantRows(right.select(col("id"), col("key")), "r_id", "r_key", 1)
    lv.join(rv, "v")
      .select("l_id", "l_key", "r_id", "r_key").distinct()
      .withColumn("lev", levenshtein(col("l_key"), col("r_key")).cast("long"))
      .filter(col("lev") <= 1)
      .orderBy("l_id", "r_id")
  }

  /** The d58 registry instance — the typical entity-resolution shape:
    * an incoming batch (custkey ≡ 3 mod 7, ~14% of rows) matched
    * against the full `customer` master, each batch name
    * deterministically perturbed (digit at position 10 + custkey % 9
    * bumped +1 mod 10 — one substitution, so every batch row has its
    * planted master partner at distance 1; incidental distance-≤1
    * cross-matches between neighboring zero-padded keys are part of
    * the contract and the oracle computes them identically). The
    * oracle is the UNBLOCKED form — a full cross join + levenshtein
    * filter — so the hash match also proves the delete-1 blocking
    * lost nothing. */

  def fuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val left = cust.select(col("c_custkey").as("id"), col("c_name").as("key"))
    val right = cust
      .filter(pmod(col("c_custkey"), lit(7L)) === 3)
      .withColumn("p", (pmod(col("c_custkey"), lit(9L)) + 10).cast("int"))
      .select(col("c_custkey").as("id"),
        expr("""concat(substr(c_name, 1, p - 1),
                 cast((cast(substr(c_name, p, 1) as int) + 1) % 10 as string),
                 substr(c_name, p + 1))""").as("key"))
    fuzzyJoinOver(left, right)
  }

  /** d58b — the distance-2 tier of [[fuzzyJoinOver]]: SymSpell blocking
    * with the RECURSIVE delete set. Every key emits itself, its |s|
    * delete-1 variants, and its C(|s|,2) delete-2 variants (= the
    * delete-1-of-each-delete-1 set, enumerated as i<j position pairs),
    * and two keys within Levenshtein distance
    * ≤ 2 PROVABLY share a variant: take an optimal alignment with
    * i insertions, e deletions, u substitutions (i+e+u ≤ 2); deleting
    * from each side every character that is inserted, deleted, or
    * substituted in that alignment leaves the SAME subsequence on both
    * sides, reached with ≤ i+u ≤ 2 deletions from one string and
    * ≤ e+u ≤ 2 from the other — so the candidate equi-join on the
    * variant string has EXACT recall at d ≤ 2 (the spec mirrors an
    * unblocked all-pairs lev ≤ 2 and asserts equality). Precision is
    * one exact `levenshtein` pass over candidates, as in d58.
    *
    * Scale: fanout is 1 + |s| + C(|s|,2) variants per key (≈ |s|²/2 —
    * 172 for the 18-char fixture names; the documented SymSpell
    * tradeoff: candidate work grows quadratically in key length and
    * the distance bound, which is why this operator FIXES d = 2 and
    * long keys should block on length-bucketed prefixes instead).
    * Bucket occupancy grows correspondingly — dense key spaces
    * (sequential zero-padded ids) put many keys two deletes apart, so
    * the verify stage is sized by the TRUE near-match density, which is
    * exactly what the operator reports. The registry instance therefore
    * AGGREGATES per batch key (match counts by distance + deterministic
    * best master) — the entity-resolution decision row — keeping output
    * row count = batch size regardless of density. */

  private[graft] def fuzzyJoin2Over(left: DataFrame, right: DataFrame): DataFrame = {
    val lv = variantRows(left.select(col("id"), col("key")), "l_id", "l_key", 2)
    val rv = variantRows(right.select(col("id"), col("key")), "r_id", "r_key", 2)
    lv.join(rv, "v")
      .select("l_id", "l_key", "r_id", "r_key").distinct()
      .withColumn("lev", levenshtein(col("l_key"), col("r_key")).cast("long"))
      .filter(col("lev") <= 2)
  }

  /** The d58b registry instance: a batch (custkey ≡ 3 mod 101) with TWO
    * planted substitutions (digits at p and p+1 each bumped +1 mod 10,
    * p = 10 + custkey mod 8) matched against the full `customer`
    * master at distance ≤ 2, aggregated per batch key: matches by
    * distance tier plus the deterministic best master (min (lev, id) —
    * encoded as one integer min so the DuckDB mirror needs no
    * tie-unspecified arg_min). Dense zero-padded ids mean real
    * incidental distance-2 neighbors exist; the unblocked oracle
    * computes the identical set, so the hash match proves the
    * recursive delete blocking lost nothing. */

  def fuzzyJoin2(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val left = cust.select(col("c_custkey").as("id"), col("c_name").as("key"))
    val right = cust
      .filter(pmod(col("c_custkey"), lit(101L)) === 3)
      .withColumn("p", (pmod(col("c_custkey"), lit(8L)) + 10).cast("int"))
      .select(col("c_custkey").as("id"),
        expr("""concat(substr(c_name, 1, p - 1),
                 cast((cast(substr(c_name, p, 1) as int) + 1) % 10 as string),
                 cast((cast(substr(c_name, p + 1, 1) as int) + 1) % 10 as string),
                 substr(c_name, p + 2))""").as("key"))
    fuzzyJoin2Over(left, right)
      .groupBy(col("r_id"), col("r_key"))
      .agg(count(lit(1)).as("n_matches"),
        sum((col("lev") === 0).cast("long")).as("n_d0"),
        sum((col("lev") === 1).cast("long")).as("n_d1"),
        sum((col("lev") === 2).cast("long")).as("n_d2"),
        min(col("lev")).as("min_lev"),
        // best master = integer (lev, id) min — deterministic where a
        // tie-unspecified arg_min is not. The 10^10 tier encoding needs
        // l_id < 10^10 or the lev tier bleeds into the id field and a
        // WRONG master comes back looking plausible; gate it per-row
        // (codegen'd, zero cost on in-range ids) so reuse on a wider id
        // space fails loudly instead
        (min(col("lev") * lit(10000000000L) +
            when(col("l_id") >= 0 && col("l_id") < 10000000000L, col("l_id"))
              .otherwise(raise_error(concat(
                lit("d58b best_master encoding requires 0 <= l_id < 1e10, got "),
                col("l_id").cast("string"))))) % 10000000000L)
          .as("best_master"))
      .orderBy("r_id")
  }


  /** d53 — cluster KEEP-BEST selection (the quality-aware keep rule):
    * per near-dup cluster (the d19 CC assignment), keep the member with
    * the HIGHEST d08 quality score (doc_id tie-break) — C4 keeps
    * first-seen, but quality-aware pipelines keep the best copy of each
    * duplicate family, because the family's members differ exactly in
    * the boilerplate/noise the score measures. This is the "keep-one-
    * per-family pass" the pair-store scaladocs (d49) reference, made a
    * first-class operator.
    *
    * Plan: the CC labeling + a quality projection joined on doc_id,
    * then the per-cluster winner via `max_by` over a (score, −doc_id)
    * struct — an AGGREGATE, not a rank window: a boilerplate family can
    * have millions of members, and the aggregate partial-combines
    * map-side where a cluster-keyed window would funnel the family
    * through one partition (the d42 lesson). One extra broadcast-able
    * join carries the winner back. Scores reuse [[qualityScore]] — one
    * definition, no drift. */
  def clusterKeepBest(s: SparkSession, d: String): DataFrame = {
    val clusters = neardupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val quality = Tables.documents(s, d)
      .select(col("doc_id"), qualityScore(toks(col("text"))).as("quality_score"))
    val joined = clusters.join(quality, "doc_id")
    val best = joined.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("keep_id"))
    joined.join(best, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
      .orderBy("doc_id")
  }


  /** d37 — tombstone purge manifest (the GDPR/right-to-be-forgotten
    * shape): given a deletion predicate over source ids, report
    * before/purged/after counts for the source table AND each derived
    * store that must purge consistently — here the fingerprint store
    * (doc-keyed derivative) and the embedding store (its own id space).
    *
    * At 100 TB deletion is not per-row mutation: each store rewrites as
    * one ANTI-JOIN compaction (`filter(!tombstoned)` when the predicate
    * is computable, a broadcast anti-join against the tombstone id set
    * when it arrives as a list — the manifest is identical). This query
    * is the audit artifact a deletion job emits; LlmOpsSpec pins that
    * the compacted stores contain no tombstoned ids and stay
    * referentially consistent with the compacted source. Scale: three
    * independent scan-parallel aggregates, no joins, no shuffles beyond
    * the three single-row aggregations. */
  def tombstonePurge(s: SparkSession, d: String, everyNth: Long = 17): DataFrame = {
    def stat(name: String, df: DataFrame, tomb: Column): DataFrame =
      df.agg(lit(name).as("store"), count(lit(1)).as("n_before"),
        coalesce(sum(tomb.cast("long")), lit(0L)).as("n_purged"),
        (count(lit(1)) - coalesce(sum(tomb.cast("long")), lit(0L))).as("n_after"))
    val docTomb = pmod(col("doc_id"), lit(everyNth)) === 0
    val vecTomb = pmod(col("vec_id"), lit(everyNth)) === 0
    // the fingerprint store has one row per document with ≥3 tokens (it
    // needs a shingle) — count THAT predicate off the documents scan
    // instead of running the full fingerprint derivation (its corpus
    // groupBy shuffle buys nothing when only row counts are needed);
    // LlmOpsSpec pins the equivalence against the real store
    val fpRows = Tables.documents(s, d)
      .filter(size(toks(col("text"))) >= 3).select("doc_id")
    stat("documents", Tables.documents(s, d), docTomb)
      .unionAll(stat("embeddings", Tables.embeddings(s, d), vecTomb))
      .unionAll(stat("fingerprints", fpRows, docTomb))
      .orderBy("store")
  }

  /** The compaction itself: the keep-side of the purge for a doc-keyed
    * store — one filter when the predicate is computable per row. */

  private[graft] def purgeDocStore(df: DataFrame, everyNth: Long): DataFrame =
    df.filter(pmod(col("doc_id"), lit(everyNth)) =!= 0)


  /** d38 — duplicate-multiplicity sampling weights ("soft dedup").
    *
    * Hard dedup (d01) keeps one copy per exact-duplicate family and
    * drops the rest; the soft variant keeps EVERY copy but assigns
    * weight 1/m (m = family size) so the family contributes one
    * document's worth of expected training mass under weighted
    * sampling — the standard alternative when dropping is too blunt
    * (duplicated ≠ worthless: boilerplate-heavy crawls often duplicate
    * exactly the high-quality pages).
    *
    * Plan: family sizes come from `groupBy(norm).count()` — NOT a
    * count window partitioned by the content key. The two are
    * semantically identical here (the count needs no ordering), but the
    * window puts every member of a hot family in ONE partition AQE
    * cannot split, while the groupBy's partial aggregation collapses a
    * hot family to one row per map task before the shuffle. The count
    * then joins back on `norm`; a skewed family skews only this join,
    * which AQE's skew-join handling CAN split (the build side is one
    * row per family). At 100 TB both the groupBy and join key become
    * `xxhash64(norm)` per the d01 scaladoc, shuffling 8-byte keys
    * instead of document bodies. `weight` is a single IEEE division on
    * engine-identical operands — bit-exact across engines, no rounding
    * needed (Canon.round4 note).
    */
  def dupWeights(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), normText(col("text")).as("norm"))
    val fam = docs.groupBy("norm").agg(count(lit(1)).as("n_copies"))
    docs.join(fam, "norm")
      .select(col("doc_id"), col("n_copies"),
        (lit(1.0) / col("n_copies")).as("weight"))
      .orderBy("doc_id")
  }

  /** d39 — bloom-gated cross-corpus membership (incremental-ingest
    * exact dedup against history WITHOUT joining history).
    *
    * The d30 admission gate joins the new batch against the ingested
    * corpus — correct, but the join touches the history side every run.
    * At 100 TB of history the standing pattern is: keep a FIXED-SIZE
    * bloom filter of history's text hashes (built once, stored,
    * OR-merged incrementally like every sketch in [[Profiling]]), and
    * gate each day's batch at SCAN TIME:
    *
    *   1. `graft_bloom_agg(h)` — Spark's own `BloomFilterAggregate`
    *      ([[graft.functions.BloomFunctions]]) builds the filter with
    *      partial/final merge; here it is built in-query from the
    *      history split (demo stands in for "loaded from yesterday");
    *   2. `graft_might_contain(scalar-subquery, h)` — a codegen'd
    *      predicate INSIDE the batch scan's whole-stage span: `false`
    *      is definitive (bloom filters have no false negatives), so
    *      non-members never reach a shuffle;
    *   3. the ~1% false positives (plus true members) are the only rows
    *      that pay the exact verify semi-join against history — at
    *      scale, survivor-volume ≈ true-dup volume, not batch volume.
    *
    * Output is EXACT (the verify join closes the bloom's false
    * positives), so the DuckDB oracle is plain `EXISTS` on the
    * normalized text. Membership is by `xxhash64(norm)` — the d01
    * 64-bit-hash identity note applies. Batch/history split mirrors
    * d30 (`doc_id mod 10 >= 8` is "today's batch").
    */

  def bloomGate(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d).createOrReplaceTempView("documents")
    s.sql(raw"""
      |WITH doc AS (
      |  SELECT doc_id,
      |    xxhash64(lower(trim(regexp_replace(nfc_normalize(text), '\\s+', ' ')))) AS h
      |  FROM documents),
      |hist AS (SELECT h FROM doc WHERE pmod(doc_id, 10) < 8),
      |batch AS (SELECT doc_id, h FROM doc WHERE pmod(doc_id, 10) >= 8),
      |cand AS (
      |  SELECT doc_id, h FROM batch
      |  WHERE graft_might_contain(
      |    (SELECT graft_bloom_agg(h, CAST(1000000 AS BIGINT)) FROM hist), h)),
      |ver AS (SELECT DISTINCT c.doc_id FROM cand c
      |        WHERE EXISTS (SELECT 1 FROM hist WHERE hist.h = c.h))
      |SELECT b.doc_id, (v.doc_id IS NOT NULL) AS dup_of_history
      |FROM batch b LEFT JOIN ver v ON b.doc_id = v.doc_id
      |ORDER BY doc_id""".stripMargin)
  }
}
