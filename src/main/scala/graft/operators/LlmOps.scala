package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared text primitives of the LLM-training-data pipeline surface
  * (SURVEY.md §2.4 E18–E21 plus the dedup / similarity-search / text-
  * analysis surface a 100 TB corpus pipeline needs). The operator
  * families live in their own modules (split in round 11, behavior
  * unchanged):
  *
  *  - [[PairGraph]] — near-dup pair relation: candidate generation,
  *    exact verify, clusters, contamination/incremental/edit decisions.
  *    Candidate generation is always a *bucketed* equi-join (shared
  *    shingle, MinHash band, sign bucket) — never all-pairs;
  *  - [[DedupOps]] — dedup decisions and keep rules (exact/paragraph/
  *    span, weights, keep-best, caps, fuzzy joins): shuffle on a text
  *    hash, parallelism scales with corpus size, never with
  *    duplicate-family count;
  *  - [[EmbeddingOps]] — similarity search and semantic dedup:
  *    brute-force top-k is scan-parallel (TakeOrderedAndProject — no
  *    driver collect); LSH/IVF show the sub-linear path;
  *  - [[QualityOps]] — text analysis/scoring: plain shuffle-based
  *    aggregation, reduced stats broadcast back;
  *  - [[SamplingOps]] — splits, samples, chunking, packing, and the
  *    end-to-end prep pipeline.
  *
  * This object keeps the ONE definition of the text primitives those
  * families share — the dedup identity ([[normText]]), the gram/shingle
  * stream ([[gramOccurrences]]/[[docShingles]]), tokenization, the
  * MinHash coefficient family, and the corpus-persist policy — so the
  * normalization and gram shapes can never drift between operators.
  */
object LlmOps {
  import Canon._


  /** Mersenne prime for the (a·x + b) mod p MinHash family. */
  private[operators] val MinHashP = 2147483647L // 2^31 − 1

  /** Deterministic (a_i, b_i) coefficients, a_i ∈ [1, 2^30) so that
    * a·x + b never overflows a signed long for x < 2^32 (Spark 4 ANSI
    * mode faults on overflow), generated by splitmix64 from a fixed
    * seed — reproducible across runs and executors, no RNG state. */

  private[operators] def LinearPerms(n: Int): (Seq[Long], Seq[Long]) = {
    def splitmix(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val as = (0 until n).map(i => ((splitmix(2L * i) & 0x3fffffffL) | 1L))
    val bs = (0 until n).map(i => java.lang.Long.remainderUnsigned(splitmix(2L * i + 1), MinHashP))
    (as, bs)
  }

  /** Persist an O(corpus)-sized intermediate that multiple stages
    * re-read, at MEMORY_AND_DISK — the one named place for the corpus
    * persist policy. Locally it is a measured ~25% win on the shingle
    * self-join (exchange reuse doesn't cover both branches). Reduced-size
    * tables (band signatures, centroids) keep plain `.cache()`.
    *
    * Lifecycle: operators return LAZY frames, so they cannot unpersist
    * after "their" action — the SESSION owns cached-relation lifetime.
    * The harness paths clear between queries (Verify and Bench both
    * call `cacheManager.clearCache()`); a long-lived serving session
    * should do the same between unrelated requests. */
  private[graft] def persistCorpus(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The dedup identity (E18): Unicode NFC → whitespace collapse →
    * trim → lowercase. NFC first ([[graft.functions.NfcNormalize]], a
    * native codegen expression): canonically-equivalent texts — "é"
    * composed vs "e"+combining-acute, an invisible provenance artifact
    * (macOS emits NFD, the web NFC) — must land in ONE duplicate
    * family. `lower` is the casefold stand-in both engines implement
    * identically (full Unicode casefold, ß→ss, has no DuckDB mirror to
    * oracle against). DuckDB form:
    * `lower(trim(regexp_replace(nfc_normalize(text), '\s+', ' ', 'g')))`
    * — same operation order, so the hash compare covers the
    * normalization itself. */

  private[operators] def normText(c: Column): Column =
    lower(trim(regexp_replace(
      call_function(graft.functions.NfcNormalize.Name, c), "\\s+", " ")))

  private[operators] def toks(c: Column): Column = split(c, " ")

  /** doc_id → distinct 3-token shingle rows ("n-gram" of n=3 words).
    * Docs with <3 tokens yield no rows (the empty gram array). */

  private[graft] def docShingles(s: SparkSession, d: String): DataFrame =
    gramStream(s, d).distinct()

  /** [[docShingles]] over an explicit (doc_id, text) table — the same
    * TokenNgrams scan expression, so a shingle set derived from a
    * docs-store scan (s17's incremental maintenance) can never diverge
    * from the corpus-dir form. */
  private[graft] def docShinglesOver(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function(graft.functions.TokenNgrams.Name,
        col("text"), lit(3))).as("shingle"))
      .distinct()

  /** The (doc_id [, extra...], gram) n-gram OCCURRENCE stream — one row
    * per window position, in document order. The ONE definition of gram
    * construction so the gram shape can never diverge among the
    * near-dup operators, the repetition rule, the bigram LM, DSIR, and
    * decontamination: scan → project([[graft.functions.TokenNgrams]])
    * → Generate, all inside one whole-stage-codegen span with ZERO
    * exchanges. Rounds 1–6 shipped this as posexplode + `lead` windows,
    * which shuffles the entire token-occurrence stream by doc_id per
    * consumer — the expression removes that corpus-sized exchange (the
    * dominant fixed cost of the gram family at 100 TB; measured at
    * sf0.1 it cut the gram-family queries ~1.3–1.7×: d02 5.6→3.4 s,
    * d19 8.0→5.6, d33 2.6→1.0, d18 1.6→0.8). Docs with <n tokens
    * yield no rows (empty array explodes to nothing), matching the old
    * lead-null-filter semantics; LlmOpsSpec pins the equivalence. */

  private[operators] def gramOccurrences(s: SparkSession, d: String, n: Int,
      extra: Seq[String] = Nil): DataFrame =
    Tables.documents(s, d)
      .select((col("doc_id") +: extra.map(col)) :+
        explode(call_function(graft.functions.TokenNgrams.Name,
          col("text"), lit(n))).as("gram"): _*)

  /** The raw (doc_id, shingle) OCCURRENCE stream — one row per 3-gram
    * position. [[docShingles]] adds the set semantics (distinct) the
    * Jaccard family needs; [[repetition]] consumes occurrences directly. */

  private[operators] def gramStream(s: SparkSession, d: String): DataFrame =
    gramOccurrences(s, d, 3).withColumnRenamed("gram", "shingle")

}
