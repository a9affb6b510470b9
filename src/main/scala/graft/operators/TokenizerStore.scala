package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** d85 — the MATERIALIZED tokenizer-model store: a [[PublishedStore]]
  * for the three tokenizer families. A production pipeline trains its
  * tokenizer ONCE per corpus snapshot — training (BPE merge rounds,
  * unigram hard-EM, the WordPiece positional seed) is the expensive
  * half; encoding is vocabulary-grain application — so d85
  * ([[publish]]) derives the ONE shared word-frequency grain and
  * publishes four relations, every one Heaps-law VOCABULARY-sized
  * (millions of rows at 100 TB, never corpus-sized):
  *
  *   - `word_freq`  (word, cnt)                   — the shared grain
  *                    every trainer and encoder runs on,
  *   - `bpe_merges` (step, lhs, rhs, pair_count)  — the d65 merge
  *                    table (`iters` rows; symbols become plan
  *                    literals at read time),
  *   - `uni_costs`  (piece, c DECIMAL(30,6))      — d76's FINAL
  *                    add-one-smoothed piece costs (the frozen model
  *                    the d77 encoder broadcasts),
  *   - `wp_vocab`   (piece)                       — d81's positional
  *                    (`##`) vocabulary.
  *
  * Consumers (d65/d68/d76/d77/d81/d83) read the published parquet;
  * TokenizerStoreSpec pins each ≡ its self-contained `*Over` twin.
  *
  * Precondition note: the shared grain enforces the STRICTEST member
  * family's refusals at publish time — [[QualityOps.wordFreq]]'s
  * UniMaxWord unroll bound and [[QualityOps.requireNoHash]]'s '#'
  * refusal — so a corpus only one family could serve fails the store
  * loudly; the `*Over` twins keep per-family behavior. */
object TokenizerStore extends PublishedStore("tokstore", Seq(
    "bpe_merges" -> Seq("step"),
    "uni_costs" -> Seq("piece"),
    "word_freq" -> Seq("word"),
    "wp_vocab" -> Seq("piece"))) {

  protected def derive(s: SparkSession, d: String): Map[String, DataFrame] = {
    val wf = QualityOps.wordFreq(graft.Tables.documents(s, d), "tokenizerStore")
    QualityOps.requireNoHash(wf, "tokenizerStore")
    Map(
      "word_freq" -> wf,
      "bpe_merges" -> QualityOps.bpeMergesWf(s, wf, iters = 3),
      "uni_costs" -> QualityOps.unigramTrainWf(wf)._2,
      "wp_vocab" -> QualityOps.wordpieceVocab(wf))
  }
}
