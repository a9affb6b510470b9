package graft

import org.apache.spark.sql.functions._

/** d85 — the tokenizer-model store: publisher manifests, the store-fed
  * ≡ self-contained `*Over` byte-≡ differential for every consumer, the
  * per-sf fixture preconditions the oracle's invariants ride on, and
  * the forced-rebuild version-keying fix (round-17 ADVICE: derived
  * clones must key on the store PUBLISH, not the mutable corpus
  * path). */
class TokenizerStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Each consumer's self-contained `*Over` twin: trains its own
    * models from the corpus, never touching the store. */
  private val offStore: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = {
    import operators.QualityOps._
    def docs(s: org.apache.spark.sql.SparkSession, d: String) = Tables.documents(s, d)
    Map(
      "d65_bpe_merges" -> ((s, d) => bpeMergesOver(s, docs(s, d), iters = 3)),
      "d68_bpe_encode" -> ((s, d) => bpeEncodeOver(s, docs(s, d), iters = 3)),
      "d76_unigram_lm" -> ((s, d) => unigramLmOver(s, docs(s, d))),
      "d77_unigram_encode" -> ((s, d) => unigramEncodeOver(s, docs(s, d))),
      "d81_wordpiece_encode" -> ((s, d) => wordpieceEncodeOver(s, docs(s, d))),
      "d83_tokenizer_profile" -> ((s, d) => tokenizerProfileOver(s, docs(s, d))))
  }

  test("d85 publisher manifests green; store-fed consumers ≡ self-contained rebuilds") {
    val man = operators.TokenizerStore.publish(spark, Sf)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(man.size === 16, "4 tables x 4 checks")
    assert(man.forall(_._4), s"audit failures: ${man.filterNot(_._4)}")
    val pub = man.filter(_._2 == "published_rows").map(r => r._1 -> r._3).toMap
    assert(pub.keySet === Set("word_freq", "bpe_merges", "uni_costs", "wp_vocab"))
    assert(pub("bpe_merges") === 3L, "3 merge rounds, one row each")
    assert(pub("word_freq") > 0L && pub("uni_costs") > 0L && pub("wp_vocab") > 0L)
    // every consumer: store-fed ≡ re-derived, byte-identical
    offStore.toSeq.sortBy(_._1).foreach { case (k, solo) =>
      val fed = SparkEntry.queries(k)(spark, Sf).collect().map(_.toString).toSeq
      assert(fed === solo(spark, Sf).collect().map(_.toString).toSeq,
        s"$k store-fed drifted from self-contained")
    }
  }

  test("fixture precondition per sf: every BPE round finds a pair (merges = 3)") {
    // the d85 oracle's bpe_merges invariant is 3-iff-non-empty; a
    // fixture change that starves a round must fail HERE, not as a
    // driver hash mismatch (the LlmOpsSpec 1024/10 discipline)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/documents.parquet").exists)
      .foreach { dd =>
        val m = offStore("d65_bpe_merges")(spark, dd).count()
        assert(m === 3L, s"$dd: expected 3 merge rows, got $m")
      }
  }

  test("forced store rebuild mints a new version and derived clones follow (d79)") {
    // Regenerate a corpus AT THE SAME PATH, force the stores to
    // rebuild, and observe that the d79 clone serves the NEW cells —
    // the round-17 clonedCells staleness fix. Corpus 1 = the sf0.001
    // embeddings; corpus 2 = only vec_id < 15 at the same path, so any
    // stale-clone candidate (vec_id >= 15) in the search output is a
    // loud failure.
    val p = java.nio.file.Files.createTempDirectory("graft-regen").toString
    val emb = spark.read.parquet(s"$Sf/embeddings.parquet")
    emb.write.mode("overwrite").parquet(s"$p/embeddings.parquet")
    val v0 = operators.VectorIndexStore.version(p)
    val man1 = operators.VectorIndexStore.publish(spark, p)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(man1.forall(_._4))
    assert(operators.VectorIndexStore.version(p) === v0 + 1)
    val first = operators.EmbeddingOps.annDelete(spark, p).collect()
    assert(first.exists(_.getLong(1) >= 15L),
      "fixture too small to make staleness observable")
    // regenerate at the SAME path, then rebuild
    emb.filter(col("vec_id") < 15).write.mode("overwrite")
      .parquet(s"$p/embeddings.parquet")
    val man2 = operators.VectorIndexStore.rebuild(spark, p)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(man2.forall(_._4))
    assert(operators.VectorIndexStore.version(p) === v0 + 2)
    val second = operators.EmbeddingOps.annDelete(spark, p).collect()
    assert(second.nonEmpty && second.forall(_.getLong(1) < 15L),
      "d79 served a clone of the superseded store's cells")
    // tokenizer, pair and label stores: same version discipline — a
    // plain re-run serves the recorded manifest, a rebuild re-derives
    val docsP = java.nio.file.Files.createTempDirectory("graft-regen2").toString
    spark.read.parquet(s"$Sf/documents.parquet").limit(50)
      .write.mode("overwrite").parquet(s"$docsP/documents.parquet")
    Seq((operators.TokenizerStore, docsP), (operators.PairStore, docsP),
        (operators.LabelStore, p)).foreach { case (store, dir) =>
      val t0 = store.version(dir)
      val man = store.publish(spark, dir).collect().toSeq
      assert(store.version(dir) === t0 + 1)
      assert(store.publish(spark, dir).collect().toSeq === man)
      assert(store.version(dir) === t0 + 1, s"$store re-run must not rebuild")
      store.rebuild(spark, dir).collect()
      assert(store.version(dir) === t0 + 2, s"$store forced rebuild must mint a version")
    }
  }
}
