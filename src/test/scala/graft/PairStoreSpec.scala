package graft

import graft.operators.{LlmOps, PairGraph, PairStore}

/** The materialized-pair-relation composition (d46–d48): the store-fed
  * consumers must be indistinguishable from their recomputing twins,
  * and the publisher must be safely re-runnable.
  *
  * Every threshold-0.8 consumer (d19/d20/d30/d45/d53) reads the store,
  * so the equivalence tests feed the `*Over` twins the raw derivation
  * (`jaccardPairsRaw`, shingle chain and all) — both sides reading the
  * same parquet would make the tests vacuous. */
class PairStoreSpec extends SparkSpec {
  import spark.implicits._

  /** The true recomputing pair relation at the store's threshold. */
  private def rawPairs = PairGraph.jaccardPairsRaw(spark, Sf, PairStore.Threshold)

  test("d46 publish manifest: all audits pass, published rows = pair count") {
    val manifest = PairStore.publish(spark, Sf)
      .select("check_name", "observed", "ok")
      .as[(String, Long, Boolean)].collect().toMap2
    val expected = PairGraph.jaccardPairsRaw(spark, Sf, PairStore.Threshold).count()
    assert(manifest("rows_match_expected") === ((expected, true)))
    assert(manifest("null_keys") === ((0L, true)))
    assert(manifest("dup_keys") === ((0L, true)))
    assert(manifest("published_rows") === ((expected, true)))
  }

  test("d47 store-fed contamination ≡ recomputed d20, row for row") {
    val store = PairStore.storeContamination(spark, Sf).collect().toSeq
    val recomputed = PairGraph.contaminationOver(spark, Sf, rawPairs).collect().toSeq
    assert(store === recomputed)
  }

  test("d48 store-fed edit verify ≡ recomputed d45, row for row") {
    val store = PairStore.storeEditVerify(spark, Sf).collect().toSeq
    val recomputed = PairGraph.editVerifyOver(spark, Sf, rawPairs).collect().toSeq
    assert(store === recomputed)
  }

  test("d30b store-fed incremental dedup ≡ recomputed d30, row for row") {
    val store = PairStore.storeIncrementalDedup(spark, Sf).collect().toSeq
    val recomputed = PairGraph.incrementalDedupOver(spark, Sf, rawPairs)
      .collect().toSeq
    assert(store === recomputed)
  }

  test("d49 store-fed clusters ≡ recomputed d19, row for row") {
    val store = PairStore.storeClusters(spark, Sf).collect().toSeq
    val recomputed = PairGraph.clusterAssign(spark, Sf,
      rawPairs.select("i", "j")).collect().toSeq
    assert(store === recomputed)
  }

  test("consumers read the store; raw producers never do") {
    // the d20 plan scans the published parquet (no shingle work — the
    // plan has no Generate for the n-gram explode)...
    val fed = PairGraph.contamination(spark, Sf).queryExecution.sparkPlan.toString
    assert(!fed.contains("token_ngrams"), "store-fed d20 must not build shingles")
    // ...while d02's raw derivation always re-derives
    val raw = PairGraph.ngramJaccard(spark, Sf).queryExecution.sparkPlan.toString
    assert(raw.contains("token_ngrams"), "d02 must stay self-contained")
  }

  test("re-publish is safe: second publish leaves a complete readable store") {
    val first = PairStore.publish(spark, Sf).collect().toSeq
    // a plain re-run serves the recorded manifest; rebuild so the
    // rename-aside swap really runs
    val second = PairStore.rebuild(spark, Sf).collect().toSeq
    // deterministic corpus ⇒ identical manifest, and the swapped-in
    // table still feeds consumers correctly
    assert(second === first)
    assert(PairStore.storeEditVerify(spark, Sf).count() ===
      PairGraph.editVerifyOver(spark, Sf, rawPairs).count())
  }

  test("s17 deltaPairs ≡ full pair relation filtered to pairs touching the probe") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, Sf).select(col("doc_id"), col("text"))
    val probe = docs.filter(pmod(col("doc_id"), lit(10L)) >= 8)
      .select(col("doc_id"))
    val probeIds = probe.as[Long].collect().toSet
    val delta = PairGraph.deltaPairs(docs, probe, 0.8)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val full = PairGraph.jaccardPairsOver(LlmOps.docShinglesOver(docs), 0.8,
        PairGraph.MaxShingleDf)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(delta === full.filter(p => probeIds(p._1) || probeIds(p._2)))
    assert(delta.nonEmpty, "vacuous fixture: no pair touches the probe")
    // and a probe of EVERYTHING degenerates to the full relation
    val all = PairGraph.deltaPairs(docs, docs.select(col("doc_id")), 0.8)
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    assert(all === full)
  }

  test("s17 incremental maintenance converges to the one-shot publish at every sf " +
    "(oracle precondition)") {
    // the union-so-far's df cap can only be LOOSER than the final
    // corpus's (df grows monotonically), so incremental ⊇ batch in
    // general; the oracle needs set-equality — pin it per sf so a
    // fixture change fails here with a named cause
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
      .filter(dd => new java.io.File(s"$dd/documents.parquet").exists)
      .foreach { dd =>
        val inc = operators.Streaming.pairMaintFeed(spark, dd)
          .collect().map(_.toString).toSeq
        val batch = PairGraph.ngramJaccard(spark, dd)
          .collect().map(_.toString).toSeq
        assert(inc === batch,
          s"$dd: incremental pair store diverged from the one-shot publish " +
            "— a near-dup pair depends on a late-hot shingle (s17 oracle " +
            "precondition broken)")
      }
  }

  test("d69 contrastive triples: positive is the argmax partner, negatives clean and deterministic") {
    import spark.implicits._
    val got = PairStore.contrastivePairs(spark, Sf)
      .as[(Long, Long, Double, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got.nonEmpty, "the fixture pair store is non-empty, so anchors must exist")
    // independent ground truth: d02's self-contained re-derivation of
    // the same threshold-0.8 relation the store publishes
    val rel = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect().toSeq
    val sym = rel.flatMap { case (i, j, jac) => Seq((i, (j, jac)), (j, (i, jac))) }
      .groupBy(_._1).map { case (a, g) => a -> g.map(_._2) }
    val docIds = Tables.documents(spark, Sf)
      .select("doc_id").as[Long].collect().toSet
    got.foreach { case (anchor, positive, posJac, n1, n2, n3) =>
      val partners = sym(anchor)
      // positive = max jac, tie → smaller id
      val bestExpected = partners.minBy { case (b, jac) => (-jac, b) }
      assert((positive, posJac) === bestExpected, s"anchor $anchor positive")
      val negs = Seq(n1, n2, n3).flatten
      assert(negs.distinct === negs, s"anchor $anchor repeated negative")
      negs.foreach { ng =>
        assert(ng !== anchor, s"anchor $anchor is its own negative")
        assert(docIds(ng), s"anchor $anchor negative $ng not in corpus")
        assert(!partners.exists(_._1 == ng),
          s"anchor $anchor negative $ng is a verified near-dup (false negative)")
      }
    }
    // determinism: a second run is byte-identical
    val again = PairStore.contrastivePairs(spark, Sf)
      .as[(Long, Long, Double, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(again === got)
  }

  test("d70 LSH sweep: differential vs in-memory S-curve; more bands catch more at high jac") {
    import spark.implicits._
    val jacs = PairGraph.ngramJaccard(spark, Sf)
      .select("jac").as[Double].collect().toSeq
      .map(j => BigDecimal(j).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = PairStore.lshTuning(spark, Sf)
      .as[(String, Long, Long, Double, Long, Double, Double)].collect().toSeq
    val want = PairStore.LshConfigs.map { case (name, b, r) =>
      val ps = jacs.map { j =>
        val sr = Seq.fill(r)(j).reduce(_ * _)
        r4(1.0 - Seq.fill(b)(1.0 - sr).reduce(_ * _))
      }
      (name, b.toLong, r.toLong, r4(math.pow(1.0 / b, 1.0 / r)),
        jacs.size.toLong, r4(ps.sum / ps.size), ps.min)
    }.sortBy(_._1)
    // the in-memory mirror sums doubles sequentially where the operator
    // sums exact decimals — equal here because the per-pair p values
    // are already 4-decimal-rounded and few; compare at round4
    assert(got.map(t => t.copy(_6 = r4(t._6))) ===
      want.map(t => t.copy(_6 = r4(t._6))))
    // expected recall saturates to 1.0 at round4 for the two finest
    // bandings on a jac ≥ 0.8 relation — the WORST-pair probability is
    // the discriminative statistic, so it carries the strict ordering
    val er = got.map(t => t._1 -> t._6).toMap
    val mp = got.map(t => t._1 -> t._7).toMap
    assert(er("b32_r2") >= er("b16_r4") && er("b16_r4") >= er("b8_r8"))
    // at this corpus's jac range even min_p saturates to 1.0 for the
    // two finest bandings — the strict drop is provable only at r = 8
    assert(mp("b32_r2") >= mp("b16_r4") && mp("b16_r4") > mp("b8_r8"),
      "more, shorter bands must catch more of a high-jaccard relation")
    assert(mp("b8_r8") < 1.0 && mp("b8_r8") > 0.7,
      "the r=8 S-curve must visibly penalize the threshold-0.8 tail")
    assert(got.find(_._1 == "b16_r4").get._4 === 0.5) // (1/16)^(1/4)
  }

  test("d72: no stored pair straddles the cluster-grain split; the naive split leaks") {
    import spark.implicits._
    val split = PairStore.leakageFreeSplit(spark, Sf)
      .as[(Long, Long, String, String, Boolean)].collect().toSeq
    val bySplit = split.map(r => r._1 -> r._3).toMap
    val byNaive = split.map(r => r._1 -> r._4).toMap
    val rel = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j").as[(Long, Long)].collect().toSeq
    assert(rel.nonEmpty)
    rel.foreach { case (i, j) =>
      assert(bySplit(i) === bySplit(j),
        s"pair ($i, $j) straddles ${bySplit(i)}/${bySplit(j)} — the leak d72 exists to prevent")
    }
    // the doc-grain rule DOES leak on this corpus — the discrimination
    // that makes the operator non-vacuous
    assert(rel.exists { case (i, j) => byNaive(i) != byNaive(j) },
      "fixture has no naive-split leak; the spec can no longer discriminate")
    // singletons split exactly as d17 would on their own id
    val inPairs = rel.flatMap(p => Seq(p._1, p._2)).toSet
    split.filterNot(r => inPairs(r._1)).foreach { r =>
      assert(!r._5, s"singleton ${r._1} moved — cluster_id must equal doc_id")
    }
    assert(Set("train", "val", "test").subsetOf(split.map(_._3).toSet))
  }

  private implicit class ToMap2(val rows: Array[(String, Long, Boolean)]) {
    def toMap2: Map[String, (Long, Boolean)] =
      rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
