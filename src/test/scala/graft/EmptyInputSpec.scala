package graft

import graft.operators.{DedupOps, EmbeddingOps, LlmOps, Multimodal, PairGraph, PairStore, QualityOps, Relational, SamplingOps, Streaming}
import org.apache.spark.sql.types.StructType

/** Empty-input robustness: every operator family must return an EMPTY
  * result — not throw — when its input tables have zero rows (day-one
  * state of any real deployment, and a guard against expressions that
  * assume ≥1 row: element_at, max-over-empty, seeded centroids). */
class EmptyInputSpec extends SparkSpec {

  /** Schema-correct, zero-row copies of the driver tables. */
  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    Seq("documents", "embeddings", "events", "orders", "customer",
      "lineitem", "nation", "region", "supplier", "part").foreach { t =>
      val schema = spark.read.parquet(s"$Sf/$t.parquet").schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(schema)).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("LLM-pipeline operators yield zero rows on an empty corpus") {
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "exactDedup" -> (DedupOps.exactDedup _),
      // d65 on an empty corpus: empty vocabulary, zero merge rows
      "bpeMerges" -> (QualityOps.bpeMerges _),
      // d76: empty corpus → empty word table → empty vocab, zero pieces
      "unigramLm" -> (QualityOps.unigramLm _),
      // d77: no docs → no rows on the doc-grain left join either
      "unigramEncode" -> (QualityOps.unigramEncode _),
      // d66: both retrieval lists empty → empty fusion
      "hybridRrf" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        EmbeddingOps.hybridRrf(s, d)),
      // d66b: no postings, no query vectors → empty per-query lists
      "hybridRrfMulti" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        EmbeddingOps.hybridRrfMulti(s, d)),
      // d67: no documents → no paragraphs, no boilerplate, no rows
      "boilerplateRemoval" -> (QualityOps.boilerplateRemoval _),
      // d68: empty vocab → no merges, no docs → no rows
      "bpeEncode" -> (QualityOps.bpeEncode _),
      // d69: empty store → no anchors → no triples
      "contrastivePairs" -> (PairStore.contrastivePairs _),
      // d72: no docs → no cluster labels → no split rows
      "leakageFreeSplit" -> (PairStore.leakageFreeSplit _),
      "ngramJaccard" -> (PairGraph.ngramJaccard _),
      "minhashNearDup" -> (PairGraph.minhashNearDup _),
      "simhashPairs" -> (PairGraph.simhashPairs _),
      "fingerprint" -> (PairGraph.fingerprint _),
      "cosineTopK" -> (EmbeddingOps.cosineTopK _),
      "embedNearDup" -> (EmbeddingOps.embedNearDup _),
      "annLsh" -> (EmbeddingOps.annLsh _),
      "ivfAnn" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.ivfAnn(s, d)),
      // d73: empty cells → empty codebooks/codes → no queries, no rows
      "ivfPqAnn" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.ivfPqAnn(s, d)),
      "tfidf" -> (QualityOps.tfidf _),
      "textStats" -> (QualityOps.textStats _),
      "langProfile" -> (QualityOps.langProfile _),
      "langId" -> (QualityOps.langId _),
      "docChunks" -> (SamplingOps.docChunks _),
      "quantize" -> (EmbeddingOps.quantizeEmbeddings _),
      "prepPipeline" -> (SamplingOps.prepPipeline _),
      "hashSplit" -> (SamplingOps.hashSplit _),
      // d19's propagation loop must terminate immediately on a pair-free
      // corpus (empty edge set ⇒ converged after one no-op iteration)
      "neardupClusters" -> (PairGraph.neardupClusters _),
      "clusterKeepBest" -> (DedupOps.clusterKeepBest _),
      // d82: empty adjacency → empty CC → no vectors to label
      "knnGraphDedup" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        EmbeddingOps.knnGraphDedup(s, d)),
      // d84: empty batch AND empty existing side → no admission rows
      "knnGraphDedupDelta" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        EmbeddingOps.knnGraphDedupDelta(s, d)),
      "filterAgreement" -> (QualityOps.filterAgreement _),
      "contamination" -> (PairGraph.contamination _),
      "seqPacking" -> (SamplingOps.seqPacking _),
      "cdcChunks" -> (SamplingOps.cdcChunks _),
      "tokenBudget" -> ((s: org.apache.spark.sql.SparkSession, d: String) => SamplingOps.tokenBudget(s, d)),
      "tokenEntropy" -> (QualityOps.tokenEntropy _),
      "lengthTrim" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.lengthTrim(s, d)),
      "matryoshka" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.matryoshka(s, d)),
      "incrementalDedup" -> (PairGraph.incrementalDedup _),
      "reservoirSample" -> ((s: org.apache.spark.sql.SparkSession, d: String) => SamplingOps.reservoirSample(s, d)),
      "paragraphDedup" -> (DedupOps.paragraphDedup _),
      "fuzzyJoin" -> (DedupOps.fuzzyJoin _),
      // bm25's single-row stats aggregate yields n_docs = 0 / null Σdl
      // on an empty corpus; the cross join against zero corpus rows must
      // still produce zero rows (never a null-scored phantom row)
      "bm25" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.bm25(s, d)),
      "redact" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.redact(s, d)),
      "decontamNgrams" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.decontamNgrams(s, d)),
      "dsirWeights" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.dsirWeights(s, d)),
      "semdedup" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.semdedup(s, d)),
      "importanceSample" -> ((s: org.apache.spark.sql.SparkSession, d: String) => SamplingOps.importanceSample(s, d)),
      "semanticContamination" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.semanticContamination(s, d)),
      // rounds 7–8
      "dupWeights" -> (DedupOps.dupWeights _),
      "bloomGate" -> (DedupOps.bloomGate _),
      "containmentPairs" -> ((s: org.apache.spark.sql.SparkSession, d: String) => PairGraph.containmentPairs(s, d)),
      "partialDupClusters" -> (PairGraph.partialDupClusters _),
      "spanDedup" -> (DedupOps.spanDedup _),
      "substringDedup" -> (DedupOps.substringDedup _),
      "sourceCap" -> (DedupOps.sourceCap _),
      "qualityClassifier" -> (QualityOps.qualityClassifier _),
      "editVerify" -> ((s: org.apache.spark.sql.SparkSession, d: String) => PairGraph.editVerify(s, d)),
      // round 9: the rank kernel must survive a zero-row range
      // repartition (no boundary samples), the novelty/ensemble aggs an
      // empty token stream, e34/m05 empty events/payload tables
      "perplexityBuckets" -> ((s: org.apache.spark.sql.SparkSession, d: String) => QualityOps.perplexityBuckets(s, d)),
      "gramNovelty" -> (QualityOps.gramNovelty _),
      "qualityEnsemble" -> (QualityOps.qualityEnsemble _),
      "sessionize" -> ((s: org.apache.spark.sql.SparkSession, d: String) => Relational.sessionize(s, d)),
      "patchGrid" -> (Multimodal.patchGrid _),
      // round 11: empty master + empty batch → no variants, no matches
      "fuzzyJoin2" -> (DedupOps.fuzzyJoin2 _),
      // round 15: empty index store → no probes, no candidates, no rows
      "filteredAnn" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.filteredAnn(s, d)),
      "annDelete" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.annDelete(s, d)),
      "knnGraph" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.knnGraph(s, d)),
      // round 16: empty cells store → no blocks; empty vocab → no words
      "knnGraphCells" -> ((s: org.apache.spark.sql.SparkSession, d: String) => EmbeddingOps.knnGraphCells(s, d)),
      "wordpieceEncode" -> (QualityOps.wordpieceEncode _),
      // m11: no assets → no frames → no candidate pairs
      "clipContainment" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        Multimodal.clipContainment(s, d)),
      // d86: no vectors → empty query batch, empty store → no rows
      "batchedAnn" -> ((s: org.apache.spark.sql.SparkSession, d: String) =>
        EmbeddingOps.batchedAnn(s, d)),
      // p11: no vectors → no positions → no profile rows
      "embeddingProfile" -> (operators.Profiling.embeddingProfile _)
    ).foreach { case (name, fn) =>
      assert(fn(spark, emptyDir).count() === 0L, s"$name on empty input")
    }
    // d83 is a PROFILE report: three family rows always, zero counts
    // and NULL ratios on an empty corpus (the guarded divisions)
    val tp = operators.QualityOps.tokenizerProfile(spark, emptyDir).collect()
    assert(tp.length === 3 && tp.forall(r =>
        r.getLong(1) == 0L && r.getLong(3) == 0L && r.isNullAt(5)),
      "tokenizerProfile on empty input")
    // d85 publishes four EMPTY tables on an empty corpus: 16 manifest
    // rows, every check ok, every published_rows observed 0
    val ts = operators.TokenizerStore.publish(spark, emptyDir).collect()
    assert(ts.length === 16 && ts.forall(_.getBoolean(3)),
      "tokenizerStore manifest on empty input")
    assert(ts.filter(_.getString(1) == "published_rows")
        .forall(_.getLong(2) == 0L),
      "tokenizerStore published_rows on empty input")
    // f08 is a GLOBAL aggregate (one row always); the z-order write must
    // survive null extrema (empty min/max) and report zero matched rows
    val z = operators.Sources.zorderScan(spark, emptyDir).head()
    assert(z.getLong(0) === 0L, "zorderScan row count on empty input")
    // f07 likewise: an empty corpus writes no part files — the summed
    // totals must coalesce to (0, 0), matching the oracle's count(*)
    val b = operators.Sources.binarySource(spark, emptyDir).head()
    assert(b.getLong(0) === 0L && b.getLong(1) === 0L,
      "binarySource totals on empty input")
    // d37 is three GLOBAL aggregates: all-zero manifest, never a throw
    DedupOps.tombstonePurge(spark, emptyDir).collect().foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L && r.getLong(3) === 0L)
    }
    // f21 on an empty corpus: the race protocol still runs — three
    // zero-row versions publish with intact lineage, nothing throws
    val occ = operators.Sources.optimisticPublish(spark, emptyDir).collect()
    assert(occ.length === 3)
    occ.foreach { r => assert(r.getLong(2) === 0L && r.isNullAt(3)) }
    // d74 on an empty corpus: four zero-row tables publish with green
    // audits (16 manifest rows, every observed 0, every ok true)
    val idx = operators.VectorIndexStore.publish(spark, emptyDir).collect()
    assert(idx.length === 16)
    idx.foreach { r => assert(r.getLong(2) === 0L && r.getBoolean(3)) }
    // f22 on an empty corpus: the two-table race still commits three
    // zero-total versions per table with intact lineage
    val mc = operators.Sources.atomicCasFeed(spark, emptyDir).collect()
    assert(mc.length === 6)
    mc.foreach { r => assert(r.getLong(3) === 0L && r.getLong(4) === 0L) }
  }

  test("multimodal and streaming batch operators yield zero rows on empty input") {
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "binaryMeta" -> (Multimodal.binaryMeta _),
      "frames" -> (Multimodal.frames _),
      "frameFeatures" -> (Multimodal.frameFeatures _),
      "tumbling" -> (Streaming.tumbling _),
      "sessions" -> (Streaming.sessions _),
      "dedupFirst" -> (Streaming.dedupFirst _),
      "stateOrdinal" -> (Streaming.stateOrdinal _),
      "asofEnrichBatch" -> (Streaming.asofEnrichBatch _),
      // s22: zero events -> zero files' rows -> empty stream, empty sink
      "asofEnrichDisorderedFeed" -> (Streaming.asofEnrichDisorderedFeed _),
      "streamJoin" -> (Streaming.streamJoin _),
      "dedupThenWindow" -> (Streaming.dedupThenWindow _),
      // rounds 7–8
      "streamLeftJoin" -> (Streaming.streamLeftJoin _),
      "streamFullJoin" -> (Streaming.streamFullJoin _),
      "runningTotals" -> (Streaming.runningTotalsBatch _),
      "timerSessionsBatch" -> ((s: org.apache.spark.sql.SparkSession, d: String) => Streaming.timerSessionsBatch(s, d)),
      "trendingTopK" -> (Streaming.trendingTopKBatch _),
      // s17: both empty batches publish empty docs/pairs stores
      "pairMaintFeed" -> (Streaming.pairMaintFeed _),
      "driftMonitorFeed" -> (Streaming.driftMonitorFeed _),
      "driftMultiFeed" -> (Streaming.driftMultiFeed _),
      // s18: empty reference batch → empty centroids/labels stores
      "labelMaintFeed" -> (Streaming.labelMaintFeed _),
      // s26: empty reference → empty cells/families; deltas empty too
      "familyMaintFeed" -> (Streaming.familyMaintFeed _),
      // f24: empty snapshot branches/merges fine → zero bucket rows
      "branchMerge" -> (operators.Sources.branchMerge _),
      // f25: empty deltas never create the store → nothing to rescale
      "bucketRescale" -> (operators.Sources.bucketRescale _),
      // f23: empty publish → empty vector → zero live/deleted buckets
      "deletionVectors" -> (operators.Sources.deletionVectors _),
      // s19: empty reference batch → empty models → empty index store
      "vectorIndexMaintFeed" -> (Streaming.vectorIndexMaintFeed _),
      // s20: three empty versions → empty change feeds → empty replica
      "cdcReplicationFeed" -> (Streaming.cdcReplicationFeed _),
      "payloadStats" -> (Multimodal.payloadStats _),
      "rleStats" -> (Multimodal.rleStats _),
      // m09: no docs → no spans → no bins
      "interleavedPack" -> (Multimodal.interleavedPack _),
      "motionEnergy" -> (Multimodal.motionEnergy _),
      // m10: no frames → no energies → no shots
      "shotSegments" -> (Multimodal.shotSegments _),
      // s23: empty cells clone published, no delete keys, no query rows
      "indexDeleteFeed" -> (Streaming.indexDeleteFeed _),
      "hopWindowMeta" -> (Multimodal.hopWindowMeta _)
    ).foreach { case (name, fn) =>
      assert(fn(spark, emptyDir).count() === 0L, s"$name on empty input")
    }
  }

  test("round-7/8 profiling/relational/source operators survive empty input") {
    import graft.operators.{Profiling, Sources}
    assert(Relational.scd2Intervals(spark, emptyDir).count() === 0L)
    // e15d: empty orders → empty count frame → zero bag-set-op rows
    assert(Relational.bagSetOps(spark, emptyDir).count() === 0L)
    // e45c: empty part → no roots, no edges → empty closure (the
    // fixpoint probe must converge immediately on the empty relation)
    assert(operators.TransitiveClosure.weightedBomCost(spark, emptyDir).count() === 0L)
    assert(Relational.funnel(spark, emptyDir).count() === 0L)
    assert(Relational.twap(spark, emptyDir).count() === 0L)
    assert(Relational.retention(spark, emptyDir).count() === 0L)
    assert(Relational.intervalMerge(spark, emptyDir).count() === 0L)
    assert(Relational.cooccurrence(spark, emptyDir).count() === 0L)
    assert(Relational.ohlcBars(spark, emptyDir).count() === 0L)
    assert(Relational.rollingMedian(spark, emptyDir).count() === 0L)
    assert(Relational.conversionLatency(spark, emptyDir).count() === 0L)
    assert(Relational.usageApportion(spark, emptyDir).count() === 0L)
    assert(operators.AsofJoin.nearestEvent(spark, emptyDir).count() === 0L)
    assert(operators.TypedOps.typedCogroup(spark, emptyDir).count() === 0L)
    assert(operators.TypedOps.secondarySort(spark, emptyDir).count() === 0L)
    assert(operators.TypedOps.geomeanSql(spark, emptyDir).count() === 0L)
    // p06 is a GLOBAL aggregate: one all-zero row, never NULL sums
    val diff = operators.Profiling.tableDiff(spark, emptyDir).head()
    (0 until 7).foreach(i => assert(diff.getLong(i) === 0L, s"p06 col $i"))
    // f10 on an empty table: zero target files, all-zero facts, no throw
    assert(operators.Sources.partitionOverwrite(spark, emptyDir).count() === 0L)
    // f13 on an empty snapshot + empty feed: a valid zero-row publish
    assert(operators.Sources.mergeUpsert(spark, emptyDir).count() === 0L)
    // f14 on an empty corpus: two zero-row versions publish and both
    // AS-OF reads aggregate to zero groups
    assert(operators.Sources.timeTravel(spark, emptyDir).count() === 0L)
    // e45 with no parts: no roots, no edges, the BFS loop never enters
    assert(operators.TransitiveClosure.bomReachability(spark, emptyDir)
      .count() === 0L)
    // e45b: the empty pair relation converges in one round, zero rows
    assert(operators.TransitiveClosure.deepChainReachability(spark, emptyDir)
      .count() === 0L)
    // d59 on an empty embedding table: no seeds, empty loop, zero rows
    assert(operators.EmbeddingOps.kmeans(spark, emptyDir).count() === 0L)
    // d60: empty labels, empty pair join, zero rows
    assert(operators.EmbeddingOps.clusterSemdedup(spark, emptyDir).count() === 0L)
    // d61: a zero-row label table still WAP-publishes (4 audit rows)
    assert(operators.LabelStore.publish(spark, emptyDir).count() === 4L)
    // d62: two empty contamination relations ensemble to zero rows
    assert(operators.EmbeddingOps.contaminationEnsemble(spark, emptyDir)
      .count() === 0L)
    // d63: an empty label store draws nothing
    assert(operators.EmbeddingOps.clusterSample(spark, emptyDir).count() === 0L)
    // m08: an empty asset table has no frames, no candidates, no pairs
    assert(operators.Multimodal.assetDedup(spark, emptyDir).count() === 0L)
    // d64: empty labels × empty docs profile to zero cells
    assert(operators.EmbeddingOps.clusterProfile(spark, emptyDir).count() === 0L)
    // f15 between two empty versions: an empty change feed, not a crash
    assert(operators.Sources.changeFeed(spark, emptyDir).count() === 0L)
    // f16 on an empty corpus: three zero-row versions still make a
    // three-row manifest (the job audits versions, not rows)
    val vr = operators.Sources.versionRetention(spark, emptyDir).collect()
    assert(vr.length === 3 && vr.forall(_.getLong(2) === 0L))
    // s16 on an empty corpus: three zero-row versions, per-version
    // manifest rows still emitted (version arithmetic, not row counts)
    val vf = Streaming.versionedFeed(spark, emptyDir).collect()
    assert(vf.length === 3 && vf.forall(_.getLong(1) === 0L))
    // f18 on an empty events table: no partitions to write or prune,
    // zero grouped rows
    assert(operators.Sources.dynamicPruning(spark, emptyDir).count() === 0L)
    // d70 on an empty store: the 3 config rows still report, with zero
    // pairs and NULL recall (config arithmetic, not pair counts)
    val lt = PairStore.lshTuning(spark, emptyDir).collect()
    assert(lt.length === 3 && lt.forall(r => r.getLong(4) === 0L && r.isNullAt(5)))
    // f19 on an empty corpus: a valid day-one snapshot — two empty
    // tables publish atomically, all 9 manifest rows ok with 0 counts
    val ap = operators.Sources.atomicPublish(spark, emptyDir).collect()
    assert(ap.length === 9 && ap.forall(r => r.getBoolean(2) && r.getLong(1) === 0L))
    // f20 on empty tables: empty join, zero grouped rows
    assert(operators.Sources.runtimeBloomJoin(spark, emptyDir).count() === 0L)
    // d71 on an empty corpus: no docs → empty per-doc join → zero
    // sweep rows (there is nothing to grade at any cutoff)
    assert(QualityOps.thresholdSweep(spark, emptyDir).count() === 0L)
    // f17 on an empty table: zero-file manifest, nothing written or
    // pruned, one (0, null, null, 0, 0) aggregate row
    val sp = operators.Sources.statsPrunedScan(spark, emptyDir).head()
    assert(sp.getLong(0) === 0L && sp.isNullAt(1) && sp.isNullAt(2) &&
      sp.getLong(3) === 0L && sp.getLong(4) === 0L)
    // f12 on an empty feed: one all-zero-counts row, nothing throws
    val cr = operators.Sources.corruptRecords(spark, emptyDir).head()
    (0 until 3).foreach(i => assert(cr.getLong(i) === 0L, s"f12 col $i"))
    val comp = operators.Sources.compaction(spark, emptyDir).head()
    (0 until 4).foreach(i => assert(comp.getLong(i) === 0L, s"f10 col $i"))
    assert(Profiling.histogram(spark, emptyDir).count() === 0L)
    assert(Profiling.equidepthBins(spark, emptyDir).count() === 0L)
    assert(Profiling.psiDrift(spark, emptyDir).count() === 0L)
    assert(Profiling.madOutliers(spark, emptyDir).count() === 0L)
    assert(Profiling.skewProfile(spark, emptyDir).count() === 0L)
    // p10: no groups, no rows
    assert(Profiling.regressionProfile(spark, emptyDir).count() === 0L)
    // p09 is a rule union over GLOBAL aggregates: 6 rule rows, all
    // vacuously holding with zero counts, never NULL arithmetic
    val fd = Profiling.fdProfile(spark, emptyDir).collect()
    assert(fd.length === 6)
    fd.foreach { r =>
      assert(r.getLong(1) === 0L && r.getLong(2) === 0L && r.getBoolean(3),
        s"p09 rule ${r.getString(0)} on empty input")
    }
    // WAP on an empty derived table is a VALID publish: zero expected,
    // zero staged, all audits pass, an empty table goes live (day-one
    // state) — the manifest itself always has its four rows
    val wap = Sources.writeAuditPublish(spark, emptyDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(wap.values.forall(_._2), s"empty-corpus WAP must publish: $wap")
    assert(wap("published_rows")._1 === 0L)
  }

  test("relational aggregates on empty facts: grouped aggs are empty, spine survives") {
    assert(Relational.pricingSummary(spark, emptyDir).count() === 0L)
    assert(Relational.percentiles(spark, emptyDir).count() === 0L)
    assert(Relational.setOps(spark, emptyDir).count() === 0L)
    // the date spine is generated, not scanned: it stays dense with
    // zero-filled counts even over an empty orders table
    val spine = Relational.dateSpine(spark, emptyDir)
    assert(spine.count() === 80L)
    assert(spine.filter(org.apache.spark.sql.functions.col("n_orders") =!= 0L).count() === 0L)
    // LOCF's spine derives from observed spans — empty events ⇒ empty fill
    assert(Relational.locfFill(spark, emptyDir).count() === 0L)
    assert(Relational.interpFill(spark, emptyDir).count() === 0L)
    assert(Relational.weightedQuantiles(spark, emptyDir).count() === 0L)
    assert(Relational.statsAgg(spark, emptyDir).count() === 0L)
    assert(Relational.stringAgg(spark, emptyDir).count() === 0L)
    assert(Relational.arrayHof(spark, emptyDir).count() === 0L)
  }

  test("d59 and PQ drop null and zero-length embeddings: no label, never a seed") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true)))
    def corpus(rows: Seq[(Long, Seq[Float])]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (id, v) => Row(id, v) }: _*), schema)
    def kmeans(e: DataFrame): Seq[String] =
      EmbeddingOps.kmeansLabels(e, 3, 2).collect().map(_.toString).sorted.toSeq
    // PQ over 2 sub-spaces of width 2, 3 codes each
    def pq(e: DataFrame): Seq[String] = EmbeddingOps.pqAssignments(
        e.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
        2, 2, 3, 2)
      .collect().map(_.toString).sorted.toSeq
    // every vector zero-length: nothing to seed from, the empty-labels frame
    val empties = corpus((0L until 6L).map(_ -> Seq.empty[Float]))
    assert(kmeans(empties).isEmpty)
    assert(pq(empties).isEmpty)
    // a null embedding at the SMALLEST id — the first seed it would be —
    // gets no label, and the valid vectors label exactly as without it
    val valid = (1L to 9L).map(i => i -> Seq.tabulate(4)(j => ((i * 7 + j * 3) % 5).toFloat))
    val withNull = corpus((0L -> null) +: valid)
    assert(kmeans(withNull) === kmeans(corpus(valid)))
    assert(kmeans(withNull).size === valid.size)
    assert(pq(withNull) === pq(corpus(valid)))
    assert(pq(withNull).size === 2 * valid.size)
  }
}
