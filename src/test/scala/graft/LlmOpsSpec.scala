package graft

import graft.operators.{DedupOps, EmbeddingOps, LabelStore, LlmOps, PairGraph, QualityOps, SamplingOps}
import org.apache.spark.sql.functions._

class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Materialize a tiny documents table with REAL duplicates (the driver
    * corpus has none) so the dedup keep-rule is actually exercised. */
  private lazy val dupDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    Seq(
      (10L, "a b c", "en", "s0", 5L),
      (3L, "a  B c ", "en", "s1", 7L),   // same after normalization
      (7L, "a b c", "en", "s2", 5L),     // exact dup
      (5L, "x y z", "en", "s0", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup groups normalized text and keeps min doc_id") {
    val out = DedupOps.exactDedup(spark, dupDir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(out === Seq((3L, 3L), (5L, 1L)))
  }

  test("banded MinHash LSH reproduces the exact Jaccard pairs") {
    val exact = PairGraph.ngramJaccard(spark, Sf).collect().toSeq
    val lsh = PairGraph.minhashNearDup(spark, Sf).collect().toSeq
    assert(exact.nonEmpty, "corpus should contain planted near-dup pairs")
    assert(lsh === exact)
  }

  test("ANN-LSH reported neighbors carry the true cosine similarity") {
    val ann = EmbeddingOps.annLsh(spark, Sf)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
    assert(ann.nonEmpty)
    // brute-force recompute each reported pair's cosine
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vecs = e.as[(Long, Seq[Double])].collect().toMap
    ann.foreach { case (q, n, sim) =>
      assert(q != n)
      val (a, b) = (vecs(q), vecs(n))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(cos - sim) < 1e-3, s"pair ($q,$n): $cos vs $sim")
    }
  }

  test("IVF-ANN reported neighbors share a cell and carry the true cosine") {
    val ivf = EmbeddingOps.ivfAnn(spark, Sf)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty && ivf.length <= 10)
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vecs = e.as[(Long, Seq[Double])].collect().toMap
    ivf.foreach { case (q, n, sim) =>
      assert(q != n)
      val (a, b) = (vecs(q), vecs(n))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      assert(math.abs(cos - sim) < 1e-3, s"pair ($q,$n): $cos vs $sim")
    }
  }

  test("cosine top-k: vec 0 is its own nearest neighbor with sim 1.0") {
    val top = EmbeddingOps.cosineTopK(spark, Sf)
      .select("vec_id", "sim").as[(Long, Double)].collect()
    assert(top.length === 20)
    assert(top.head === ((0L, 1.0)))
    assert(top.map(_._2).toSeq === top.map(_._2).sorted(Ordering[Double].reverse).toSeq)
  }

  test("simhash is deterministic and hamming pairs are within threshold") {
    val a = PairGraph.simhash(spark, Sf).collect().toSeq
    val b = PairGraph.simhash(spark, Sf).collect().toSeq
    assert(a === b)
    val pairs = PairGraph.simhashPairs(spark, Sf)
      .select("hamming").as[Long].collect()
    assert(pairs.forall(_ <= 2))
  }

  test("tf-idf scores are positive for corpus-rare terms and ranked per doc") {
    val rows = QualityOps.tfidf(spark, Sf)
      .select("doc_id", "rnk", "score").as[(Long, Long, Double)].collect()
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.size > 400)
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1L to sorted.length).toSeq)
      // scores non-increasing with rank
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sorted(Ordering[Double].reverse).toSeq)
    }
  }

  test("doc chunks tile every token: contiguous ids, stride starts, full coverage") {
    val nTokens = Tables.documents(spark, Sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    val chunks = SamplingOps.docChunks(spark, Sf)
      .select("doc_id", "chunk_id", "start_tok", "n_chunk_toks")
      .as[(Long, Long, Long, Long)].collect()
    assert(chunks.map(_._1).distinct.length === nTokens.size)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = nTokens(doc)
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq)
      sorted.foreach { case (_, cid, start, len) =>
        assert(start === cid * SamplingOps.ChunkStride)
        assert(len === math.min(SamplingOps.ChunkTokens.toLong, n - start))
      }
      // stride < size ⇒ windows overlap; last chunk must end exactly at n
      val last = sorted.last
      assert(last._3 + last._4 === n.toLong, s"doc $doc coverage")
    }
  }

  test("chunkRows on an empty token array yields zero chunks (no ANSI abort)") {
    val tokenized = Seq((1L, Seq.empty[String]), (2L, Seq("a", "b")))
      .toDF("doc_id", "t")
    val rows = SamplingOps.chunkRows(tokenized)
      .select("doc_id", "chunk_id").as[(Long, Long)].collect().toSeq
    assert(rows === Seq((2L, 0L)))
  }

  test("prep pipeline = gated subset of plain chunking (stage consistency)") {
    val all = SamplingOps.docChunks(spark, Sf)
      .select("doc_id", "chunk_id", "chunk_md5")
      .as[(Long, Long, String)].collect().toSet
    val piped = SamplingOps.prepPipeline(spark, Sf)
      .select("doc_id", "chunk_id", "chunk_md5")
      .as[(Long, Long, String)].collect().toSet
    assert(piped.nonEmpty && piped.size < all.size, "gate must drop some docs")
    assert(piped.subsetOf(all), "pipeline chunks must be identical to d14's for surviving docs")
    // surviving docs keep ALL their chunks (the gate is per-doc, not per-chunk)
    val survivors = piped.map(_._1)
    assert(all.filter(c => survivors(c._1)) === piped)
  }

  test("quantization zero-vector guard: scale 0 ⇒ all-zero q, no div-by-zero") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zerovec").toString
    Seq((0L, Array.fill(4)(0.0f), 1L), (1L, Array(1.0f, -2.0f, 0.5f, 0.0f), 1L))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = EmbeddingOps.quantizeEmbeddings(spark, dir)
      .select("vec_id", "scale4", "q_norm2", "q_max", "q_min")
      .as[(Long, Double, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows(0) === ((0L, 0.0, 0L, 0L, 0L)), "zero vector quantizes to zeros")
    // max-|v| component is −2.0 → it maps to the −127 boundary;
    // q = (64, −127, 32, 0) so q_norm2 = 64²+127²+32² = 21249
    assert(rows(1) === ((1L, rows(1)._2, 21249L, 64L, -127L)))
  }

  test("repetition rule flags boilerplate and passes diverse text") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rep").toString
    Seq(
      (0L, Seq.fill(30)("spam ham eggs").mkString(" ")), // one 3-gram pattern over and over
      (1L, (1 to 90).map(i => s"w$i").mkString(" ")),    // all-distinct words
      (2L, "a b")                                        // <3 tokens: no grams, kept
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = QualityOps.repetition(spark, dir)
      .select("doc_id", "n_grams", "n_distinct", "dup_frac", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect().sortBy(_._1)
    val (spam, fresh, tiny) = (rows(0), rows(1), rows(2))
    assert(spam._2 === 88L && spam._3 <= 3L && spam._4 > 0.9 && !spam._5,
      s"boilerplate doc must be dropped: $spam")
    assert(fresh._2 === 88L && fresh._3 === 88L && fresh._4 === 0.0 && fresh._5)
    assert(tiny._2 === 0L && tiny._4 === 0.0 && tiny._5)
  }

  test("stratified sample rebalances languages and is growth-stable") {
    val rows = SamplingOps.stratifiedSample(spark, Sf)
      .select("doc_id", "lang", "sampled")
      .as[(Long, String, Boolean)].collect()
    assert(rows.length === 500)
    val kept = rows.filter(_._3).groupBy(_._2).map { case (l, r) => l -> r.length }
    val orig = rows.groupBy(_._2).map { case (l, r) => l -> r.length }
    // en is downsampled hard (30%); others keep ~90%
    assert(kept("en") < orig("en") / 2)
    assert(kept("fr") > orig("fr") / 2)
    // rebalanced: en no longer dominates every other language 2.5×
    assert(kept("en") < 2 * kept.filterNot(_._1 == "en").values.min)
    // growth-stability: a doc's fate is a pure function of (lang, id) —
    // recomputing on a SUBSET of the corpus keeps identical decisions
    val subsetDir = java.nio.file.Files.createTempDirectory("graft-strat").toString
    Tables.documents(spark, Sf).filter(col("doc_id") < 100)
      .write.mode("overwrite").parquet(s"$subsetDir/documents.parquet")
    val sub = SamplingOps.stratifiedSample(spark, subsetDir)
      .select("doc_id", "sampled").as[(Long, Boolean)].collect().toMap
    rows.filter(_._1 < 100).foreach { case (id, _, s) => assert(sub(id) === s) }
  }

  test("vocab coverage: rates bounded, metric non-degenerate, vocab honored") {
    val rows = QualityOps.vocabCoverage(spark, Sf)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.length === 500)
    rows.foreach { case (_, n, oov, rate) =>
      assert(n > 0 && oov >= 0 && oov <= n)
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // the corpus draws from a 31-word vocabulary and K=20, so the 11
    // rarest words are OOV — a degenerate all-zero metric means K
    // swallowed the whole vocab (raising K to ≥31 would do exactly that)
    assert(rows.exists(_._3 > 0), "no OOV tokens anywhere: metric degenerate")
    assert(rows.exists(_._3 < rows.map(_._2).max), "everything OOV")
  }

  test("neardup clusters are the connected components of the pair graph") {
    val pairs = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j").as[(Long, Long)].collect()
    val assign = PairGraph.neardupClusters(spark, Sf)
      .select("doc_id", "cluster_id", "cluster_size", "is_canonical")
      .as[(Long, Long, Long, Boolean)].collect()
    val cluster = assign.map(r => r._1 -> r._2).toMap
    // reference components via driver-side union-find over the same pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val allDocs = assign.map(_._1)
    assert(allDocs.length === allDocs.distinct.length)
    allDocs.foreach { d => assert(cluster(d) === find(d), s"doc $d") }
    // sizes and canonical flags are self-consistent
    val sizes = allDocs.groupBy(find).map { case (c, ds) => c -> ds.length.toLong }
    assign.foreach { case (d, c, sz, canon) =>
      assert(sz === sizes(find(d)))
      assert(canon === (d == c))
    }
    // sanity: the planted near-dup families make some multi-doc clusters
    assert(sizes.values.exists(_ >= 2))
  }

  test("contamination rows are exactly the near-dup pairs with split flags") {
    val pairs = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    val split = SamplingOps.hashSplit(spark, Sf)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val cont = PairGraph.contamination(spark, Sf)
      .select("i", "j", "jac", "split_i", "split_j", "contaminated")
      .as[(Long, Long, Double, String, String, Boolean)].collect().sortBy(p => (p._1, p._2))
    assert(cont.map(c => (c._1, c._2, c._3)).toSeq === pairs.toSeq)
    cont.foreach { case (i, j, _, si, sj, flag) =>
      assert(si === split(i) && sj === split(j))
      assert(flag === (si != sj))
    }
  }

  test("int8 quantization: q in [-127,127], dequantization error ≤ scale/2") {
    val qs = EmbeddingOps.quantizeEmbeddings(spark, Sf)
      .select("vec_id", "scale4", "q_max", "q_min")
      .as[(Long, Double, Long, Long)].collect()
    assert(qs.length === 500)
    qs.foreach { case (_, scale4, qMax, qMin) =>
      assert(qMax <= 127 && qMin >= -127)
      assert(scale4 > 0)
    }
    // independent recompute: per-element |v_i − q_i·scale| ≤ scale/2
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
    vecs.take(50).foreach { case (_, v) =>
      val scale = v.map(math.abs).max / 127.0
      v.foreach { x =>
        val q = BigDecimal(x / scale).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        assert(math.abs(x - q * scale) <= scale / 2 + 1e-12)
        assert(q.abs <= 127)
      }
    }
  }

  test("hot-shingle DF cap: hot-only pairs dropped, values stay exact") {
    // synthetic shingle sets around a hot shingle H (df = 34 > cap 20):
    //  - docs 1,2 = {H, R}:   candidates via rare R; exact jac must be
    //    1.0 and n_common must COUNT H (verification over full sets)
    //  - docs 3,4 = {H}:      share ONLY the hot shingle → dropped (the
    //    documented recall tradeoff; d03 banding is the backstop)
    //  - docs 5,6 = {H, A, B}: rare-only jac 2/(6−2) = 0.5 < 0.8 — the
    //    upper bound (n_cr + min(h_i, h_j)) must keep them alive and
    //    verification must report the true jac 1.0
    //  - docs 100..129 = {H, u_k}: the hot crowd; no qualifying pairs
    val sh = (Seq(
      (1L, "H"), (1L, "R"), (2L, "H"), (2L, "R"),
      (3L, "H"), (4L, "H"),
      (5L, "H"), (5L, "A"), (5L, "B"), (6L, "H"), (6L, "A"), (6L, "B")) ++
      (100L to 129L).flatMap(k => Seq((k, "H"), (k, s"u$k"))))
      .toDF("doc_id", "shingle")
    val capped = PairGraph.jaccardPairsOver(sh, 0.8, 20L)
      .select("i", "j", "n_common", "jac")
      .as[(Long, Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(capped.toSeq === Seq((1L, 2L, 2L, 1.0), (5L, 6L, 3L, 1.0)))
    // uncapped finds the hot-only pair too — and agrees on shared pairs
    val uncapped = PairGraph.jaccardPairsOver(sh, 0.8, Long.MaxValue)
      .select("i", "j", "n_common", "jac")
      .as[(Long, Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    assert(uncapped.toSeq === Seq((1L, 2L, 2L, 1.0), (3L, 4L, 1L, 1.0), (5L, 6L, 3L, 1.0)))
  }

  test("DF cap on the real corpus: capped ⊆ uncapped with identical values") {
    val shingles = LlmOps.docShingles(spark, Sf)
    val uncapped = PairGraph.jaccardPairsOver(shingles, 0.8, Long.MaxValue)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    // the registered cap loses nothing at this scale (oracle-pinned
    // too); the query rounds jac to 4 decimals, so compare keys exactly
    // and values to rounding tolerance
    val registered = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect()
    assert(registered.map(p => (p._1, p._2)).toSet === uncapped.keySet)
    registered.foreach { case (i, j, jac4) =>
      assert(math.abs(jac4 - uncapped((i, j))) < 5e-5, s"pair ($i,$j)")
    }
    // an aggressive cap may LOSE pairs but must never alter a value —
    // at sf0.001 the worst pair's rarest shared shingle has df 4, so
    // cap 3 genuinely drops pairs while plenty of shingles survive it
    val aggressive = PairGraph.jaccardPairsOver(shingles, 0.8, 3L)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect()
    assert(aggressive.length < uncapped.size, "cap 3 should cost recall here")
    aggressive.foreach { case (i, j, jac) =>
      assert(uncapped((i, j)) === jac, s"pair ($i,$j) value drifted under cap")
    }
  }

  test("d40 containment: planted true subset found; Jaccard structurally blind to it") {
    // doc 1 (5 shingles) ⊂ doc 2 (50 shingles): cont = 5/5 = 1.0 but
    // jac = 5/50 = 0.1 — the quote-inside-a-page shape the fixtures
    // lack (their near-dups are same-size edits). doc 3 is unrelated.
    val sh = ((1L to 5L).map(k => (1L, s"s$k")) ++
      (1L to 50L).map(k => (2L, s"s$k")) ++
      (1L to 40L).map(k => (3L, s"t$k"))).toDF("doc_id", "shingle")
    val cont = PairGraph.containmentPairsOver(sh, 0.9, 20L)
      .select("i", "j", "n_i", "n_j", "cont")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(cont === Seq((1L, 2L, 5L, 50L, 1.0)))
    assert(PairGraph.jaccardPairsOver(sh, 0.8, 20L).isEmpty,
      "Jaccard at 0.8 must miss the subset pair (that is d40's reason to exist)")
  }

  test("d40 containment: hot-cap upper bound keeps hot-common pairs alive, values exact") {
    // doc 1 = {H, R} ⊂-ish doc 2 = {H, R, x1..x8}: the rare common is
    // only {R} (n_cr = 1) but both carry hot H, so ub = 1 + min(1,1) = 2
    // over least(2, 10) = 1.0 ≥ 0.9 — survives the prune; exact verify
    // counts H too → cont = 2/2 = 1.0. The hot crowd pushes H over the
    // cap (df = 32 > 20). Jaccard for the pair is 2/10 = 0.2.
    val sh = (Seq((1L, "H"), (1L, "R"), (2L, "H"), (2L, "R")) ++
      (1L to 8L).map(k => (2L, s"x$k")) ++
      (100L to 129L).flatMap(k => Seq((k, "H"), (k, s"u$k"))))
      .toDF("doc_id", "shingle")
    val got = PairGraph.containmentPairsOver(sh, 0.9, 20L)
      .select("i", "j", "n_i", "n_j", "cont")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L, 10L, 1.0)))
  }

  test("d40 containment on the real corpus: first-principles recompute") {
    // brute-force ground truth over full shingle sets (fine at sf0.001),
    // honoring the capped-candidate contract: a pair qualifies only via
    // at least one shared shingle with df ≤ MaxShingleDf
    val rows = LlmOps.docShingles(spark, Sf)
      .as[(Long, String)].collect()
    val sets = rows.groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    val df = rows.groupBy(_._2).map { case (g, v) => g -> v.map(_._1).distinct.size }
    val docs = sets.keys.toSeq.sorted
    val want = (for {
      (i, ii) <- docs.zipWithIndex; j <- docs.drop(ii + 1)
      common = sets(i) & sets(j)
      if common.exists(g => df(g) <= PairGraph.MaxShingleDf)
      m = math.min(sets(i).size, sets(j).size)
      cont = common.size.toDouble / m
      if cont >= 0.9
    } yield (i, j, sets(i).size.toLong, sets(j).size.toLong, cont)).toSeq
    val got = PairGraph.containmentPairs(spark, Sf)
      .select("i", "j", "n_i", "n_j", "cont")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === want.sortBy(p => (p._1, p._2)))
    assert(got.nonEmpty, "fixture near-dup families should clear cont ≥ 0.9")
  }

  test("d41 union closure: a containment edge bridges clusters Jaccard alone cannot") {
    // A = {s1..s50}, B = {s1..s5} ⊂ A, C = {s1..s5, t1}:
    //   A–B is containment-only (jac 5/50 = 0.1, cont 1.0),
    //   B–C is jaccard (5/6 ≈ 0.833 ≥ 0.8; cont 5/5 = 1.0),
    //   A–C qualifies under NEITHER (jac 5/51, cont 5/6 ≈ 0.833 < 0.9)
    // — so only the union graph puts all three in one family.
    val sh = ((1L to 50L).map(k => (1L, s"s$k")) ++
      (1L to 5L).map(k => (2L, s"s$k")) ++
      ((1L to 5L).map(k => (3L, s"s$k")) :+ (3L, "t1")))
      .toDF("doc_id", "shingle")
    val jac = PairGraph.jaccardPairsOver(sh, 0.8, 20L).select("i", "j")
    val cont = PairGraph.containmentPairsOver(sh, 0.9, 20L).select("i", "j")
    assert(jac.as[(Long, Long)].collect().toSet === Set((2L, 3L)))
    assert(cont.as[(Long, Long)].collect().toSet === Set((1L, 2L), (2L, 3L)))
    val labels = graft.operators.ConnectedComponents
      .largeSmallStar(jac.unionByName(cont).distinct())
      .as[(Long, Long)].collect().toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("d41 one-pass union edges ≡ union of the d02 and d40 query outputs") {
    val shingles = LlmOps.docShingles(spark, Sf)
    val onePass = PairGraph.partialDupEdges(shingles, 0.8, 0.9, PairGraph.MaxShingleDf)
      .as[(Long, Long)].collect().toSet
    val twoPass =
      PairGraph.jaccardPairsOver(shingles, 0.8, PairGraph.MaxShingleDf)
        .select("i", "j").as[(Long, Long)].collect().toSet ++
      PairGraph.containmentPairsOver(shingles, 0.9, PairGraph.MaxShingleDf)
        .select("i", "j").as[(Long, Long)].collect().toSet
    assert(onePass === twoPass)
    assert(onePass.nonEmpty)
  }

  test("d41 on the real corpus: d19's clusters are a refinement of d41's") {
    // adding edges can only MERGE components — every d19 cluster must
    // map into exactly one d41 cluster, and canonical ids stay minima
    val d19 = PairGraph.neardupClusters(spark, Sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    val d41 = PairGraph.partialDupClusters(spark, Sf)
      .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(d41.keySet === d19.keySet)
    d19.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(d41).toSet.size === 1,
        s"d19 cluster ${members.head._2} split across d41 clusters")
    }
    d41.groupBy(_._2).foreach { case (cid, members) =>
      assert(cid === members.keys.min, s"cluster $cid canonical not the min id")
    }
  }

  test("d42 span dedup: planted shared span dropped at its later occurrence only") {
    // 32-token tiles; span S appears tile-aligned in doc 1 (tile 0) and
    // doc 2 (tile 1) — global first occurrence is (1, 0), so doc 1 keeps
    // both tiles and doc 2 keeps only its unique tile Y.
    def toks(p: String) = (1 to 32).map(k => s"$p$k").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-span").toString
    Seq(
      (1L, s"${toks("s")} ${toks("x")}", "en", "a", 0L),
      (2L, s"${toks("y")} ${toks("s")}", "en", "b", 0L),
      (3L, toks("z"), "en", "c", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.spanDedup(spark, dir)
      .select("doc_id", "n_chunks", "n_kept", "cleaned_md5")
      .as[(Long, Long, Long, String)].collect().toSeq
    def m(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Seq(
      (1L, 2L, 2L, m(s"${toks("s")} ${toks("x")}")), // first occurrence: intact
      (2L, 2L, 1L, m(toks("y"))),                    // shared span stripped
      (3L, 1L, 1L, m(toks("z")))))
  }

  test("d75 substring dedup: planted spans at arbitrary alignment, " +
    "self-overlap, chimera superset, unique doc silent") {
    // k = 20. Every building block is aperiodic and pairwise
    // 20-gram-disjoint, so only the planted structure produces
    // coverage; boundary-straddling grams occur once and stay silent.
    val S = (0 until 15).map(i => s"S${('a' + i).toChar}").mkString // 30 chars
    val u1 = "abcdefghijklmnopqrstuvwxy"                            // 25
    val u2 = "ABCDEFGHIJKLMNOPQRSTUVWXY"                            // 25
    val u3 = "0123456789!@#$%^&*()-=_+["                            // 25
    val P = (0 to 9).map(i => s"P$i").mkString                      // 20
    val Q = (0 to 9).map(i => s"Q$i").mkString                      // 20
    val R = (0 to 9).map(i => s"R$i").mkString                      // 20
    val f5 = "zyxwvutsrqponmlkjihgfedcb"                            // 25
    val f6 = "ZYXWVUTSRQPONMLKJIHGFEDCB"                            // 25
    val docs = Seq(
      (0L, "x!y@z#w$v%u^t&s*r(q)p-o="), // unique, aperiodic → silent
      (1L, u1 + S + u2), // S at 26..55 — mid-document
      (2L, u3 + S),      // S at 26..55 — different alignment
      (3L, "Z" * 60),    // periodic: every 20-gram self-overlaps
      (4L, P + Q + R),   // chimera target: PQ from doc 5, QR from doc 6
      (5L, P + Q + f5),
      (6L, Q + R + f6))
      .toDF("doc_id", "text")
    val got = DedupOps.substringDedupOver(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      // doc 1/2: the shared 30-char S, exactly, at each doc's offset
      (1L, 26L, 55L, 30L),
      (2L, 26L, 55L, 30L),
      // doc 3: the whole periodic run covers itself
      (3L, 1L, 60L, 60L),
      // doc 4: ONE stitched span [1, 60] although PQR occurs nowhere
      // whole — the documented chimera superset (grams ≤ 21 duplicate
      // against doc 5, grams ≥ 21 against doc 6, coverage contiguous)
      (4L, 1L, 60L, 60L),
      // docs 5/6: their PQ / QR halves, not the fillers
      (5L, 1L, 40L, 40L),
      (6L, 1L, 40L, 40L)))
  }

  test("d75 hot gram: boilerplate in EVERY doc stays partial-agg + semi-join, result exact") {
    // the boilerplate-frequency skew case: one 25-char string planted in
    // all 300 documents (300 × 6 = 1800 occurrences of its hot grams).
    // The duplicate count must collapse map-side (groupBy partial agg)
    // and the per-doc span must still come out exactly — one span per
    // doc covering the planted region, never the unique filler.
    val B = (0 to 9).map(i => s"B$i").mkString + "BOILR" // 25 chars
    val docs = (0L until 300L).map { d =>
      // unique aperiodic filler per doc: no cross-doc or internal
      // 20-gram repeats outside the planted boilerplate
      val u = s"<doc-$d>" + (0 to 9).map(i => s"${('a' + (d % 17)).toChar}$d$i").mkString
      (d, u + B)
    }.toDF("doc_id", "text")
    val q = DedupOps.substringDedupOver(docs)
    val got = q.as[(Long, Long, Long, Long)].collect()
    assert(got.length === 300, s"expected one span per doc, got ${got.length}")
    got.foreach { case (d, s, e, len) =>
      assert(e - s + 1 === len && len >= 25,
        s"doc $d span [$s,$e] len $len must cover the planted boilerplate")
    }
    // every doc's span END is the doc end (B is a suffix) and the span
    // covers B plus at most k−1 boundary chars: fillers share short
    // suffixes ("…09"|B grams repeat across docs), so coverage may
    // bleed a FEW chars left of B — bounded by the gram width, never
    // into the unique filler body. That bounded bleed is the
    // documented conservative-superset semantics at a skew boundary.
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    got.foreach { case (d, _, e, len) =>
      assert(e === lens(d), s"doc $d span must end at the doc end")
      assert(len >= 25L && len <= 25L + 19L,
        s"doc $d span len $len: boilerplate plus bounded boundary bleed")
    }
  }

  test("d57 paragraph dedup: first-seen keep + in-order reassembly, all-dup doc empties") {
    // paragraphs P/Q shared across docs; first occurrence by (doc_id,
    // pos) wins. Doc 3 is ALL previously-seen paragraphs → kept empty.
    // Doc 1's duplicate of its own P (pos 2) is also dropped.
    val docs = Seq(
      (1L, "p p\nq q\np p"),   // keeps P (pos 0), Q (pos 1); drops pos-2 P
      (2L, "q q\nr r"),        // Q seen in doc 1 → keeps only R
      (3L, "p p\nq q"))        // nothing novel
      .toDF("doc_id", "text")
    val got = DedupOps.paragraphDedupOver(docs)
      .select("doc_id", "n_paras", "n_kept", "kept_len", "kept_md5")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    def m(t: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Seq(
      (1L, 3L, 2L, 7L, m("p p\nq q")),
      (2L, 2L, 1L, 3L, m("r r")),
      (3L, 2L, 0L, 0L, m(""))))
  }

  test("d57 registry paragraphizer: boundary every 8 tokens, reassembly covers all kept") {
    // on the real corpus: n_paras ≥ 1 per doc, kept ≤ total, and at
    // least one cross-doc duplicate paragraph exists (the planted
    // near-dup families share aligned 8-token runs)
    val got = DedupOps.paragraphDedup(spark, Sf)
      .select("doc_id", "n_paras", "n_kept")
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty && got.forall(r => r._2 >= 1 && r._3 <= r._2))
    assert(got.exists(r => r._3 < r._2), "some paragraph must dedup away")
  }

  test("d42 hot tile: a chunk present in EVERY doc runs without any window partition") {
    // the boilerplate-frequency skew case span dedup exists for: one
    // 32-token tile planted in all 200 documents. The old
    // Window.partitionBy(chunk_text) would funnel all 200 occurrences
    // into ONE partition; the partial-agg + occurrence-coordinate join
    // must (a) produce the same keep rule and (b) plan no Window at all.
    def toks(p: String) = (1 to 32).map(k => s"$p$k").mkString(" ")
    val hot = toks("hot")
    val docs = (0L until 200L).map(d => (d, s"$hot ${toks(s"u$d-")}"))
      .toDF("doc_id", "text")
    val q = DedupOps.spanDedupOver(docs)
    val windows = q.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, "hot-tile plan must not contain a Window node")
    val got = q.select("doc_id", "n_chunks", "n_kept")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // doc 0 is the global first occurrence of the hot tile and keeps both
    // chunks; every other doc keeps only its unique tile
    assert(got.head === ((0L, 2L, 2L)))
    assert(got.tail.forall { case (_, n, k) => n === 2L && k === 1L })
  }

  test("d43 source cap: exactly min(K, |source|) kept, ranks contiguous") {
    val rows = DedupOps.sourceCap(spark, Sf)
      .select("source", "rnk", "kept").as[(String, Long, Boolean)].collect()
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.map(_._2).sorted.toSeq === (1L to rs.length), s"ranks not contiguous in $src")
      assert(rs.count(_._3) === math.min(DedupOps.SourceCapK, rs.length), s"cap wrong in $src")
      rs.foreach { case (_, r, k) => assert(k === (r <= DedupOps.SourceCapK)) }
    }
  }

  test("d44 classifier: first-principles logit recompute, non-trivial split") {
    val got = QualityOps.qualityClassifier(spark, Sf)
      .select("doc_id", "n_tokens", "logit", "keep")
      .as[(Long, Long, Double, Boolean)].collect()
    assert(got.exists(_._4) && got.exists(!_._4), "threshold must split the corpus")
    val texts = Tables.documents(spark, Sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md, 16) % 64
    }
    got.take(100).foreach { case (d, n, logit, keep) =>
      val ws = texts(d).split(" ", -1)
      assert(n === ws.length.toLong, s"doc $d token count")
      val znum = ws.map(w => (bucket(w) * 37 + 11) % 101 - 50).sum
      assert(logit === znum.toDouble / (n * 100), s"doc $d logit")
      assert(keep === (logit >= 0.0))
    }
  }

  test("d58 fuzzy join: planted sub/ins/del typos found, distance-2 rejected") {
    val left = Seq((1L, "walnut"), (2L, "orange"), (3L, "quartz"))
      .toDF("id", "key")
    val right = Seq(
      (10L, "walnot"),  // substitution → matches 1
      (11L, "oranges"), // insertion → matches 2
      (12L, "ornge"),   // deletion... of 'a' → matches 2
      (13L, "quortz"),  // substitution → matches 3
      (14L, "quortzz")) // distance 2 from quartz → rejected
      .toDF("id", "key")
    val got = DedupOps.fuzzyJoinOver(left, right)
      .select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 10L, 1L), (2L, 11L, 1L), (2L, 12L, 1L),
      (3L, 13L, 1L)))
  }

  test("d59 k-means: planted separable groups recovered exactly, deterministic") {
    // three tight groups in 4-d, one seed id (0/1/2) planted per group
    // so Lloyd's from smallest-id seeds must separate them exactly
    def pt(base: Seq[Double], jit: Double): Seq[Float] =
      base.map(x => (x + jit).toFloat)
    val g0 = Seq(0.0, 0.0, 0.0, 0.0)
    val g1 = Seq(10.0, 10.0, 0.0, 0.0)
    val g2 = Seq(0.0, 0.0, 10.0, 10.0)
    val rows = Seq(
      (0L, pt(g0, 0.0)), (3L, pt(g0, 0.1)), (4L, pt(g0, -0.1)), (9L, pt(g0, 0.2)),
      (1L, pt(g1, 0.0)), (5L, pt(g1, 0.1)), (6L, pt(g1, -0.2)),
      (2L, pt(g2, 0.0)), (7L, pt(g2, 0.15)), (8L, pt(g2, -0.15)))
    val df = rows.toDF("vec_id", "embedding")
    val got = EmbeddingOps.kmeansOver(df, 3, 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // cluster ids after the first update are the SEED ids' clusters;
    // membership must match the planted groups
    assert(got.map(r => (r._2, r._3)).toSet === Set((4L, 0L), (3L, 1L), (3L, 2L)),
      s"sizes/min per cluster: $got")
    assert(got.map(_._2).sum === rows.size)
    got.foreach(r => assert(r._4 >= 0.0 && r._4 < 1.0,
      s"within-cluster inertia must be tiny vs the 10-unit separation: $r"))
    // deterministic: an identical rerun yields identical rows
    val again = EmbeddingOps.kmeansOver(df, 3, 3)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(again === got)
  }

  test("a malformed centroid relation is refused, naming the centroid") {
    val emb = Seq((0L, Seq(1f, 2f, 3f)), (1L, Seq(0f, 0f, 1f))).toDF("vec_id", "embedding")
    def refusal(assign: => Any): String =
      intercept[IllegalArgumentException](assign).getMessage
    // cid 7 skips dim 1: every centroid must carry dims exactly 0..w-1
    val gap = Seq((3L, 0, 1.0), (3L, 1, 1.0), (3L, 2, 1.0), (7L, 0, 0.0), (7L, 2, 0.0))
      .toDF("cid", "dim", "c")
    val g = refusal(EmbeddingOps.assignEmbeddings(emb, gap))
    assert(g.contains("cid=7") && g.contains("[0,2]"), g)
    // cid 7 is gap-free but narrower than cid 3: widths must agree
    val narrow = Seq((3L, 0, 1.0), (3L, 1, 1.0), (3L, 2, 1.0), (7L, 0, 0.0), (7L, 1, 0.0))
      .toDF("cid", "dim", "c")
    val n = refusal(EmbeddingOps.assignEmbeddings(emb, narrow))
    assert(n.contains("cid=7") && n.contains("2 wide"), n)
    // a PQ codebook gets the same check per (sub-space, cid)
    val cb = Seq((0, 3L, 0, 1.0), (0, 3L, 1, 1.0), (1, 3L, 0, 1.0), (1, 3L, 2, 1.0))
      .toDF("m", "cid", "dim", "c")
    val p = refusal(EmbeddingOps.pqAssignEmbeddings(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")), cb))
    assert(p.contains("cid=3 (sub-space 1)"), p)
  }

  test("d60 catches a hyperplane-straddling near-identical pair d35 misses") {
    // the structural gap d60 exists to close: a near-identical pair
    // SPLIT by a d35 hyperplane (opposite-sign dots with plane 0 of
    // the table-7 family → different sign buckets → never compared)
    // that Lloyd assignment keeps together (both nearest one centroid).
    // u is on the plane-0 boundary (dot(u, p0) = 0 by construction);
    // v1/v2 = u ± δ·p0 have dots ±δ‖p0‖² — certain opposite plane-0
    // bits at any δ, cosine ≈ 1 at δ = 0.001.
    val p0 = (0 until 4).map(j => EmbeddingOps.planeComp(7, 0, j))
    val u = Seq(p0(1), -p0(0), 0.0, 0.0)
    def off(s: Double) = u.zip(p0).map { case (x, y) => x + s * y }
    val far1 = Seq(50.0, 50.0, 50.0, 50.0)
    val far2 = Seq(50.5, 50.0, 50.0, 50.0)
    val e = Seq((1L, off(0.001)), (2L, far1), (3L, off(-0.001)), (4L, far2))
      .toDF("vec_id", "v")
    val d35 = EmbeddingOps.semdedupOver(e, 0.9, 4, 7, dim = 4)
      .select("vec_id", "kept_id").as[(Long, Long)].collect().toSet
    assert(!d35.contains((3L, 1L)),
      "the planted pair must straddle a sign bucket — fixture broken otherwise")
    // k = 2 seeds are vec_ids 1 and 2: the tight pair joins seed 1's
    // cluster, the far twins seed 2's; both dups caught within-cluster
    val d60 = EmbeddingOps.clusterSemdedupOver(e, 0.9, 2, 3)
      .select("vec_id", "kept_id", "cluster_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(d60 === Set((3L, 1L, 1L), (4L, 2L, 2L)))
  }

  test("d61 label store: audits pass, store-fed d60 ≡ re-derived") {
    val m = LabelStore.publish(spark, Sf)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(m.forall(_._3), s"label-store WAP audit must pass: $m")
    val n = Tables.embeddings(spark, Sf).count()
    assert(m.find(_._1 == "published_rows").get._2 === n,
      "Lloyd assignment is a partition: one label per vector")
    val fed = EmbeddingOps.clusterSemdedup(spark, Sf).collect().toSeq
    val fedRollup = EmbeddingOps.kmeans(spark, Sf).collect().toSeq
    // the self-contained twins at the store's parameters
    val emb = Tables.embeddings(spark, Sf)
    val re = EmbeddingOps.clusterSemdedupOver(
      emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      0.40, EmbeddingOps.KmeansK, EmbeddingOps.KmeansIters).collect().toSeq
    val reRollup = EmbeddingOps.kmeansOver(emb.select(col("vec_id"), col("embedding")),
      EmbeddingOps.KmeansK, EmbeddingOps.KmeansIters).collect().toSeq
    assert(fed === re, "store-fed and re-derived d60 must be byte-identical")
    assert(fedRollup === reRollup,
      "store-fed and re-derived d59 rollup must be byte-identical")
    assert(fed.nonEmpty && fedRollup.nonEmpty)
  }

  test("d62 ensemble: lexical/semantic/both classified, val↔test excluded") {
    val lex = Seq(
      (1L, 100L, 0.9, "train", "test", true), // 100: lexical, eval on j
      (2L, 200L, 0.85, "train", "val", true), // 200: lexical AND semantic
      (300L, 3L, 0.95, "test", "train", true), // 300: lexical, eval on i
      (400L, 500L, 0.99, "val", "test", true)) // val↔test: NOT leakage
      .toDF("i", "j", "jac", "split_i", "split_j", "contaminated")
    val sem = Seq(
      (200L, "val", 7L, 0.97), // 200: semantic too → both
      (600L, "test", 8L, 0.95)) // 600: semantic-only
      .toDF("vec_id", "split", "train_id", "sim")
    val got = EmbeddingOps.contaminationEnsembleOver(lex, sem)
      .select("doc_id", "split", "leak_source")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((100L, "test", "lexical"), (200L, "val", "both"),
      (300L, "test", "lexical"), (600L, "test", "semantic")))
    // evidence aggregates: best jaccard and pair count over multiple pairs
    val more = lex.unionByName(
      Seq((4L, 100L, 0.95, "train", "test", true))
        .toDF("i", "j", "jac", "split_i", "split_j", "contaminated"))
    val d100 = EmbeddingOps.contaminationEnsembleOver(more, sem)
      .filter(col("doc_id") === 100L).head()
    assert(d100.getDouble(2) === 0.95 && d100.getLong(3) === 2L)
  }

  test("d63 cluster sample: exact min(k,|c|) per cluster ≡ single-window model") {
    // synthetic labels with sizes 12/5/3/1 so k > |c| is exercised
    val lbl = (Seq.tabulate(12)(i => (100L + i, 1L)) ++
      Seq.tabulate(5)(i => (200L + i, 2L)) ++
      Seq.tabulate(3)(i => (300L + i, 3L)) ++ Seq((400L, 4L)))
      .toDF("vec_id", "cid")
    val k = 5
    val got = EmbeddingOps.clusterSampleOver(lbl, k)
      .as[(Long, Long, Long)].collect().toSeq
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes === Map(1L -> 5, 2L -> 5, 3L -> 3, 4L -> 1))
    // the two-phase salted plan equals the single-window bottom-k model
    // (the d56 associativity argument, re-pinned on the cluster key)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy("tag", "vec_id")
    val model = lbl.select(col("vec_id"), col("cid"),
        substring(md5(concat(col("cid").cast("string"), lit(":"),
          col("vec_id").cast("string"))), 1, 16).as("tag"))
      .withColumn("draw_rank", row_number().over(w).cast("long"))
      .filter(col("draw_rank") <= k)
      .select(col("vec_id"), col("cid").as("cluster_id"), col("draw_rank"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(r => (r._2, r._3))
    assert(got === model)
  }

  test("d64 profile: per-cell counts, token mass, and cluster shares exact") {
    val lbl = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L), (9L, 20L))
      .toDF("vec_id", "cid")
    val docs = Seq(
      (1L, "en", 5L), (2L, "en", 7L), (3L, "de", 2L), (4L, "en", 11L),
      (9L, "en", 1L), (99L, "fr", 50L)) // 99: no label → excluded
      .toDF("doc_id", "lang", "n_tokens")
    val got = EmbeddingOps.clusterProfileOver(lbl, docs)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (10L, "de", 1L, 2L, 0.3333), // 1 of 3 docs in cluster 10
      (10L, "en", 2L, 12L, 0.6667),
      (20L, "en", 2L, 12L, 1.0)))
  }

  test("d59 fixture invariants: partition of the corpus, ≤ k clusters") {
    val got = EmbeddingOps.kmeans(spark, Sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val n = Tables.embeddings(spark, Sf).count()
    assert(got.map(_._2).sum === n, "cluster sizes must partition the corpus")
    assert(got.size <= EmbeddingOps.KmeansK)
    assert(got.map(_._1).distinct.size === got.size)
    got.foreach(r => assert(r._4 >= 0.0))
  }

  test("NFC identity: composed vs decomposed duplicates collapse in d01/d38/d57") {
    // same text, two canonical encodings — invisible provenance noise
    // (macOS emits NFD, the web NFC) that must land in ONE family
    val composed = "the caf\u00e9 menu is very good"
    val decomposed = "the cafe\u0301 menu is very good"
    assert(composed != decomposed)
    val dir = java.nio.file.Files.createTempDirectory("graft-nfc").toString
    Seq((1L, composed), (2L, decomposed), (3L, "unrelated text entirely"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // d01: one survivor for the pair (min doc_id), 2 copies counted
    val d01 = DedupOps.exactDedup(spark, dir)
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(d01 === Set((1L, 2L), (3L, 1L)))
    // d38: both members carry weight 1/2; the singleton keeps 1.0
    val d38 = DedupOps.dupWeights(spark, dir)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    assert(d38 === Map(1L -> 0.5, 2L -> 0.5, 3L -> 1.0))
    // d57: doc 2's only paragraph is a cross-encoding dup of doc 1's
    val d57 = DedupOps.paragraphDedup(spark, dir)
      .select("doc_id", "n_paras", "n_kept").as[(Long, Long, Long)]
      .collect().toSet
    assert(d57 === Set((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 1L)))
  }

  test("d58 fuzzy join: empty and null keys neither crash nor fabricate matches") {
    // "" is distance ≤ 1 from every 1-char key and from itself; null
    // matches nothing (equi-join null semantics). Before the guard, ""
    // hit sequence(1, 0) = [1, 0] and emitted phantom variants.
    val left = Seq((1L, ""), (2L, "a"), (3L, "xy")).toDF("id", "key")
    val right = Seq((10L, ""), (11L, "b"), (12L, Option.empty[String].orNull))
      .toDF("id", "key")
    val got = DedupOps.fuzzyJoinOver(left, right)
      .select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 10L, 0L), // "" ≡ ""
      (1L, 11L, 1L), // "" → "b" is one insertion
      (2L, 10L, 1L), // "a" → "" is one deletion
      (2L, 11L, 1L)) // "a" → "b" is one substitution; null row absent
    )
  }

  test("d58 fuzzy join ≡ brute-force all-pairs levenshtein ≤ 1 (exact recall)") {
    // reference DP in-memory; deterministic pseudo-random short keys
    // (short strings are the adversarial case for delete blocking)
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val alpha = "abc"
    def key(seed: Long): String = {
      val n = 1 + (seed % 4).toInt
      (0 until n).map(i => alpha(((seed * 31 + i * 7) % 3).toInt)).mkString
    }
    val ls = (0L until 25L).map(i => (i, key(i * 13 + 5)))
    val rs = (0L until 25L).map(i => (i, key(i * 17 + 2)))
    val got = DedupOps.fuzzyJoinOver(ls.toDF("id", "key"), rs.toDF("id", "key"))
      .select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    val want = (for {
      (li, lk) <- ls; (ri, rk) <- rs
      d = lev(lk, rk) if d <= 1
    } yield (li, ri, d.toLong)).toSet
    assert(got === want)
    assert(want.nonEmpty, "degenerate fixture: no close pairs generated")
  }

  test("d58b distance-2: transposition and double typo found, distance 3 rejected") {
    val left = Seq((1L, "walnut"), (2L, "orange"), (3L, "quartz"))
      .toDF("id", "key")
    val right = Seq(
      (10L, "wanlut"),   // transposition (= two substitutions) → 1 at lev 2
      (11L, "wolnot"),   // double substitution → 1 at lev 2
      (12L, "oranges"),  // single insertion → 2 at lev 1
      (13L, "orangutan"), // distance 4 from orange → rejected
      (14L, "quatz"),    // single deletion → 3 at lev 1
      (15L, "qrtz"))     // double deletion → 3 at lev 2
      .toDF("id", "key")
    val got = DedupOps.fuzzyJoin2Over(left, right)
      .select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 10L, 2L), (1L, 11L, 2L), (2L, 12L, 1L),
      (3L, 14L, 1L), (3L, 15L, 2L)))
  }

  test("d58b ≡ brute-force all-pairs levenshtein ≤ 2 (exact recall at d=2)") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    // short keys over a tiny alphabet: the adversarial case for delete
    // blocking (many strings within distance 2, incl. via empty "")
    val alpha = "abc"
    def key(seed: Long): String = {
      val n = 1 + (seed % 5).toInt
      (0 until n).map(i => alpha(((seed * 31 + i * 7) % 3).toInt)).mkString
    }
    val ls = (0L until 20L).map(i => (i, key(i * 13 + 5)))
    val rs = (0L until 20L).map(i => (i, key(i * 17 + 2)))
    val got = DedupOps.fuzzyJoin2Over(ls.toDF("id", "key"), rs.toDF("id", "key"))
      .select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    val want = (for {
      (li, lk) <- ls; (ri, rk) <- rs
      d = lev(lk, rk) if d <= 2
    } yield (li, ri, d.toLong)).toSet
    assert(got === want)
    assert(want.exists(_._3 == 2L), "degenerate fixture: no distance-2 pairs")
  }

  test("d58/d58b on low-entropy keys (runs of one letter) ≡ brute-force " +
    "all-pairs levenshtein") {
    // a 12-letter run reaches one delete-2 variant from 66 position
    // pairs: the variant rows must collapse per (id, key, v) before the
    // join, and the result must still be the unblocked one
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val run = "a" * 12
    val shapes = Seq(run, run.updated(5, 'b'), run.take(11), run.take(10),
      run.updated(0, 'b').updated(11, 'b'), "b" * 12, run + "a", "")
    val ls = (0L until 24L).map(i => (i, shapes((i % shapes.size).toInt)))
    val rs = (0L until 24L).map(i => (100L + i, shapes(((i * 5 + 3) % shapes.size).toInt)))
    def brute(d: Int): Set[(Long, Long, Long)] = (for {
      (li, lk) <- ls; (ri, rk) <- rs
      n = lev(lk, rk) if n <= d
    } yield (li, ri, n.toLong)).toSet
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("l_id", "r_id", "lev").as[(Long, Long, Long)].collect().toSet
    val left = ls.toDF("id", "key")
    val right = rs.toDF("id", "key")
    assert(pairs(DedupOps.fuzzyJoinOver(left, right)) === brute(1))
    assert(pairs(DedupOps.fuzzyJoin2Over(left, right)) === brute(2))
    assert(brute(2).exists(_._3 == 2L), "degenerate fixture: no distance-2 pairs")
  }

  test("d45 edit verify: reference-DP recompute over every d02 pair") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val cur = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(b.length)
    }
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val texts = Tables.documents(spark, Sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap.map { case (k, v) => k -> norm(v) }
    val got = PairGraph.editVerify(spark, Sf)
      .select("i", "j", "lev", "edit_sim", "verified")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val d02 = PairGraph.ngramJaccard(spark, Sf).select("i", "j")
      .as[(Long, Long)].collect().toSet
    assert(got.map(r => (r._1, r._2)).toSet === d02, "one row per d02 pair")
    got.foreach { case (i, j, l, sim, v) =>
      val want = lev(texts(i), texts(j))
      assert(l === want.toLong, s"pair ($i,$j) distance")
      assert(sim === 1.0 - want.toDouble /
        math.max(texts(i).length, texts(j).length), s"pair ($i,$j) sim")
      assert(v === (sim >= 0.8))
    }
    assert(got.nonEmpty)
  }

  test("IVF multi-probe: nprobe=2 recall ≥ nprobe=1, same contract") {
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vecs = e.as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // brute-force true nearest neighbor per query (ties by id — matches
    // the operator's window ordering)
    val trueNN = (0L until 10L).map { q =>
      val qv = vecs(q)
      q -> vecs.filter(_._1 != q).toSeq
        .map { case (id, v) => (id, cos(qv, v)) }
        .maxBy { case (id, s) => (s, -id) }._1
    }.toMap
    def recall(nprobe: Int): Double = {
      val got = EmbeddingOps.ivfAnn(spark, Sf, nprobe)
        .select("qid", "nid").as[(Long, Long)].collect().toMap
      got.count { case (q, n) => trueNN(q) == n }.toDouble / trueNN.size
    }
    val r1 = recall(1)
    val r2 = recall(2)
    assert(r2 >= r1, s"multi-probe must not lose recall: $r2 < $r1")
    assert(r1 === 1.0, "fixture fact the d06b oracle relies on (re-check if embeddings change)")
  }

  test("d73 IVF-PQ ≡ brute-force NN at every available sf (the oracle precondition)") {
    // the d73 oracle is the global brute NN; it holds iff every query's
    // true NN survives BOTH the cell probe and the ADC shortlist cut at
    // the registry parameters (shortlist=64). Pin it at every sf so a
    // future fixture change fails HERE with a named cause, not as an
    // opaque driver hash mismatch. (At sf0.01 the cut needs ≥ 33: query
    // 5's true NN sits past ADC rank 32 — shortlist 32 loses it.)
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/embeddings.parquet").exists)
      .foreach { dd =>
        val got = EmbeddingOps.ivfPqAnn(spark, dd)
          .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
        spark.sharedState.cacheManager.clearCache()
        val ivf = EmbeddingOps.ivfAnn(spark, dd)
          .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
        spark.sharedState.cacheManager.clearCache()
        // ivfAnn is itself pinned ≡ brute NN above (r1 == 1.0), so
        // equality here chains to the brute-force answer
        assert(got.toSeq === ivf.toSeq,
          s"$dd: IVF-PQ's exact re-rank lost the true NN — the ADC " +
            "shortlist no longer covers it; raise `shortlist` or the " +
            "codebook size (d73 oracle precondition)")
      }
  }

  test("d73 joint m-keyed PQ training ≡ per-sub-space kmeansLabels (no-drift)") {
    // pqAssignments is the d59 kernel with an added sub-space key; the
    // m sub-spaces are independent, so slicing out one m must reproduce
    // kmeansLabels on that sub-vector table exactly — codes AND decimal
    // distances.
    val (cells, _) = EmbeddingOps.ivfCells(spark, Sf)
    val joint = EmbeddingOps.pqAssignments(cells, 4, 16, 16, 2)
      .select("vec_id", "m", "cid", "dist2")
      .as[(Long, Int, Long, java.math.BigDecimal)].collect()
      .groupBy(_._2)
    spark.sharedState.cacheManager.clearCache()
    for (mi <- 0 until 4) {
      val sub = cells.select(col("vec_id"),
        slice(col("v"), mi * 16 + 1, 16).as("embedding"))
      val solo = EmbeddingOps.kmeansLabels(sub, 16, 2)
        .select("vec_id", "cid", "dist2")
        .as[(Long, Long, java.math.BigDecimal)].collect()
        .map(r => (r._1, r._2, r._3)).sortBy(_._1).toSeq
      spark.sharedState.cacheManager.clearCache()
      val got = joint(mi).map(r => (r._1, r._3, r._4)).sortBy(_._1).toSeq
      assert(got === solo, s"sub-space $mi drifted from kmeansLabels")
    }
  }

  test("d74 store-fed d73 ≡ self-contained rebuild; manifests green; no empty PQ cluster per sf") {
    // store-fed and re-derived results must be byte-identical: the
    // search over freshly built index relations at the store's parameters
    val fed = EmbeddingOps.ivfPqAnn(spark, Sf).collect().map(_.toString).toSeq
    val (rc, rcodes, rcb, rcent) = EmbeddingOps.pqIndexRelations(spark, Sf)
    val solo = EmbeddingOps.ivfPqSearch(spark, Sf, rc, rcodes, rcb, rcent,
      shortlist = 64, sw = 16).collect().map(_.toString).toSeq
    assert(fed === solo)
    // publisher manifests: every audit row ok, row counts match the
    // oracle's invariants (n / n packed / 1024)
    val n = Tables.embeddings(spark, Sf).count()
    val man = operators.VectorIndexStore.publish(spark, Sf)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(man.forall(_._4), s"audit failures: ${man.filterNot(_._4)}")
    val pub = man.filter(_._2 == "published_rows").map(r => r._1 -> r._3).toMap
    assert(pub === Map("cells" -> n, "codes" -> n, "codebook" -> 1024L,
      "centroids" -> 10L))
    // the 1024/10 invariants = no PQ cluster and no IVF cell empties —
    // pin them per sf so a fixture change fails HERE, not as a driver
    // hash mismatch
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/embeddings.parquet").exists)
      .foreach { dd =>
        val (cells, codes, _, cent) =
          operators.VectorIndexStore.relations(spark, dd)
        assert(codes.select("m", "code").distinct().count() === 64L,
          s"$dd: a PQ cluster emptied — the d74 codebook row invariant (1024) broke")
        assert(cent.count() === 10L,
          s"$dd: an IVF cell emptied — the d74 centroid row invariant (10) broke")
        assert(cells.count() === spark.read
          .parquet(s"$dd/embeddings.parquet").count(), s"$dd cells partition")
      }
  }

  test("d73 shortlist recall is monotone and reported sims are true cosines") {
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vecs = e.as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // a deliberately starved shortlist: structurally top-4 ⊆ top-64, so
    // the exact-re-rank answer's sim can only improve with the budget
    val small = EmbeddingOps.ivfPqAnn(spark, Sf, shortlist = 4)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    spark.sharedState.cacheManager.clearCache()
    val full = EmbeddingOps.ivfPqAnn(spark, Sf)
      .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    spark.sharedState.cacheManager.clearCache()
    assert(small.keySet === full.keySet)
    small.foreach { case (q, (_, simSmall)) =>
      assert(full(q)._2 >= simSmall,
        s"query $q: widening the shortlist worsened the answer")
    }
    // every reported similarity is the true cosine of the named pair
    (small ++ full).foreach { case (q, (n, sim)) =>
      assert(q != n)
      assert(math.abs(cos(vecs(q), vecs(n)) - sim) < 1e-3, s"pair ($q,$n)")
    }
  }

  test("s19: maintained index ≡ frozen-model admission; deltas never move " +
    "reference rows; the maintained store is searchable end-to-end") {
    graft.functions.CosineSimilarity.ensureRegistered(spark)
    val emb = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val batches = Seq(emb.filter(pmod(col("vec_id"), lit(10L)) < 8),
      emb.filter(pmod(col("vec_id"), lit(10L)) === 8),
      emb.filter(pmod(col("vec_id"), lit(10L)) === 9))
    val base = java.nio.file.Files.createTempDirectory("graft-s19spec").toString
    // the maintained stores are bucketed (published/bucket=<b>/) —
    // drop the routing column to compare payload rows
    def cellRows(): Seq[String] =
      spark.read.parquet(s"$base/cells/published").drop("bucket")
        .collect().map(_.toString).sorted.toSeq
    def codeRows(): Seq[String] =
      spark.read.parquet(s"$base/codes/published").drop("bucket")
        .collect().map(_.toString).sorted.toSeq
    operators.Streaming.vectorIndexMaintSink(base)(batches(0), 0L)
    val (refCells, refCodes) = (cellRows(), codeRows())
    operators.Streaming.vectorIndexMaintSink(base)(batches(1), 1L)
    operators.Streaming.vectorIndexMaintSink(base)(batches(2), 2L)
    // ——— deltas never move reference rows: the batch-0 subset of the
    // final store is byte-identical to the store right after batch 0 ———
    val isRef = (r: String) => {
      val id = r.drop(1).takeWhile(_ != ',').toLong; id % 10 < 8
    }
    assert(cellRows().filter(isRef) === refCells,
      "a delta moved a reference vector's cell")
    assert(codeRows().filter(isRef) === refCodes,
      "a delta moved a reference vector's codes")
    // ——— delta rows ≡ frozen-model admission computed independently
    // against the PUBLISHED models (store read-back + upsert under test) ———
    val cent = spark.read.parquet(s"$base/centroids/published")
    val cb = spark.read.parquet(s"$base/codebook/published")
    val deltas = batches(1).unionByName(batches(2))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val expCells = EmbeddingOps.assignCellsOver(deltas, cent)
      .select(col("vec_id"), col("cid")).collect().map(_.toString).sorted.toSeq
    assert(cellRows().filterNot(isRef) === expCells,
      "delta cell admission diverged from frozen-centroid assignment")
    // the reference is the in-memory brute force over the collected
    // deltas and codebook — independent of the kernel under test
    val cbRel = cb.select(col("m"), col("code").as("cid"), col("pos").as("dim"), col("c"))
    val bruteCodes = BruteAssign.assign(BruteAssign.vectors(deltas, "v"),
      BruteAssign.model(cbRel))
    val expCodes = bruteCodes.groupBy(_._1).toSeq
      .map { case (id, rs) => (id, rs.sortBy(_._2).map(_._3)) }.sortBy(_._1)
    val deltaCodes = spark.read.parquet(s"$base/codes/published")
      .select("vec_id", "codes").as[(Long, Seq[Long])].collect().toSeq
      .filter(_._1 % 10 >= 8).sortBy(_._1)
    assert(deltaCodes === expCodes,
      "delta code admission diverged from frozen-codebook assignment")
    val kernel = EmbeddingOps.pqAssignEmbeddings(deltas, cbRel)
      .select("vec_id", "m", "cid", "dist2")
      .as[(Long, Int, Long, java.math.BigDecimal)].collect().toSeq
      .map(r => (r._1, r._2, r._3, BigDecimal(r._4))).sortBy(r => (r._1, r._2))
    assert(kernel === bruteCodes,
      "frozen-codebook codes or dist2 diverged from brute force")
    // ——— the maintained store composes with the real search kernel:
    // with every cell probed and an uncut shortlist the exact re-rank
    // must return the global brute-force NN — structurally, because all
    // candidates reach the exact cosine pass. Queries 8 and 9 were
    // admitted by the DELTA path, so search-over-incremental is load-
    // bearing here, not a formality. ———
    val n = emb.count().toInt
    val codesLong = spark.read.parquet(s"$base/codes/published")
      .select(col("vec_id"), posexplode(col("codes")))
      .toDF("vec_id", "m", "code")
    val got = EmbeddingOps.ivfPqSearch(spark, Sf,
        spark.read.parquet(s"$base/cells/published").drop("bucket"),
        codesLong, cb, cent,
        shortlist = n, sw = 16, nprobe = 10)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    spark.sharedState.cacheManager.clearCache()
    val brute = EmbeddingOps.ivfAnn(spark, Sf)
      .select("qid", "nid").as[(Long, Long)].collect().toMap
    spark.sharedState.cacheManager.clearCache()
    assert(got === brute,
      "search over the incrementally maintained index lost a true NN")
  }

  test("d73 multi-probe: nprobe=2 recall ≥ nprobe=1 and finds the true NN " +
    "by structure, not corpus luck") {
    // the d06b probe-monotonicity pin applied to d73: the nprobe=2
    // candidate set is a superset of nprobe=1's cell (same probe
    // ranking, same tie-break), so the exact re-rank can only improve.
    // The single-probe true-NN property holds on these fixtures only
    // because every query's NN shares its cell — a boundary vector
    // whose NN sits in the ADJACENT cell is exactly what nprobe=2
    // rescues, so the nprobe=2 answer is pinned ≡ brute force too.
    val e = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val vecs = e.as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val trueNN = (0L until 10L).map { q =>
      val qv = vecs(q)
      q -> vecs.filter(_._1 != q).toSeq
        .map { case (id, v) => (id, cos(qv, v)) }
        .maxBy { case (id, s) => (s, -id) }._1
    }.toMap
    def answers(nprobe: Int): Map[Long, Long] = {
      val got = EmbeddingOps.ivfPqAnn(spark, Sf, nprobe = nprobe)
        .select("qid", "nid").as[(Long, Long)].collect().toMap
      spark.sharedState.cacheManager.clearCache()
      got
    }
    val a1 = answers(1)
    val a2 = answers(2)
    def recall(a: Map[Long, Long]): Double =
      a.count { case (q, n) => trueNN(q) == n }.toDouble / trueNN.size
    assert(recall(a2) >= recall(a1),
      s"multi-probe must not lose recall: ${recall(a2)} < ${recall(a1)}")
    assert(a2.forall { case (q, n) => trueNN(q) == n },
      "nprobe=2 must find every true NN (cell-boundary rescue)")
    // nprobe=1 through the probe-ranking path must equal the own-cell
    // answer (rank-1 probe ≡ assigned cell — same csim ordering, same
    // tie-break), and on this corpus both hit every true NN, so the
    // two answer maps coincide exactly
    assert(a1 === a2, "nprobe=1 diverged from the own-cell answer")
  }

  /** In-memory brute-force top-1 under a keep predicate — the d78/d79
    * differential's reference answer, on d73's rounded-sim ordering
    * (sim desc, nid asc — round BEFORE comparing, as both engines do). */
  private def bruteRestrictedNN(dd: String,
      keep: Long => Boolean): Map[Long, (Long, Double)] = {
    val vecs = Tables.embeddings(spark, dd)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        col("label"))
      .as[(Long, Seq[Double], Int)].collect()
    val byId = vecs.map(r => r._1 -> r._2).toMap
    val kept = vecs.filter(r => keep(r._1)).map(_._1).toSet
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (0L until 10L).map { q =>
      val qv = byId(q)
      val best = kept.filter(_ != q).toSeq
        .map { id =>
          (id, BigDecimal(cos(qv, byId(id))).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .maxBy { case (id, s) => (s, -id) }
      q -> best
    }.toMap
  }

  /** In-memory brute-force top-K over the d86 query batch — the
    * differential's reference answer on the rounded-sim ordering
    * (sim desc, nid asc — round BEFORE comparing, as both engines do). */
  private def bruteTopK(dd: String, k: Int): Seq[(Long, Long, Long, Double)] = {
    val vecs = Tables.embeddings(spark, dd)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
    val byId = vecs.toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    vecs.map(_._1).filter(_ % 25 == 0).sorted.toSeq.flatMap { q =>
      val qv = byId(q)
      byId.keys.filter(_ != q).toSeq
        .map(id => (id, BigDecimal(cos(qv, byId(id))).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble))
        .sortBy { case (id, s) => (-s, id) }
        .take(k).zipWithIndex
        .map { case ((id, s), i) => (q, (i + 1).toLong, id, s) }
    }
  }

  test("d86 batched ANN ≡ per-query brute-force top-3 at every sf, and " +
    "the 192 per-list cut is load-bearing (the oracle precondition)") {
    // this fixture's near-uniform embeddings put a true top-3
    // neighbor's cell at probe rank 10/10 and its per-list ADC rank at
    // 168 (measured across sfs), so the registry instance probes every
    // cell (d78 IDSelector mode) with a 192 per-list cut — the
    // differential IS the precondition gate: a fixture change that
    // pushes a neighbor past the cut fails here, not as a driver hash
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/embeddings.parquet").exists)
      .foreach { dd =>
        val expect = bruteTopK(dd, 3)
        val got = EmbeddingOps.batchedAnn(spark, dd)
          .as[(Long, Long, Long, Double)].collect().toSeq
        spark.sharedState.cacheManager.clearCache()
        assert(got === expect, s"$dd: batched search drifted from brute force")
      }
    // the load-bearing half: the d73-sized 64 cut drops at least one
    // query's true top-3 at sf0.1 (per-list rank measured up to 168)
    val big = "/root/testdata/sf0.1"
    if (new java.io.File(s"$big/embeddings.parquet").exists) {
      val got64 = EmbeddingOps.batchedAnn(spark, big, shortlist = 64)
        .as[(Long, Long, Long, Double)].collect().toSeq
      spark.sharedState.cacheManager.clearCache()
      assert(got64 != bruteTopK(big, 3),
        "the 64 per-list cut unexpectedly matched brute force — the " +
          "192-cut pin has lost its witness; re-measure the fixture")
    }
  }

  test("d78 filtered ANN ≡ filtered brute force at every sf, and the " +
    "per-list cut is load-bearing (the oracle precondition)") {
    // the d78 oracle is brute force over the label-filtered corpus; it
    // holds iff the true filtered NN survives its OWN inverted list's
    // ADC top-64 (per-cell rank measured ≤ 52 across sfs). The GLOBAL
    // cut of the same size does NOT cover it — the label filter
    // anti-correlates with the cells, survivors spread over every list,
    // and the crude 4×16 ADC mis-ranks far cells' survivors above the
    // true neighbor (global rank measured up to 162) — so the per-list
    // mode is pinned as the load-bearing choice, not a style choice.
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/embeddings.parquet").exists)
      .foreach { dd =>
        val labels = Tables.embeddings(spark, dd)
          .select(col("vec_id"), col("label"))
          .as[(Long, Int)].collect().toMap
        val expect = bruteRestrictedNN(dd, id => labels(id) % 2 == 0)
        val got = EmbeddingOps.filteredAnn(spark, dd)
          .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        spark.sharedState.cacheManager.clearCache()
        assert(got === expect,
          s"$dd: filtered search lost a true filtered NN — the per-list " +
            "ADC cut no longer covers it (d78 oracle precondition)")
      }
    // the load-bearing half, pinned where the gap is widest: the same
    // search with the GLOBAL cut drops at least one query's true
    // filtered NN at sf0.1 (query 6's sits past global ADC rank 64)
    val big = "/root/testdata/sf0.1"
    if (new java.io.File(s"$big/embeddings.parquet").exists) {
      val labels = Tables.embeddings(spark, big)
        .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
      val expect = bruteRestrictedNN(big, id => labels(id) % 2 == 0)
      val (cells, codes, cb, cent) =
        graft.operators.VectorIndexStore.relations(spark, big)
      val keepDf = Tables.embeddings(spark, big)
        .filter(pmod(col("label"), lit(2)) === 0).select(col("vec_id"))
      val globalCut = EmbeddingOps.ivfPqSearch(spark, big, cells, codes,
        cb, cent, shortlist = 64, sw = 16, nprobe = 10,
        keep = Some(keepDf), perCellCut = false)
        .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      spark.sharedState.cacheManager.clearCache()
      assert(globalCut != expect,
        "the global ADC cut unexpectedly matched brute force — the " +
          "per-list-cut pin has lost its witness; re-measure the fixture")
    }
  }

  test("d79 ANN delete ≡ brute force minus tombstones at every sf; the " +
    "delete is observable and total") {
    var anyChanged = false
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
      .filter(dd => new java.io.File(s"$dd/embeddings.parquet").exists)
      .foreach { dd =>
        val expect = bruteRestrictedNN(dd, id => id % 7 != 3)
        val got = EmbeddingOps.annDelete(spark, dd)
          .select("qid", "nid", "sim").as[(Long, Long, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
        spark.sharedState.cacheManager.clearCache()
        assert(got === expect,
          s"$dd: post-delete search diverged from brute force minus " +
            "tombstones (d79 oracle precondition)")
        // total: no tombstoned id can ever be reported (follows from
        // the differential, stated as intent)
        assert(got.values.forall(_._1 % 7 != 3),
          s"$dd: a tombstoned id surfaced as a neighbor")
        // observable (collected across sfs: whether any TOP-1 lands on
        // a ≡3 mod 7 id is per-fixture luck — at sf0.01 none does —
        // but a fixture SET where no delete is ever visible would make
        // this a no-op test): did any query's answer change vs the
        // undeleted index?
        val undeleted = EmbeddingOps.ivfPqAnn(spark, dd)
          .select("qid", "nid").as[(Long, Long)].collect().toMap
        spark.sharedState.cacheManager.clearCache()
        anyChanged ||= got.exists { case (q, (n, _)) => undeleted(q) != n }
      }
    assert(anyChanged,
      "deleting 1/7 of the corpus changed no answer at ANY sf — " +
        "the fixtures no longer witness the delete")
  }

  test("d79/s23 deferred half: compacting the tombstoned cells store " +
    "clears the sidecar and leaves the search answer byte-identical") {
    // both scaladocs promise "physical removal defers to compaction" —
    // pin the promise: after dvCompact the vector is gone, the live
    // row count is materialized, and the d73 kernel over the compacted
    // store returns exactly the DV-search answer
    import graft.operators.{Sources, VectorIndexStore}
    val (cells, codes, cb, cent) = VectorIndexStore.relations(spark, Sf)
    val base = java.nio.file.Files.createTempDirectory("graft-d79c").toString
    Sources.writeAuditPublishStaged(spark, cells, cells.count(), base,
      keyCols = Seq("vec_id"))
    Sources.dvDelete(spark, base, pmod(col("vec_id"), lit(7L)) === 3)
    def search(live: org.apache.spark.sql.DataFrame) =
      EmbeddingOps.ivfPqSearch(spark, Sf, live, codes, cb, cent,
        shortlist = 64, sw = 16, nprobe = 2, perCellCut = true)
        .collect().map(_.toString).toSeq
    val viaDv = search(Sources.readWithDv(spark, base))
    spark.sharedState.cacheManager.clearCache()
    val audit = Sources.dvCompact(spark, base, Seq("vec_id"))
    assert(audit.filter(!col("ok")).isEmpty, "compaction audit failed")
    assert(!new java.io.File(s"$base/dv").exists,
      "compaction left the deletion vector behind")
    val compacted = spark.read.parquet(s"$base/published")
    val nAll = cells.count()
    val nDel = cells.filter(pmod(col("vec_id"), lit(7L)) === 3).count()
    assert(compacted.count() === nAll - nDel,
      "compaction did not materialize the deletes")
    // the search over the compacted store (no vector left to apply)
    // reproduces the pre-compaction merge-on-read answer
    assert(search(compacted) === viaDv,
      "search answer changed across compaction")
  }

  test("d80 knn graph ≡ in-memory per-vertex block top-3; ranks dense " +
    "per vertex; edges stay inside blocks") {
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        col("label"))
      .as[(Long, Seq[Double], Int)].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byLabel = vecs.groupBy(_._3)
    val expect = vecs.flatMap { case (i, vi, lbl) =>
      byLabel(lbl).filter(_._1 != i)
        .map { case (j, vj, _) =>
          (j, BigDecimal(cos(vi, vj)).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (j, s) => (-s, j) }
        .take(3).zipWithIndex
        .map { case ((j, s), r) => (i, r + 1, j, s) }
    }.sortBy(t => (t._1, t._2)).toSeq
    val got = EmbeddingOps.knnGraph(spark, Sf)
      .select("i", "knn_rank", "j", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got === expect, "knn graph drifted from the per-vertex brute force")
    // structural re-statements of the contract: per-vertex ranks are
    // dense 1..min(3, block-1), and no edge crosses a block
    val labels = vecs.map(v => v._1 -> v._3).toMap
    assert(got.forall { case (i, _, j, _) => labels(i) == labels(j) },
      "an edge crossed its block")
    got.groupBy(_._1).foreach { case (i, edges) =>
      val want = math.min(3, byLabel(labels(i)).length - 1)
      assert(edges.map(_._2).sorted === (1 to want),
        s"vertex $i ranks not dense 1..$want")
    }
  }

  test("d80b cells-blocked knn graph ≡ in-memory within-cell top-3; " +
    "disagreement vs the exact graph is exactly the boundary vertices") {
    val cells = operators.VectorIndexStore.relations(spark, Sf)._1
      .as[(Long, Int)].collect().toMap
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def top3(i: Long, vi: Seq[Double],
        pool: Iterable[(Long, Seq[Double])]): Seq[(Long, Int, Long, Double)] =
      pool.filter(_._1 != i).toSeq
        .map { case (j, vj) => (j, r4(cos(vi, vj))) }
        .sortBy { case (j, sim) => (-sim, j) }
        .take(3).zipWithIndex
        .map { case ((j, sim), r) => (i, r + 1, j, sim) }
    val byCell = vecs.groupBy(v => cells(v._1))
    val expect = vecs.flatMap { case (i, vi) => top3(i, vi, byCell(cells(i))) }
      .sortBy(t => (t._1, t._2)).toSeq
    val got = EmbeddingOps.knnGraphCells(spark, Sf)
      .select("i", "knn_rank", "j", "sim")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(got === expect,
      "cells-blocked knn graph drifted from the within-cell brute force")
    assert(got.forall { case (i, _, j, _) => cells(i) == cells(j) },
      "an edge crossed its cell")
    // THE approximate-by-blocking boundary pin: a vertex's blocked rows
    // differ from the EXACT (unblocked) graph iff one of its exact
    // top-3 neighbors lives in another cell — blocking loses exactly
    // the cross-cell pairs, nothing else
    val exact = vecs.flatMap { case (i, vi) => top3(i, vi, vecs) }
      .groupBy(_._1)
    val blocked = got.groupBy(_._1)
    vecs.foreach { case (i, _) =>
      val crossCell = exact(i).exists { case (_, _, j, _) => cells(j) != cells(i) }
      if (!crossCell)
        assert(blocked.get(i).map(_.toSeq) === Some(exact(i).toSeq),
          s"vertex $i: all exact neighbors share its cell, rows must agree")
      else
        assert(blocked.get(i).map(_.toSeq) !== Some(exact(i).toSeq),
          s"vertex $i: an exact neighbor crossed the cell, rows must differ")
    }
    assert(vecs.exists { case (i, _) =>
        exact(i).exists { case (_, _, j, _) => cells(j) != cells(i) } },
      "vacuous fixture: no vertex has a cross-cell exact neighbor")
  }

  test("d80 block-width guard refuses a hot block loudly") {
    val hot = (1L to 50L).map(k => (k, "same", Seq(1.0, 2.0, 3.0)))
      .toDF("vec_id", "block", "v")
    val e = intercept[IllegalStateException] {
      EmbeddingOps.knnGraphOver(hot, 3, maxBlock = 10L).collect()
    }
    assert(e.getMessage.contains("'same'") && e.getMessage.contains("50"),
      s"guard must name the block and its width: ${e.getMessage}")
    // at the guard boundary the kernel runs (widths ≤ maxBlock pass)
    assert(EmbeddingOps.knnGraphOver(hot, 3, maxBlock = 50L).count() > 0)
  }

  test("d82 knn-graph dedup ≡ in-memory union-find over the τ-filtered " +
    "adjacency + quality keep-best; families partition the corpus") {
    val tau = EmbeddingOps.KnnDedupTau
    val adj = EmbeddingOps.knnGraphCells(spark, Sf)
      .select("i", "j", "sim").as[(Long, Long, Double)].collect()
    val ids = Tables.embeddings(spark, Sf).select("vec_id")
      .as[Long].collect().sorted.toSeq
    // union-find (path halving) over the τ-kept edges — the reference
    // transitive closure, label = smallest reachable id
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    adj.filter(_._3 >= tau).foreach { case (i, j, _) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { val lo = math.min(ri, rj); parent(math.max(ri, rj)) = lo }
    }
    // canonicalize to min-id labels (union by min above keeps roots
    // minimal already; find() settles the chains)
    val fam = ids.map(i => i -> find(i)).toMap
    // the d08/d53 quality score recomputed in plain Scala (split keeps
    // trailing empties like Spark's regex split; round4 = HALF_UP at
    // scale 4, the Canon contract)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val quality = Tables.documents(spark, Sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      .map { case (id, text) =>
        val t = text.split(" ", -1).toSeq
        id -> r4(math.log(1.0 + t.size) * r4(t.distinct.size.toDouble / t.size))
      }
    val sizes = fam.values.groupBy(identity).map { case (f, g) => f -> g.size.toLong }
    val keep = fam.groupBy(_._2).map { case (f, members) =>
      f -> members.keys.toSeq.sortBy(i => (-quality(i), i)).head
    }
    val expect = ids.map { i =>
      val f = fam(i)
      (i, f, sizes(f), quality(i), keep(f), i == keep(f))
    }
    val got = EmbeddingOps.knnGraphDedup(spark, Sf)
      .as[(Long, Long, Long, Double, Long, Boolean)].collect().toSeq
    assert(got === expect, "d82 drifted from the union-find reference")
    // structural pins: families partition the corpus; exactly one kept
    // member per family; the kept member's quality dominates
    assert(got.map(_._1).toSet === ids.toSet)
    got.groupBy(_._2).foreach { case (f, rows) =>
      assert(rows.count(_._6) === 1, s"family $f: kept != 1")
      val k = rows.find(_._6).get
      assert(rows.forall(r => r._4 < k._4 || (r._4 == k._4 && r._1 >= k._1)),
        s"family $f: kept member not quality-dominant")
    }
    // non-vacuous: at least one multi-member family exists at this sf
    assert(got.exists(_._3 > 1L), "vacuous fixture: no τ-edge survived")
  }

  test("d84 admission delta ≡ in-memory reference: existing-subgraph " +
    "families + per-new-vector cell argmax; decisions partition the batch") {
    val tau = EmbeddingOps.KnnDedupTau
    val cells = operators.VectorIndexStore.relations(spark, Sf)._1
      .as[(Long, Int)].collect().toMap
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .as[(Long, Seq[Double])].collect()
    val (exist, batch) = vecs.partition(_._1 % 10 < 8)
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // existing-side families: top-3 within-cell adjacency at sim ≥ τ,
    // union-find closure (the d82 reference restricted to `exist`)
    val byCell = exist.groupBy(v => cells(v._1))
    val edges = exist.flatMap { case (i, vi) =>
      byCell(cells(i)).filter(_._1 != i)
        .map { case (j, vj) => (j, r4(cos(vi, vj))) }
        .sortBy { case (j, s) => (-s, j) }.take(3)
        .collect { case (j, s) if s >= tau => (i, j) }
    }
    val parent = scala.collection.mutable.Map(exist.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) { val lo = math.min(ri, rj); parent(math.max(ri, rj)) = lo }
    }
    val fam = exist.map(v => v._1 -> find(v._1)).toMap
    // per new vector: argmax existing neighbor within its own cell
    val existByCell = exist.groupBy(v => cells(v._1))
    val expect = batch.map { case (b, vb) =>
      val cand = existByCell
        .getOrElse(cells(b), Array.empty[(Long, Seq[Double])])
        .map { case (a, va) => (a, r4(cos(vb, va))) }
      if (cand.isEmpty) (b, "new", b, None: Option[Long], None: Option[Double])
      else {
        val (bid, s) = cand.minBy { case (a, s) => (-s, a) }
        if (s >= tau) (b, "join", fam(bid), Some(bid), Some(s))
        else (b, "new", b, Some(bid), Some(s))
      }
    }.sortBy(_._1).toSeq
    val got = EmbeddingOps.knnGraphDedupDelta(spark, Sf)
      .as[(Long, String, Long, Option[Long], Option[Double])].collect().toSeq
    assert(got === expect, "d84 drifted from the in-memory reference")
    // structural: every batch vector decided exactly once; a `join`
    // lands in a REAL existing family; `new` founds its own id
    assert(got.map(_._1) === batch.map(_._1).sorted.toSeq)
    val famIds = fam.values.toSet
    got.foreach {
      case (_, "join", f, Some(_), Some(s)) =>
        assert(s >= tau && famIds.contains(f))
      case (b, "new", f, _, simOpt) =>
        assert(f == b && simOpt.forall(_ < tau))
      case other => fail(s"malformed decision row: $other")
    }
    assert(got.exists(_._2 == "join") && got.exists(_._2 == "new"),
      "vacuous fixture: both decisions must occur at this sf")
  }

  test("sequence packing tiles each shard's stream exactly, bins from pure arithmetic") {
    val rows = SamplingOps.seqPacking(spark, Sf)
      .select("doc_id", "shard", "n_tokens", "start_off", "first_bin", "last_bin")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 500)
    rows.groupBy(_._2).foreach { case (shard, docs) =>
      val sorted = docs.sortBy(_._1)
      // concat-and-chunk: each doc starts exactly where the previous ended
      var expectedOff = 0L
      sorted.foreach { case (doc, sh, n, off, fb, lb) =>
        assert(sh === doc % SamplingOps.PackShards)
        assert(off === expectedOff, s"gap in shard $shard at doc $doc")
        assert(fb === off / SamplingOps.PackTokens)
        assert(lb === (off + n - 1) / SamplingOps.PackTokens)
        assert(fb <= lb)
        expectedOff += n
      }
    }
    // the corpus is long enough that some docs must span a bin boundary
    assert(rows.exists(r => r._5 != r._6), "no doc spans a bin: fixture degenerate")
  }

  test("CDC chunks tile each document and end on hash boundaries") {
    val nTokens = Tables.documents(spark, Sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .as[(Long, Int)].collect().toMap
    val chunks = SamplingOps.cdcChunks(spark, Sf)
      .select("doc_id", "chunk_id", "n_toks", "start_tok")
      .as[(Long, Long, Long, Long)].collect()
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq)
      // contiguous tiling: each chunk starts where the previous ended,
      // and the last one ends at the document's token count
      var off = 0L
      sorted.foreach { case (_, _, n, start) =>
        assert(start === off, s"doc $doc chunk gap"); off += n
      }
      assert(off === nTokens(doc).toLong, s"doc $doc coverage")
    }
  }

  test("CDC boundaries re-synchronize after a prefix edit (the anti-shift property)") {
    // the fixed-stride d14 chunks all shift when a prefix is inserted;
    // CDC chunks after the first hash boundary must be IDENTICAL.
    val base = Tables.documents(spark, Sf).filter(col("doc_id") === 0)
      .select("text").as[String].head()
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    Seq((0L, base), (1L, "inserted prefix tokens " + base))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val byDoc = SamplingOps.cdcChunks(spark, dir)
      .select("doc_id", "chunk_id", "chunk_md5")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).map { case (d, cs) => d -> cs.sortBy(_._2).map(_._3).toSeq }
    val (a, b) = (byDoc(0L), byDoc(1L))
    assert(a.length >= 2, "fixture doc should produce several CDC chunks")
    // every chunk of the original after its first boundary reappears
    // verbatim in the shifted document
    val tail = a.drop(1)
    assert(tail.forall(b.contains), "shifted doc lost shared-content chunks")
  }

  test("vocab coverage K is a real parameter: K≥vocab ⇒ no OOV, smaller K ⇒ more OOV") {
    val at20 = QualityOps.vocabCoverage(spark, Sf)
      .select("doc_id", "n_oov").as[(Long, Long)].collect().toMap
    // the corpus vocabulary is 31 words: K=31 swallows it whole
    val at31 = QualityOps.vocabCoverage(spark, Sf, 31)
      .select("doc_id", "n_oov").as[(Long, Long)].collect()
    assert(at31.forall(_._2 === 0L))
    // shrinking the vocab can only grow each document's OOV count
    val at5 = QualityOps.vocabCoverage(spark, Sf, 5)
      .select("doc_id", "n_oov").as[(Long, Long)].collect()
    at5.foreach { case (doc, oov) => assert(oov >= at20(doc)) }
  }

  test("token budget: bucketed prefix sum ≡ flat window, selection is a greedy prefix") {
    import org.apache.spark.sql.expressions.Window
    val out = SamplingOps.tokenBudget(spark, Sf)
      .select("doc_id", "source", "n_tokens", "cum_before", "budget", "selected")
      .as[(Long, String, Long, Long, Long, Boolean)].collect().toSeq
    assert(out.nonEmpty)
    // the 16-bucket decomposition must equal the single flat per-source
    // running sum it replaces (the scale refactor can't change values)
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flat = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
    out.foreach { case (id, _, _, cb, _, _) => assert(cb === flat(id), s"doc $id") }
    // greedy take-while-open: within a source's hash order the selected
    // docs are a PREFIX — once the budget closes it never reopens
    out.groupBy(_._2).foreach { case (src, rows) =>
      val flags = rows.sortBy(_._4).map(_._6)
      assert(flags.head, s"$src: first doc in hash order is always selected")
      assert(!flags.zip(flags.tail).exists { case (prev, next) => !prev && next },
        s"$src: selection reopened after the budget closed")
    }
    // frac = 0.5 must actually split the corpus
    assert(out.exists(_._6) && out.exists(!_._6))
    // frac is a real parameter: everything fits under a full budget
    assert(SamplingOps.tokenBudget(spark, Sf, frac = 1.0)
      .filter(!col("selected")).count() === 0L)
    // the bucket-width skew knob re-groups the same prefix sum: a
    // 256-way decomposition must reproduce the 16-way result exactly
    val wide = SamplingOps.tokenBudget(spark, Sf, prefixLen = 2)
      .select("doc_id", "cum_before", "selected")
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, cb, sel) => id -> ((cb, sel)) }.toMap
    out.foreach { case (id, _, _, cb, _, sel) =>
      assert(wide(id) === ((cb, sel)), s"doc $id diverged at prefixLen=2") }
  }

  test("bm25: scores match a driver-side recomputation; k1=0 is presence-only") {
    val terms = Seq("spark", "join", "window")
    val out = QualityOps.bm25(spark, Sf, terms, topK = 50)
      .select("doc_id", "dl", "tf_spark", "tf_join", "tf_window", "score")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out.size === 50)
    // corpus stats recomputed independently from the raw table
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .as[(Long, Seq[String])].collect()
    val nDocs = docs.length.toLong
    val sumDl = docs.map(_._2.length.toLong).sum
    val avgdl = sumDl.toDouble / nDocs
    val dfs = terms.map(q => q -> docs.count(_._2.contains(q)).toLong).toMap
    out.foreach { case (id, dl, tfS, tfJ, tfW, score) =>
      val expected = terms.zip(Seq(tfS, tfJ, tfW)).map { case (q, tf) =>
        val idf = math.log(1.0 + (nDocs - dfs(q) + 0.5) / (dfs(q) + 0.5))
        idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
      }.sum
      assert(math.abs(score - expected) < 1e-4, s"doc $id: $score vs $expected")
    }
    // scores are descending and every top-50 doc matched ≥1 term
    assert(out.map(_._6) === out.map(_._6).sorted.reverse)
    assert(out.forall { case (_, _, a, b, c, _) => a + b + c > 0 })
    // k1 = 0 degenerates to presence-only scoring: any two docs matching
    // the same SET of terms tie exactly, regardless of tf and length
    val flat = QualityOps.bm25(spark, Sf, terms, k1 = 0.0, topK = 50)
      .select("tf_spark", "tf_join", "tf_window", "score")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val bySet = flat.groupBy { case (a, b, c, _) => (a > 0, b > 0, c > 0) }
    bySet.foreach { case (set, rows) =>
      assert(rows.map(_._4).distinct.size === 1,
        s"k1=0 scores must collapse per matched-term set $set") }
  }

  test("token entropy: information-theoretic bounds and analytic fixtures") {
    val out = QualityOps.tokenEntropy(spark, Sf)
      .select("doc_id", "n_tokens", "n_distinct", "entropy", "keep")
      .as[(Long, Long, Long, Double, Boolean)].collect()
    assert(out.nonEmpty)
    // 0 ≤ H ≤ ln(n_distinct), with slack for the per-term 1e-6 decimal
    out.foreach { case (id, _, nd, e, _) =>
      assert(e >= -1e-6 && e <= math.log(nd.toDouble) + 1e-6, s"doc $id H=$e") }
    assert(out.exists(_._5) && out.exists(!_._5), "keep flag is non-degenerate")
    // analytic cases: one repeated token ⇒ H = 0; all-distinct ⇒ H = ln n
    val dir = java.nio.file.Files.createTempDirectory("graft-ent").toString
    Seq((1L, "x x x x", "en", "s0", 7L), (2L, "a b c d", "en", "s0", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = QualityOps.tokenEntropy(spark, dir)
      .select("doc_id", "entropy").as[(Long, Double)].collect().toMap
    assert(math.abs(m(1L)) < 1e-9)
    assert(math.abs(m(2L) - math.log(4.0)) < 1e-5)
  }

  test("length trim: histogram rank ≡ native percent_rank, ties share fate") {
    val out = QualityOps.lengthTrim(spark, Sf)
      .select("doc_id", "lang", "n_tokens", "pct", "keep")
      .as[(Long, String, Long, Double, Boolean)].collect().toSeq
    assert(out.nonEmpty)
    // the histogram-based rank must reproduce the corpus-window form it
    // replaces (same quantity, none of the per-lang serial pass)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("n_tokens")
    val direct = Tables.documents(spark, Sf)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("pct", percent_rank().over(w))
      .select("doc_id", "pct").as[(Long, Double)].collect().toMap
    out.foreach { case (id, _, _, p, _) =>
      assert(math.abs(p - direct(id)) < 1e-12, s"doc $id") }
    // a [0.1, 0.9] trim keeps ~80% of every language
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val kept = rows.count(_._5).toDouble / rows.size
      assert(kept >= 0.7 && kept <= 0.92, s"$lang keeps $kept") }
    // equal-length docs in one language always share a fate
    out.groupBy(r => (r._2, r._3)).foreach { case (key, rows) =>
      assert(rows.map(_._5).distinct.size === 1, s"tie group $key split") }
  }

  test("matryoshka: energy bounds and monotonicity, int8 range pinned to ±127") {
    val at16 = EmbeddingOps.matryoshka(spark, Sf)
      .select("vec_id", "d_full", "energy", "q_norm2", "q_max", "q_min")
      .as[(Long, Long, Double, Long, Long, Long)].collect()
    assert(at16.nonEmpty)
    at16.foreach { case (id, dFull, e, qn2, qMax, qMin) =>
      assert(dFull === 64L)
      assert(e > 0.0 && e <= 1.0 + 1e-9, s"vec $id energy $e")
      // symmetric int8: within range, and the max-|x| element quantizes
      // to exactly ±127 (the scale is defined by it)
      assert(qMax <= 127L && qMin >= -127L, s"vec $id out of int8 range")
      assert(qMax === 127L || qMin === -127L, s"vec $id extreme not pinned")
      assert(qn2 > 0L && qn2 <= 16L * 127L * 127L)
    }
    // a wider prefix can only retain MORE of the vector's energy, and
    // the full width retains all of it
    val e16 = at16.map(r => r._1 -> r._3).toMap
    val at32 = EmbeddingOps.matryoshka(spark, Sf, 32)
      .select("vec_id", "energy").as[(Long, Double)].collect()
    at32.foreach { case (id, e) => assert(e >= e16(id) - 1e-9, s"vec $id") }
    EmbeddingOps.matryoshka(spark, Sf, 64)
      .select("energy").as[Double].collect()
      .foreach(e => assert(math.abs(e - 1.0) < 1e-9))
  }

  test("incremental dedup: statuses derive from the pair graph; earlier-batch rule") {
    val out = PairGraph.incrementalDedup(spark, Sf)
      .select("doc_id", "status", "admitted")
      .as[(Long, String, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (_, st, adm) =>
      assert(Set("dup_existing", "dup_batch", "new").contains(st))
      assert(adm === (st == "new"))
    }
    assert(out.exists(_._2 == "dup_existing"), "planted cross-split pairs exist")
    // recompute every decision from the pair graph directly
    def inBatch(x: Long) = x % 10 >= 8
    val pairs = PairGraph.ngramJaccard(spark, Sf)
      .select("i", "j").as[(Long, Long)].collect()
    val partners = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    out.foreach { case (id, st, _) =>
      val ps = partners.getOrElse(id, Set.empty[Long])
      val expect =
        if (ps.exists(!inBatch(_))) "dup_existing"
        else if (ps.exists(p => inBatch(p) && p < id)) "dup_batch"
        else "new"
      assert(st === expect, s"doc $id")
    }
    // dup_batch (absent from the fixtures) on a synthetic delta: two
    // identical batch docs — the earlier doc_id wins, the later defers
    val dir = java.nio.file.Files.createTempDirectory("graft-incr").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", "s0", 10L),
      (18L, "one two three four five six seven", "en", "s0", 10L),
      (28L, "one two three four five six seven", "en", "s1", 10L),
      (38L, "totally different tokens in this document", "en", "s2", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = PairGraph.incrementalDedup(spark, dir)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(m(18L) === "new", "earliest batch copy is admitted")
    assert(m(28L) === "dup_batch", "later batch copy defers to the earlier one")
    assert(m(38L) === "new")
  }

  test("over-cap duplicate family: capped jaccard abstains, MinHash backstop catches it") {
    // a duplicate family LARGER than MaxShingleDf: every shared shingle
    // has df = 22 > 20, so capped candidate generation drops every pair
    // BY DESIGN (both engines — the oracle carries the same cap). The
    // documented recall backstop is the banded-MinHash path, whose band
    // signatures hash whole documents (unaffected by per-shingle df)
    // and whose exact verify runs over FULL shingle sets.
    val dir = java.nio.file.Files.createTempDirectory("graft-overcap").toString
    val family = (0L until 22L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta", "en", "s0", 10L))
    val others = Seq(
      (100L, "one two three four five six", "en", "s1", 10L),
      (101L, "seven eight nine ten eleven twelve", "en", "s1", 10L))
    (family ++ others).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(PairGraph.ngramJaccard(spark, dir).count() === 0L,
      "every shared shingle is over the DF cap — the capped plan abstains")
    val caught = PairGraph.minhashNearDup(spark, dir)
      .select("i", "j", "jac").as[(Long, Long, Double)].collect()
    assert(caught.length === 22 * 21 / 2,
      "identical docs band-collide regardless of shingle frequency")
    assert(caught.forall(_._3 === 1.0))
  }

  test("redact: counts and rewrites per pattern; zero-match pattern is a no-op") {
    // planted PII: the fixtures contain no emails, so exercise the
    // rewrite path on a synthetic corpus and the zero path on the real one
    val dir = java.nio.file.Files.createTempDirectory("graft-redact").toString
    Seq(
      (1L, "mail me at alice@example.com or bob@sub.example.org today", "en", "s0", 10L),
      (2L, "customer talks to supplier about the customer order", "en", "s0", 10L),
      (3L, "no sensitive content here", "en", "s1", 10L),
      // overlap: the email consumes the entity word — sequential counts
      // must report what each pattern ACTUALLY redacted (n_entity = 0)
      (4L, "customer@example.com writes the customer daily", "en", "s2", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = QualityOps.redact(spark, dir)
      .select("doc_id", "n_email", "n_entity", "redacted")
      .as[(Long, Int, Int, String)].collect().toSeq.sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._3)) ===
      Seq((1L, 2, 0), (2L, 0, 3), (3L, 0, 0), (4L, 1, 1)))
    assert(out(0)._4 === "mail me at <EMAIL> or <EMAIL> today")
    assert(out(1)._4 === "<ENT> talks to <ENT> about the <ENT> order")
    assert(out(2)._4 === "no sensitive content here")
    assert(out(3)._4 === "<EMAIL> writes the <ENT> daily")
    // real corpus: email never fires; length bookkeeping is consistent
    val real = QualityOps.redact(spark, Sf)
      .select("n_email", "redacted", "n_redacted_chars")
      .as[(Int, String, Int)].collect()
    assert(real.forall(_._1 === 0))
    assert(real.forall(r => r._2.length === r._3))
    assert(real.forall(r => !r._2.contains("customer") && !r._2.contains("supplier")))
  }

  test("decontam: rows ≡ a driver-side recompute of capped 5-gram overlap") {
    val out = QualityOps.decontamNgrams(spark, Sf)
      .select("doc_id", "n_shared_grams", "n_test_docs")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty, "planted near-dups straddle the hash split")
    // first-principles recompute: distinct 5-grams, md5 split, overlap
    val docs = Tables.documents(spark, Sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def md5bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 100
    }
    def grams(t: String): Set[String] =
      t.split(" ").sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
    val train = docs.filter(d => md5bucket(d._1) < 80).map(d => (d._1, grams(d._2)))
    val test = docs.filter(d => md5bucket(d._1) >= 90).map(d => (d._1, grams(d._2)))
    val testDf = test.flatMap(_._2).groupBy(identity).map { case (g, v) => g -> v.size }
    val cold = testDf.filter(_._2 <= PairGraph.MaxShingleDf).keySet
    val expect = train.flatMap { case (id, gs) =>
      val hits = test.filter { case (_, tg) => gs.exists(g => cold(g) && tg(g)) }
      val shared = gs.filter(g => cold(g) && test.exists(_._2(g)))
      if (hits.isEmpty) None else Some((id, shared.size.toLong, hits.size.toLong))
    }.sortBy(_._1).toSeq
    assert(out === expect)
  }

  test("dsir weights: target-language documents score higher on average") {
    val out = QualityOps.dsirWeights(spark, Sf)
      .select("doc_id", "n_bigrams", "weight")
      .as[(Long, Long, Double)].collect()
    val langs = Tables.documents(spark, Sf)
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(out.length === langs.size, "every document gets a weight")
    val (en, rest) = out.partition(r => langs(r._1) == "en")
    assert(en.nonEmpty && rest.nonEmpty)
    val enAvg = en.map(r => r._3 / r._2).sum / en.length
    val restAvg = rest.map(r => r._3 / r._2).sum / rest.length
    assert(enAvg > restAvg,
      s"per-bigram LLR must separate target from raw ($enAvg vs $restAvg)")
    // a second target language re-ranks: the op is not corpus-shaped
    val de = QualityOps.dsirWeights(spark, Sf, targetLang = "de")
      .select("doc_id", "n_bigrams", "weight").as[(Long, Long, Double)].collect()
    val (deT, deR) = de.partition(r => langs(r._1) == "de")
    assert(deT.map(r => r._3 / r._2).sum / deT.length >
      deR.map(r => r._3 / r._2).sum / deR.length)
  }

  test("importance sample: per-shard take size, selection bias, frac monotone") {
    val all = QualityOps.dsirWeights(spark, Sf)
      .select("doc_id", "weight").as[(Long, Double)].collect().toMap
    val sampled = SamplingOps.importanceSample(spark, Sf)
      .select("doc_id", "bucket", "weight", "key")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(sampled.nonEmpty)
    // per-bucket size is exactly ⌈frac·n_b⌉ of that bucket's documents
    def bucketOf(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$id".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 16
    }
    val nB = all.keys.groupBy(bucketOf).view.mapValues(_.size).toMap
    val taken = sampled.groupBy(_._2).view.mapValues(_.size).toMap
    taken.foreach { case (b, n) =>
      assert(n === math.ceil(nB(b) * 0.25).toInt, s"bucket $b take size")
    }
    // Gumbel-top-k bias: the sample's mean weight exceeds the corpus mean
    val sampleMean = sampled.map(r => all(r._1)).sum / sampled.size
    val corpusMean = all.values.sum / all.size
    assert(sampleMean > corpusMean,
      s"selection must bias toward high weights ($sampleMean vs $corpusMean)")
    // larger frac is a superset: same per-bucket ordering, deeper take
    val wider = SamplingOps.importanceSample(spark, Sf, frac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(sampled.map(_._1).toSet.subsetOf(wider))
    // the auto default (nShards=0) resolves to max(16, ⌈n/250k⌉) = 16
    // at this scale — identical to an explicit 16
    val explicit16 = SamplingOps.importanceSample(spark, Sf, nShards = 16)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toSet
    assert(sampled.map(r => (r._1, r._2)).toSet === explicit16)
    // the shard-width knob preserves the stratified-draw law at any
    // width: at 64 shards every bucket still takes exactly ⌈frac·n_b⌉
    // of ITS documents (strata differ, the law doesn't)
    val at64 = SamplingOps.importanceSample(spark, Sf, nShards = 64)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toSeq
    def bucket64(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$id".getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val nB64 = all.keys.groupBy(bucket64).view.mapValues(_.size).toMap
    at64.groupBy(_._2).foreach { case (b, rows) =>
      assert(rows.size === math.ceil(nB64(b) * 0.25).toInt,
        s"bucket $b take size at 64 shards")
    }
  }

  test("tombstone purge: manifest arithmetic, compaction drops exactly the tombstones") {
    val rows = DedupOps.tombstonePurge(spark, Sf)
      .select("store", "n_before", "n_purged", "n_after")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) === Seq("documents", "embeddings", "fingerprints"))
    rows.foreach { case (st, before, purged, after) =>
      assert(before === purged + after, st)
      assert(purged > 0, s"$st: the every-17th tombstone rule must fire")
    }
    // documents row against a direct recompute
    val docs = Tables.documents(spark, Sf)
    val nDoc = docs.count()
    val nTomb = docs.filter(pmod(col("doc_id"), lit(17L)) === 0).count()
    assert(rows.find(_._1 == "documents").get === (("documents", nDoc, nTomb, nDoc - nTomb)))
    // the manifest's shuffle-free fingerprint count ≡ the real store
    assert(rows.find(_._1 == "fingerprints").get._2 ===
      PairGraph.fingerprint(spark, Sf).count())
    // the compaction itself: no tombstoned id survives, counts agree,
    // and the derived store stays referentially consistent
    val kept = DedupOps.purgeDocStore(docs, 17).select("doc_id").as[Long].collect().toSet
    assert(kept.forall(_ % 17 != 0) && kept.size.toLong === nDoc - nTomb)
    val fpKept = DedupOps.purgeDocStore(PairGraph.fingerprint(spark, Sf), 17)
      .select("doc_id").as[Long].collect().toSet
    assert(fpKept.subsetOf(kept), "derived store must not reference purged docs")
  }

  test("semdedup: planted near-identical vectors collapse to the senior copy") {
    val base = (0 until 64).map(j => math.sin(j * 1.7) + 1.5) // one direction
    val noisy = base.zipWithIndex.map { case (x, j) => x + 1e-4 * math.cos(j) }
    val scaled = base.map(_ * 1.5)                            // cos = 1 exactly
    val ortho = (0 until 64).map(j => if (j % 2 == 0) 1.0 else -1.0)
    val e = Seq((0L, base), (1L, noisy), (2L, scaled), (3L, ortho))
      .toDF("vec_id", "v")
    val out = EmbeddingOps.semdedupOver(e, tau = 0.95, nBits = 4, table = 7)
      .select("vec_id", "kept_id", "sim").as[(Long, Long, Double)].collect().toSeq
    assert(out.map(r => (r._1, r._2)) === Seq((1L, 0L), (2L, 0L)),
      s"copies drop to vec 0, the orthogonal vector survives: $out")
    assert(out.forall(_._3 >= 0.95))
  }

  test("d55 semantic contamination: planted cross-split near-identicals leak, argmax tie keeps the smallest train id") {
    val base = (0 until 64).map(j => math.sin(j * 1.7) + 1.5)
    val ortho = (0 until 64).map(j => if (j % 2 == 0) 1.0 else -1.0)
    val e = Seq(
      (0L, base, "train"),                  // senior train copy
      (1L, base.map(_ * 2.0), "train"),     // junior train copy, cos = 1 with 0
      (100L, base.map(_ * 1.5), "val"),     // leaked eval doc (cos = 1 with BOTH)
      (102L, ortho, "test"))                // clean eval doc
      .toDF("vec_id", "v", "split")
    val out = EmbeddingOps.semanticContaminationOver(e, tau = 0.95, nBits = 4, table = 9)
      .as[(Long, String, Long, Double)].collect().toSeq
    // one row per leaked eval vector; the round4 sim tie (1.0 vs both
    // train copies) resolves to the SMALLEST train id; the orthogonal
    // test doc and the train↔train pair never appear
    assert(out === Seq((100L, "val", 0L, 1.0)), s"got $out")
  }

  test("d55 on the corpus: every reported neighbor is train-side, best-of-bucket, above τ") {
    val out = EmbeddingOps.semanticContamination(spark, Sf)
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out.nonEmpty, "isotropic fixtures still have τ=0.32 cross-split bucket pairs")
    def bucket(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    def split(id: Long): String =
      if (bucket(id) < 80) "train" else if (bucket(id) < 90) "val" else "test"
    out.foreach { case (v, sp, t, sim) =>
      assert(sp === split(v) && sp != "train", s"eval side mislabeled: $v")
      assert(split(t) === "train", s"neighbor $t not in train")
      assert(sim >= 0.32)
    }
    assert(out.map(_._1).distinct.size === out.size, "one row per eval vector")
  }

  test("semdedup on the corpus ≡ a driver-side recompute of the bucketed rule") {
    val out = EmbeddingOps.semdedup(spark, Sf)
      .select("vec_id", "kept_id", "sim").as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.nonEmpty, "isotropic fixtures still have τ=0.40 bucket pairs")
    val vecs = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    def sig(v: Seq[Double]): Int = (0 until 4).map { p =>
      val dot = v.indices.map(j => v(j) * EmbeddingOps.planeComp(7, p, j)).sum
      if (dot > 0) 1 << p else 0
    }.sum
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byBucket = vecs.groupBy(v => sig(v._2))
    val expect = byBucket.values.flatMap { mem =>
      val sorted = mem.sortBy(_._1)
      for {
        jIdx <- sorted.indices
        hit = sorted.take(jIdx)
          .map(i => (i._1, r4(cos(i._2, sorted(jIdx)._2))))
          .find(_._2 >= 0.40)
        h <- hit
      } yield (sorted(jIdx)._1, h._1, h._2)
    }.toSeq.sortBy(_._1)
    assert(out === expect)
  }

  test("d38 soft dedup: each duplicate family carries exactly unit mass") {
    val out = DedupOps.dupWeights(spark, dupDir)
      .select("doc_id", "n_copies", "weight")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out === Seq((3L, 3L, 1.0 / 3), (5L, 1L, 1.0), (7L, 3L, 1.0 / 3),
      (10L, 3L, 1.0 / 3)))
    // family mass: weights within a family sum to one document's worth
    // (m × (1/m) — exact for the binary-representable 1/1, and within
    // one ulp-fold otherwise); total mass = number of families (d01)
    val families = DedupOps.exactDedup(spark, dupDir).count()
    assert(math.abs(out.map(_._3).sum - families) < 1e-12)
  }

  /** Planted cross-corpus fixture for the bloom gate: history is
    * doc_id mod 10 < 8, batch is mod 10 ≥ 8 (the d30 convention). */
  private lazy val bloomDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    Seq(
      (1L, "alpha beta gamma", "en", "s0", 5L),  // history
      (2L, "x y z", "en", "s0", 5L),             // history
      (3L, "caf\u00e9 au lait", "en", "s0", 3L), // history: NFC composed é
      (8L, "alpha  BETA gamma ", "en", "s1", 5L), // batch: dup after norm
      (9L, "x y z", "en", "s1", 5L),             // batch: exact dup
      (18L, "fresh unseen doc", "en", "s1", 5L), // batch: genuinely new
      (19L, "cafe\u0301 au lait", "en", "s1", 3L)) // batch: NFD decomposed —
      // a dup of 3 ONLY under the d01 NFC identity (round-11 advice:
      // the gate's SQL once hashed the pre-NFC identity and the drift
      // was latent on the all-ASCII fixture corpus)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d39 bloom gate: exact membership after verify, gate in the plan") {
    val df = DedupOps.bloomGate(spark, bloomDir)
    // the bloom predicate must actually be in the executed plan (the
    // scan-time gate, not optimized away)
    assert(df.queryExecution.executedPlan.toString.contains("might_contain"))
    val out = df.as[(Long, Boolean)].collect().toSeq
    assert(out === Seq((8L, true), (9L, true), (18L, false), (19L, true)))
    // on the real corpus the result must equal the exact (bloom-free)
    // membership recompute — bloom false positives are closed by the
    // verify join, false negatives are impossible by construction
    def norm(c: org.apache.spark.sql.Column) =
      lower(trim(regexp_replace(
        call_function("nfc_normalize", c), "\\s+", " ")))
    val docs = Tables.documents(spark, Sf)
      .select(col("doc_id"), norm(col("text")).as("n"))
    val histSet = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
      .select("n").distinct().withColumn("hit", lit(true))
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
    val expect = batch.join(histSet, Seq("n"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("dup"))
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    val got = DedupOps.bloomGate(spark, Sf).as[(Long, Boolean)].collect().toSeq
    assert(got === expect)
  }

  test("d50 distributed ntile ≡ Spark's global ntile window, k=3 and k=7") {
    // the whole point of d50 is computing NTILE without the global
    // window — so the global window IS the executable spec. k=7 forces
    // the uneven split (500 % 7 ≠ 0): big tiles first, sizes differ ≤1.
    import org.apache.spark.sql.expressions.Window
    for (k <- Seq(3, 7)) {
      val got = QualityOps.perplexityBuckets(spark, Sf, k)
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      val exp = QualityOps.bigramLm(spark, Sf)
        .select(col("doc_id"), col("avg_logp"))
        .withColumn("bucket", ntile(k).over(
          Window.orderBy(col("avg_logp").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
      assert(got === exp, s"k=$k")
      val sizes = got.groupBy(_._2).view.mapValues(_.size).values.toSet
      assert(sizes.max - sizes.min <= 1, s"k=$k tile sizes $sizes")
    }
    // band labels follow the bucket: 1 = head (most fluent), 3 = tail
    val bands = QualityOps.perplexityBuckets(spark, Sf)
      .select("bucket", "band").distinct().as[(Long, String)].collect().toMap
    assert(bands === Map(1L -> "head", 2L -> "middle", 3L -> "tail"))
  }

  test("d51 novelty: unique doc scores 1, copy scores 0, half-overlap 0.5") {
    val dir = java.nio.file.Files.createTempDirectory("graft-novel").toString
    Seq(
      (1L, "a b c d", "en", "s", 0L),   // owns {a b c, b c d} → 1.0
      (2L, "a b c d", "en", "s", 0L),   // exact copy → both owned by 1 → 0.0
      (3L, "b c d e", "en", "s", 0L),   // {b c d (doc 1's), c d e (new)} → 0.5
      (4L, "x y", "en", "s", 0L))       // <3 tokens → no shingles → absent
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = QualityOps.gramNovelty(spark, dir)
      .select("doc_id", "n_shingles", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 2L, 1.0), (2L, 2L, 0L, 0.0),
      (3L, 2L, 1L, 0.5)))
  }

  test("d52 ensemble: each rule fires independently; bitmask composes; boundaries inclusive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ensemble").toString
    val clean = ('a' to 'o').map(c => c.toString * 4).mkString(" ") // 15×len-4
    Seq(
      // mean len EXACTLY 4.0 (sl·10 == n·40) and 15 ≥ 12: all pass
      (1L, clean, "en", "s", 0L),
      // 3 tokens: r_len fails; max share 1/3 > 20%: r_maxshare fails → 1+4
      (2L, "aaaa bbbb cccc", "en", "s", 0L),
      // 12 len-10 tokens: only r_wordlen fails (mean 10) → 2
      (3L, (1 to 12).map(i => f"t$i%02d" + "x" * 7).mkString(" "), "en", "s", 0L),
      // one token repeated 20×: share 100%, distinct 5% → 4+8
      (4L, Seq.fill(20)("spam").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = QualityOps.qualityEnsemble(spark, dir)
      .select("doc_id", "reasons", "keep").as[(Long, Long, Boolean)]
      .collect().toSeq
    assert(got === Seq((1L, 0L, true), (2L, 5L, false), (3L, 2L, false),
      (4L, 12L, false)))
  }

  test("d54 filter agreement: cells partition the corpus, shares sum to 1") {
    val rows = QualityOps.filterAgreement(spark, Sf)
      .select("model_keep", "rules_keep", "n", "share")
      .as[(Boolean, Boolean, Long, Double)].collect().toSeq
    assert(rows.nonEmpty && rows.size <= 4)
    val nDocs = Tables.documents(spark, Sf).count()
    assert(rows.map(_._3).sum === nDocs, "cells must partition the corpus")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    // cells agree with the registered scorers joined directly
    val m = QualityOps.qualityClassifier(spark, Sf).select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toMap
    val r = QualityOps.qualityEnsemble(spark, Sf).select("doc_id", "keep")
      .as[(Long, Boolean)].collect().toMap
    val want = m.keys.toSeq.map(k => (m(k), r(k))).groupBy(identity)
      .map { case (cell, xs) => cell -> xs.size.toLong }
    assert(rows.map(x => (x._1, x._2) -> x._3).toMap === want)
  }

  test("d53 keep-best: one winner per cluster, winner maximizes (score, -doc_id)") {
    val rows = DedupOps.clusterKeepBest(spark, Sf)
      .select("doc_id", "cluster_id", "cluster_size", "quality_score", "keep_id", "kept")
      .as[(Long, Long, Long, Double, Long, Boolean)].collect().toSeq
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    // coverage: the fixture corpus must contain at least one real
    // multi-member family, or the keep rule is never exercised
    assert(byCluster.exists(_._2.size > 1), "need a multi-member cluster")
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._6) === 1, s"cluster $cid must keep exactly one")
      val winner = members.maxBy(m => (m._4, -m._1))
      assert(members.forall(_._5 === winner._1),
        s"cluster $cid keep_id must be the (score desc, id asc) argmax")
      assert(winner._6, s"cluster $cid winner must carry kept=true")
      assert(members.forall(_._3 === members.size.toLong))
    }
  }
}
