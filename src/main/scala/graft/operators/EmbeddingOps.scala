package graft.operators

import graft.{Canon, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The EMBEDDING family (E20): brute-force and ANN similarity search,
  * embedding near-dup, semantic dedup/contamination, quantization and
  * matryoshka truncation. Split out of the original LlmOps module
  * (round 11). Scale posture: bucketed (sign-plane / IVF-centroid)
  * equi-joins with exact verify; argmax via map-side-combining max_by,
  * never a rank window. */
object EmbeddingOps {
  import Canon._
  import LlmOps._
  import PairGraph._
  import DedupOps._
  import QualityOps._
  import SamplingOps._


  /** Cosine similarity of two ARRAY<DOUBLE> columns — the native codegen
    * expression [[graft.functions.CosineSimilarity]] (same in-order
    * accumulation as an `aggregate(zip_with(...))` fold and DuckDB's
    * `list_inner_product`, so oracle hashes are unaffected; ~3× faster
    * on the pair-join hot path because it stays in whole-stage codegen). */
  private[operators] def cosine(a: Column, b: Column): Column =
    call_function(graft.functions.CosineSimilarity.Name, a, b)

  /** d59 — deterministic distributed K-MEANS over the embedding corpus:
    * the clustering primitive the curation stack was missing — real
    * SemDeDup clusters FIRST and dedups within clusters (d35's
    * sign-bucket is the cheap approximation), domain-mixture analysis
    * labels every document with its cluster, and cluster balance feeds
    * sampling weights. Lloyd's algorithm, made exactly reproducible
    * cross-engine:
    *
    *  - the k·dim centroid table is a tiny MODEL, so every round
    *    collects it and broadcasts it back as a k-row table (the
    *    small-side broadcast of "MapReduce Algorithms for Big Data
    *    Analysis", VLDB 2012): assignment is one dim-term distance
    *    expression per (vector, centroid) row — no join on `dim`, no
    *    explode — and the DuckDB oracle unrolls the same iterations as
    *    per-dimension CTEs, so it covers the whole iteration, not just
    *    the final labels;
    *  - the squared-distance contribution of each dimension is
    *    DECIMAL(30,6)-canonicalized BEFORE summation (the [[graft.Canon]]
    *    discipline): the per-vector distance is an exact,
    *    order-independent decimal — double summation would be
    *    partial-aggregation-order-dependent and could flip an argmin
    *    near a tie;
    *  - assignment ties break on cluster id; seeds are the k smallest
    *    vec_ids; iteration count is FIXED ([[KmeansIters]]) — a convergence test
    *    would make the iteration count data-dependent and the oracle
    *    unmirrorable;
    *  - a centroid that loses all members simply vanishes (k shrinks) —
    *    deterministic in both engines;
    *  - a null or zero-length embedding has no distance to anything: it
    *    takes no label and never seeds (the oracle's unnest drops it).
    *
    * Scale: per iteration, one broadcast cross join of the corpus with
    * the k-row centroid table (n·k distance rows, codegen'd), the argmin
    * as a min-of-struct AGGREGATE per vector (never a corpus-keyed
    * window), and one k-row mean aggregate collected as the next model.
    * Work per iteration is O(n·k·dim) arithmetic, embarrassingly
    * parallel; the corpus only ever shuffles by vec_id. */
  val KmeansK = 8
  val KmeansIters = 3

  def kmeans(s: SparkSession, d: String): DataFrame =
    // a label-store CONSUMER: one output-sized parquet scan + a k-row
    // aggregate; the labeler runs in the d61 publisher (the exact
    // decimal dist2 keeps the rollup bit-identical to [[kmeansOver]])
    kmeansRollup(LabelStore.read(s, d))

  /** [[kmeans]] over an explicit (vec_id, embedding) frame —
    * package-visible for the planted-cluster and determinism specs. */
  private[graft] def kmeansOver(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansRollup(kmeansLabels(emb, k, iters))

  /** The d59 per-cluster rollup over a (vec_id, cid, dist2) label frame
    * — live labeler output and the published d61 store share it. */
  private def kmeansRollup(labels: DataFrame): DataFrame =
    labels
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"),
        sum(col("dist2")).cast("double").as("inertia"))
      .select(col("cid").as("cluster_id"), col("n_vecs"), col("min_vec"),
        col("inertia"))
      .orderBy("cluster_id")

  /** The per-vector final assignment (vec_id, cid, dist2) behind
    * [[kmeansOver]] — the labeling surface [[clusterSemdedup]] (d60)
    * composes with; split out so the cluster-scoped consumers share
    * the exact iteration chain the d59 oracle unrolls. */
  private[graft] def kmeansLabels(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val ea = persistCorpus(arraysOf(emb))
    assignArr(ea, kmeansModel(ea, k, iters)).drop("m")
  }

  /** The Lloyd-refined centroid RELATION (cid, dim, c) behind
    * [[kmeansLabels]] — what s18 trains ONCE on its reference batch,
    * publishes, and freezes. */
  private[graft] def lloydCentroids(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val ea = persistCorpus(arraysOf(emb))
    try kmeansModel(ea, k, iters).flatMap { case (_, cid, cv) =>
      cv.zipWithIndex.map { case (c, i) => (cid, i, c) }
    }.toDF("cid", "dim", "c")
    finally ea.unpersist(blocking = false)
  }

  /** New vectors of a (vec_id, embedding) frame against a published
    * (cid, dim, c) centroid relation — the s18 admission path. */
  private[graft] def assignEmbeddings(emb: DataFrame, c: DataFrame): DataFrame =
    assignToCentroids(arraysOf(emb), c)

  /** [[assignEmbeddings]] against the frozen (cid, dim, c) centroid
    * table published at `dir`, collected once per publish
    * ([[Sources.readFrozen]]) — the s18 admission path. */
  private[graft] def assignFrozen(emb: DataFrame, dir: String): DataFrame =
    assignArr(arraysOf(emb), Sources.readFrozen(emb.sparkSession, dir,
      "kmeans-centroid-collect")(collectModel(_, "kmeans-centroid-collect")))
      .drop("m")

  /** An array frame (vec_id, v) against a (cid, dim, c) centroid
    * relation: (vec_id, cid, dist2). */
  private[graft] def assignToCentroids(ea: DataFrame, c: DataFrame): DataFrame =
    assignArr(ea, collectModel(c, "kmeans-centroid-collect")).drop("m")

  // ——— the ONE assignment kernel and Lloyd loop of k-means and PQ ———
  //
  // A model is a set of (m, cid, c) centroids: sub-space m of a vector
  // covers positions m·w … m·w+w−1 (w = the centroid width). k-means is
  // the single sub-space m = 0 with w = dim; PQ splits the vector into m
  // sub-spaces and trains all codebooks in one chain, because keying the
  // argmin and the mean by m computes the same per-sub-space answers as
  // m separate k-means runs (LlmOpsSpec pins it).

  /** (sub-space m, cid, centroid slice) — see the kernel note above. */
  private type Model = Seq[(Int, Long, Array[Double])]

  /** (vec_id, v: array<double>) of a (vec_id, embedding) frame. */
  private def arraysOf(emb: DataFrame): DataFrame =
    usable(emb.select(col("vec_id"), asDouble(col("embedding")).as("v")))

  /** Drops null and zero-length vectors — they have no distance to any
    * centroid, so they get no label and must never seed. */
  private def usable(ea: DataFrame): DataFrame = ea.filter(size(col("v")) > 0)

  /** Assignment of an array frame (vec_id, v) to an in-memory model:
    * (vec_id, m, cid, dist2), argmin by (dist2, cid) per (vector,
    * sub-space). The model broadcasts as a |model|-row table and dist²
    * is ONE w-term decimal expression per (vector, centroid) row, each
    * term dec((v_i − c_i)²): decimal addition is exact, so the distance
    * equals the oracle's per-dimension SUM whatever the order. (Inlining
    * all k distance chains into one projection blew Janino's 64 KB
    * method limit and the stage fell back to INTERPRETED; one chain per
    * row compiles.) An empty model gives empty labels. */
  private def assignArr(ea: DataFrame, model: Model): DataFrame = {
    val s = ea.sparkSession
    import s.implicits._
    if (model.isEmpty)
      return ea.select(col("vec_id"), lit(0).as("m"), col("vec_id").as("cid"),
        lit(java.math.BigDecimal.ZERO).cast("decimal(38,6)").as("dist2"))
        .limit(0)
    val tbl = model.map { case (mi, cid, cv) => (mi, cid, cv.toSeq) }
      .toDF("m", "cid", "carr")
    val d2 = model.head._3.indices.map { i =>
      val d = element_at(col("v"), pos(model, i)) - element_at(col("carr"), i + 1)
      dec(d * d)
    }.reduceLeft(_ + _)
    // one sub-space (k-means) argmins per vector alone: the output then
    // stays hash-partitioned by vec_id, so vec_id-keyed consumers (the
    // Lloyd join, s18's dedup) add no shuffle; m rides the struct
    val keys = if (subspaced(model)) Seq("vec_id", "m") else Seq("vec_id")
    ea.crossJoin(broadcast(tbl))
      .select(col("vec_id"), col("m"), col("cid"), d2.as("dist2"))
      .groupBy(keys.map(col): _*)
      .agg(min(struct(col("dist2"), col("cid"), col("m"))).as("w"))
      .select(col("vec_id"), col("w.m").as("m"), col("w.cid").as("cid"),
        col("w.dist2").as("dist2"))
  }

  /** Whether a model spans several sub-spaces (PQ). */
  private def subspaced(model: Model): Boolean =
    model.exists(_._1 != model.head._1)

  /** The 1-based position in v of element i of a model's centroids. A
    * single sub-space (k-means) gets a literal: the per-row `m` offset
    * made a 2-vector s18 admission ~15–20% slower on a 4-CPU host, a
    * fixed per-query cost, not a per-row one. */
  private def pos(model: Model, i: Int): Column = {
    val w = model.head._3.length
    if (subspaced(model)) col("m") * w + (i + 1) else lit(model.head._1 * w + i + 1)
  }

  /** Per-position decimal means sum(dec(x)) / count of `w` positions of
    * v — the centroid update of every Lloyd loop, as w parallel
    * aggregate columns. */
  private def meanCols(w: Int)(pos: Int => Column): Seq[Column] =
    (0 until w).map(i =>
      (dsum(element_at(col("v"), pos(i))) / count(lit(1))).as(s"c$i"))

  /** `iters` Lloyd rounds from `seeds`: [[assignArr]] against the current
    * model, then the per-(m, cid) decimal mean, whose |model|-row result
    * is collected as the next model — one job per round, labeled
    * `label`. A centroid that loses all members drops out. */
  private def lloyd(ea: DataFrame, seeds: Model, iters: Int,
      label: String): Model = {
    var model = seeds
    for (_ <- 1 to iters if model.nonEmpty) {
      val w = model.head._3.length
      val means = meanCols(w)(pos(model, _))
      val asg = assignArr(ea, model).select("vec_id", "m", "cid")
      val rows = Sources.labeled(ea.sparkSession, label) {
        ea.join(asg, "vec_id").groupBy("m", "cid")
          .agg(means.head, means.tail: _*).collect() }
      model = rows.toSeq.map(r => (r.getInt(0), r.getLong(1),
        Array.tabulate(w)(i => r.getDouble(i + 2)))).sortBy(c => (c._1, c._2))
    }
    model
  }

  /** Seeds from whole (vec_id, v) rows: vector id becomes the cid of its
    * `w`-wide slice in each of `m` sub-spaces. */
  private def seedModel(rows: Seq[Row], m: Int, w: Int): Model =
    rows.flatMap { r =>
      val v = r.getSeq[Double](1).toArray
      (0 until m).map(mi => (mi, r.getLong(0), v.slice(mi * w, (mi + 1) * w)))
    }.sortBy(c => (c._1, c._2))

  /** Whole-vector seeds (m = 0, w = dim of the first row). */
  private def vectorSeeds(rows: Seq[Row]): Model =
    seedModel(rows, 1, rows.headOption.fold(0)(_.getSeq[Double](1).length))

  /** The d59 model over a [[usable]] array frame, seeded with the k
    * smallest vec_ids — arbitrary but oracle-mirrorable (the DuckDB
    * CTEs pin the same k ids). */
  private def kmeansModel(ea: DataFrame, k: Int, iters: Int): Model =
    lloyd(ea, vectorSeeds(ea.orderBy("vec_id").limit(k).collect().toSeq),
      iters, "kmeans-lloyd-round")

  /** Collects a model RELATION — a (cid, dim, c) centroid table (the
    * single sub-space 0) or an (m, cid, dim, c) codebook — into the
    * in-memory [[Model]], one job labeled `label`. Refuses, naming the
    * centroid, a relation whose dims are not exactly 0 … w−1 for every
    * (m, cid), or whose centroid widths differ. */
  private def collectModel(c: DataFrame, label: String): Model = {
    val mCol = if (c.columns.contains("m")) col("m").cast("int") else lit(0)
    val rows = Sources.labeled(c.sparkSession, label) {
      c.select(mCol, col("cid").cast("long"), col("dim").cast("int"),
        col("c").cast("double")).collect() }
    val model = rows.toSeq.groupBy(r => (r.getInt(0), r.getLong(1))).toSeq
      .sortBy(_._1)
      .map { case ((mi, cid), rs) =>
        val dims = rs.map(_.getInt(2)).sorted
        require(dims == dims.indices,
          s"model row set for cid=$cid (sub-space $mi) has dims " +
            s"${dims.mkString("[", ",", "]")}, not 0..${dims.size - 1}")
        (mi, cid, rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toArray)
      }
    model.find(_._3.length != model.head._3.length).foreach { case (mi, cid, cv) =>
      throw new IllegalArgumentException(
        s"model row set for cid=$cid (sub-space $mi) is ${cv.length} wide, " +
          s"not ${model.head._3.length} like cid=${model.head._2}")
    }
    model
  }

  /** d60 — CLUSTER-scoped semantic dedup: what the SemDeDup paper
    * actually does. d35 approximates the "compare only nearby vectors"
    * step with hyperplane sign buckets — cheap, but a near-identical
    * pair STRADDLING one hyperplane lands in different buckets and is
    * structurally missed. Real SemDeDup clusters the corpus FIRST
    * (k-means, here the d59 labeler — the exact iteration chain the
    * d59 oracle unrolls) and verifies pairs WITHIN each cluster:
    * Lloyd assignment has no bucket boundary through a tight pair —
    * both members sit nearest the same centroid.
    *
    * Same decision row as d35 (drop doc j, blame kept_id i, evidence
    * sim) plus the cluster that scoped the comparison; kept set = rows
    * absent from the output. Seniority-dominance keep rule, computed as
    * a min-of-(i, sim) struct AGGREGATE per dropped doc — map-side
    * combining, never a rank window (the d53 rule; d35's row_number
    * formulation predates it and stays as the contrast).
    *
    * Scale: candidate generation is an equi-join on the cluster label —
    * never all-pairs; within-cluster volume is Σ|c|²/2, bounded by
    * sizing k to the corpus (k ≈ n / target-cluster-size keeps |c|
    * constant as n grows — the SemDeDup paper runs k in the tens of
    * thousands at web scale), and one hot cluster is an AQE skew-join
    * split, not a straggler. The labeler itself is d59's O(n·k·dim)
    * per-iteration chain with broadcast centroids. */
  def clusterSemdedup(s: SparkSession, d: String, tau: Double = 0.40): DataFrame = {
    val e0 = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // production read path: the d59 labeler publishes ONCE per corpus
    // through the d61 store and every cluster-scoped consumer scans the
    // published (vec_id, cid) parquet
    clusterSemdedupWith(e0,
      LabelStore.read(s, d).select(col("vec_id"), col("cid")), tau)
  }

  /** The d59 labeler over the registry corpus — the relation [[LabelStore]]
    * publishes and [[kmeans]] rolls up. */
  private[graft] def kmeansLabelsFor(s: SparkSession, d: String): DataFrame =
    kmeansLabels(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      KmeansK, KmeansIters)

  /** [[clusterSemdedup]] over an explicit (vec_id, v: array<double>)
    * table — package-visible so the spec can plant a near-identical
    * pair that straddles a d35 hyperplane (different sign buckets) yet
    * shares a d59 cluster: caught here, missed by [[semdedupOver]]. */
  private[graft] def clusterSemdedupOver(e0: DataFrame, tau: Double,
      k: Int, iters: Int): DataFrame =
    clusterSemdedupWith(e0,
      kmeansLabels(e0.select(col("vec_id"), col("v").as("embedding")),
        k, iters).select(col("vec_id"), col("cid")), tau)

  /** The d60 verify stage over an explicit (vec_id, cid) label frame —
    * the shape both the store-fed and re-deriving paths share. */
  private def clusterSemdedupWith(e0: DataFrame, lbl: DataFrame,
      tau: Double): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(e0.sparkSession)
    val e = persistCorpus(e0.join(lbl, "vec_id"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        col("a.cid").as("cid"), round4(cosine(col("a.v"), col("b.v"))).as("sim"))
      .filter(col("sim") >= tau)
    // j sits in exactly one cluster, so cid is constant within the
    // group and rides the struct for free
    pairs.groupBy(col("j"))
      .agg(min(struct(col("i"), col("sim"), col("cid"))).as("w"))
      .select(col("j").as("vec_id"), col("w.i").as("kept_id"),
        col("w.sim").as("sim"), col("w.cid").as("cluster_id"))
      .orderBy("vec_id")
  }

  /** Component j of deterministic random hyperplane (t, p) — splitmix64
    * over the (table, plane, component) index, mapped to [-1, 1]. Shared
    * by [[annLsh]] and [[semdedupOver]] (distinct table ids keep their
    * plane families independent), and by the d35 oracle SQL, which
    * inlines the same values as literal arrays so DuckDB buckets
    * identically. No RNG state — reproducible across runs and executors. */

  private[graft] def planeComp(t: Int, p: Int, j: Int): Double = {
    var z = (t * 1000003L + p * 64L + j) + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    ((z ^ (z >>> 31)) & 0xffffffL).toDouble / 0x7fffffL.toDouble - 1.0
  }

  // native elementwise Cast (codegen), not transform(_.cast) — the HOF
  // lambda runs interpreted per element (same trap as the cosine fold).

  private[operators] def asDouble(c: Column): Column = c.cast("array<double>")

  /** E20 — brute-force cosine top-k against a query vector (vec_id 0).
    *
    * The query vector is a 1-row broadcast; similarity is evaluated in
    * the scan (no shuffle of the vectors), and `orderBy.limit` plans
    * TakeOrderedAndProject — per-partition top-k, driver merges
    * k×partitions rows. That is the correct 100 TB baseline; the
    * sub-linear path is [[annLsh]]. */

  def cosineTopK(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val e = Tables.embeddings(s, d).select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("q"))
    e.crossJoin(broadcast(q))
      .select(col("vec_id"), round4(cosine(col("v"), col("q"))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id").asc)
      .limit(20)
  }

  /** E20b — embedding near-dup: top-20 most-similar same-label pairs.
    * Label blocking is the IVF idea with given cluster ids: the join key
    * is the label, so candidate pairs scale with Σ cluster² not n². */

  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        col("a.label").cast("long").as("label"),
        round4(cosine(col("a.v"), col("b.v"))).as("sim"))
      .orderBy(col("sim").desc, col("i").asc, col("j").asc)
      .limit(20)
  }

  /** E20c — random-hyperplane LSH ANN: the sub-linear scale path.
    *
    * 4 independent hash tables × 6 sign-bits each; hyperplane components
    * are derived from `xxhash64(table, plane, dim)` (deterministic — no
    * RNG state, reproducible across runs and executors). Candidates =
    * vectors sharing any table bucket with the query side; output = best
    * candidate neighbor per query (vec_id < 10 as the query set). No SQL
    * oracle (bucket recall is probabilistic by design); LlmOpsSpec
    * asserts every reported (i,j,sim) matches the brute-force cosine and
    * that candidates really share a bucket. */

  def annLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val nTables = 4
    val nBits = 6
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // signature per (vector, table): pack sign bits of hyperplane dots.
    // Hyperplanes are splitmix64-derived literal arrays (deterministic,
    // no RNG state) so each dot is one codegen'd array_dot over a
    // constant — not an interpreted per-element hash+multiply fold.
    val planes = (0 until nTables).map { t =>
      val bits = (0 until nBits).map { p =>
        val plane = typedLit((0 until 64).map(j => planeComp(t, p, j)))
        val dot = call_function(graft.functions.ArrayDotProduct.Name,
          col("v"), plane)
        when(dot > 0, shiftleft(lit(1), p)).otherwise(0)
      }.reduce(_ + _)
      struct(lit(t).as("table"), bits.as("sig"))
    }
    val buckets = e.select(col("vec_id"), col("v"),
        explode(array(planes: _*)).as("tb"))
      .select(col("vec_id"), col("v"), col("tb.table").as("t"), col("tb.sig").as("sig"))
    val queries = buckets.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("t"), col("sig"))
    val cand = queries.join(buckets, Seq("t", "sig"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round4(cosine(col("qv"), col("v"))).as("sim"))
      .distinct()
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("nid").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nid"), col("sim"))
      .orderBy("qid")
  }

  /** E20d — IVF (inverted-file) ANN: the other classic sub-linear path
    * next to hyperplane LSH ([[annLsh]]).
    *
    * Index build: k=10 cells; initial centroids are the first 10 vectors
    * (deterministic seed — no RNG), refined by 2 Lloyd iterations where
    * assignment is a broadcast of the 10-row centroid table and the new
    * centroid is the per-position decimal mean, the 10-row result
    * collected once per round. Search: each query
    * (vec_id < 10) probes ONLY its own cell (nprobe=1) and returns its
    * best non-self neighbor there — candidates scale with n/k, not n.
    *
    * Multi-probe: each query probes its `nprobe` most-centroid-similar
    * cells (ranked by cosine to the centroid, ties by cid) — the
    * standard IVF recall knob, trading candidate volume (n·nprobe/k)
    * for recall. nprobe=1 is by construction the query's own assignment
    * cell, so the registered d06b query (nprobe=1) is unchanged;
    * LlmOpsSpec pins that nprobe=2 recall ≥ nprobe=1 recall against the
    * brute-force neighbor, so the oracle-exactness doesn't hinge on the
    * current fixtures' cell geometry.
    *
    * Oracle: the global brute-force nearest neighbor. On this corpus the
    * nprobe=1 probe achieves exact recall for every query (verified:
    * each query's true NN lands in the query's own cell), and the whole
    * pipeline is deterministic (seeded centroids, no RNG), so the oracle
    * hash-match is stable; LlmOpsSpec additionally re-verifies each
    * reported similarity brute-force. The cell id stays internal — it is
    * an engine artifact no SQL oracle could reproduce. */

  /** The d06b IVF index build factored out so d73 (IVF-PQ) probes the
    * SAME cells: returns (cells = (vec_id, v, cid) every vector with its
    * assigned cell, persisted; centroids = (cid, cv) the k-row refined
    * centroid table). Deterministic end to end (seeded centroids, no
    * RNG). */
  private[graft] def ivfCells(s: SparkSession, d: String,
      k: Int = 10): (DataFrame, DataFrame) = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    // corpus-sized (every vector), re-read by each Lloyd iteration and
    // both probe sides — same persistence policy as the shingle streams
    ivfCellsOver(persistCorpus(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))), k)
  }

  /** [[ivfCells]] over an explicit (vec_id, v) frame — split out so s19
    * can train the coarse quantizer ONCE on the reference batch and
    * freeze it (the s18 lloydCentroids discipline). Caller registers
    * the cosine function and persists `e` if it is re-read. */
  private[graft] def ivfCellsOver(e: DataFrame,
      k: Int = 10): (DataFrame, DataFrame) = {
    // the centroids are a k·dim model: they stay LOCAL between rounds,
    // each round one job — the cosine argmax against the broadcast
    // centroids, then the per-position decimal mean (the d59 Lloyd
    // rule) collected as k rows. The decimal mean makes the centroid
    // values — and so every cosine argmax against them —
    // engine-deterministic, which is what lets d80b's oracle mirror the
    // cell assignment in SQL. The final assignment is built against the
    // LOCAL table, so nothing downstream re-runs the Lloyd chain.
    val s = e.sparkSession
    import s.implicits._
    def localDf(cs: Seq[(Int, Seq[Double])]): DataFrame = cs.toDF("cid", "cv")
    var cents: Seq[(Int, Seq[Double])] =
      Sources.labeled(s, "ivf-centroid-collect") {
        e.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"), col("v"))
          .collect()
      }.toSeq.map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1)
    if (cents.nonEmpty) {
      val dim = cents.head._2.length
      val means = meanCols(dim)(i => lit(i + 1))
      (1 to 2).foreach { _ =>
        val rows = Sources.labeled(s, "ivf-lloyd-round") {
          assignCellsOver(e, localDf(cents))
            .groupBy("cid").agg(means.head, means.tail: _*)
            .collect() }
        cents = rows.toSeq.map(r => (r.getInt(0),
          (0 until dim).map(i => r.getDouble(i + 1)))).sortBy(_._1)
      }
    }
    val local = localDf(cents)
    (persistCorpus(assignCellsOver(e, local)), local)
  }

  /** Cell assignment of a (vec_id, v) frame to broadcast (cid, cv)
    * coarse centroids: argmax cell per vector as a max_by AGGREGATE
    * over the k candidate rows (the d53/d59 rule) — partial-combines
    * map-side; a row_number window would sort the n×k candidate stream
    * by vec_id instead. Tie order: (csim desc, cid asc) ≡ max_by key
    * (csim, −cid) — the same ordering the d06b/d73 probe lists rank
    * with, which is what makes rank-1-probe ≡ assigned-cell. The one
    * shared kernel behind the ivfCells Lloyd rounds AND s19's
    * incremental admission of new vectors against FROZEN centroids. */
  private[graft] def assignCellsOver(e: DataFrame,
      centroids: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("cid")),
        struct(col("csim"), -col("cid"))).as("w"))
      .select(col("vec_id"), col("w.v").as("v"), col("w.cid").as("cid"))

  /** [[assignCellsOver]] against the frozen (cid, cv) coarse centroids
    * published at `dir`, collected once per publish and broadcast from
    * the driver — the s19/s26 cell admission. */
  private[graft] def assignCellsFrozen(e: DataFrame, dir: String): DataFrame = {
    val s = e.sparkSession
    val (schema, rows) = Sources.readFrozen(s, dir, "ivf-centroid-collect") { c =>
      (c.schema, Sources.labeled(s, "ivf-centroid-collect")(c.collect())) }
    assignCellsOver(e, s.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
  }

  def ivfAnn(s: SparkSession, d: String, nprobe: Int = 1): DataFrame = {
    val k = 10
    val (cells, centroids) = ivfCells(s, d, k)
    // probe list: the query's nprobe most-similar cells by centroid
    // cosine — same ranking as assign(), so nprobe=1 IS the query's own
    // cell and the single-probe plan is unchanged.
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid").asc)
    val queries = cells.filter(col("vec_id") < k)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("csim", cosine(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("qv"), col("cid"))
    // nearest neighbor per query: same max_by aggregate shape — the
    // probed cells are corpus-scale at production nprobe, and an
    // aggregate combines map-side where the rank window must sort
    queries.join(cells, "cid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"),
        round4(cosine(col("qv"), col("v"))).as("sim"))
      .groupBy("qid")
      .agg(max_by(struct(col("nid"), col("sim")),
        struct(col("sim"), -col("nid"))).as("w"))
      .select(col("qid"), col("w.nid").as("nid"), col("w.sim").as("sim"))
      .orderBy("qid")
  }

  /** d73 — IVF-PQ ANN with EXACT RE-RANK: the production-shape
    * composition the round-12 verdict named — [[ivfCells]]' inverted
    * file bounds the candidate set (n/k per probe), a PRODUCT-QUANTIZED
    * codebook ranks those candidates from codes instead of full
    * vectors, and an exact cosine pass over the short list returns the
    * answer. At 100 TB this is the memory/IO win d06b stops short of:
    * the probe scan touches m one-byte codes per vector (the PQ
    * compression d15 motivates) instead of dim floats; only
    * `shortlist`-many full vectors per query are ever fetched.
    *
    * PQ training is the d59 kernel at SUB-VECTOR grain: the vector
    * splits into `m` contiguous sub-vectors (dim/m wide); each
    * sub-space trains its own `kPq`-centroid codebook via the SAME
    * [[kmeansLabels]] Lloyd chain (deterministic smallest-id seeds,
    * DECIMAL-exact distances), and a vector's code word is its m
    * per-sub-space assignments. Asymmetric distance (ADC): the query
    * stays UNquantized; per (query, sub-space, code) the dot
    * contribution q_subᵀ·centroid is a 640-row lookup table (queries ×
    * m × kPq — broadcast by construction), so scoring a candidate is m
    * LUT joins + an exact decimal sum, approximating cos(q, x̂) with
    * x̂ the codebook reconstruction. All ADC arithmetic is
    * dec()-canonicalized pre-sum — order-independent, so the shortlist
    * cut is deterministic.
    *
    * Exactness: the final top-1 is computed by EXACT cosine over the
    * ADC shortlist (the d03 banded-LSH + exact-verify precedent), so
    * the oracle is d06b's global brute-force NN; the fixture property
    * it rides on — every query's true NN survives BOTH the cell probe
    * and the ADC cut — is spec-verified at every available sf, and
    * shortlist-size recall monotonicity is structural (top-8 ⊆
    * top-32). Cell ids and code words stay internal (engine artifacts
    * no SQL oracle could reproduce). */
  /** [[kmeansLabels]] generalized by a SUB-SPACE key: the d59 kernel
    * and Lloyd loop with m sub-spaces of width sw, so the m independent
    * per-sub-space k-means run in one chain of jobs. The codebook is an
    * m·kPq·sw MODEL (1 024 doubles at the defaults), collected per
    * round. Seeding rule identical (the kPq smallest vec_ids seed every
    * sub-space); distances DECIMAL-exact; null and zero-length vectors
    * get no code. Returns the final (vec_id, m, cid, dist2) assignments
    * for EVERY vector. */
  private[graft] def pqAssignments(cells: DataFrame, m: Int, sw: Int,
      kPq: Int, iters: Int): DataFrame = {
    val ea = persistCorpus(usable(cells.select(col("vec_id"), col("v"))))
    val seeds = seedModel(ea.orderBy("vec_id").limit(kPq).collect().toSeq, m, sw)
    assignArr(ea, lloyd(ea, seeds, iters, "pq-lloyd-round"))
  }

  /** A (vec_id, v) frame against a codebook RELATION (m, cid, dim, c):
    * (vec_id, m, cid, dist2) — s19's frozen-codebook admission path. */
  private[graft] def pqAssignEmbeddings(e: DataFrame, c: DataFrame): DataFrame =
    assignArr(usable(e), collectModel(c, "pq-codebook-collect"))

  /** [[pqAssignEmbeddings]] against the frozen published codebook
    * (m, code, pos, c) at `dir`, collected once per publish — s19's
    * code admission. */
  private[graft] def pqAssignFrozen(e: DataFrame, dir: String): DataFrame =
    assignArr(usable(e), Sources.readFrozen(e.sparkSession, dir,
      "pq-codebook-collect") { cb =>
        collectModel(cb.select(col("m"), col("code").as("cid"),
          col("pos").as("dim"), col("c")), "pq-codebook-collect")
      })

  /** The four PUBLISHED relations of the d73/d74 vector index —
    * (cells = (vec_id, cid), codes = (vec_id, m, code), codebook =
    * (m, code, pos, c), centroids = (cid, cv) the k coarse IVF
    * centroids): everything a query needs besides the raw vectors
    * themselves, which stay in the embeddings table (PQ's whole point
    * is that the INDEX never duplicates them). The coarse centroids are
    * what makes nprobe > 1 possible from the store alone — a query
    * ranks CELLS by centroid similarity before probing, exactly the
    * d06b probe list — and they are k rows, broadcast-sized at any
    * corpus scale (every production IVF index ships them). Training is
    * the full build [[ivfPqAnn]]'s scaladoc describes. */
  private[graft] def pqIndexRelations(s: SparkSession, d: String,
      m: Int = 4, kPq: Int = 16, pqIters: Int = 2,
      dim: Int = 64): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    pqIndexRelationsOver(persistCorpus(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))),
      m, kPq, pqIters, dim)
  }

  /** [[pqIndexRelations]] over an explicit (vec_id, v) frame — the
    * training kernel s19 freezes on its reference batch. Caller
    * registers the cosine function. */
  private[graft] def pqIndexRelationsOver(e: DataFrame,
      m: Int = 4, kPq: Int = 16, pqIters: Int = 2,
      dim: Int = 64): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(dim % m == 0, s"dim $dim must split into $m sub-vectors")
    val sw = dim / m
    val (cells, cent) = ivfCellsOver(e)
    // ——— PQ codebooks: the d59 Lloyd kernel with an added sub-space
    // key — all m codebooks train in ONE chain (sub-spaces are
    // independent, so keying every join/aggregate by `m` computes the
    // same per-sub-space answers as m separate kmeansLabels runs —
    // LlmOpsSpec pins the equivalence — at ¼ the job count)
    // Codebooks train on the FULL corpus: the fixture embeddings are
    // near-uniform, so a sample-trained codebook loses the little ADC
    // signal there is (measured: query 7's true NN falls past ADC rank
    // 128 at sf0.1 when trained on every 4th vector).
    // persisted: `codes` feeds BOTH returned relations — the packed
    // codes table and the codebook reconstruction join below — and the
    // d74/s19 publishers drive each through its own write job; without
    // the persist the final every-vector PQ assignment (the most
    // expensive pass of the build) re-ran once per consumer action
    // (guide §1.2: don't recompute)
    val codes = persistCorpus(pqAssignments(cells, m, sw, kPq, pqIters)
      .select(col("vec_id"), col("m"), col("cid").as("code")))
    // codebook reconstruction vectors in long form (m, code, pos, c):
    // decimal-exact means, so ADC inputs are engine-deterministic
    val subLong = (0 until m).map { mi =>
      cells.select(col("vec_id"), lit(mi).as("m"),
        posexplode(slice(col("v"), mi * sw + 1, sw)))
    }.reduce(_.unionByName(_)).toDF("vec_id", "m", "pos", "x")
    val cb = subLong.join(codes, Seq("vec_id", "m"))
      .groupBy("m", "code", "pos")
      .agg((dsum(col("x")) / count(lit(1))).as("c"))
    (cells.select(col("vec_id"), col("cid")), codes, cb, cent)
  }

  def ivfPqAnn(s: SparkSession, d: String, m: Int = 4, kPq: Int = 16,
      shortlist: Int = 64, pqIters: Int = 2, dim: Int = 64,
      nprobe: Int = 1): DataFrame = {
    // production read path: at the store's parameters the index
    // publishes ONCE per corpus through the d74 store and every query
    // consumes the published (cells, codes, codebook, centroids)
    // parquet ("a production index trains once, not per query")
    val defaults = m == 4 && kPq == 16 && pqIters == 2 && dim == 64
    val (cells, codes, cb, cent) =
      if (defaults) VectorIndexStore.relations(s, d)
      else pqIndexRelations(s, d, m, kPq, pqIters, dim)
    ivfPqSearch(s, d, cells, codes, cb, cent, shortlist, dim / m, nprobe)
  }

  /** The QUERY half of d73 over explicit index relations: broadcast ADC
    * lookup table, code-only candidate ranking inside the probed cells,
    * exact cosine re-rank of the shortlist. Raw vectors are read from
    * the embeddings table exactly twice — the 10 query rows and the
    * shortlist fetch — never corpus-wide.
    *
    * `nprobe` cells per query, ranked by coarse-centroid cosine with
    * d06b's exact ordering (csim desc, cid asc — the same tie-break as
    * cell assignment, so the rank-1 probe IS the query's own cell and
    * nprobe = 1 reproduces the single-probe answer). Multi-probe is
    * what rescues a boundary vector whose true NN sits in an adjacent
    * cell — the classic IVF failure the single-probe plan can only
    * dodge by corpus luck. Cost scales linearly and visibly: candidates
    * are nprobe·n/k code rows per query, still never the corpus.
    *
    * `keep` (d78/d79) restricts the CANDIDATE set to a (vec_id) frame
    * before any code row is touched — the FAISS `IDSelector` hook: a
    * metadata predicate or a deletion vector prunes candidates at the
    * inverted-file join, so excluded vectors cost nothing downstream
    * (their codes are never scanned, never ranked, never re-ranked).
    * `perCellCut` switches the ADC shortlist from one global top-N per
    * query to top-N PER PROBED CELL (the per-inverted-list heap a real
    * IVF scanner keeps): the union of per-list cuts is a superset of
    * the global cut of the same size, which is what keeps a restricted
    * search exact when the survivors of a selective `keep` spread over
    * many cells and the crude m×kPq ADC would mis-rank a far cell's
    * survivors above the true neighbor's list (measured: the true
    * filtered NN's GLOBAL ADC rank reaches 175 on the sf0.001 corpus,
    * its per-own-cell rank never exceeds 52 at any sf). Defaults
    * reproduce the d73 plan byte-for-byte. */
  private[graft] def ivfPqSearch(s: SparkSession, d: String,
      cells: DataFrame, codes: DataFrame, cb: DataFrame, cent: DataFrame,
      shortlist: Int, sw: Int, nprobe: Int = 1,
      keep: Option[DataFrame] = None,
      perCellCut: Boolean = false,
      queriesOpt: Option[DataFrame] = None,
      topK: Int = 1): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cnorm = cb.groupBy("m", "code").agg(dsum(col("c") * col("c")).as("cn"))
    // ——— queries and the ADC lookup table ———
    // queriesOpt (d86): an explicit (qid, qv) query TABLE — production
    // retrieval serves a batch of queries, not one vector; None = the
    // registry's fixed vec_id < 10 set (d73/d78/d79, byte-≡ unchanged)
    val queries = queriesOpt.getOrElse(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv")))
    val qLong = queries.select(col("qid"), posexplode(col("qv")))
      .select(col("qid"), (col("pos") / sw).cast("int").as("m"),
        pmod(col("pos"), lit(sw)).as("pos"), col("col").as("qx"))
    val lut = qLong.join(cb, Seq("m", "pos"))
      .groupBy("qid", "m", "code").agg(dsum(col("qx") * col("c")).as("dot"))
    // ——— probe list: the query's nprobe most-similar cells by coarse
    // centroid (queries × k rows — broadcast-sized at any corpus scale;
    // the qid-keyed rank window is over ≤ k rows per query) ———
    val pw = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cid").asc)
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("csim", cosine(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nprobe)
      .select(col("qid"), col("cid"))
    // ——— probe the chosen cells, rank candidates from CODES only ———
    // the keep-set prunes at the inverted-file join: an excluded
    // vec_id's m code rows never enter the ADC scan
    val probed0 = probes
      .join(cells, "cid")
      .filter(col("vec_id") =!= col("qid"))
    val probed = keep.fold(probed0)(k =>
      probed0.join(k.select(col("vec_id")), Seq("vec_id"), "left_semi"))
    // per-cell mode keys the cut by (qid, cid) — cells PARTITION the
    // corpus, so each vec_id still ranks in exactly one list per query
    val cutKey = if (perCellCut) Seq("qid", "cid") else Seq("qid")
    val adc = probed
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .join(broadcast(cnorm), Seq("m", "code"))
      .groupBy((cutKey :+ "vec_id").map(col): _*)
      // the m per-sub-space contributions sum as exact decimals (dsum),
      // so the ADC score is order-independent — a deterministic cut
      .agg(dsum(col("dot")).as("adot"), dsum(col("cn")).as("acn"))
      .select(col("qid") +: col("vec_id") +:
        ((col("adot") / sqrt(col("acn"))).as("adc") ::
          (if (perCellCut) List(col("cid")) else Nil)): _*)
    val wAdc = Window.partitionBy(cutKey.map(col): _*)
      .orderBy(col("adc").desc, col("vec_id").asc)
    val short = adc.withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= shortlist)
      .select(col("qid"), col("vec_id"))
    // ——— exact re-rank over the shortlist (shortlist × queries rows):
    // the ONLY corpus-vector fetch beyond the query rows ———
    val ranked = short
      .join(e, "vec_id")
      .join(queries.select(col("qid"), col("qv")), "qid")
      .select(col("qid"), col("vec_id").as("nid"),
        round4(cosine(col("qv"), col("v"))).as("sim"))
    if (topK == 1)
      // top-1 as a max_by AGGREGATE (combines map-side) — the original
      // d73 plan, byte-for-byte for every existing caller
      ranked
        .groupBy("qid")
        .agg(max_by(struct(col("nid"), col("sim")),
          struct(col("sim"), -col("nid"))).as("w"))
        .select(col("qid"), col("w.nid").as("nid"), col("w.sim").as("sim"))
        .orderBy("qid")
    else {
      // top-k per query (d86): a qid-keyed rank window over the
      // SHORTLIST-sized re-rank frame only (≤ nprobe·shortlist rows per
      // query — never the corpus); Spark's WindowGroupLimit pushes the
      // rnk ≤ k cut below the sort (the d66b partial-limit discipline)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("sim").desc, col("nid").asc)
      ranked.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= topK)
        .select(col("qid"), col("rnk"), col("nid"), col("sim"))
        .orderBy("qid", "rnk")
    }
  }

  /** d78 — METADATA-FILTERED ANN: top-1 neighbor among only the vectors
    * satisfying a predicate (here `label % 2 = 0` — retrieval scoped to
    * a source/language/license slice, the production query every vector
    * store fields after plain search). Filtered ANN is hard precisely
    * when the predicate anti-correlates with geometry: on this corpus
    * the cells track labels, so a label filter empties the query's own
    * cell and the true filtered neighbor can sit in the 9th-ranked cell
    * (measured at sf0.1) — a fixed small nprobe is wrong BY
    * CONSTRUCTION for uncorrelated filters, and the industrial answer
    * (FAISS `IDSelector`, Lucene/HNSW filtered search) is to scan ALL
    * inverted lists but only the predicate's survivors. That is this
    * plan: nprobe = k (every cell probed), the keep-set pruning
    * candidates at the cells join, ADC ranking over the surviving CODE
    * rows only — the scan is the m-byte code table, 32× narrower than
    * the raw vectors, restricted to the filtered fraction — then a
    * per-inverted-list top-`shortlist` cut (see [[ivfPqSearch]]: the
    * global ADC cut mis-ranks across cells; the per-list cut is the
    * real scanner's heap discipline) and one exact cosine re-rank of
    * the union. Raw vectors are still read only for the 10 query rows
    * and the shortlist fetch.
    *
    * At 100 TB: the keep-set is one narrow (vec_id) projection of a
    * predicate-pruned parquet scan of the metadata columns; both it and
    * the code scan shuffle-join on vec_id (co-bucketed in the published
    * store layout, so the semi-join is zero-exchange under f05
    * discipline). Oracle: brute-force cosine over the filtered corpus —
    * exact because the true filtered NN survives its own cell's
    * per-list cut (max observed per-cell ADC rank 52 < 64 across all
    * sfs; LlmOpsSpec pins the precondition and the ≡-brute-force
    * differential at every available sf). */
  def filteredAnn(s: SparkSession, d: String, shortlist: Int = 64): DataFrame = {
    val (cells, codes, cb, cent) = VectorIndexStore.relations(s, d)
    val keep = Tables.embeddings(s, d)
      .filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id"))
    // nprobe = k (every published coarse cell): IDSelector full-list-
    // scan mode — the filter, not the probe list, prunes. Derived from
    // the store (a k-row count, planner-sized) so a centroid-count
    // change can never silently downgrade the full scan to a partial
    // probe and break the brute-force-oracle exactness.
    // max(1, …): an empty corpus publishes zero centroids, and
    // ivfPqSearch refuses nprobe < 1 (the search is vacuous either way)
    ivfPqSearch(s, d, cells, codes, cb, cent, shortlist, sw = 16,
      nprobe = math.max(1L, cent.count()).toInt, keep = Some(keep),
      perCellCut = true)
  }

  /** d86 — BATCHED MULTI-QUERY ANN: the d66→d66b move applied to d73.
    * Production retrieval serves a query TABLE — a batch of embeddings
    * from an inference service, a training-data attribution sweep, an
    * eval-set contamination probe — not one vector at a time, and the
    * store-fed IVF-PQ machinery batches naturally: ONE broadcast ADC
    * lookup table covering every query's sub-space dot products, one
    * probe-list ranking (queries × k rows — broadcast-sized), one
    * scan of the probed cells' code rows serving ALL queries, then a
    * per-query top-k. Per query the work is identical to d73; per
    * BATCH the index relations are read once — the amortization is
    * the point.
    *
    * Registry instance: queries = `vec_id % 25 = 0` (a 4%-of-corpus
    * batch — 20/40/80 queries at the three sfs vs d73's fixed 10),
    * top-3 per query with the (sim desc, nid) tie order, output
    * (qid, rnk, nid, sim) — the d66b per-query-list shape. The
    * instance probes EVERY cell with the per-inverted-list cut (the
    * d78 IDSelector full-list-scan mode, nprobe derived from the
    * store's centroid count): this fixture's embeddings are
    * near-uniform, so a true top-3 neighbor's cell reaches PROBE RANK
    * 10 of 10 and its per-list ADC rank reaches 168 (measured across
    * sfs — LlmOpsSpec pins the bound under the 192 cut) — a fixed
    * small nprobe would be wrong BY CONSTRUCTION here, exactly the
    * d78 rationale. A production embedding distribution has the
    * cluster structure that makes nprobe ≪ k honest; the kernel is
    * the same knob ([[ivfPqSearch]]'s nprobe), and the recall spec is
    * the gate either way. Every window is qid-keyed (PlanSpec pins
    * it); the rnk ≤ 3 cut rides Spark's WindowGroupLimit below the
    * sort. Oracle: per-query brute-force top-3 over the corpus —
    * exact under the pinned per-list-rank precondition. At 100 TB:
    * the query table broadcasts (a batch is KB–MB), the candidate
    * scan is the one-byte code table serving the WHOLE batch — the
    * amortization is the point — and raw vectors are fetched only
    * for the query rows and the union of shortlists. */
  def batchedAnn(s: SparkSession, d: String, topK: Int = 3,
      shortlist: Int = 192): DataFrame = {
    val (cells, codes, cb, cent) = VectorIndexStore.relations(s, d)
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val queries = Tables.embeddings(s, d)
      .filter(pmod(col("vec_id"), lit(25L)) === 0)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qv"))
    ivfPqSearch(s, d, cells, codes, cb, cent, shortlist, sw = 16,
      nprobe = math.max(1L, cent.count()).toInt, perCellCut = true,
      queriesOpt = Some(queries), topK = topK)
  }

  /** d79 — ANN DELETES: FAISS `remove_ids` re-expressed as the f23
    * deletion-vector mechanics applied to the vector index. Deleting
    * from an IVF index means deleting INVERTED-FILE ENTRIES — the
    * (vec_id, cid) cells rows — not the raw vectors (which live in the
    * embeddings table under their own lifecycle): once a vector's cells
    * row is tombstoned it can never enter a candidate set, so its code
    * rows are unreachable and their physical removal is deferred to
    * compaction exactly as f23 defers data-file rewrites. The delete
    * writes only the (file, pos) sidecar — O(rows deleted), zero data
    * files touched (the f23 merge-on-read claim, spec-pinned there) —
    * and the search reads live entries through one narrow anti-join.
    *
    * The registry twin clones the shared store's cells relation into
    * its own published base first (the shared d74 singleton is consumed
    * by d73/s19 and must stay immutable mid-suite; in production the
    * sidecar lives beside the store's own cells table and no clone
    * exists), tombstones `vec_id % 7 = 3` through [[Sources.dvDelete]],
    * and searches with nprobe = 2 and the per-list cut — the deleted
    * neighbor's fallback stays in the query's top-2 cells on this
    * corpus (measured max probe rank 1, max 2-cell ADC rank 60; the
    * per-list cut bounds it at ≤ its own list's 64). vec_id 3 is both a
    * query and a deleted index entry: queries are EXTERNAL vectors (raw
    * reads, not index reads), so a deleted row still queries — the
    * remove_ids semantics. Oracle: brute-force NN excluding the
    * tombstoned ids. */
  def annDelete(s: SparkSession, d: String, shortlist: Int = 64): DataFrame = {
    val (_, codes, cb, cent) = VectorIndexStore.relations(s, d)
    val base = clonedCells(s, d, "anndel") { b =>
      Sources.dvDelete(s, b, pmod(col("vec_id"), lit(7L)) === 3): Unit
    }
    val liveCells = Sources.readWithDv(s, base)
    ivfPqSearch(s, d, liveCells, codes, cb, cent, shortlist, sw = 16,
      nprobe = 2, perCellCut = true)
  }

  // tombstoned cells clones, ONE per (tag, corpus, store-version) per
  // JVM (the PublishedStore TrieMap pattern): the d79/s23 registry
  // twins need a private mutable copy of the shared store's immutable
  // cells relation, and a fresh exit-cleaned temp clone per INVOCATION
  // accumulates one full cells copy per bench pass for the process
  // lifetime. The mutation is deterministic per corpus, so reuse is
  // sound; production has no clone at all (the sidecar lives beside
  // the store's own cells table).
  // KEYING (round 18, the round-17 ADVICE fix): the cache key carries
  // the store's PUBLISH VERSION, not just (tag, path) — a forced
  // store rebuild (or any future re-publish of the same path) mints a
  // new version and this cache misses, so a regenerated fixture can
  // never be served a clone of the superseded store's cells. Superseded
  // clones stay on disk until JVM exit (forceDeleteOnExit) — version
  // churn is a test/bench concern, bounded by the rebuilds actually
  // forced.
  private val cellClones = scala.collection.concurrent.TrieMap.empty[String, String]
  private val cellCloneLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Clone the published cells relation of corpus `d` into a cached
    * per-(tag, corpus, store-version) base and apply `mutate` to it
    * exactly once; later calls against the same store publish reuse
    * the mutated clone. */
  private[operators] def clonedCells(s: SparkSession, d: String, tag: String)(
      mutate: String => Unit): String = {
    // resolve the store FIRST (publish-if-absent), so the version the
    // key carries is the publish this clone will actually read
    val (cells, _, _, _) = VectorIndexStore.relations(s, d)
    val key = s"$tag:$d:v${VectorIndexStore.version(d)}"
    val lock = cellCloneLocks.getOrElseUpdate(key, new Object)
    cellClones.getOrElse(key, lock.synchronized {
      cellClones.getOrElse(key, {
        val base = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
        org.apache.commons.io.FileUtils.forceDeleteOnExit(base)
        requireCleanPublish(
          Sources.writeAuditPublishStaged(s, cells, base.toString,
            Seq("vec_id"), false, None), s"$tag cells clone")
        mutate(base.toString)
        cellClones(key) = base.toString
        base.toString
      })
    })
  }

  /** Throw if a WAP publish manifest carries any failed check — a
    * discarded audit is a silent broken store (d79/s23 clone path). */
  private[operators] def requireCleanPublish(manifest: DataFrame,
      what: String): Unit = {
    val failed = manifest.filter(!col("ok"))
      .select("check_name", "observed").collect()
    if (failed.nonEmpty)
      throw new IllegalStateException(
        s"$what publish failed its audit: ${failed.mkString(", ")}")
  }

  /** d80 — blocked k-NN GRAPH: every vector's top-k most-similar
    * neighbors within its block, the batch primitive under SemDeDup's
    * within-cluster comparisons, graph-based dedup (d19 consumes pair
    * relations exactly like this), and kNN-graph clustering. d05 ranks
    * the corpus's top pairs globally; this emits the per-vertex
    * adjacency (i, knn_rank, j, sim) — the GRAPH, not the headline
    * pairs.
    *
    * Blocking is the d05 argument: the join key bounds candidates at
    * Σ block² instead of n², and with labels as the block key the
    * semantics are EXACT and SQL-expressible (a production run swaps in
    * the d74 coarse cells or d03's LSH bands as the key — same plan,
    * approximate-by-blocking semantics, the documented trade).
    * [[knnGraphDedup]] (d82) is the promised consumer: CC over this
    * adjacency at sim ≥ τ + the d53 keep-best rule per family. The
    * per-vertex cut is a row_number window keyed by i — bounded by one
    * block's width, and Spark 4's InferWindowGroupLimit inserts a
    * PARTIAL WindowGroupLimit below the shuffle, so each map task ships
    * only its local top-k candidates per vertex, never its full block
    * quadrant: the shuffle is O(k·n), not O(Σ block²) (plan-pinned).
    * At 100 TB: blocks are bounded by construction (cell/band fanout
    * caps, the d03 discipline), the self-join shuffles once on the
    * block key, and the graph lands bucketed by i for the downstream
    * consumer. */
  def knnGraph(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    knnGraphOver(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").as("block"),
        asDouble(col("embedding")).as("v")), k)
  }

  /** d80b — the k-NN graph on its PRODUCTION blocking key: the
    * published d74 coarse cells instead of the label column. Same
    * kernel, same plan — only the block relation changes — and the
    * semantics become approximate-by-blocking (a vertex's true
    * neighbor can live across a cell boundary; LlmOpsSpec pins that
    * the disagreement vs the global exact graph is EXACTLY those
    * boundary vertices). The cells are store-fed ([[VectorIndexStore]],
    * the d73/d74 read discipline) and engine-deterministic (seeded
    * Lloyd, decimal-canonical centroid means), so the oracle mirrors
    * the whole chain — seed cells, two cosine-argmax/mean rounds,
    * final assignment, then the within-cell window verbatim. */
  def knnGraphCells(s: SparkSession, d: String, k: Int = 3): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val (cells, _, _, _) = VectorIndexStore.relations(s, d)
    knnGraphOver(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(cells.select(col("vec_id"), col("cid").as("block")), "vec_id"), k)
  }

  /** The generic blocked k-NN kernel over an explicit
    * (vec_id, block, v) frame. `maxBlock` is the BLOCK-WIDTH GUARD:
    * the self-join computes Σ block² candidate similarities, which is
    * the documented "blocks are bounded by construction" requirement —
    * a hot block (skewed label, degenerate cell) turns the plan
    * quadratic, so the kernel REFUSES loudly (naming the block and its
    * width) instead of silently degrading. At 100 TB the caller's
    * blocking discipline (cell/band fanout caps) keeps widths far
    * below the guard; the guard is the tripwire for when it fails. */
  private[graft] def knnGraphOver(e: DataFrame, k: Int,
      maxBlock: Long = KnnMaxBlock): DataFrame = {
    val widest = Sources.labeled(e.sparkSession, "knn-block-guard") {
      e.groupBy("block").agg(count(lit(1)).as("n"))
        .agg(max_by(struct(col("block"), col("n")), col("n")).as("w"))
        .select(col("w.block"), col("w.n")).collect() }
    widest.headOption.filter(r => !r.isNullAt(1) && r.getLong(1) > maxBlock)
      .foreach { r =>
        throw new IllegalStateException(
          s"knnGraph block '${r.get(0)}' has width ${r.getLong(1)} > " +
            s"$maxBlock: a hot block makes the blocked self-join " +
            "quadratic — cap the blocking key's fanout (the d02/d03 " +
            "DF-cap discipline) or widen the guard deliberately")
      }
    val w = Window.partitionBy(col("i")).orderBy(col("sim").desc, col("j").asc)
    e.as("a").join(e.as("b"),
        col("a.block") === col("b.block") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round4(cosine(col("a.v"), col("b.v"))).as("sim"))
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("i"), col("knn_rank"), col("j"), col("sim"))
      .orderBy("i", "knn_rank")
  }

  /** Block-width guard for [[knnGraphOver]]: 4096² ≈ 17 M similarities
    * per block is the most a single block may cost before the kernel
    * refuses — generous at fixture scale (widest observed block ≈ 500
    * at sf0.1), deliberately conservative at 100 TB. */
  private[graft] val KnnMaxBlock = 4096L

  /** The d82 similarity floor: an adjacency edge joins a dedup family
    * only at sim ≥ τ. The fixtures' isotropic embeddings (max pairwise
    * cosine ≈ 0.51 — the d35 note) bind τ = 0.40 to demonstrate the
    * pipeline; real embedding corpora bind τ ≈ 0.95+. */
  private[graft] val KnnDedupTau = 0.40

  /** d82 — GRAPH-BASED dedup at cluster grain: the consumer d80's
    * scaladoc promises ("d19 consumes pair relations exactly like
    * this"), completing SemDeDup's within-cluster comparisons into a
    * DEDUP DECISION row. The [[knnGraphCells]] adjacency (each
    * vector's top-k cell-blocked neighbors) filtered to sim ≥ τ is the
    * pair relation; connected components over it
    * ([[ConnectedComponents.largeSmallStar]] — the d19 kernel, O(log n)
    * rounds of edge-proportional joins regardless of family diameter)
    * are the duplicate FAMILIES; the d53 keep-best rule picks each
    * family's survivor by d08 quality score (doc_id tie-break; fixture
    * vec_ids align with doc_ids — the d64 convention). Output mirrors
    * d53's decision row at vector grain: (vec_id, family_id,
    * family_size, quality_score, keep_id, kept).
    *
    * Why a k-NN graph instead of d60's all-within-cluster pairs: at
    * production scale a hot semantic cluster has millions of members
    * and Σ|c|² explodes, while the k-NN adjacency is O(k·n) EDGES by
    * construction — the graph, not the quadred cluster, is what CC and
    * keep-best consume. Approximate-by-blocking semantics inherit from
    * d80b (a cross-cell near-dup pair is missed; the boundary-vertex
    * disagreement spec pins exactly which).
    *
    * Scale: edges O(k·n) and bucketed by i from the graph publish; CC
    * is edge-proportional per round; the keep rule is a max_by
    * AGGREGATE per family (map-side combining — never a family-keyed
    * rank window: a boilerplate family can be huge, the d42 lesson);
    * one broadcast-able join carries the winner back. Everything
    * downstream of the graph is output-sized or key-partitioned. */
  def knnGraphDedup(s: SparkSession, d: String, k: Int = 3,
      tau: Double = KnnDedupTau): DataFrame = {
    val edges = knnGraphCells(s, d, k)
      .filter(col("sim") >= tau)
      .select(col("i"), col("j"))
    val labels = ConnectedComponents.largeSmallStar(edges)
    val asg = Tables.embeddings(s, d).select(col("vec_id"))
      .join(labels, col("vec_id") === col("node"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("family_id"))
    val sizes = asg.groupBy("family_id").agg(count(lit(1)).as("family_size"))
    val quality = Tables.documents(s, d)
      .select(col("doc_id").as("vec_id"),
        qualityScore(toks(col("text"))).as("quality_score"))
    // persisted: both the keep-best aggregate and the final decision
    // join consume this corpus-sized chain — without it the scans,
    // the family_id shuffle and both joins run twice (the ivfCellsOver
    // lesson)
    val joined = persistCorpus(
      asg.join(sizes, "family_id").join(quality, "vec_id"))
    val best = joined.groupBy("family_id")
      .agg(max_by(col("vec_id"),
        struct(col("quality_score"), (-col("vec_id")).as("neg_id")))
        .as("keep_id"))
    joined.join(best, "family_id")
      .select(col("vec_id"), col("family_id"), col("family_size"),
        col("quality_score"), col("keep_id"),
        (col("vec_id") === col("keep_id")).as("kept"))
      .orderBy("vec_id")
  }

  // ———————————— context-window chunking & quantization ————————————


  /** Symmetric int8 quantization of the embedding column — the storage
    * format a 100 TB vector corpus actually ships (4× smaller than
    * float32). Per vector: scale = max|v|/127, qᵢ = round(vᵢ/scale)
    * half-away-from-zero via DECIMAL cast (deterministic across engines,
    * unlike double `round`). Outputs are integer aggregates of the
    * quantized vector (exact — no float drift): squared norm, L1 norm,
    * and the q range, plus the rounded scale. Scan-parallel, no shuffle. */
  def quantizeEmbeddings(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scale = array_max(transform(col("v"), x => abs(x))) / 127.0
    e.withColumn("scale", scale)
      .withColumn("q",
        when(col("scale") > 0,
          transform(col("v"),
            x => (x / col("scale")).cast(DecimalType(30, 0)).cast("long")))
          .otherwise(transform(col("v"), _ => lit(0L))))
      .select(col("vec_id"),
        round4(col("scale")).as("scale4"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_norm2"),
        aggregate(col("q"), lit(0L), (a, x) => a + abs(x)).as("q_l1"),
        array_max(col("q")).as("q_max"),
        array_min(col("q")).as("q_min"))
      .orderBy("vec_id")
  }


  /** d29 — embedding POST-PROCESS pipeline: L2-normalize, truncate to a
    * prefix of `k` dimensions (the Matryoshka/MRL deployment trick —
    * serve a cheap k-dim prefix of a full-width embedding), re-normalize
    * the prefix, and symmetric-int8 requantize it ([[quantizeEmbeddings]]'
    * scheme on the truncated unit vector). Reports the energy the prefix
    * retains (‖v[..k]‖²/‖v‖² — the quality signal that decides how small
    * k can go) and exact integer summaries of the quantized prefix.
    *
    * Float discipline: the two squared norms are sums of per-element
    * x² terms canonicalized to DECIMAL(30,6) BEFORE the fold (exact,
    * order-independent — [[graft.Canon]]); energy is ONE division of
    * engine-identical doubles; the quantized values land as exact longs
    * via the same decimal-cast rounding as d15. Everything is per-row
    * arithmetic — scan-parallel, zero shuffles before the output order,
    * so the pipeline runs at full scan bandwidth on any corpus. */
  def matryoshka(s: SparkSession, d: String, k: Int = 16): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    def decSumSq(c: Column): Column =
      aggregate(c, lit(java.math.BigDecimal.ZERO).cast(Dec),
        (a, x) => (a + dec(x * x)).cast(Dec)).cast("double")
    val pre = e
      .withColumn("ss_full", decSumSq(col("v")))
      .withColumn("p", slice(col("v"), 1, k))
      .withColumn("ss_pre", decSumSq(col("p")))
    // unit prefix + d15's decimal-cast symmetric int8 on it
    val unit = transform(col("p"), x => x / sqrt(col("ss_pre")))
    val scale = array_max(transform(unit, x => abs(x))) / 127.0
    pre
      .withColumn("u", when(col("ss_pre") > 0, unit)
        .otherwise(transform(col("p"), _ => lit(0.0))))
      .withColumn("qscale", when(col("ss_pre") > 0, scale).otherwise(lit(0.0)))
      .withColumn("q",
        when(col("qscale") > 0,
          transform(col("u"),
            x => (x / col("qscale")).cast(DecimalType(30, 0)).cast("long")))
          .otherwise(transform(col("u"), _ => lit(0L))))
      .select(col("vec_id"),
        size(col("v")).cast("long").as("d_full"),
        when(col("ss_full") > 0,
            round8(col("ss_pre") / col("ss_full"))).otherwise(lit(0.0))
          .as("energy"),
        round8(when(col("ss_pre") > 0,
          try_element_at(col("v"), lit(1)) / sqrt(col("ss_pre")))
          .otherwise(lit(0.0)))
          .as("head_unit"),
        aggregate(col("q"), lit(0L), (a, x) => a + x * x).as("q_norm2"),
        array_max(col("q")).as("q_max"),
        array_min(col("q")).as("q_min"))
      .orderBy("vec_id")
  }


  /** d84 — INCREMENTAL graph dedup: the d30 question ("is this NEW
    * batch a duplicate of the existing corpus?") answered at embedding
    * grain — d82's admission twin. A production pipeline does not
    * re-cluster the corpus per batch; it holds the d82 families for
    * the EXISTING corpus and asks, per new vector, whether it JOINS a
    * family or FOUNDS one:
    *
    *  - existing = `vec_id % 10 < 8` (the d30 batch convention), its
    *    families = the d82 chain over the existing-only subgraph
    *    (cells-blocked k-NN at sim ≥ τ → d19 CC);
    *  - per new vector, candidates are the existing members of ITS
    *    OWN frozen coarse cell (the published d74 assignment — the
    *    s19 frozen-model discipline), best neighbor via one `max_by`
    *    aggregate — O(Δ · cell-width) work, never corpus × Δ;
    *  - decision: sim ≥ τ → `join` best's family; otherwise (or cell
    *    empty of existing members) → `new`, founding family = own id.
    *
    * Output per new vector: (vec_id, decision, family_id, best_id,
    * sim) — the admission row a dedup gate acts on, with the evidence
    * columns nullable when the cell held no existing member. At
    * 100 TB the existing-side families come from the published d82
    * labels (not recomputed — the registry twin re-derives them the
    * way d30 re-derives d02's pairs; d30b's store-fed shape is the
    * production swap) and the probe is one cells-bucketed equi-join. */
  def knnGraphDedupDelta(s: SparkSession, d: String, k: Int = 3,
      tau: Double = KnnDedupTau): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val (cells, _, _, _) = VectorIndexStore.relations(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(cells.select(col("vec_id"), col("cid").as("block")), "vec_id")
    // persisted: the adjacency self-join, the CC edge derivation and
    // the probe join all consume the existing side
    val exist = persistCorpus(e.filter(pmod(col("vec_id"), lit(10L)) < 8))
    val batch = e.filter(pmod(col("vec_id"), lit(10L)) >= 8)
    val edges = knnGraphOver(exist, k)
      .filter(col("sim") >= tau).select(col("i"), col("j"))
    val labels = ConnectedComponents.largeSmallStar(edges)
    val fam = exist.select(col("vec_id").as("eid"))
      .join(labels, col("eid") === col("node"), "left")
      .select(col("eid"), coalesce(col("component"), col("eid")).as("fid"))
    val best = batch.as("b").join(exist.as("a"),
        col("b.block") === col("a.block"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("cand_id"),
        round4(cosine(col("b.v"), col("a.v"))).as("csim"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cand_id"), col("csim")),
        struct(col("csim"), -col("cand_id"))).as("w"))
      .select(col("vec_id"), col("w.cand_id").as("best_id"),
        col("w.csim").as("sim"))
    batch.select(col("vec_id"))
      .join(best, Seq("vec_id"), "left")
      .join(fam, col("best_id") === col("eid"), "left")
      .select(col("vec_id"),
        when(col("sim") >= tau, lit("join")).otherwise(lit("new"))
          .as("decision"),
        when(col("sim") >= tau, col("fid")).otherwise(col("vec_id"))
          .as("family_id"),
        col("best_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** d35 — SemDeDup (Abbas et al., 2023) shaped semantic dedup: bucket
    * the embedding space, compare pairs only WITHIN a bucket, and drop
    * every vector that has ANY more-senior (smaller-id) neighbor above
    * the similarity threshold — the seniority-dominance rule. Output:
    * one row per dropped vector with its most senior over-threshold
    * neighbor and their (rounded) cosine.
    *
    * Contract, precisely: the KEPT set is `vec_ids ∖ output` — exactly
    * the vectors with no senior τ-neighbor in their bucket. `kept_id`
    * is blame, not membership: in a chain a<b<c with sim(a,b)≥τ,
    * sim(b,c)≥τ, sim(a,c)<τ, both b and c are dropped and c blames b
    * (itself dropped; following blame pointers reaches the kept root).
    * The sequential greedy keep-first scan (which would keep c) is
    * order-dependent and inherently serial; the dominance rule is the
    * one-pass distributed analog and dedups strictly more aggressively
    * — the right direction for a dedup gate. LlmOpsSpec's recompute
    * pins exactly this rule.
    *
    * Buckets here are `nBits` sign bits of deterministic hyperplane dots
    * ([[planeComp]], its own table id so the planes are independent of
    * [[annLsh]]'s) — the paper's k-means cells swap in transparently
    * (see [[ivfAnn]]'s assignment stage) but hyperplane signs are
    * reproducible in the SQL oracle, which inlines the same plane
    * literals. The fixtures' embeddings are isotropic (no planted
    * high-sim families — measured max pairwise cosine ≈ 0.51), so the
    * registered binding demonstrates the pipeline at τ = 0.40; real
    * embedding corpora bind τ ≈ 0.95+. LlmOpsSpec exercises true
    * near-identical planted vectors through [[semdedupOver]].
    *
    * Scale: the pair join is a bucketed equi-join on the signature —
    * never all-pairs (candidate volume ~ n²/2^nBits per the random-
    * hyperplane collision bound, and a skewed bucket is split by AQE);
    * the dominance rule is one row_number window per dropped doc. Like any
    * single-table LSH it trades recall (a cross-bucket pair is missed)
    * for the sub-linear plan; multi-table OR-ing ([[annLsh]]'s nTables)
    * is the standard recall knob. */
  def semdedup(s: SparkSession, d: String, tau: Double = 0.40,
      nBits: Int = 4, table: Int = 7): DataFrame =
    semdedupOver(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")), tau, nBits, table)

  /** [[semdedup]] over an explicit (vec_id, v: array<double>) table —
    * package-visible so specs can plant genuinely near-identical
    * vectors (the fixtures have none). `dim` is the plane length; a
    * shorter input vector uses the common-prefix dot. */

  private[graft] def semdedupOver(e0: DataFrame, tau: Double, nBits: Int,
      table: Int, dim: Int = 64): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(e0.sparkSession)
    val bits = (0 until nBits).map { p =>
      val plane = typedLit((0 until dim).map(j => planeComp(table, p, j)))
      val dot = call_function(graft.functions.ArrayDotProduct.Name, col("v"), plane)
      when(dot > 0, shiftleft(lit(1), p)).otherwise(0)
    }.reduce(_ + _)
    val e = persistCorpus(e0.withColumn("sig", bits))
    val pairs = e.as("a").join(e.as("b"),
        col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round4(cosine(col("a.v"), col("b.v"))).as("sim"))
      .filter(col("sim") >= tau)
    val w = Window.partitionBy("j").orderBy(col("i").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("j").as("vec_id"), col("i").as("kept_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** d55 — SEMANTIC train↔eval contamination: eval-split (val/test)
    * vectors with a τ-cosine neighbor in train. [[contamination]] (d20)
    * answers the question lexically (shared shingles); this is the
    * embedding-space second opinion every eval-decontamination pipeline
    * runs alongside it — a paraphrased benchmark question shares no
    * 3-gram but sits at cosine ≈ 1 (the SemDeDup observation applied to
    * leakage instead of dedup). Output: one row per LEAKED eval vector
    * with its best (max-sim, then smallest-id) train neighbor — the
    * row you delete from train or flag in the eval report.
    *
    * Candidates come from the d35 sign-bit buckets (its own plane table
    * id, so the families stay independent): a bucketed equi-join of the
    * eval side against train, never all-pairs, with the usual
    * single-table LSH recall trade ([[annLsh]]'s multi-table OR is the
    * recall knob). The per-eval-vector argmax is `max_by` over a
    * (sim, −train_id) struct — an AGGREGATE that partial-combines
    * map-side (the d53 rule: never a rank window keyed by a
    * possibly-hot partition key). The split is the d17 md5 rule keyed
    * on vec_id (fixture ids align with doc_ids; a production embeddings
    * table carries its document's split column). Fixture embeddings are
    * isotropic (max pairwise cosine ≈ 0.51 — the d35 note), so the
    * registered τ = 0.32 demonstrates the pipeline; real corpora bind
    * τ ≈ 0.95+. LlmOpsSpec plants true cross-split near-identicals
    * through [[semanticContaminationOver]]. */

  def semanticContamination(s: SparkSession, d: String, tau: Double = 0.32,
      nBits: Int = 4, table: Int = 9): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("split",
        when(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(100L)) < 80, "train")
          .when(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
            .cast("long"), lit(100L)) < 90, "val")
          .otherwise("test"))
    semanticContaminationOver(e, tau, nBits, table)
  }

  /** [[semanticContamination]] over an explicit (vec_id, v, split)
    * table — package-visible so specs can plant cross-split
    * near-identical vectors (the fixtures have none). */

  /** d63 — CLUSTER-BALANCED sampling: the d59 scaladoc's third promise
    * ("cluster balance feeds sampling weights") made concrete — an
    * exact-k uniform draw PER KMEANS CLUSTER, the embedding-space
    * analog of d56's per-language reservoir. Rebalancing a training
    * mix by semantic cluster (rather than by surface language/source)
    * is how curation caps an over-represented topic the metadata
    * cannot see. Labels come from the published d61 store — consumer
    * number three.
    *
    * Draw rule = d56's verbatim: bottom-k by a seeded md5 tag —
    * deterministic, engine-portable, growth-stable (a new row only
    * displaces the worst draw). Same two-phase plan under the same
    * associativity argument: per-(cid, salt×64) bottom-k first (never
    * a window over the raw cluster key alone at full width), then
    * re-rank the ≤ 64·k survivors per cluster. */
  def clusterSample(s: SparkSession, d: String, k: Int = 5): DataFrame =
    clusterSampleOver(LabelStore.read(s, d).select(col("vec_id"), col("cid")), k)

  /** [[clusterSample]] over an explicit (vec_id, cid) label frame —
    * package-visible for the model-equivalence and exact-k specs. */
  private[graft] def clusterSampleOver(lbl: DataFrame, k: Int): DataFrame = {
    val salted = Window.partitionBy(col("cid"), col("salt"))
      .orderBy(col("tag"), col("vec_id"))
    val full = Window.partitionBy(col("cid")).orderBy(col("tag"), col("vec_id"))
    lbl
      .select(col("vec_id"), col("cid"),
        substring(md5(concat(col("cid").cast("string"), lit(":"),
          col("vec_id").cast("string"))), 1, 16).as("tag"),
        pmod(col("vec_id"), lit(64L)).as("salt"))
      .withColumn("rn1", row_number().over(salted))
      .filter(col("rn1") <= k)
      .withColumn("draw_rank", row_number().over(full).cast("long"))
      .filter(col("draw_rank") <= k)
      .select(col("vec_id"), col("cid").as("cluster_id"), col("draw_rank"))
      .orderBy("cluster_id", "draw_rank")
  }

  /** d64 — cluster × language DOMAIN-MIXTURE profile: the d59
    * scaladoc's second promise ("domain-mixture analysis labels every
    * document with its cluster") — the report a curation run reads
    * before setting mixture weights: for every (semantic cluster,
    * surface language) cell, the doc count, token mass, and the cell's
    * share of its cluster. A cluster dominated by one language is a
    * topic the lang-ID already explains; a cluster SPLIT across
    * languages is parallel/translated content the surface metadata
    * misses — exactly what d63's balanced draw then acts on. Labels
    * from the published d61 store (consumer four).
    *
    * Exact-arithmetic posture: counts and token sums are integers;
    * `doc_share` is ONE IEEE division of engine-identical integers
    * (the d38 rule). Two keyed aggregates + one k-sized join — the
    * corpus shuffles once on (cid, lang). */
  def clusterProfile(s: SparkSession, d: String): DataFrame = {
    val lbl = LabelStore.read(s, d).select(col("vec_id"), col("cid"))
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    clusterProfileOver(lbl, docs)
  }

  /** [[clusterProfile]] over explicit (vec_id, cid) labels and
    * (doc_id, lang, n_tokens) docs — package-visible for the planted
    * arithmetic spec. */
  private[graft] def clusterProfileOver(lbl: DataFrame, docs: DataFrame): DataFrame = {
    val joined = lbl.join(docs, lbl("vec_id") === docs("doc_id"))
      .select(col("cid"), col("lang"), col("n_tokens"))
    val cell = joined.groupBy("cid", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    val tot = cell.groupBy("cid").agg(sum(col("n_docs")).as("n_cluster"))
    cell.join(tot, "cid")
      .select(col("cid").as("cluster_id"), col("lang"), col("n_docs"),
        col("sum_tokens"),
        round4(col("n_docs").cast("double") / col("n_cluster")).as("doc_share"))
      .orderBy("cluster_id", "lang")
  }

  /** d62 — contamination ENSEMBLE: the decontamination DECISION row a
    * real eval pipeline acts on. d20 answers lexically (shared-shingle
    * near-dup pairs across the split boundary — catches verbatim and
    * lightly-edited leaks), d55 semantically (τ-cosine train neighbor —
    * catches the paraphrase d20 structurally misses); production runs
    * BOTH and reviews the union. One row per flagged eval doc:
    * `leak_source` ∈ lexical / semantic / both, the lexical evidence
    * (max Jaccard, pair count) and the semantic evidence (best train
    * neighbor, cosine). Pairs where neither side is train (val↔test
    * near-dups) are NOT leakage and are excluded.
    *
    * Composition economics: both inputs are store-fed by default —
    * d20's pair relation from the d46 store, and d55's candidates from
    * its sign-bucket join — so the ensemble itself is two output-sized
    * aggregations and one keyed full outer join. Scale: everything
    * keys on doc_id; the split rule is the same d17 md5 on the same id
    * space, so the join condition (doc_id, split) can never mismatch a
    * real doc. */
  def contaminationEnsemble(s: SparkSession, d: String): DataFrame =
    contaminationEnsembleOver(contamination(s, d), semanticContamination(s, d))

  /** [[contaminationEnsemble]] over explicit d20-shaped
    * (i, j, jac, split_i, split_j, …) and d55-shaped
    * (vec_id, split, train_id, sim) relations — package-visible so the
    * spec can plant lexical-only / semantic-only / both / val↔test
    * rows directly. */
  private[graft] def contaminationEnsembleOver(lex0: DataFrame,
      sem0: DataFrame): DataFrame = {
    val evalFromJ = lex0
      .filter(col("split_i") === "train" && col("split_j") =!= "train")
      .select(col("j").as("doc_id"), col("split_j").as("split"), col("jac"))
    val evalFromI = lex0
      .filter(col("split_j") === "train" && col("split_i") =!= "train")
      .select(col("i").as("doc_id"), col("split_i").as("split"), col("jac"))
    val lex = evalFromJ.unionByName(evalFromI)
      .groupBy("doc_id", "split")
      .agg(max(col("jac")).as("max_jac"), count(lit(1)).as("n_lex_pairs"))
    val sem = sem0.select(col("vec_id").as("doc_id"), col("split"),
      col("train_id").as("sem_train_id"), col("sim").as("sem_sim"))
    lex.join(sem, Seq("doc_id", "split"), "full_outer")
      .select(col("doc_id"), col("split"), col("max_jac"), col("n_lex_pairs"),
        col("sem_train_id"), col("sem_sim"),
        when(col("max_jac").isNotNull && col("sem_sim").isNotNull, "both")
          .when(col("max_jac").isNotNull, "lexical")
          .otherwise("semantic").as("leak_source"))
      .orderBy("doc_id")
  }

  private[graft] def semanticContaminationOver(e0: DataFrame, tau: Double,
      nBits: Int, table: Int, dim: Int = 64): DataFrame = {
    graft.functions.CosineSimilarity.ensureRegistered(e0.sparkSession)
    val bits = (0 until nBits).map { p =>
      val plane = typedLit((0 until dim).map(j => planeComp(table, p, j)))
      val dot = call_function(graft.functions.ArrayDotProduct.Name, col("v"), plane)
      when(dot > 0, shiftleft(lit(1), p)).otherwise(0)
    }.reduce(_ + _)
    val e = persistCorpus(e0.withColumn("sig", bits))
    val ev = e.filter(col("split") =!= "train")
    val tr = e.filter(col("split") === "train")
    ev.as("a").join(tr.as("b"), col("a.sig") === col("b.sig"))
      .select(col("a.vec_id").as("vec_id"), col("a.split").as("split"),
        col("b.vec_id").as("train_id"),
        round4(cosine(col("a.v"), col("b.v"))).as("sim"))
      .filter(col("sim") >= tau)
      .groupBy("vec_id", "split")
      .agg(max_by(col("train_id"), struct(col("sim"), -col("train_id"))).as("train_id"),
        max(col("sim")).as("sim"))
      .select(col("vec_id"), col("split"), col("train_id"), col("sim"))
      .orderBy("vec_id")
  }

  /** d66 — HYBRID RETRIEVAL by reciprocal-rank fusion (RRF): the way a
    * production RAG/eval stack actually queries a corpus — a lexical
    * BM25 list and a dense cosine list, fused by
    * `Σ 1/(K + rank)` (Cormack et al.'s K = 60), so a document strong
    * on either signal surfaces even when the two score scales are
    * incomparable (RRF reads only RANKS — the whole point).
    *
    * Shape: the two retrievers are the existing ones unchanged —
    * [[QualityOps.bm25]] (one corpus scan, broadcast stats,
    * TakeOrderedAndProject) and [[cosineTopK]] (broadcast query vector,
    * TakeOrderedAndProject). Everything AFTER retrieval is
    * output-sized: the rank windows run over the already-top-k'd
    * 20-row lists (a global window over a `GlobalLimit` frame — the
    * PlanSpec lint recognizes Limit as a reducer, same as Aggregate),
    * the fusion is one full-outer join of two k-row frames, and the
    * final top-10 is a k-row sort. At 100 TB with a query LOG, every
    * step gains a `query_id` key: per-query top-k via partial
    * aggregation, rank windows `partitionBy(query_id)` (bounded k rows
    * per partition), fusion keyed (query_id, doc_id) — nothing here is
    * corpus-keyed. Fixture linkage: embeddings.vec_id aligns with
    * documents.doc_id (the d64 convention; a production embeddings
    * table carries doc_id explicitly).
    *
    * Determinism: both ranks order by the ROUNDED retriever score then
    * id (the retrievers' own tie rule); the RRF value is one IEEE
    * division per list plus one addition — bit-identical cross-engine;
    * ties in the fused score break by doc_id. A doc absent from a list
    * contributes exactly 0 (coalesce), the standard convention. */
  /** d66b — MULTI-QUERY hybrid retrieval: the query_id generalization
    * [[hybridRrf]]'s scaladoc promises, pinned as a registry instance —
    * a query TABLE (the first [[nQueries]] probe docs, each with a
    *2-term lexical query and its own embedding as the dense query)
    * drives per-query BM25 ∪ cosine lists fused by RRF.
    *
    * Every step carries the query_id key, exactly as promised:
    *   - lexical: [[QualityOps.bm25TermContrib]]'s posting-grain
    *     (doc, term, tscore) rows — ONE corpus scan for ALL queries —
    *     joined to the broadcast (query_id, term) map and summed per
    *     (query_id, doc_id); only tf > 0 postings score (inverted-index
    *     semantics). Per-query term sets are size ≤ 2 ON PURPOSE: a
    *     2-value IEEE sum is commutative, so the oracle's SUM order
    *     can't diverge (3+ terms would need the d18 decimal-pre-sum
    *     canon).
    *   - semantic: corpus × broadcast query-vector scoring in the scan
    *     (no corpus shuffle), sim rounded before ranking.
    *   - per-query top-k: `row_number() OVER (PARTITION BY query_id)`
    *     + `rank ≤ k` — Spark's InferWindowGroupLimit turns this into a
    *     PARTIAL WindowGroupLimit below the exchange (each map task
    *     ships only its local top-k per query), which is the "per-query
    *     top-k via partial aggregation" scale path; PlanSpec pins the
    *     node and that NO window in this plan is global.
    *   - fusion: (query_id, doc_id)-keyed full outer join of k-row
    *     lists; final per-query top-10 over ≤ 2k fused rows.
    * At 100 TB nothing here is corpus-keyed except the two scans. */
  def hybridRrfMulti(s: SparkSession, d: String, kRrf: Int = 60,
      kList: Int = 20, topK: Int = 10, nQueries: Int = 5): DataFrame = {
    import s.implicits._
    graft.functions.CosineSimilarity.ensureRegistered(s)
    val pool = Seq("spark", "join", "window")
    val queryTerms = (0 until nQueries).flatMap(q =>
        Seq((q.toLong, pool(q % 3)), (q.toLong, pool((q + 1) % 3))))
      .toDF("query_id", "term")
    val lexScored = QualityOps.bm25TermContrib(s, d, pool)
      .join(broadcast(queryTerms), "term")
      .groupBy("query_id", "doc_id")
      .agg(round4(sum(col("tscore"))).as("score"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val lex = lexScored
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .filter(col("lex_rank") <= kList)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val qe = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wSem = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val sem = e.crossJoin(broadcast(qe))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round4(cosine(col("v"), col("qv"))).as("sim"))
      .withColumn("sem_rank", row_number().over(wSem).cast("long"))
      .filter(col("sem_rank") <= kList)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    def part(r: Column) = coalesce(lit(1.0) / (lit(kRrf) + r), lit(0.0))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"), col("sem_rank"),
        round4(part(col("lex_rank")) + part(col("sem_rank"))).as("rrf"))
      .withColumn("rnk", row_number().over(wF).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("query_id"), col("rnk"), col("doc_id"),
        col("lex_rank"), col("sem_rank"), col("rrf"))
      .orderBy("query_id", "rnk")
  }

  /** row_number over (score desc, doc_id asc) WITHOUT a window: rank =
    * 1 + |rows strictly ahead in that total order| (doc_id unique ⇒ the
    * order is strict ⇒ the count form IS row_number — HybridRrfSpec
    * pins the equivalence, ties included, against an in-memory
    * row_number). The inputs here are already-REDUCED top-k lists
    * (GlobalLimit ≤ 20 rows below), so the old global window was
    * bounded, but it still planned a partition-less WindowExec (one
    * task, a `No Partition Defined` warning per run); a k×k broadcast
    * NLJ + count ranks the same list with no single-partition node
    * (guide §2.4). Scores are non-null by construction (round4 over
    * total functions of non-null columns), which the strictly-ahead
    * comparison requires — same contract the desc window ordering had. */
  private[graft] def rankOfTopList(df: DataFrame, scoreCol: String,
      rankName: String): DataFrame = {
    val o = df.select(col("doc_id").as("o_id"), col(scoreCol).as("o_s"))
    df.join(broadcast(o),
        col("o_s") > col(scoreCol) ||
          (col("o_s") === col(scoreCol) && col("o_id") < col("doc_id")),
        "left")
      .groupBy(col("doc_id"), col(scoreCol))
      .agg((count(col("o_id")) + lit(1L)).as(rankName))
      .select(col("doc_id"), col(rankName))
  }

  def hybridRrf(s: SparkSession, d: String, kRrf: Int = 60,
      topK: Int = 10): DataFrame = {
    val lex = rankOfTopList(bm25(s, d).select(col("doc_id"), col("score")),
      "score", "lex_rank")
    val sem = rankOfTopList(cosineTopK(s, d)
        .select(col("vec_id").as("doc_id"), col("sim")),
      "sim", "sem_rank")
    def part(r: Column) = coalesce(lit(1.0) / (lit(kRrf) + r), lit(0.0))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("lex_rank"), col("sem_rank"),
        round4(part(col("lex_rank")) + part(col("sem_rank"))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }

}
