package graft

import graft.operators.{EmbeddingOps, LlmOps, Relational}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.functions.col

/** Physical-plan audits: the scale properties the operators claim must
  * be visible in the plans Catalyst actually produces. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, Sf).queryExecution.sparkPlan

  /** All physical nodes including physically-planned subqueries.
    * `collectWithSubqueries` is unusable here: on `sparkPlan` (pre-AQE) a
    * scalar/EXISTS subquery's `PlanExpression.plan` can still be a
    * LOGICAL plan, and the typed partial function then throws
    * ClassCastException on it — so descend manually and keep only
    * genuinely physical subtrees. */
  private def allPhysical(p: SparkPlan): Seq[SparkPlan] = {
    val subs = p.expressions
      .flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] => pe.plan
      })
      .collect { case sp: SparkPlan => sp }
    p +: (p.children ++ subs).flatMap(allPhysical)
  }

  /** Run the query to completion and return every node of its FINAL
    * adaptive plan, descending AQE query stages (exchanges only exist
    * post-EnsureRequirements, so `sparkPlan` can't see them).
    * InMemoryTableScan stays a leaf — cache-internal exchanges, which
    * run exactly once at materialization, are invisible by design. */
  private def executedNodes(name: String): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = SparkEntry.queries(name)(spark, Sf)
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p.children ++ (p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      })
      p +: kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("no query plans a non-broadcast cartesian product") {
    // BroadcastNestedLoopJoin against a tiny broadcast side (query
    // vector, seed table, scalar count) is intentional in d03/d04/d07/
    // d10; an unbroadcast CartesianProductExec is never acceptable.
    SparkEntry.queries.keys.foreach { name =>
      val cartesians = allPhysical(planOf(name))
        .filter(_.isInstanceOf[CartesianProductExec])
      assert(cartesians.isEmpty, s"$name plans a cartesian product")
    }
  }

  test("top-k queries plan TakeOrderedAndProject, not a full sort") {
    Seq("e14_topk_orders", "d04_cosine_topk", "d05_embed_neardup",
        "d31_bm25").foreach { q =>
      assert(planOf(q).toString.contains("TakeOrderedAndProject"),
        s"$q should be a per-partition top-k")
    }
  }

  test("bm25 retrieval never shuffles the corpus") {
    // the only exchanges are the single-row stats aggregate and its
    // broadcast back — a hash-partitioned (corpus-sized) shuffle would
    // mean the token explode crept back in
    val plan = planOf("d31_bm25").toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "bm25 must not shuffle the corpus:\n" + plan.take(1500))
  }

  test("word count aggregates map-side before the shuffle") {
    val plan = planOf("q_wordcount").toString
    assert(plan.contains("partial_count"), "partial aggregation missing:\n" + plan.take(1500))
  }

  test("near-dup candidate generation is an equi-join, not a loop join") {
    val plan = planOf("d02_ngram_jaccard").toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      "shingle bucket join must hash/merge on the shingle key:\n" + plan.take(1500))
  }

  test("dimension joins broadcast the dimension side") {
    Seq("e02_broadcast_join", "e10_rollup_agg", "e19_region_supplier",
        "e22_sql_frontend").foreach { q =>
      assert(planOf(q).toString.contains("BroadcastHashJoin"),
        s"$q should broadcast its dimension tables")
    }
  }

  test("stats aggregation is one partial/final pass — a single hash exchange") {
    val plan = planOf("e27_stats_agg").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1, s"e27 should shuffle once (got $exchanges):\n" + plan.take(1500))
    assert(plan.contains("partial_"), "map-side partial aggregation missing")
  }

  test("string aggregation broadcasts both dimension hops") {
    val plan = planOf("e26_string_agg").toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      "nation and region joins should both broadcast:\n" + plan.take(1500))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("LOCF fill generates the spine distributed and windows per user") {
    val plan = planOf("e29_locf_fill").toString
    assert(plan.contains("Generate explode"), "spine must be generated by explode (distributed)")
    assert(plan.contains("Window"), "carry-forward must be a window, not a collect")
  }

  test("interp fill: both bracket directions ride ONE window sort") {
    val plan = planOf("e43_interp_fill").toString
    // backward last + forward first must collapse into window nodes over a
    // single (user_id, day) sort — two frames, not two shuffles
    val windowSorts = "Sort \\[user_id".r.findAllIn(plan).size
    assert(plan.contains("Window"), "interpolation must be windowed, not collected")
    assert(windowSorts <= 2, // one for the window, one for the output order
      s"expected one window sort + one output sort (got $windowSorts):\n" + plan.take(1500))
    assert(plan.contains("Generate explode"), "spine must be generated by explode")
  }

  test("weighted quantiles: cumsum window, total window, and quartile agg share ONE exchange") {
    val plan = planOf("e44_weighted_quantiles").toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 1,
      s"both windows and the aggregate must reuse the l_suppkey shuffle (got $exchanges):\n" +
        plan.take(1500))
    assert(plan.contains("Window"), "cumulative weight must be windowed")
  }

  test("range join carries the time-bucket equi-key into the join") {
    val plan = planOf("e07_range_join").toString
    // join keys must include the bucket, not just user_id
    assert(plan.contains("bkt"), "bucketed key missing from range join:\n" + plan.take(1500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("partitioned round-trip query prunes to the single-year directory") {
    val scan = planOf("f03_partitioned_parquet").collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .head
    val partFilters = scan.metadata("PartitionFilters")
    assert(partFilters.contains("o_year"),
      s"year predicate must prune partitions, got: $partFilters")
  }

  test("runtime bloom filter injects into selective shuffle joins") {
    // the 100 TB lever for fact⋈selective-fact: the optimizer builds a
    // bloom filter from the filtered side and pushes might_contain onto
    // the big side's scan, skipping most of it before the shuffle. Fires
    // only above size thresholds in production; lower them to observe
    // the injection at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val o = Tables.orders(spark, Sf)
        .filter(col("o_orderstatus") === "P") // highly selective creation side
        .select("o_orderkey")
      val l = Tables.lineitem(spark, Sf).select("l_orderkey", "l_quantity")
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        "bloom runtime filter not injected:\n" + plan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("simhash runs one aggregation pass — no per-bit Generate expansion") {
    // d12's 32 bit-votes are 32 conditional-sum buffers in ONE groupBy;
    // the only row expansion allowed is the token explode itself. A
    // second Generate would mean the 32× sequence-explode shape is back.
    // clearCache first: other suites cache simhash subtrees, and an
    // InMemoryTableScan would hide the Generate from this audit.
    spark.sharedState.cacheManager.clearCache()
    val generates = allPhysical(planOf("d12_simhash"))
      .count(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec])
    assert(generates === 1, s"expected only the token explode, got $generates Generates")
  }

  test("k-means, centroid and PQ assignment plan no Generate — the exploded form stays gone") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // every node of the executed plan, descending AQE stages AND cached
    // relations: a persisted exploded frame would hide its Generate
    def nodes(df: DataFrame): Seq[SparkPlan] = {
      df.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p.children ++ (p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
        case _ => Nil
      })).flatMap(walk)
      walk(df.queryExecution.executedPlan)
    }
    val emb = Tables.embeddings(spark, Sf).select(col("vec_id"), col("embedding"))
    val ea = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val (cells, _) = EmbeddingOps.ivfCells(spark, Sf)
    Seq("kmeansLabels" -> EmbeddingOps.kmeansLabels(emb, 8, 3),
      "assignToCentroids" -> EmbeddingOps.assignToCentroids(ea,
        EmbeddingOps.lloydCentroids(emb, 8, 3)),
      "pqAssignments" -> EmbeddingOps.pqAssignments(cells, 4, 16, 16, 2)
    ).foreach { case (name, df) =>
      val gens = nodes(df).collect { case g: GenerateExec => g.simpleString(200) }
      assert(gens.isEmpty, s"$name plans a Generate: $gens")
    }
    spark.sharedState.cacheManager.clearCache()
  }

  test("near-dup verify joins degrade to shuffle when broadcast is off") {
    // LlmOps joins candidate/grid tables WITHOUT broadcast hints — their
    // size is data-dependent (near-dup density, vocab size), so a forced
    // broadcast would fail a duplicate-heavy 100 TB corpus. With
    // broadcast disabled entirely the plans must still be executable
    // shuffle joins producing identical rows.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val expected = Seq("d03_minhash_lsh", "d10_lang_id")
      .map(q => q -> SparkEntry.queries(q)(spark, Sf).collect().toSeq).toMap
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try expected.foreach { case (q, rows) =>
      val df = SparkEntry.queries(q)(spark, Sf)
      assert(df.queryExecution.sparkPlan.toString.contains("SortMergeJoin"),
        s"$q should plan shuffle joins once broadcast is disabled")
      assert(df.collect().toSeq === rows, s"$q rows changed under shuffle degradation")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native cosine expression stays inside whole-stage codegen") {
    val df = EmbeddingOps.embedNearDup(spark, Sf)
    df.collect() // run so AQE finalizes and codegen spans materialize
    val top = df.queryExecution.executedPlan
    val finalPlan = top.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }.headOption.getOrElse(top).toString
    // the projection computing cosine_sim must carry a `*(n)` prefix —
    // the WholeStageCodegen span marker — not sit in an interpreted
    // fallback Project (as the HOF `transform` casts do).
    val inCodegen = """\*\(\d+\) Project \[.*cosine_sim""".r
      .findFirstIn(finalPlan).isDefined
    assert(inCodegen,
      s"cosine_sim not under WholeStageCodegen:\n${finalPlan.take(1500)}")
  }

  test("length trim windows run on the aggregated histogram, never the corpus") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d28_length_trim")
    assert(p.toString.contains("BroadcastHashJoin"),
      "histogram side should broadcast back to the corpus")
    // every Window node must sit ABOVE the (lang, n_tokens) histogram
    // aggregate — a window directly over the document scan would be the
    // per-lang corpus-sized serial pass the operator exists to avoid
    // (sparkPlan is pre-EnsureRequirements, so assert on the aggregate
    // below the window rather than a not-yet-inserted BroadcastExchange)
    val wins = allPhysical(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(allPhysical(w).exists(_.isInstanceOf[HashAggregateExec]),
        "a corpus-sized Window leaked into d28's plan")
    }
  }

  test("token budget broadcasts the per-bucket offsets to the corpus side") {
    val p = planOf("d26_token_budget").toString
    assert(p.contains("BroadcastHashJoin"),
      "the n_sources × 16 offset table should broadcast-join, not shuffle")
  }

  test("per-group top-k ranks over the aggregated counts, not raw events") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val wins = allPhysical(planOf("e30_topk_per_group"))
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(allPhysical(w).exists(_.isInstanceOf[HashAggregateExec]),
        "rank window must consume the (user, type) count aggregate")
    }
  }

  test("redaction is a pure projection — no joins, no corpus shuffle") {
    val plan = planOf("d32_pii_redact").toString
    assert(!plan.contains("Join"), "redaction must not join:\n" + plan.take(1500))
    assert(!plan.contains("Exchange hashpartitioning"),
      "redaction must not shuffle (only the presentation range sort):\n" + plan.take(1500))
  }

  test("decontamination candidates come from a gram equi-join") {
    val plan = planOf("d33_decontam_ngram").toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      "train×test gram join must be keyed:\n" + plan.take(1500))
  }

  test("importance-sample windows partition by shard bucket, never globally") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d36_importance_sample")
    val wins = allPhysical(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // every corpus-sized window is keyed (bucket / doc_id) — an empty
    // partition spec would serialize the whole take into one task
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "unpartitioned window in the sharded take:\n" + w.toString.take(500))
    }
  }

  test("d86 windows are query-keyed and the rank cut rides WindowGroupLimit") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val p = planOf("d86_batched_ann")
    val wins = allPhysical(p).collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    // every window in the batched search ranks ONE query's candidate
    // list — qid must be among the partition keys (the per-list cut
    // adds cid beside it); a window missing qid would either serialize
    // the batch or rank across queries (wrong semantics)
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.exists(_.references.map(_.name).toSeq.contains("qid")),
        "window without a qid key in the batched search:\n" + w.toString.take(500))
    }
    // the rnk <= 3 cut must push below the per-query sort as a
    // WindowGroupLimit (the d66b partial-limit discipline)
    assert(allPhysical(p).exists(_.isInstanceOf[WindowGroupLimitExec]),
      "top-k cut did not plan as WindowGroupLimit:\n" + p.toString.take(1500))
  }

  test("m04 payload stats are scan-parallel: no exchange before the output sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val p = planOf("m04_payload_stats")
    val exchanges = allPhysical(p).collect { case e: ShuffleExchangeLike => e }
    // the only exchange the query may plan is the presentation orderBy's
    // range partitioning — the byte recovery + HOF stats are a pure map
    assert(exchanges.size <= 1,
      s"m04 should shuffle only for the final sort:\n${p.toString.take(1500)}")
    exchanges.foreach(e => assert(
      e.toString.toLowerCase.contains("rangepartitioning"),
      "the one allowed exchange is the output sort"))
  }

  test("d42 span dedup plans NO window — first occurrence is a partial agg") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d42_span_dedup")
    // a Window.partitionBy(chunk_text) would serialize every occurrence
    // of a hot boilerplate tile into one unsplittable partition — the
    // rewrite replaced it with groupBy(chunk_text) partial aggregation
    // and a join-back keyed by the (doc_id, chunk_id) occurrence
    // coordinate, so the plan must contain no Window node at all
    assert(allPhysical(p).collect { case w: WindowExec => w }.isEmpty,
      s"content-keyed window crept back into d42:\n${p.toString.take(1500)}")
    // chunk-content agg + (doc_id, chunk_id) join-back (2 sides) +
    // doc_id reassembly + output range sort
    val exchanges = allPhysical(p).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 5,
      s"d42 shuffle count grew:\n${p.toString.take(1500)}")
  }

  test("window lints: no content-keyed partitions, global windows only over reduced data") {
    // two standing gates in ONE pass over the registry — each query
    // function is eager to build (d46 runs its whole WAP publish just
    // to expose a plan), so the lints share the optimizedPlan walk:
    // 1. content-window lint (generalizing the d42/d38 findings): a
    //    Window PARTITIONED by document content (text / norm /
    //    chunk_text / byte-payload classes) serializes hot content into
    //    one partition AQE cannot split — the partial-agg + join-back
    //    rewrite is always available instead. Ordering BY a content
    //    column is fine; partitioning by one is not.
    // 2. global-window lint: an EMPTY partition spec serializes the
    //    whole input into one task, acceptable only over already-
    //    REDUCED data (p04/d50's shard-count-row offset prefix sums,
    //    spine extrema, d66's top-k retrieval lists) — every such
    //    window must have an Aggregate OR a GlobalLimit below it (both
    //    bound the window's input independently of corpus size).
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Window => LWindow}
    val deny = "(?i).*(text|norm|payload|bytes|word|gram|shingle|token|cleaned).*".r.pattern
    SparkEntry.queries.keys.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, Sf).queryExecution.optimizedPlan
      (plan +: plan.subqueriesAll).foreach(_.foreach {
        case w: LWindow =>
          val offenders = w.partitionSpec
            .flatMap(_.collect { case a: Attribute => a.name })
            .filter(n => deny.matcher(n).matches)
          assert(offenders.isEmpty,
            s"$name windows partitioned by content column(s): " +
              offenders.distinct.mkString(", "))
          if (w.partitionSpec.isEmpty)
            assert(w.child.collectFirst {
                case a: Aggregate => a; case l: GlobalLimit => l
              }.isDefined,
              s"$name plans a GLOBAL window over non-reduced data:\n" +
                w.toString.take(800))
        case _ => ()
      })
    }
  }

  test("d66b: every window is query_id-keyed and per-query top-k runs a partial WindowGroupLimit") {
    // the d66 scaladoc's promised generalization, pinned: once the query
    // table has > 1 row, NO window may be global (a global window would
    // serialize all queries' candidates into one task), and the
    // rank-≤-k filter must plan Spark's WindowGroupLimit so each map
    // task ships only its local top-k per query — the "per-query top-k
    // via partial aggregation" scale path.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = operators.EmbeddingOps.hybridRrfMulti(spark, Sf)
    val opt = q.queryExecution.optimizedPlan
    val windows = opt.collect { case w: LWindow => w }
    assert(windows.nonEmpty, "d66b lost its rank windows")
    windows.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.collect { case a: Attribute => a.name })
      assert(keys.contains("query_id"),
        s"d66b window not query_id-keyed (global?):\n${w.toString.take(400)}")
    }
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("WindowGroupLimit"),
      "per-query top-k did not plan WindowGroupLimit (partial map-side top-k):\n" +
        phys.take(1500))
  }

  test("d80: the per-vertex cut plans a partial WindowGroupLimit and the " +
    "window is vertex-keyed") {
    // the d80 scaladoc's shuffle claim, pinned: the rank-≤-k filter must
    // plan WindowGroupLimit so each map task ships only its local top-k
    // per vertex — O(k·n) shuffled rows, not the Σ block² candidate
    // relation — and the window must be keyed by the vertex (a global
    // window would serialize the whole graph into one task).
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // both blocking keys ride the same kernel — pin both registry
    // instances (label-blocked d80, cells-blocked d80b)
    for ((name, q) <- Seq(
        "d80" -> operators.EmbeddingOps.knnGraph(spark, Sf),
        "d80b" -> operators.EmbeddingOps.knnGraphCells(spark, Sf))) {
      val windows = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(windows.nonEmpty, s"$name lost its rank window")
      windows.foreach { w =>
        val keys = w.partitionSpec.flatMap(_.collect { case a: Attribute => a.name })
        assert(keys.contains("i"),
          s"$name window not vertex-keyed (global?):\n${w.toString.take(400)}")
      }
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("WindowGroupLimit"),
        s"$name per-vertex top-k did not plan WindowGroupLimit (partial " +
          "map-side top-k):\n" + phys.take(1500))
    }
  }

  test("f20 plans a bloom prefilter inside the conf scope; bloom-on ≡ bloom-off") {
    val (bloomPlan, bloomRows) = operators.Sources.withBloomConfs(spark) {
      val q = operators.Sources.bloomJoinFrame(spark, Sf)
      (q.queryExecution.optimizedPlan.toString.toLowerCase,
        q.collect().map(_.toString).toSeq)
    }
    assert(bloomPlan.contains("might_contain") &&
      bloomPlan.contains("bloom_filter_agg"),
      "InjectRuntimeFilter did not fire under the forced thresholds:\n" +
        bloomPlan.take(1200))
    val plain = operators.Sources.bloomJoinFrame(spark, Sf)
    val plainPlan = plain.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plainPlan.contains("might_contain"),
      "the bloom confs leaked out of the managed scope")
    // the prefilter is conservative: results identical either way
    assert(plain.collect().map(_.toString).toSeq === bloomRows)
  }

  test("p04 draws shard boundaries ONCE — both subtrees read the persisted shards") {
    // correctness depends on the counts and rank subtrees seeing the
    // SAME shard boundaries: RangePartitioner's sample seed involves the
    // RDD id, so a re-executed range exchange could draw different
    // boundaries. The sharded frame is persisted, making the single
    // boundary draw STRUCTURAL (not a planner ReuseExchange property):
    // every consumer must read the cache, and no second range exchange
    // may appear outside it.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.sharedState.cacheManager.clearCache()
    val nodes = executedNodes("p04_equidepth_bins")
    assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
      "both subtrees must read the persisted shards — boundary reuse is " +
        "no longer structural")
    val valueRangeExchanges = nodes.filter {
      case e: ShuffleExchangeLike => e.outputPartitioning match {
        case r: RangePartitioning =>
          r.ordering.exists(_.references.exists(_.name == "o_totalprice"))
        case _ => false
      }
      case _ => false
    }
    assert(valueRangeExchanges.isEmpty,
      "a range exchange on the value key appeared OUTSIDE the cached " +
        "shards — a second boundary draw is possible again")
  }

  test("d50 reuses the p04 kernel's persisted shards — one boundary draw") {
    // same structural property as the p04 pin, through the SHARED
    // globalRankByRange kernel: both the offsets subtree and the rank
    // subtree must read the persisted shards (≥2 InMemoryTableScan), or
    // a second range exchange could draw different boundaries and
    // misalign ntile offsets.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    spark.sharedState.cacheManager.clearCache()
    val nodes = executedNodes("d50_perplexity_buckets")
    assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
      "d50's offsets and rank subtrees must both read the persisted shards")
  }

  test("d76 output plan never re-scans the corpus — store-fed it reads " +
    "the published model; self-contained it reads the cached word table") {
    // the scaladoc's "ONE corpus scan ever happens" claim, structurally,
    // on BOTH read paths (round 18: d76 reads the d85 store by default):
    // store-fed the output plan is an OUTPUT-SIZED READER — zero
    // FileScans of the documents parquet, only vocabulary-sized scans
    // of the published word_freq/uni_costs tables; self-contained
    // (share off) the word-frequency cache is load-bearing — zero
    // documents scans and at least two cache reads (the seed pass and
    // the final E-step both consume wf)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def docScans(nodes: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      nodes.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
      }
    spark.sharedState.cacheManager.clearCache()
    val fed = executedNodes("d76_unigram_lm")
    assert(docScans(fed).isEmpty,
      "the store-fed d76 output plan re-scanned the corpus parquet")
    assert(fed.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("word_freq")) => f
    }.nonEmpty, "the store-fed d76 plan must read the published word_freq")
    spark.conf.set("spark.graft.shareTokenizerStore", "false")
    try {
      spark.sharedState.cacheManager.clearCache()
      val solo = executedNodes("d76_unigram_lm")
      assert(docScans(solo).isEmpty,
        "the self-contained d76 output plan re-scanned the corpus parquet" +
          " — the word-frequency cache is no longer load-bearing")
      assert(solo.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
        "the seed pass and the E-step must both read the cached word table")
    } finally spark.conf.set("spark.graft.shareTokenizerStore", "true")
  }

  test("d76 viterbi fold is one projection — no join or shuffle carries " +
    "the DP, and the vocabulary reaches it broadcast") {
    // the DP must stay a per-row aggregate-HOF fold over the word
    // column with the cost map arriving via broadcast — a shuffle or
    // sort-merge join on the word grain would mean the fold leaked
    // into a distributed recurrence
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.sharedState.cacheManager.clearCache()
    val nodes = executedNodes("d76_unigram_lm")
    assert(nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "the one-row vocabulary map must reach the fold as a broadcast")
    // shuffles exist only for the vocabulary-grain aggregates (piece
    // counts, usage) — all AFTER the corpus collapsed to words; none
    // may partition on the raw text column
    nodes.collect { case e: ShuffleExchangeLike => e }.foreach { e =>
      assert(!e.outputPartitioning.toString.contains("text"),
        "a shuffle partitioned on raw document text")
    }
  }

  test("d51 novelty plans no window at all — first owner is a partial agg") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d51_gram_novelty")
    // like d42: groupBy(shingle).min + join-back, never a content window
    assert(allPhysical(p).collect { case w: WindowExec => w }.isEmpty,
      s"window crept into d51:\n${p.toString.take(1500)}")
  }

  test("e34 sessionize rides ONE user_id hash shuffle end to end") {
    // lag window, running-sum window, session aggregate, and the
    // distinct-type expansion all key on user_id (HashPartitioning on a
    // SUBSET of each later clustering satisfies it): exactly one hash
    // exchange in the EXECUTED plan (exchanges only exist post-
    // EnsureRequirements, so `sparkPlan` can't see them); the only other
    // exchange is the presentation sort's range partitioning.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val exchanges = executedNodes("e34_sessionize")
      .collect { case e: ShuffleExchangeLike => e }
    val hashes = exchanges.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashes.size == 1 && exchanges.size <= 2,
      s"e34 should shuffle once on user_id + the output sort; got " +
        s"${exchanges.map(_.outputPartitioning).mkString(", ")}")
  }

  test("e38 OHLC bars plan NO window — open/close are min_by/max_by aggregates") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("e38_ohlc_bars")
    // the bucket count is tiny but per-bucket input is unbounded: a
    // rank-window formulation would funnel each bucket's whole input
    // through one partition — the bar must stay an aggregate
    assert(allPhysical(p).collect { case w: WindowExec => w }.isEmpty,
      s"per-bucket window crept into e38:\n${p.toString.take(1200)}")
    val exchanges = executedNodes("e38_ohlc_bars")
      .collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.size <= 2, // (type, day) agg + presentation sort
      s"e38 shuffle count grew: ${exchanges.map(_.outputPartitioning).mkString(", ")}")
  }

  test("d53 keep-best plans NO cluster-keyed window — the winner is an aggregate") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d53_cluster_keep_best")
    // a boilerplate family with millions of members would serialize
    // through one partition under a cluster-keyed rank window; max_by
    // partial-combines map-side instead (the d42 lesson)
    assert(allPhysical(p).collect { case w: WindowExec => w }.isEmpty,
      s"cluster-keyed window crept into d53:\n${p.toString.take(1200)}")
  }

  test("d82 keep-best plans NO family-keyed window — winner is an aggregate, " +
    "CC rounds live behind checkpoints") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("d82_knn_graph_dedup")
    // the graph's own per-vertex cut ran inside the (checkpointed) CC
    // input; the DECISION plan — labels → sizes → quality → keep-best —
    // must carry no window at all: the d53 rule at family grain
    assert(allPhysical(p).collect { case w: WindowExec => w }.isEmpty,
      s"family-keyed window crept into d82:\n${p.toString.take(1200)}")
  }

  test("m07 motion energy windows ONLY on doc_id; scan-parallel differencing") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val p = planOf("m07_motion_energy")
    val wins = allPhysical(p).collect { case w: WindowExec => w }
    assert(wins.size == 1, s"m07 must have exactly the lag window, got ${wins.size}")
    assert(wins.head.partitionSpec.map(_.sql).exists(_.contains("doc_id")),
      s"m07 window must partition by doc_id: ${wins.head.partitionSpec.map(_.sql)}")
    val exchanges = executedNodes("m07_motion_energy")
      .collect { case e: ShuffleExchangeLike => e }
    val hashes = exchanges.filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashes.size == 1 && exchanges.size <= 2, // doc_id window + output sort
      s"m07 should shuffle once on doc_id + the output sort; got " +
        s"${exchanges.map(_.outputPartitioning).mkString(", ")}")
  }

  test("approx-percentile rewrite: off by default, one conf flips every percentile") {
    import graft.plans.ApproxPercentileRewrite
    import graft.operators.Profiling
    // default: exact percentile in the plan, no approx anywhere
    // note: ApproximatePercentile prints as "percentile_approx"
    val offPlan = planOf("p07_mad_outliers").toString
    assert(offPlan.contains("percentile") && !offPlan.contains("percentile_approx"),
      offPlan.take(800))
    val exact = Profiling.madOutliers(spark, Sf)
      .select("event_type", "med", "n").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    ApproxPercentileRewrite.enabled(spark) {
      val df = Profiling.madOutliers(spark, Sf)
      val onPlan = df.queryExecution.sparkPlan.toString
      assert(onPlan.contains("percentile_approx"),
        "flag on must rewrite percentile → percentile_approx:\n" + onPlan.take(800))
      val approx = df.select("event_type", "med", "n").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
      assert(approx.keySet === exact.keySet)
      approx.foreach { case (k, (amed, an)) =>
        val (emed, en) = exact(k)
        assert(an === en, s"$k row count changed under rewrite")
        // approx returns a real element (no interpolation) — compare
        // with a generous tolerance; counts are untouched
        assert(math.abs(amed - emed) <= 0.05 * (math.abs(emed) + 1.0),
          s"$k med approx=$amed exact=$emed")
      }
    }
    // flag restored: the exact plan is back
    assert(!planOf("p07_mad_outliers").toString.contains("percentile_approx"))
  }

  test("store readers prune the published pair scan to the columns they use") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // d47 projects (i, j, jac); the store also carries n_common/n_i/n_j.
    // The whole point of the read side is a cheap output-sized scan —
    // column pruning must reach the parquet reader.
    val scans = allPhysical(planOf("d47_store_contamination")).collect {
      case f: FileSourceScanExec
        if f.metadata("Location").contains("graft-pairstore") => f
    }
    assert(scans.nonEmpty, "published pair-store scan not found in d47's plan")
    val schema = scans.head.metadata("ReadSchema")
    assert(!schema.contains("n_common") && !schema.contains("n_i"),
      s"store scan reads columns d47 never uses: $schema")
  }

  test("d73 consumer prunes the published index scans to the columns each subtree uses") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the cnorm aggregate needs only (m, code, c) from the codebook —
    // its scan must drop `pos` (the LUT subtree's scan keeps it); the
    // read side's cheapness claim rests on pruning reaching the store.
    val scans = allPhysical(planOf("d73_ivfpq_ann")).collect {
      case f: FileSourceScanExec
        if f.metadata("Location").contains("graft-vindexstore") => f
    }
    assert(scans.nonEmpty, "published index scans not found in d73's plan")
    val cbScans = scans.filter(_.metadata("Location").contains("codebook"))
    assert(cbScans.size >= 2, "expected both codebook subtrees to scan the store")
    assert(cbScans.exists(!_.metadata("ReadSchema").contains("pos")),
      "no codebook scan pruned `pos`: " +
        cbScans.map(_.metadata("ReadSchema")).mkString(" | "))
  }

  test("z-order re-read pushes the 2-d box predicate into the scan") {
    // read the scan's own metadata — simpleString truncates PushedFilters
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = allPhysical(planOf("f08_zorder_scan"))
      .collect { case sc: FileSourceScanExec => sc }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey,500)") &&
      pushed.contains("LessThanOrEqual(l_orderkey,2500)") &&
      pushed.contains("GreaterThanOrEqual(l_partkey,50)") &&
      pushed.contains("LessThanOrEqual(l_partkey,250)"),
      "box predicate must reach the parquet reader: " + pushed)
  }
}
