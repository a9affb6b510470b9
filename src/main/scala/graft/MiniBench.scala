package graft

import graft.operators.{LabelStore, PairStore, TokenizerStore, VectorIndexStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

object MiniBench {
  /** Dev-only micro-bench: median-of-N per named query under the Bench
    * protocol (caches persist across runs; pass --cold to clear,
    * --reps=N for more samples, --gc to System.gc() between reps, and
    * --each to print every sample — the drift-diagnosis mode). */
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEnv.session("mini")
    val cold = args.contains("--cold")
    // --rebuild: the publisher keys re-derive their store (d46 pairs,
    // d61 labels, d74 vector index, d85 tokenizer models) on EVERY
    // sample — the cold-publish regression measurement the idempotent
    // production path hides
    val rebuilds: Map[String, (SparkSession, String) => DataFrame] =
      if (!args.contains("--rebuild")) Map.empty
      else Map("d46_pair_store_publish" -> (PairStore.rebuild _),
        "d61_label_store_publish" -> (LabelStore.rebuild _),
        "d74_index_publish" -> (VectorIndexStore.rebuild _),
        "d85_tokenizer_store" -> (TokenizerStore.rebuild _))
    val gc = args.contains("--gc")
    val each = args.contains("--each")
    val reps = args.collectFirst { case a if a.startsWith("--reps=") => a.drop(7).toInt }.getOrElse(3)
    val qs = args.filterNot(a => a.startsWith("--")).toSeq match {
      case Nil => SparkEntry.queries.keys.toSeq.sorted
      case x => x
    }
    val interleave = args.contains("--interleave")
    def run(n: String): Double = {
      if (cold) spark.sharedState.cacheManager.clearCache()
      if (gc) System.gc()
      val t0 = System.nanoTime()
      rebuilds.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    qs.foreach { n => SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save() }
    if (interleave) {
      // bench-shaped passes: every query once per pass, repeated — the
      // cross-query state-accumulation diagnosis mode. Reports leaked
      // block-manager state after each query: persisted RDDs that
      // clearCache() did NOT reclaim (eager round-checkpoint blocks).
      (1 to reps).foreach { p =>
        qs.foreach { n =>
          val t = run(n)
          spark.sharedState.cacheManager.clearCache()
          val rdds = spark.sparkContext.getPersistentRDDs
          val mem = spark.sparkContext.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum / 1e6
          println(f"mini $n pass$p $t%.3f leakedRdds=${rdds.size} storageUsedMB=$mem%.1f")
        }
      }
    } else qs.foreach { n =>
      val ts = (1 to reps).map { i =>
        val t = run(n)
        if (each) println(f"mini $n rep$i $t%.3f")
        t
      }.sorted
      println(f"mini $n ${ts(reps / 2)}%.3f")
    }
    spark.stop()
  }
}
