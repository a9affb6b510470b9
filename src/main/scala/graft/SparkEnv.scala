package graft

import org.apache.spark.sql.SparkSession

/** Single SparkSession factory so every entry point (Verify, Bench, tests)
  * runs under identical session semantics.
  *
  * Session-wide confs that matter for correctness live here, not inside
  * operators, so no query mutates shared session state as a side effect:
  *  - UTC timezone: the oracle compare formats timestamps as strings.
  *  - `nanosAsLong`: `events.ts` is parquet timestamp[ns], which Spark only
  *    reads via this legacy conf (as a LONG of epoch nanos). Setting it
  *    once here means every parquet read in the session sees the same
  *    behavior (the previous design set it inside Tables.events mid-query).
  *    No other test table carries nanos timestamps, so the conf is inert
  *    for them ([[Tables]] converts the nanos LONG explicitly).
  *  - AQE + shuffle partitions sized for the local[N] box: at cluster
  *    scale, shuffle partitions come from cluster config and AQE coalesces;
  *    locally 200 partitions over ~32 cores is pure scheduling overhead.
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` name the
  *    fork-free local file system ([[ForkFreeLocalFileSystem]],
  *    [[ForkFreeLocalFs]]). Without the native `libhadoop`, the stock
  *    classes fork a `chmod` per file and directory created and four
  *    `readlink`s per FileContext rename: a JFR recording of one
  *    `trickle_publish` bench run counts 2,723 process starts with the
  *    stock classes and 24 with these (Spark's own `rm -rf`s remain).
  *    Sticky, setuid and setgid bits, symlinks, non-POSIX file systems
  *    and errors still take Hadoop's own path. The FileSystem is cached
  *    JVM-wide: the first `file:` FileSystem created without these
  *    settings (any code that touches `file:` before the session) would
  *    be the stock one for the rest of the JVM.
  */
object SparkEnv {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def session(appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // The JVM-wide generated-class cache defaults to 100 entries — a
      // ~115-query session (the bench, any serving session) cycles far
      // more codegen units than that, so a big-codegen query following a
      // big-codegen neighbor pays full Janino + JIT re-warm every time
      // (diagnosed round 8: d03 after d02 ran 3.4–4.5 s vs 2.0 s with a
      // warm class cache; a second consecutive d03 run dropped back to
      // 1.9 s — eviction/refill, not data or GC, and System.gc() between
      // queries did not recover it). Classes are tens of KB; a large
      // cache is noise against the 128 GiB heap and is what a long-lived
      // production session wants anyway. Sized with headroom over the
      // suite's demand: 2000 sufficed at ~127 queries but thrashed again
      // at ~163 (round 9: the shingle family — the biggest codegen
      // consumers — ran 2.2× slower suite-context while flat isolated,
      // the same eviction signature), so keep ~50 generated classes per
      // registered query of headroom.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // RocksDB state store: required by transformWithState (the HDFS-
      // backed provider lacks its column families) and the production
      // choice for all stateful streaming at scale (incremental
      // checkpoints, state larger than heap).
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing (round 19, guide §5 engine fixed costs):
      // per micro-batch commit, upload only the batch's changelog
      // instead of a full RocksDB snapshot — the production
      // recommendation for RocksDB state stores and the dominant
      // per-trigger fixed cost of the stateful twins at toy scale
      // (s22's replay is ~5 triggers × 32 state partitions). State
      // content and query results are unchanged — this is purely how
      // state is persisted between commits.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // transformWithState under BATCH execution has no StateStoreCoordinator
      // endpoint; snapshot-lag reporting would fail the query with
      // RpcEndpointNotFoundException. The report is telemetry, not state.
      .config("spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag",
        "false")
      .config("spark.hadoop.fs.file.impl", classOf[ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
