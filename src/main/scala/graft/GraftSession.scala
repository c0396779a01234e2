package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession factory for the engine: every entry point
  * (Verify, Bench, tests) builds sessions here so configs stay
  * consistent.
  *
  *  - `nanosAsLong`: the `events` testdata carries TIMESTAMP(NANOS),
  *    which Spark's parquet reader only accepts as raw longs; the
  *    [[graft.queries.Tables]] loader converts back to (truncated)
  *    microsecond timestamps, matching DuckDB's ns→us truncation.
  *  - UTC session timezone for oracle parity.
  *  - shuffle partitions sized to local cores, not the 200 default.
  */
object GraftSession {
  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The driver's testdata writes `timestamp[us]` WITHOUT the
      // isAdjustedToUTC annotation (plain pyarrow timestamps). Spark 4
      // infers those as TIMESTAMP_NTZ by default, which poisons every
      // downstream unix_micros()/range-window over `ts`. DuckDB reads
      // the same column as a naive TIMESTAMP; with a UTC session
      // timezone, TimestampType carries the identical microsecond
      // values — so keep the classic inference.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // AQE: runtime partition coalescing + skew-join splitting — the
      // first line of defense at cluster scale; local runs keep it on
      // so plans are the ones a 1000-executor job would get.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Shuffle width stays = cores here. A 512-wide
      // initialPartitionNum + AQE-coalesce variant was measured at
      // the 100× SF for the super-linear graph rows (r13) and was
      // neutral-to-worse (q179 590 vs 581 s; q162 worse under
      // comparable contention): the iterative loops checkpoint per
      // round, and 16× the blocks/probe-tasks per round outweigh the
      // smaller per-task aggregate state at single-box scale. On a
      // real cluster the SAME plans get their width from
      // spark.sql.shuffle.partitions sized to the cluster, not from
      // this local session factory.
      // 128 MiB scan splits: big enough to amortize footer reads,
      // small enough that a 100 TB table still yields ~800k parallel
      // tasks rather than a handful of stragglers.
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      // ObjectHashAggregate (the typed bounded-heap top-k path: TopK
      // aggregators) falls back to SORT-BASED aggregation once a
      // partition sees >128 distinct keys (the Spark default) — the
      // fallback serializes every kryo heap buffer through a sort and
      // measured 2-3× slower on the NN-descent candidate streams
      // (r14). The heaps are k-bounded (≤ tens of rows × 16 B), so
      // 64Ki in-memory buffers per task is ≤ ~30 MB at k=24 — safe at
      // any scale; this is a correctness-of-operator-choice setting,
      // not a local-box tune.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // bucketed saveAsTable target — outside any source tree
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // local writes set file and directory modes in-process instead
      // of forking `chmod` for each (graft.io.PosixLocalFileSystem)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.io.PosixLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The engine's no-partition windows (the WoW lag window: one row
    // per week; the PQ label-code rank: one row per label) are
    // bounded-row, so WindowExec's single-partition WARN is noise
    // here; worse, the repeated lines flood the captured output tail
    // and can push Bench's one JSON line out of the driver's
    // 2000-byte capture window.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // SQL users of every engine entry point (Verify/Bench/tests) get
    // the custom function surface (graft_murmur3 / dot_f64 / dot_i8);
    // getOrCreate may return a pre-existing session, so registration
    // happens here rather than via builder extensions.
    GraftExtensions.register(spark)
    spark
  }

  /** Scale-adaptive fan-out for EXPRESSION-DENSE per-row stages
    * (n-gram eval metrics, checksum validation, shingle explodes):
    * Spark sizes input splits by BYTES, so a compute-heavy table
    * that happens to be one small parquet file/row group plans ONE
    * partition and serializes the whole stage onto a single core
    * (the sf0.1 documents table is 600 KB → q157 ran 16 s on 1 of
    * 32 cpus). A no-op whenever the scan already yields ≥ half the
    * cluster's parallelism — at production scale inputs split
    * naturally and this adds nothing; below that it pays one tiny
    * exchange for full-width compute. Fan out the BASE columns and
    * project the heavy expressions ABOVE the exchange. */
  // The partition-count probe below (df.rdd) runs a full physical
  // planning pass — fine once, waste when the same registered query
  // calls through here on every bench pass. Decisions are cached per
  // (session, canonicalized-plan semanticHash, parallelism): the
  // repeated-call case hits exactly, a 32-bit hash collision can at
  // worst mis-place one small exchange (perf, never correctness),
  // and the WeakHashMap lets a stopped session's entries collect.
  // A session that rewrites its input files under the same path may
  // reuse a stale decision — also perf-only, and outside the
  // Bench/Verify immutable-input contract.
  private val fanOutDecisions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        java.util.concurrent.ConcurrentHashMap[java.lang.Long,
          java.lang.Boolean]]())

  private[graft] def fanOutCacheSize(spark: SparkSession): Int = {
    val m = fanOutDecisions.get(spark)
    if (m == null) 0 else m.size()
  }

  def fanOutForCompute(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // Only scan-rooted frames (scan/filter/project/LogicalRDD trees)
    // are probed: their .rdd is pure file-split planning. A frame
    // with a shuffle-inducing operator upstream gets its width from
    // spark.sql.shuffle.partitions/AQE, and probing it under AQE
    // EXECUTES its query stages — a silent double-run. Those callers
    // handle width explicitly at the exchange instead.
    // r15 (advice): the guard is an ALLOWLIST of scan-rooted nodes —
    // any leaf (relation, LocalRelation, checkpoint LogicalRDD) under
    // Project/Filter/SubqueryAlias only. The previous blocklist
    // missed Deduplicate (what .distinct()/dropDuplicates() analyze
    // to), Expand, Intersect/Except, Offset — a frame with any of
    // those would have been probed and double-run under AQE.
    // streaming frames have no .rdd at all — never probe them
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical._
    val scanRooted = !df.queryExecution.analyzed.exists {
      case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias =>
        false
      case _ => true
    }
    if (!scanRooted) return df
    val cache = fanOutDecisions.synchronized {
      var m = fanOutDecisions.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[java.lang.Long,
          java.lang.Boolean]()
        fanOutDecisions.put(spark, m)
      }
      m
    }
    val key = java.lang.Long.valueOf(
      (df.queryExecution.analyzed.semanticHash().toLong << 32) |
        (target.toLong & 0xffffffffL))
    val fanOut = cache.computeIfAbsent(key,
      _ => df.rdd.getNumPartitions * 2 < target)
    if (fanOut) df.repartition(target) else df
  }

  /** Clean-storage-pool discipline shared by Bench and Verify: free
    * every persistent RDD (operators' localCheckpoint blocks, which
    * Dataset.unpersist cannot reach) and the cache manager between
    * queries, so blocks leaked by one query never evict the blocks
    * of the query under measurement. Safe between queries: every
    * query rebuilds its plan from parquet, and the cross-query
    * artifacts (text index, model tables) are parquet-backed. */
  def clearPool(spark: SparkSession): Unit = {
    try spark.catalog.clearCache() catch { case _: Throwable => () }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // Shuffle files and broadcast pieces are reclaimed by
    // ContextCleaner only after the DRIVER garbage-collects the
    // owning RDD/exchange objects — and a large-heap driver may not
    // GC for many queries, so dead shuffle data piles up on disk and
    // in the page cache (observed r13: pass-over-pass monotone
    // slowdowns, 8.3 → 15.9 → 21.2 s on an unchanged query, WORSE
    // with a bigger heap because GC got rarer). One explicit driver
    // GC per clear keeps the cleaner current; cost is ~10 ms on a
    // bench-sized heap.
    System.gc()
  }
}
