package graft

import org.apache.spark.sql.SparkSession

/** The 100 TB config discipline as CODE — the session defaults this
  * library is designed against, in one auditable place instead of
  * scattered comments. Two tiers:
  *
  *  - [[clusterDefaults]] — what a 1000-executor production session
  *    should set. Documented per key; values are the ones the
  *    operators here assume (AQE on with skew-join, RocksDB streaming
  *    state, size-bounded scan partitions).
  *  - [[localSession]] — the test/bench harness shape (local[n],
  *    shuffle partitions = n, UTC, UI off) with every cluster default
  *    that is meaningful in one JVM applied on top, so local plans
  *    exercise the same optimizer behavior the cluster would.
  */
object GraftConf {

  /** Cluster-scale session defaults. Key → (value, why). */
  val clusterDefaults: Map[String, String] = Map(
    // ---- adaptive execution: the runtime re-planner the operators rely
    // on for skew they cannot see at plan time (Jaccard hot shingles,
    // curation hot domains are SALTED by hand; residual skew in plain
    // keyed joins is AQE's job)
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // post-shuffle coalescing keeps reducer count proportional to DATA
    // volume, so one shuffle.partitions setting serves both the 100 GB
    // and the 100 TB stage of the same pipeline
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // the size AQE coalesces toward; 128 MB ≈ one HDFS/parquet block of
    // work per reducer — small enough to spread, big enough to amortize
    // task setup
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "134217728",
    // let AQE coalesce the output partitioning of CACHED plans too
    // (default false): this pipeline persists many small derived
    // tables (pair graphs, degree tables, posting summaries) whose
    // builders ran at full shuffle width — without this flag every
    // cached tiny table keeps shuffle-width near-empty partitions and
    // every downstream stage pays one multi-MB-hash-page task per
    // partition. Measured r14 at sf0.1: the graph/containment audits
    // dropped 50-80% of their heap allocation and 60-75% of their GC
    // time with NO wall regression anywhere in the family (q117
    // 2807->571 MB, q48 2422->1177 MB, q180 729->383 MB per pass).
    // The documented cost of the flag — a consumer that relied on the
    // cached distribution may re-shuffle — does not bite this
    // workload: the small caches are re-aggregated or joined through
    // size-appropriate exchanges anyway (plan census re-audited the
    // round the flag landed).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // ---- scan sizing: one task per ≤256 MB of parquet keeps scan
    // parallelism bounded by data volume, and file-open cost amortized
    // over row groups (the compact() companion bounds the other end —
    // too MANY small files)
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    // ---- shuffle width: 2-3× total executor cores is the standing
    // guidance so every core gets work even with stragglers; AQE
    // coalescing then trims empty reducers. 2000 assumes ~1000 cores;
    // scale with the cluster (this is the ONE knob that must track
    // cluster size).
    "spark.sql.shuffle.partitions" -> "2000",
    // ---- broadcast: 64 MB fits comfortably in multi-GB executors and
    // keeps dimension-table joins (nation/region/catalog dims, contam
    // sets, centroids) shuffle-free; genuinely big tables still
    // sort-merge. The operators that REQUIRE a broadcast call
    // broadcast() explicitly and do not depend on this threshold.
    "spark.sql.autoBroadcastJoinThreshold" -> "67108864",
    // ---- streaming state: RocksDB keeps multi-GB per-executor state
    // (windowed aggs, dedup sets, shard-packing counters) off-heap and
    // incrementally checkpointed — the HDFS-backed in-memory default
    // OOMs at the reference's own 10 GB state budget (quix.yaml:54-56)
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // changelog checkpointing ships per-batch DELTAS instead of
    // re-uploading full SST files — the incremental-checkpoint shape
    // the reference gets from Kafka changelog topics
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // ---- codegen class cache: default 100 entries. A session running
    // a many-query workload (the 86-query Verify/Bench suite; any
    // multi-tenant analytics service) generates far more than 100
    // distinct codegen units, so the Guava cache thrashes and every
    // re-execution pays full Janino recompilation of every stage.
    // Measured r8: q50 isolated = 5.0 s warm / 15-19 s on the pass
    // that compiles its classes; the r7 driver bench (86-query suite
    // between q50's two passes evicting everything) reported ~14.6 s
    // on BOTH passes — the same queries ran 7.5 s when the suite was
    // 53 queries (r6). Re-measured r9 at 124 queries: 4096 overflowed
    // again (q103 13.7 s on BOTH suite passes vs 2.98 s min-of-2 in a
    // 5-query suite and 2.41 s isolated min-of-4 — eviction between
    // passes, not code). Sized to 16384: still tens of MB of class
    // metadata — noise against executor memory, and strictly
    // driver/executor-local.
    "spark.sql.codegen.cache.maxEntries" -> "16384",
    // ---- codegen class reuse across streaming queries: the class cache
    // above is keyed by (context classloader, source), and every
    // writeStream.start() runs in a cloned session. With artifact
    // isolation on (Spark's default) each clone gets a fresh artifact
    // classloader, so every query start misses on byte-identical
    // sources: a perfbench trade_stream drain recompiled 25 classes
    // (~300 ms) per start, darkpool_dedup_stream 12 (~120 ms), at
    // local[2] on a 4-vCPU host. This library adds no per-session jars
    // or REPL classes, so isolation buys nothing; with it off, every
    // drain after the first compiles nothing.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // ---- session determinism: every timestamp operator in this repo
    // is defined in UTC; a session in any other zone would silently
    // shift day buckets (Telemetry dt handshake, timeBucket)
    "spark.sql.session.timeZone" -> "UTC")

  /** The subset of [[clusterDefaults]] that is meaningful (and
    * identical in effect) inside one local JVM — applied to local
    * sessions so test plans match cluster plans. Shuffle width and
    * scan sizing are EXCLUDED: locally they track the core count and
    * testdata size instead.
    */
  private val localMeaningful: Seq[String] = Seq(
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.codegen.cache.maxEntries",
    "spark.sql.artifact.isolation.enabled",
    "spark.sql.session.timeZone")

  /** Keys that are STATIC (builder-time only) — re-`conf.set` on a
    * live session throws for the first two and is ignored for artifact
    * isolation; they take effect only when this process created the
    * session (true for the harness mains, each the first session in
    * its JVM).
    */
  private val staticKeys: Set[String] =
    Set("spark.ui.enabled", "spark.sql.codegen.cache.maxEntries",
      "spark.sql.artifact.isolation.enabled")

  /** The exact config map a local harness session applies: shuffle
    * partitions = cpus (not the 200 default, not the cluster 2000),
    * UI off, plus the local-meaningful cluster defaults. Pure — the
    * spec pins this without touching the shared test session.
    */
  def localConfigs(cpus: Int): Map[String, String] =
    Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false") ++
      localMeaningful.map(k => k -> clusterDefaults(k))

  /** The harness session: local[cpus] + [[localConfigs]]. Verify and
    * Bench both build here, so the correctness gate and the bench run
    * the same optimizer configuration.
    *
    * If a SparkSession already exists in the JVM, getOrCreate returns
    * it and silently ignores builder options — so the runtime-settable
    * configs are re-applied through `conf.set` afterwards, making the
    * documented contract hold either way. Only `master` and the
    * static `spark.ui.enabled` cannot be changed on a live session
    * (first creator wins — acceptable for the harness mains, which
    * are each the first and only session in their JVM).
    */
  def localSession(cpus: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]")
    localConfigs(cpus).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    localConfigs(cpus).foreach { case (k, v) =>
      if (!staticKeys(k)) s.conf.set(k, v)
    }
    s
  }
}
