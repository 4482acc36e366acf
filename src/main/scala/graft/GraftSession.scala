package graft

import org.apache.spark.sql.SparkSession

/** Recommended SparkSession configuration for this library — the knobs a
  * 1000-executor deployment actually needs, with the reasoning attached,
  * plus graft's SQL functions pre-registered.
  *
  * These are DEFAULTS to start from; per-job tuning (shuffle partition
  * count vs data volume, memory fractions) still applies.
  */
object GraftSession {
  import scala.util.chaining._

  /** RocksDB-backed streaming state: the default HDFSBackedStateStore
    * keeps every state row on the executor HEAP — at pipeline ingest
    * rates (dedup state = keys × watermark horizon) that is an OOM wall,
    * while RocksDB spills to local disk with a bounded block cache and
    * scales state per executor to what the disk holds. Changelog
    * checkpointing uploads per-batch deltas instead of full SST
    * snapshots, so commit latency stays flat as state grows. Factored
    * out so the minimal harness sessions (Verify/Bench/specs) run the
    * stateful operators under the SAME state backend a deployment
    * would. */
  def rocksDbState(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // Let the planner pick a shuffled-hash join when its size conditions
    // hold instead of always preferring sort-merge: both sides still
    // shuffle, but the smaller side builds a hash table and the sort of
    // BOTH sides disappears. Scale-safe by construction — the planner
    // only chooses SHJ when the build side fits its per-partition
    // conditions, and AQE's skew handling still applies; measured
    // A/B on the full bench (2 runs each, min-of-runs): −8.7% total,
    // wins broad across join-bearing gates, no solo-confirmed
    // regression. (The optimization guide's §9 baseline carries the
    // same setting.) Here rather than in [[configure]] so every harness
    // session — Bench, Verify, specs — plans the same joins.
    // Deployment trade-off: SHJ's build-side hash map does NOT spill —
    // a stats misestimate (post-filter/explode frames) that passes the
    // planner's build-side size check can OOM at scale where sort-merge
    // would have spilled gracefully. Deployments with badly estimated
    // build sides should opt out (set preferSortMergeJoin=true on their
    // session) or fix the estimates; AQE skew splitting still applies
    // either way.
    .config("spark.sql.join.preferSortMergeJoin", "false")

  /** The session every gate runner builds on (Verify, Bench, AuditPlans,
    * the specs and the tool mains): [[rocksDbState]] on `local[n]` with
    * `n` shuffle partitions, UTC session time and no UI, where `n` is
    * `SPARK_GRAFT_CPUS`, else the core count. Add confs to the returned
    * builder, then `getOrCreate()`. */
  def harness(appName: String): SparkSession.Builder = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    rocksDbState(SparkSession.builder()
      .appName(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
  }

  /** Apply the recommended configs to a builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    // AQE re-plans at runtime: coalesces small shuffle partitions,
    // converts SMJ→broadcast when a side turns out small, and splits
    // skewed partitions — the first line of defense before manual
    // salting (GTable.joinSalted handles the pathological tail).
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Start shuffle parallelism at ~cores (local) or 2-3× total executor
    // cores (cluster); AQE coalesces down, so erring high is cheap.
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    // 128 MB scan splits: big enough to amortize task overhead, small
    // enough that a partition's working set fits executor memory.
    .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
    .pipe(rocksDbState)
    // graft's codegen'd expressions as SQL functions (vec_*, simhash64,
    // shingle_hash_set, normalize_words).
    .withExtensions(new graft.plans.GraftExtensions)

  /** Local session for tests/tools/notebooks. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().appName(appName).master(s"local[$cores]"),
      shufflePartitions = cores)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
