package graft

import org.apache.spark.sql.SparkSession

/** How a graft SparkSession is configured — the one builder behind
  * `graft run`, Verify, Bench, the specs and the tools, so every harness
  * measures and tests the program users run.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sizes local mode and the shuffle
  * partitions; `SPARK_MASTER`, a deployment setting, overrides the master.
  *
  * Defaults kept on purpose (r21 A/Bs on the graph/dedup subset):
  *  - `spark.sql.join.preferSortMergeJoin=false` (plus the AQE shuffled-hash
  *    local-map threshold) was A/B'd 2×2 to kill the per-iteration sorts of
  *    the cached edge frame; deltas stayed inside window noise (17.5-17.9 vs
  *    17.3-19.8 s totals, q_hits slightly WORSE under SHJ), so the default
  *    stays.
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true` was
  *    tried to let AQE re-coalesce the tiny cached graph/dedup frames — it
  *    consistently REGRESSED the graph loops (q_pagerank 2.9-3.0 -> 3.1-4.1 s
  *    across four alternating runs: coalescing the cache breaks the src/node
  *    co-partitioning the per-iteration joins rely on, re-adding exchanges).
  *    Default (false) kept deliberately. */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** AQE's partition coalescing is BYTE-based (parallelismFirst floors at
    * minPartitionSize, default 1m): a sub-1MB shuffle feeding a CPU-dense
    * stage (codec decode, shingle/verify kernels) coalesces to ONE task and
    * serializes seconds of compute (r21 profile: q_similarity_join's verify
    * stage, 0.9MB / 0.87s on one core). A 64k floor restores parallelism
    * exactly and only in the tiny-bytes/expensive-rows regime; at production
    * partition sizes it is inert. Results are partitioning-independent. */
  private val AqeMinPartitionSize = "64k"

  /** Every key the builder sets, with its value. */
  def settings: Map[String, String] = Map(
    "spark.master" -> sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"),
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> AqeMinPartitionSize)

  def build(): SparkSession = SparkSession.builder().config(settings).getOrCreate()
}
