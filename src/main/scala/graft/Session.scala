package graft

import org.apache.spark.sql.SparkSession

/** How a graft SparkSession is configured — the one builder behind
  * `graft run`, Verify, Bench, the specs and the tools, so every harness
  * measures and tests the program users run.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sizes local mode and the shuffle
  * partitions; `SPARK_MASTER`, a deployment setting, overrides the master.
  * A key not in `settings` keeps Spark's default. */
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

  /** The session a harness main (Bench, Verify, PlanAudit, ProfileQuery,
    * ScaleProbe) runs on: Spark logging at `logLevel`, the graph loops'
    * checkpoint-release warnings quiet, and with `warm` a 1M-row noop job
    * first, so the first measured query is not charged for JVM and codegen
    * warm-up. */
  def harness(logLevel: String = "WARN", warm: Boolean = false): SparkSession = {
    val spark = build()
    spark.sparkContext.setLogLevel(logLevel)
    graft.functions.Graph.quietCheckpointReleaseWarns()
    if (warm) spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark
  }

  /** Drops every cache a finished query left, so the next one does the full
    * work. `clearCache()` reaches Dataset-level persists only; RDD-level
    * ones (localCheckpoint()ed graph and connected-components lineage)
    * would otherwise wait for the ContextCleaner and pile up in the block
    * manager over hundreds of queries. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
