package graft

import org.apache.spark.sql.SparkSession

/** The engine's session contract, defined once. Every engine entry point
  * (Bench, Verify, PlanDump, Explain, IngestDemo, ScaleGen,
  * ingest.BlockEtl) and the test session build from here, so the hash
  * gates, the bench and the suite run one physical configuration.
  * Callers add only deployment settings (`spark.sql.warehouse.dir`);
  * runtime variations go through `spark.conf.set` after creation, as
  * PlanDump and Explain do to turn AQE off. SmokeDefault alone keeps a
  * bare builder: its point is Spark's defaults. */
object Session {
  def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // legacy (non-ANSI) arithmetic: bad casts / div-by-zero yield NULL,
    // matching the oracle queries' guarded CASE semantics
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // AQE stays on: runtime re-plan and skew splits (the cluster posture)
    .config("spark.sql.adaptive.enabled", "true")
    // Let AQE coalesce CACHED plans' output partitioning too (Spark's
    // default is false). Persisted small post-shuffle relations (BPE
    // vocab, iterative edge caches' aggregates) are otherwise scanned at
    // the static shuffle-partition count by every consumer job; at
    // cluster scale the flag right-sizes them to
    // advisoryPartitionSizeInBytes. Explicit repartition(n, key) caches
    // are exempt by AQE's user-specified-repartition rule.
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // table timestamps (o_orderdate, l_shipdate, events.ts) are parquet
    // INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): with NTZ inference
    // off they read as session-UTC TIMESTAMP, the type Tables declares.
    // No table stores TIMESTAMP(NANOS); nanosAsLong stays because
    // perfbench's session mirrors this contract (RegistrySpec pins both)
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  /** The width of every explicit `repartition(n)` in the program: the
    * session's live `spark.sql.shuffle.partitions`. `builder` sets it to
    * the core count, and a caller that changes it with `spark.conf.set`
    * gets its own value. There is no literal fallback: one would be a
    * second width decision that disagrees with the contract; a session
    * built elsewhere gets Spark's own default. */
  def partitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt
}
