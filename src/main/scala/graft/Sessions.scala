package graft

import org.apache.spark.sql.SparkSession

/**
 * One place for the engine's recommended session configuration
 * (Verify/Bench/Scaling and user code all build from here).
 *
 * Rationale per setting:
 *  - shuffle.partitions = cores in local mode (each extra task costs
 *    ~5-10 ms in the local scheduler loop; on a cluster size this to
 *    data volume instead — AQE coalescing trims the tail).
 *  - AQE on (default) — runtime coalescing + skew-join splitting
 *    complement the engine's explicit salting (ops.Skew).
 *  - UTC session timezone: all timestamp semantics in the engine and
 *    the DuckDB oracle are UTC.
 *  - JVM side (build.sbt / spark-submit --conf
 *    spark.executor.extraJavaOptions): -XX:+UseParallelGC — measured
 *    ~10% scaling-efficiency win over G1 at 32 threads on
 *    allocation-heavy batch stages.
 */
object Sessions {

  def local(cores: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    builder(s"local[$cores]", cores).getOrCreate()
  }

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // AQE partition coalescing for CACHED plans too (default false):
      // without it every .cache() materializes at shuffle.partitions and
      // every stage reading it inherits that width — the multi-pass
      // pipelines (dedup verify, CC rounds, calibration passes, pyramid
      // levels) ran 32 tasks per pass over kilobyte-scale cached
      // relations (round-6 profile: q_calibrate_e2e 362 tasks,
      // q_pyramid 903). With the flag, AQE sizes cached output from
      // observed bytes (advisoryPartitionSizeInBytes) — scale-adaptive
      // on a cluster, not a local-mode constant. Results are
      // partitioning-independent by engine contract (exact aggregates,
      // explicit tiebreaks).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
