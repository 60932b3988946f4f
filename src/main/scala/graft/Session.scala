package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session. Bench, Verify, Smoke, Plans, the
  * probes and the test suites all build through here, so the
  * configuration the oracle verifies is the configuration the bench
  * times.
  *
  * `SPARK_GRAFT_CPUS` sets the local worker threads (and the shuffle
  * partition count with them); unset, every core the JVM sees. */
object Session {
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(logLevel: String = "WARN"): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toLong)
      // NTZ-inferred parquet timestamps resolve against the session tz;
      // every graft entry point pins UTC so window epochs are tz-stable
      .config("spark.sql.session.timeZone", "UTC")
      // r15 optimization (guide §2.2/§2.4): let AQE's size-based coalescing
      // apply to persist()/cache materialization too (default false). The
      // iterative operators (pageRank/hits/star-contraction) persist slim
      // loop frames; with the default, those caches keep the full
      // spark.sql.shuffle.partitions fan-out and every iteration runs one
      // tiny task per partition — measured 788 tasks / 167.8 cpu-s per
      // q_pagerank_deep rep (32 cores), collapsing to 50 tasks / 1.2 cpu-s
      // with the flag on (the per-task fixed cost was mmap/futex kernel
      // churn, the bench's perennial "kernel-share" signature). The setting
      // is scale-adaptive, not a local[32] constant: AQE still targets
      // advisoryPartitionSizeInBytes (64 MB), so at 100 TB a cached frame
      // gets bytes/64MB partitions, it just stops inheriting a fixed
      // partition count when the data is small.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
