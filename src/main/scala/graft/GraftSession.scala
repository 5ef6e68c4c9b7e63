package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session factory: the only code that builds a `SparkSession`.
  *
  * Encodes the configuration this engine is designed against: AQE on
  * (runtime re-planning, skew-join splitting, partition coalescing),
  * shuffle partitions sized to the cluster (NOT the 200 default — pass
  * `defaultParallelism`), UTC session time (oracle/parquet parity), and
  * the engine's SQL extensions registered. On a real cluster only
  * `master`/`defaultParallelism` change; every operator in this library is
  * partitioning-aware by construction, so the same code runs unmodified
  * from `local[4]` to 1000 executors.
  *
  * [[Bench]], [[Verify]], [[Explain]], [[Prof]], the test harness and the
  * benchmark program all build their session here, so tested, verified,
  * explained and benched plans share one config. A caller may still set
  * deployment settings only: master and cores, log level, the UI and the
  * warehouse dir. Every engine setting lives in [[builder]].
  */
object GraftSession {

  def builder(
      master: String = "local[*]",
      defaultParallelism: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // Let AQE re-coalesce the output partitioning of cached plans.
      // Spark's default (false) pins a persisted frame at the static
      // shuffle-partition count, so every affinity-scale cache (gr5's
      // 3.6k-row edge list, pr1's verified pairs) fans each downstream
      // stage out to `shuffle.partitions` near-empty tasks; task-launch
      // overhead then dominates the whole iterated-join family. The
      // partitioning of a cache is never a correctness contract in this
      // engine (operators re-shuffle on their own keys), so the only
      // observable effect is fewer, right-sized tasks. Measured on gr5
      // at sf0.1/local[32]: label rounds 3.5 s -> <1 s.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      // Parquet TIMESTAMP(NANOS) columns decode as raw longs; Tables.t
      // converts events.ts explicitly and relies on this being set.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    defaultParallelism.foldLeft(b)((bb, n) =>
      bb.config("spark.sql.shuffle.partitions", n.toString))
  }

  /** Stop `spark` after deleting the scratch tables its queries wrote:
    * the lake's `target/lake/<app id>` tree and the bucketed `j5_*`
    * warehouse tables. Entry points call it in a `finally`, so a failed
    * run cleans up too.
    */
  def stop(spark: SparkSession): Unit =
    try {
      graft.sources.Lake.cleanupScratch(spark)
      graft.operators.Relational.cleanupBucketScratch(spark)
    } finally spark.stop()

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", defaultParallelism = Some(cores))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
