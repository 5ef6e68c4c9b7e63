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
  *
  * It also owns session scratch: [[scratchDir]] names it and [[stop]]
  * removes it.
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

  /** Session scratch: the lake layouts, j5's bucketed tables and wb1's
    * workbooks live under one root per session,
    * `<working dir>/target/lake/<app id>/<name>`, and only this object
    * names it. The app id keeps concurrent sessions apart; within one
    * session the queries run one at a time, so a name has one writer.
    */
  private[graft] def scratchDir(spark: SparkSession, name: String): String =
    s"${scratchRoot.getPath}/${spark.sparkContext.applicationId}/$name"

  private def scratchRoot = new java.io.File(sys.props("user.dir"), "target/lake")

  /** Sessions here live minutes, so a root whose newest file is older
    * than this belongs to a session that died before [[stop]].
    */
  private val DeadAfterMs = 2L * 3600 * 1000

  /** Stop `spark` after deleting its scratch root and sweeping dead
    * sessions' roots ([[reclaim]]). Entry points call it in a `finally`,
    * so a failed run cleans up too.
    */
  def stop(spark: SparkSession): Unit =
    try reclaim(scratchRoot, Some(spark.sparkContext.applicationId))
    finally spark.stop()

  /** Delete the root `own` under `parent`, then every sibling whose newest
    * mtime is older than [[DeadAfterMs]]. Never fails the caller; a root
    * that survives is reported on stderr.
    */
  private[graft] def reclaim(
      parent: java.io.File = scratchRoot,
      own: Option[String] = None): Unit = try {
    own.foreach(a => delete(new java.io.File(parent, a)))
    def newest(f: java.io.File): Long =
      Option(f.listFiles).toSeq.flatten
        .foldLeft(f.lastModified())((m, c) => math.max(m, newest(c)))
    val cutoff = System.currentTimeMillis() - DeadAfterMs
    Option(parent.listFiles).toSeq.flatten.filter(newest(_) < cutoff).foreach(delete)
    own.map(new java.io.File(parent, _)).filter(_.exists).foreach(r =>
      System.err.println(s"[scratch] cleanup left $r behind"))
  } catch { case e: Throwable =>
    System.err.println(s"[scratch] cleanup failed: ${e.getMessage}")
  }

  /** Delete `f` and everything under it (file I/O only). */
  private[graft] def delete(f: java.io.File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete(): Unit
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cores]", defaultParallelism = Some(cores))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
