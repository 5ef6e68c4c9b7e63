package graft.engine

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Scoped caching for lazy operator plans.
  *
  * Operators in this library return LAZY DataFrames — the caller decides
  * when (and how often) to execute — so an operator that persists an
  * intermediate frame for plan-internal reuse cannot eagerly unpersist it:
  * the blocks must survive until the caller's action has actually run.
  * Leaving them persisted forever is the opposite failure: a long-lived
  * session accumulates storage blocks and repeated invocations trip
  * "already cached" warnings.
  *
  * [[scopedPersist]] resolves the tension: it persists the frame and
  * registers a one-shot [[QueryExecutionListener]] that watches for the
  * first completed action (success OR failure) whose analyzed plan
  * contains this frame's plan as a subtree, then unpersists and
  * deregisters itself. Unpersist is always correctness-safe in Spark
  * (consumers recompute from lineage), so the release can never corrupt a
  * concurrent reader — at worst a second action on the same returned plan
  * recomputes the intermediate, which is the documented contract: the
  * cache's scope is ONE consuming action.
  *
  * Listener lifecycle: a listener whose consuming action never arrives
  * (the caller built the plan for an audit and discarded it, or failed
  * before executing) must not survive forever — each completed action
  * would then pay a `sameResult` plan scan per zombie listener, a slow
  * leak in a long-lived session. Every listener therefore EXPIRES after
  * [[MaxMissedActions]] completed actions that did not consume its plan:
  * it unpersists (safe — a late consumer just recomputes) and
  * deregisters. [[outstanding]] counts live listeners so tests can assert
  * the session returns to baseline.
  */
object Caching {

  /** Completed non-consuming actions a scoped cache survives before it
    * expires. Large enough that interleaved foreground queries (e.g. a
    * concurrent bench loop) cannot evict a cache whose action is still
    * queued behind them; small enough that abandoned plans drain promptly.
    */
  private[graft] val MaxMissedActions = 64

  private val live = new AtomicInteger(0)

  /** Number of scoped-cache listeners currently registered (test hook). */
  def outstanding: Int = live.get()

  /** Session-hygiene release for long-lived sessions: drop every block
    * the engine's operators may have left in the block manager —
    * leftover cached frames and `localCheckpoint` blocks (the composed
    * pipelines, PCA's per-step checkpoints, the components fixpoint),
    * which Spark reclaims only when the JVM garbage-collects their RDD
    * handles and ContextCleaner drains its reference queue. Left alone,
    * a session running many graft jobs accumulates them: across a
    * 231-query sweep they pinned several GB of an 8 GB heap's storage
    * pool and taxed every later query's memory budget (pipe1 21.5 s
    * in-suite vs 7.7 s isolated without this release).
    *
    * Call BETWEEN jobs, never mid-plan: unpersisting a scoped cache
    * whose consuming action has not run yet is correctness-safe (the
    * consumer recomputes from lineage) but forfeits the reuse, and a
    * `localCheckpoint`ed frame whose lineage was truncated CANNOT
    * recompute — a still-pending plan that references one fails rather
    * than recomputes. The `System.gc()` is what lets ContextCleaner
    * actually collect broadcast pieces and RDD metadata promptly; a
    * caller that only needs the storage blocks gone (Verify's cheap
    * between-queries sweep) passes `gc = false` and skips the ~0.3 s
    * collection pause. `blocking` controls whether unpersist waits for
    * block removal: a caller about to TIME the next job (Bench) blocks
    * so removal cost lands in the untimed gap instead of bleeding into
    * the next sample; a throughput caller (Verify) doesn't — the
    * blocking round-trips cost its sf0.01 sweep ~150 s of wall clock
    * for no benefit when nothing downstream is being measured.
    *
    * Ordering matters for the blocking contract: SQL-cached plans
    * register their `cachedColumnBuffers` RDD in `persistentRdds` at
    * persist time, but `clearCache()` removes them ASYNCHRONOUSLY
    * (Spark 4.1's CachedRDDBuilder.clearCache defaults blocking=false)
    * while synchronously dropping them from the registry — so a
    * clearCache-first sweep would leave cache-block removal bleeding
    * into the next timed sample. The unpersist pass therefore runs
    * FIRST, while the cached plans' RDDs are still registered, giving
    * `blocking` coverage of BOTH cached frames and localCheckpoint
    * blocks; clearCache() then only clears the (already-unpersisted)
    * CacheManager entries so later identical plans re-cache cleanly.
    */
  def releaseAll(
      spark: org.apache.spark.sql.SparkSession,
      gc: Boolean = true,
      blocking: Boolean = true): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking))
    spark.catalog.clearCache()
    if (gc) System.gc()
  }

  def scopedPersist(
      df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession
    // An equivalent plan may already be cached by an earlier construction
    // of the same operator whose consuming action has not run yet (e.g. a
    // plan-only audit built the query without executing it). Re-persisting
    // would just log a CacheManager warning; reuse the existing entry — its
    // original listener still owns the release.
    if (df.storageLevel != StorageLevel.NONE) return df
    val persisted = df.persist(level)
    val target = persisted.queryExecution.analyzed
    val released = new AtomicBoolean(false)
    val missed = new AtomicInteger(0)
    live.incrementAndGet()
    val listener = new QueryExecutionListener {
      // sameResult (not eq): the consuming action analyzes its own copy of
      // the plan tree, so identity comparison would never match.
      private def consumed(qe: QueryExecution): Boolean =
        try qe.analyzed.exists(_.sameResult(target))
        catch { case _: Throwable => false }
      private def release(): Unit =
        if (released.compareAndSet(false, true)) {
          persisted.unpersist(blocking = false)
          spark.listenerManager.unregister(this)
          live.decrementAndGet()
        }
      private def onCompleted(qe: QueryExecution): Unit =
        if (consumed(qe) || missed.incrementAndGet() >= MaxMissedActions)
          release()
      override def onSuccess(
          funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        onCompleted(qe)
      override def onFailure(
          funcName: String, qe: QueryExecution, exception: Exception): Unit =
        onCompleted(qe)
    }
    spark.listenerManager.register(listener)
    persisted
  }
}
