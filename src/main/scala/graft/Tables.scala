package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Shared helpers for the driver test tables (`TESTDATA.md`) and for
  * oracle-deterministic query output.
  *
  * Determinism conventions (driver hash-compares our parquet dump against a
  * DuckDB run of `SparkEntry.oracleSql`, sorting columns by name):
  *   - every query result is fully ordered (`orderBy` on a unique key set) so
  *     row order cannot depend on partitioning;
  *   - every floating-point aggregate is rounded (`r2`/`r6`) identically on
  *     both sides, so parallel-summation error below the rounding grain
  *     cannot flip the hash.
  */
object Tables {

  /** Load one driver parquet table from an sf directory.
    *
    * `events.parquet` has shipped under two physical encodings of `ts`
    * across testdata generations, so the loader branches on the LOADED
    * schema instead of hardcoding one vintage:
    *
    *   - parquet TIMESTAMP(NANOS): Spark rejects nanos by default, so the
    *     session-wide `nanosAsLong` escape hatch ([[GraftSession]] sets
    *     it) decodes the column as a raw long, which we floor-truncate to
    *     microseconds (`ts div 1000` — matching DuckDB's
    *     TIMESTAMP_NS → TIMESTAMP cast for the oracle).
    *   - parquet TIMESTAMP_MICROS with `isAdjustedToUTC=false`: Spark
    *     decodes `timestamp_ntz`, which we cast to TimestampType. Under
    *     the session's UTC zone the ntz→ltz cast is a wall-clock identity,
    *     so `unix_millis`/`date_trunc`/window frames behave identically to
    *     the nanos path and to DuckDB's TIMESTAMP.
    *   - already TimestampType: passed through untouched.
    */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      val tsCol = raw.schema("ts").dataType match {
        case LongType => expr("timestamp_micros(ts div 1000)")
        case TimestampType => col("ts")
        case _ => col("ts").cast(TimestampType)
      }
      raw.select(raw.columns.map {
        case "ts" => tsCol.as("ts")
        case c => col(c)
      }.toIndexedSeq: _*)
    } else spark.read.parquet(s"$dir/$name.parquet")

  /** [[t]] plus a keyed width pin for heavy per-row projections:
    * the driver parquet tables are single row groups at bench scale, so a
    * scan — and every expression chain fused into it — runs as ONE task
    * regardless of `maxPartitionBytes` (a row group cannot split). Sites
    * whose scan-side work is expensive (tokenize/regex/shingle chains
    * over the text corpus) repartition the raw rows first so the chain
    * runs wide; the keyed form is deterministic and is the one shape AQE
    * must not coalesce. Quarter-width (not full): the frames are small
    * enough that full-width fans every downstream stage into near-empty
    * tasks whose launch overhead exceeds the win. At production scale the
    * table arrives in thousands of splits and the pin is a cheap
    * rebalance of an already-wide scan;
    * sites whose work is a plain aggregate keep [[t]] — repartitioning
    * raw rows ahead of a map-side partial combine only adds a shuffle.
    */
  def tWide(spark: SparkSession, dir: String, name: String,
      key: String = "doc_id"): DataFrame =
    wide(t(spark, dir, name), col(key))

  /** The width-pin policy in one place (quarter width, floor 2, keyed):
    * full width loses to near-empty-task launch overhead on the dedup
    * family. Every pin site (tWide, Dedup.shingledOf,
    * Pipelines.curatedSurvivors, Similarity's quantized/covariance frames)
    * routes through here.
    *
    * Gated on the input's actual partition count: the pin exists because
    * the driver test parquet is a single row group — one scan task no
    * matter what `maxPartitionBytes` says — but at production scale an
    * unconditional `repartition(cores/4)` would shrink an already-wide
    * scan to a quarter of the cluster ahead of the heaviest per-row
    * chains. Pin only when the input is narrower than the target. The
    * probe reads the physical partition count without running anything,
    * but only for exchange-free plans: under AQE, materializing an
    * exchange-bearing plan's RDD would execute its upstream stages
    * eagerly, so those plans keep the unconditional pin. The gate keys on
    * the frame, not the session's core count, so the local[4] test suite
    * exercises the same plans as a 32-core bench.
    */
  def wide(df: DataFrame, key: Column): DataFrame = {
    val target =
      math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4)
    val exchangeFree = !df.queryExecution.sparkPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange])
    if (exchangeFree && df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }

  /** Round a double aggregate to cents — for sums of monetary columns. */
  def r2(c: Column): Column = round(c, 2)

  /** Round a double aggregate to 6 places — for averages/ratios where more
    * resolution is meaningful but bit-exactness across engines is not
    * guaranteed.
    */
  def r6(c: Column): Column = round(c, 6)

  /** [[r6]] on the driver: HALF_UP at the 6th decimal. NaN and ±∞ pass
    * through unchanged, as in Spark's `round`. A zero result is +0.0,
    * because a `BigDecimal` zero has no sign.
    */
  def round6(v: Double): Double =
    if (v.isNaN || v.isInfinite) v
    else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** [[r2]]/[[r6]] for SIGNED statistics that can round to zero (t-stats,
    * effect sizes, slopes, correlations, covariances). DuckDB's IEEE
    * `round` returns −0.0 for a tiny negative value while Spark's
    * BigDecimal-based `round` returns +0.0; the raw bits differ
    * (0x8000… vs 0x0) and the driver's hash compare diverges. Adding
    * integer 0 is an IEEE identity everywhere EXCEPT −0.0, which it
    * normalizes to +0.0 — the oracle SQL for such outputs carries the
    * same `+ 0` tail, so both engines agree on the zero's sign.
    */
  def r2s(c: Column): Column = round(c, 2) + lit(0)
  def r6s(c: Column): Column = round(c, 6) + lit(0)
}
