package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables.round6

/** Structured Streaming pipelines over the events stream (north-star
  * extension, SURVEY.md §2.5 "Streaming"). Each transform takes a
  * DataFrame that may be batch or streaming — the same declarative plan
  * serves both, which is exactly how the batch oracle queries in
  * [[graft.operators.Events]] pin the streaming semantics: a windowed
  * streaming aggregation, once the watermark closes a window, has emitted
  * precisely what the batch `window()` groupBy computes.
  *
  * State scale: windowed aggregation state is bounded by (windows x keys)
  * inside the watermark horizon; sessionization state is one open session
  * per active user, evicted by event-time timeout. Both shard by the
  * grouping key across executors — no single-node state.
  */
object Streams {

  /** Tumbling 1-hour counts per event type with a 10-minute watermark —
    * the streaming twin of `Events.tumbling`.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("total_value"))

  /** Exactly-once-per-key dedup inside the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-static enrichment join — the stateless dimension attach every
    * streaming pipeline runs ahead of its aggregations (user tier, device
    * class, nation): each event joins the STATIC dimension frame as it
    * arrives. No state store and no watermark is involved — Spark re-plans
    * the static subtree every micro-batch, so at real scale (a parquet/
    * Delta dimension snapshot) a dimension refresh is picked up at the
    * next batch boundary without restarting the query; the broadcast hint
    * (default on) keeps the per-batch join a map-side hash join, never a
    * shuffle of the stream — PRECONDITION: the dimension snapshot fits
    * the broadcast budget (driver + executor memory), which holds for
    * user/device/nation-class dims but NOT for an arbitrary large table.
    * Pass `broadcastDim = false` for such dimensions to let Spark pick
    * its own strategy for the per-batch join instead of forcing a
    * broadcast build that would OOM. Left join: an event with no
    * dimension row must flow through (null-enriched), not silently drop
    * from the pipeline.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String = "user_id",
      broadcastDim: Boolean = true): DataFrame =
    events.join(if (broadcastDim) broadcast(dim) else dim, Seq(key), "left")

  /** Streaming → S4 artifact sink via `foreachBatch`: every micro-batch
    * checkpoints as a JSON artifact under `path/batch=<id>` through the
    * SAME [[graft.sources.Artifacts]] writer the batch pipelines use — the
    * streaming twin of the reference's store-every-stage pattern
    * (`preprocess.py:95-110`). Batch-id-scoped overwrite makes replays of
    * a failed epoch idempotent.
    */
  def toArtifacts(df: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      graft.sources.Artifacts.store(batch, s"$path/batch=$id")
    }

  /** Deployed drift monitoring — the streaming twin of the drift2 gate:
    * the live stream's cumulative category counts (a Complete-mode
    * streaming aggregation, state = one row per observed category,
    * sharded by key) are re-scored against a STATIC reference count
    * frame on every micro-batch, through the SAME
    * [[graft.operators.Stats.psiFromCounts]] tail the batch gate uses —
    * the monitor and the gate cannot disagree on the arithmetic. The
    * reference side is how this deploys in practice: the first-week
    * counts are computed once (batch) and pinned; the monitor tracks the
    * live mix against them and `onReport` receives the per-category PSI
    * frame (plus the micro-batch id) to threshold/alert on.
    *
    * A full-outer category join keeps reference categories the stream
    * has not emitted yet (and stream-only novel categories) in the
    * report with a zero count — both score finite under the Laplace
    * smoothing, which is exactly the "a category vanished/appeared"
    * alarm a mix monitor exists for.
    */
  def driftMonitor(current: DataFrame, referenceCounts: DataFrame)(
      onReport: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    current
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_cur"))
      .writeStream.outputMode(OutputMode.Complete())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val counts = referenceCounts
          .join(batch, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            coalesce(col("n_ref"), lit(0L)).as("n_ref"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur"))
        onReport(id, graft.operators.Stats.psiFromCounts(counts, "event_type"))
      }

  /** Streaming corpus ingest — the streaming twin of the training-corpus
    * pipeline's head (pipe1): score quality and language with the SAME
    * expression trees the batch t4 filter uses, drop below-bar documents,
    * and drop verbatim re-crawls by normalized content fingerprint within
    * the watermark horizon. This is the shape of a continuous crawl
    * ingestion: per-row scoring is stateless, and the only state is one
    * fingerprint per surviving document inside the horizon, sharded by
    * fingerprint across executors. (Near-dup dedup and canonical
    * clustering stay batch compactions over the ingested corpus — their
    * banded joins need the full corpus, not a stream.)
    *
    * Input schema: `(doc_id, ts, text)` with `ts` the crawl event time.
    */
  def corpusIngest(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    import graft.functions.EvalOnce.once
    import graft.functions.TextFunctions.{fingerprint, langId, qualityScore}
    docs
      .withWatermark("ts", "10 minutes")
      .select(col("doc_id"), col("ts"),
        once(qualityScore(col("text"))).as("quality"),
        once(langId(col("text"))).as("lang_detected"),
        fingerprint(col("text")).as("fp"))
      .filter(col("quality") >= minQuality)
      .dropDuplicatesWithinWatermark("fp")
  }

  /** Streaming split tagging — the streaming twin of d11's leakproof
    * split (oracle-gated batch aggregate): tag every arriving document
    * with its train/val/test assignment AT INGEST, using the SAME
    * fingerprint-hash expression the batch derivation applies
    * ([[graft.operators.Enrichment.splitOfFp]] over
    * `fingerprint(text)`). Because the split follows the content
    * fingerprint — never doc id, arrival order, or batch boundary — a
    * verbatim re-crawl of a test-split document can only ever land in
    * the test split again: eval contamination by re-arrival is
    * impossible by construction, which is the entire point of d11.
    *
    * Scale shape: completely STATELESS (a per-row expression map — no
    * watermark, no state store, no shuffle), so it composes in front of
    * [[corpusIngest]]'s quality gate at full ingest line rate.
    *
    * Input schema: `(doc_id, ts, source, text)`; output adds
    * `(fp, n_tokens, split)`.
    */
  def splitTag(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokenCount}
    docs
      .select(col("doc_id"), col("ts"), col("source"),
        fingerprint(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"))
      .withColumn("split", graft.operators.Enrichment.splitOfFp(col("fp")))
  }

  /** Streaming latest-state view — the streaming twin of
    * `Events.latestState` (ev7, oracle-gated): one row per user carrying
    * that user's newest event, re-emitted whenever it changes (update
    * mode). This is the continuously-maintained CDC snapshot (a Delta/Hudi
    * merge view in plain Structured Streaming). Unlike the dedup twins,
    * the state comparison is on EVENT time (ts, event_id), not arrival
    * order, so out-of-order arrivals converge to the same snapshot the
    * batch query computes — no watermark is needed because snapshot state
    * is one row per user (user-count-bounded, sharded by key), never
    * evicted by design.
    */
  def latestState(events: Dataset[LEvent]): Dataset[LatestRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(LatestStateUpdate.update)
  }

  /** Stream-stream interval join: clicks within the 10 minutes before a
    * purchase by the same user. Watermarks on BOTH sides plus the time
    * range bound the join state (clicks older than the watermark minus
    * the interval are evicted) — the streaming twin of
    * [[graft.operators.AsOf.intervalJoin]].
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts"))
      .withWatermark("ts", "10 minutes")
    purchases.join(clicks,
        col("user_id") === col("cu") &&
          col("cts") >= col("ts") - expr("INTERVAL 10 MINUTE") &&
          col("cts") < col("ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        unix_millis(col("ts")).as("purchase_ts_ms"),
        unix_millis(col("cts")).as("click_ts_ms"))
  }
}

/** Typed full event for the latest-state view. */
final case class LEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)

/** One user's snapshot row — ev7's exact output shape. */
final case class LatestRow(
    user_id: Long, last_ts_ms: Long, last_event_type: String, last_value: Double)

private[streaming] object LatestStateUpdate {
  /** Keep the max-(ts, event_id) event per user across batches — the same
    * total order ev7's rank-1 window uses, so batch and stream agree on
    * any arrival order.
    */
  def update(
      userId: Long,
      events: Iterator[LEvent],
      state: GroupState[LEvent]): LatestRow = {
    val best = (events ++ state.getOption.iterator)
      .maxBy(e => (e.ts.getTime, e.event_id))
    state.update(best)
    LatestRow(userId, best.ts.getTime, best.event_type, best.value)
  }
}

/** Typed event for the streaming TWAP meter. */
final case class TEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)

/** One user's running time-weighted snapshot — ev24's exact output
  * shape (`twap` None until the user has held any interval).
  */
final case class TwapRow(
    user_id: Long, n_events: Long, span_s: Double, mean_value: Double,
    twap: Option[Double])

/** Per-user accumulator carried between micro-batches: the last held
  * (ms, value) plus the closed-interval sums — O(1) state per user, the
  * whole point of metering at ingest instead of re-scanning history.
  */
final case class TwapState(
    n: Long, minMs: Long, maxMs: Long, sumV: Double,
    lastMs: Long, lastV: Double, sumVDt: Double, sumDt: Double)

/** Streaming twin of ev24 ([[graft.operators.Events.twap]]): a
  * `mapGroupsWithState` meter holding, per user, only the last event and
  * the closed-interval sums. Each micro-batch folds its (sorted) events
  * into the accumulator and emits the user's refreshed snapshot.
  *
  * Agreement contract (StreamingSpec): for in-order arrivals — every
  * event's (ts, event_id) at or after the state's last — the final
  * snapshot equals the batch ev24 row exactly, including the r6
  * rounding and the null TWAP for a user with no held interval, for ANY
  * micro-batch slicing (the fold is associative over time-ordered
  * slices). Out-of-order cross-batch events would need the ev10-style
  * buffered variant; this meter targets the in-order CDC/metering feed.
  */
object TwapStream {
  def twap(events: Dataset[TEvent]): Dataset[TwapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  private[streaming] def update(
      userId: Long,
      events: Iterator[TEvent],
      state: GroupState[TwapState]): TwapRow = {
    val sorted = events.toList.sortBy(e => (e.ts.getTime, e.event_id))
    val st0 = state.getOption.getOrElse {
      val h = sorted.head
      TwapState(0L, h.ts.getTime, h.ts.getTime, 0.0,
        h.ts.getTime, h.value, 0.0, 0.0)
    }
    val st = sorted.foldLeft(st0) { (s, e) =>
      val ms = e.ts.getTime
      val dt = (ms - s.lastMs).toDouble
      TwapState(s.n + 1, math.min(s.minMs, ms), math.max(s.maxMs, ms),
        s.sumV + e.value, ms, e.value,
        // the very first event opens no interval (n == 0 guard)
        if (s.n == 0) 0.0 else s.sumVDt + s.lastV * dt,
        if (s.n == 0) 0.0 else s.sumDt + dt)
    }
    state.update(st)
    TwapRow(userId, st.n, round6((st.maxMs - st.minMs) / 1000.0),
      round6(st.sumV / st.n),
      if (st.sumDt > 0) Some(round6(st.sumVDt / st.sumDt)) else None)
  }
}

/** Typed traded event for the streaming VWAP meter: price (`value`) and
  * quantity already projected (the batch ev25 extracts `qty` from the
  * `props` JSON; a metering feed does that once at ingest).
  */
final case class VEvent(
    event_type: String, ts: java.sql.Timestamp, value: Double, qty: Long)

/** One (event_type, day) running VWAP snapshot — ev25's exact output
  * shape (`vwap` None while the day's traded quantity is zero).
  */
final case class VwapRow(
    event_type: String, day_ms: Long, n_events: Long, total_qty: Long,
    mean_value: Double, vwap: Option[Double])

/** Per-(type, day) accumulator: everything is an exact integer sum
  * (count, quantity, cents, cent·units), so the fold is associative AND
  * commutative — unlike the TWAP meter, agreement with batch holds for
  * ANY micro-batch slicing in ANY arrival order.
  */
final case class VwapState(n: Long, qty: Long, cents: Long, centsQty: Long)

/** Streaming twin of ev25 ([[graft.operators.Events.vwap]]): a
  * `mapGroupsWithState` meter keyed by (event_type, UTC day). Each
  * micro-batch folds its events' exact integer sums into the
  * accumulator and emits the group's refreshed snapshot; the two float
  * divisions happen only at emission, off the same integer sums the
  * batch aggregate divides — so the rounded snapshot is bit-equal to
  * the batch row at every prefix (StreamingSpec pins the final one
  * across an arbitrary split, including the out-of-order case the TWAP
  * meter must exclude).
  */
object VwapStream {
  private val DayMs = 86400000L

  def vwap(events: Dataset[VEvent]): Dataset[VwapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(e =>
        (e.event_type, e.ts.getTime - Math.floorMod(e.ts.getTime, DayMs)))
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)
  }

  private[streaming] def update(
      key: (String, Long),
      events: Iterator[VEvent],
      state: GroupState[VwapState]): VwapRow = {
    val st = events.foldLeft(state.getOption.getOrElse(VwapState(0, 0, 0, 0))) {
      (s, e) =>
        // HALF_UP like the batch `round(value*100)` — Math.round is
        // half-CEILING and diverges on negative half-cents (-12.5 -> -12
        // vs the batch's -13; rebates/adjustments are negative prices)
        val cents = BigDecimal(e.value * 100)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        VwapState(s.n + 1, s.qty + e.qty, s.cents + cents,
          s.centsQty + cents * e.qty)
    }
    state.update(st)
    VwapRow(key._1, key._2, st.n, st.qty,
      round6(st.cents.toDouble / (100.0 * st.n)),
      if (st.qty != 0) Some(round6(st.centsQty.toDouble / (100.0 * st.qty)))
      else None)
  }
}

/** Typed full event for the anomaly monitor. */
final case class MEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double)

/** One flagged anomaly — ev10's exact output row shape. */
final case class MAnomaly(
    user_id: Long, event_id: Long, ts_ms: Long, value: Double,
    mean_7d: Double, sd_7d: Double)

/** One buffered observation inside the trailing horizon. */
final case class MPoint(ts_ms: Long, event_id: Long, value: Double)

/** Per-user trailing-window buffer carried between micro-batches,
  * ascending (ts_ms, event_id).
  */
final case class MonitorState(points: List[MPoint])

/** The streaming form of ev10's trailing-window anomaly detector
  * ([[graft.operators.Events.anomalies]]) — the monitor shape that query
  * actually deploys as: a `flatMapGroupsWithState` keeping, per user, the
  * observations inside the trailing 7-day horizon, flagging each arriving
  * event whose value deviates more than 2 (rounded) standard deviations
  * from its own trailing window.
  *
  * Agreement contract (StreamingSpec): for in-order arrivals — any
  * micro-batch slicing that does not SPLIT a same-timestamp group — the
  * emitted rows equal the batch RANGE-frame query on the same events,
  * including same-timestamp groups (processed together exactly like a
  * RANGE frame sees them) and the same r6 rounding convention before the
  * deviation comparison. A boundary that does split a tie group scores
  * the earlier members on their partial frame (append mode cannot
  * retract them when the sibling arrives); holding emission until the
  * watermark passes the group's timestamp is the production-grade close
  * of that gap. Cross-batch OUT-OF-ORDER events are dropped as late data
  * (the batch frame would retroactively restructure already-emitted
  * windows — the same class of row a watermarked stateful operator
  * sheds; [[Sessionize]]'s convention).
  *
  * State scale: one bounded buffer per active user (events inside 7
  * days), sharded by user across executors — the same per-key state
  * budget the batch window holds in memory per partition.
  */
object AnomalyMonitor {

  val WindowMs: Long = 604800000L // 7 days, = ev10's RANGE frame
  val MinSamples: Int = 10

  def anomalies(events: Dataset[MEvent]): Dataset[MAnomaly] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  private[streaming] def update(
      userId: Long,
      events: Iterator[MEvent],
      state: GroupState[MonitorState]): Iterator[MAnomaly] = {
    var buf = state.getOption.map(_.points).getOrElse(Nil)
    val floorMs = buf.lastOption.map(_.ts_ms).getOrElse(Long.MinValue)
    val out = Seq.newBuilder[MAnomaly]
    // drop cross-batch regressions (ts strictly before the buffered tail);
    // equal timestamps still process — their own frame stays exact
    val sorted = events.toArray
      .filter(_.ts.getTime >= floorMs)
      .sortBy(e => (e.ts.getTime, e.event_id))
    var i = 0
    while (i < sorted.length) {
      val ms = sorted(i).ts.getTime
      var j = i
      while (j < sorted.length && sorted(j).ts.getTime == ms) j += 1
      // a RANGE frame includes ALL rows at the current timestamp: admit
      // the whole same-ts group before scoring any of its members
      buf = buf.dropWhile(_.ts_ms < ms - WindowMs) :::
        sorted.slice(i, j).map(e => MPoint(ms, e.event_id, e.value)).toList
      val n = buf.size
      if (n >= MinSamples) {
        val meanRaw = buf.iterator.map(_.value).sum / n
        val sdRaw = math.sqrt(
          buf.iterator.map(p => (p.value - meanRaw) * (p.value - meanRaw)).sum
            / (n - 1))
        val mean6 = round6(meanRaw)
        val sd6 = round6(sdRaw)
        if (sd6 > 0.0) {
          var k = i
          while (k < j) {
            val e = sorted(k)
            if (math.abs(e.value - mean6) > 2.0 * sd6)
              out += MAnomaly(userId, e.event_id, ms, e.value, mean6, sd6)
            k += 1
          }
        }
      }
      i = j
    }
    state.update(MonitorState(buf))
    out.result().iterator
  }
}

/** ev14 — deployed incremental rollup maintenance: the streaming twin of
  * ev13's materialized-rollup scheme. Each micro-batch aggregates ALONE
  * into (day, event_type) partials (ev13's exact partial schema —
  * [[graft.operators.Events.dailyPartialsOf]], one shared definition) and
  * MERGES them into the accumulated daily store with algebraic combines
  * only (counts/sums add, min/max fold; avg re-derives downstream). The
  * state lives in the SINK, not in streaming aggregation state: this is
  * the incremental-ETL deployment where the store is a maintained table
  * any coarser grain is served from
  * ([[graft.operators.Events.weeklyFromDaily]]) without ever re-reading
  * raw events.
  *
  * Scale: per batch, one aggregate plus one full-outer merge keyed on
  * (day, event_type) — both frames day×type-sized. The store is eagerly
  * `localCheckpoint`ed each batch so its lineage stays one merge deep.
  */
object RollupStream {

  /** Algebraic merge of two ev13-shaped daily-partial frames. `least`/
    * `greatest` skip nulls, so a (day, type) present on one side only
    * passes through unchanged. The sum merge is null-preserving the same
    * way batch `sum` is: sv is null only when BOTH sides are null (a
    * group whose every value is null must stay null incrementally, or
    * the store diverges from the batch `dailyPartialsOf` it advertises
    * equivalence with — a blanket coalesce-to-0.0 would turn that group
    * into 0.0).
    */
  private[graft] def mergePartials(store: DataFrame, delta: DataFrame): DataFrame = {
    val s = store.select(col("day"), col("event_type"), col("n").as("n_a"),
      col("sv").as("sv_a"), col("mn").as("mn_a"), col("mx").as("mx_a"))
    val d = delta.select(col("day"), col("event_type"), col("n").as("n_b"),
      col("sv").as("sv_b"), col("mn").as("mn_b"), col("mx").as("mx_b"))
    s.join(d, Seq("day", "event_type"), "full_outer")
      .select(col("day"), col("event_type"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L))).as("n"),
        when(col("sv_a").isNotNull || col("sv_b").isNotNull,
          coalesce(col("sv_a"), lit(0.0)) + coalesce(col("sv_b"), lit(0.0)))
          .as("sv"),
        least(col("mn_a"), col("mn_b")).as("mn"),
        greatest(col("mx_a"), col("mx_b")).as("mx"))
  }

  /** Maintain the daily-partial store from a streaming `(ts, event_type,
    * value)` frame; `onStore` receives the merged store after every
    * micro-batch (in production: the table overwrite/merge).
    */
  def ingest(events: DataFrame)(onStore: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var store: DataFrame = null
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = graft.operators.Events.dailyPartialsOf(batch)
        store = (if (store == null) delta else mergePartials(store, delta))
          .localCheckpoint()
        onStore(id, store)
      }
  }
}

/** Streaming twin of dq4's volume-anomaly monitor: maintain per-day
  * event counts across micro-batches (counts merge by addition — the
  * simplest algebraic store) and re-derive the anomaly report from the
  * day-dimension store after every merge, through the SAME
  * `volumeReportFromDaily` definition the batch gate hashes — so the
  * stream's verdicts cannot drift from dq4's. The store is
  * calendar-sized regardless of traffic, and each micro-batch costs one
  * batch-local hash aggregate plus a day-keyed full-outer merge
  * (RollupStream's scheme, eagerly localCheckpoint'ed so lineage stays
  * one merge deep). StreamingSpec splits a day across micro-batches and
  * asserts the final report equals the batch dq4 on the union.
  */
object VolumeMonitor {

  private[graft] def mergeCounts(store: DataFrame, delta: DataFrame): DataFrame =
    store.select(col("day"), col("n_events").as("n_a"))
      .join(delta.select(col("day"), col("n_events").as("n_b")),
        Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)))
          .as("n_events"))

  /** Maintain the daily-count store from a streaming `(ts, ...)` frame;
    * `onReport` receives the re-derived dq4 report after every batch.
    */
  def ingest(events: DataFrame)(onReport: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var store: DataFrame = null
    events.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = batch
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"))
        store = (if (store == null) delta else mergeCounts(store, delta))
          .localCheckpoint()
        onReport(id, graft.operators.Quality.volumeReportFromDaily(store))
      }
  }
}

/** Streaming twin of d14's DSIR profile: maintain the 256-bucket hashed
  * unigram raw/target count profile across micro-batches of an ingest
  * stream of `(doc_id, lang, text)` documents. The profile is algebraic
  * (two counts per bucket, merging by addition), so each micro-batch
  * costs one batch-local hash aggregate (map-side combine — the delta is
  * ≤256 rows whatever the batch size) plus one bucket-keyed full-outer
  * merge into the store, RollupStream's scheme exactly, eagerly
  * `localCheckpoint`ed so lineage stays one merge deep (in production
  * the checkpoint is the profile-table overwrite). This is the curation
  * head most likely to actually run on an ingest stream: the corpus
  * profile must track arrivals continuously, while the log-ratio table
  * and per-document weights are derived on demand from the ≤256-row
  * store ([[graft.operators.Enrichment.dsirLogRatio]] — exact-integer
  * operands, so a merged profile yields BIT-EQUAL weights to the batch
  * pass; StreamingSpec splits the corpus mid-bucket across micro-batches
  * and asserts exactly that).
  */
object DsirStream {

  /** Algebraic merge of two `(b, cr, ct)` profile partials: counts add;
    * a bucket present on one side only passes through via coalesce-to-0
    * (counts, unlike RollupStream's `sv`, have no null-preserving case —
    * an absent bucket means zero occurrences, not unknown).
    */
  private[graft] def mergeProfiles(store: DataFrame, delta: DataFrame): DataFrame =
    store.select(col("b"), col("cr").as("cr_a"), col("ct").as("ct_a"))
      .join(delta.select(col("b"), col("cr").as("cr_b"), col("ct").as("ct_b")),
        Seq("b"), "full_outer")
      .select(col("b"),
        (coalesce(col("cr_a"), lit(0L)) + coalesce(col("cr_b"), lit(0L))).as("cr"),
        (coalesce(col("ct_a"), lit(0L)) + coalesce(col("ct_b"), lit(0L))).as("ct"))

  /** Maintain the profile store from a streaming `(doc_id, lang, text)`
    * frame; `onProfile` receives the merged ≤256-row store after every
    * micro-batch (in production: the profile-table overwrite).
    */
  def ingest(docs: DataFrame)(onProfile: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var store: DataFrame = null
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val delta = graft.operators.Enrichment.dsirProfileOf(
          graft.operators.Enrichment.dsirOcc(batch))
        store = (if (store == null) delta else mergeProfiles(store, delta))
          .localCheckpoint()
        onProfile(id, store)
      }
  }
}

/** Typed event for stateful processing. */
final case class SEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Emitted session: closed by a gap or by event-time timeout. */
final case class SSession(
    user_id: Long, session_start_ms: Long, session_end_ms: Long,
    n_events: Long, total_value: Double)

/** Open-session state carried between micro-batches. */
final case class SessionState(
    startMs: Long, lastMs: Long, n: Long, total: Double)

/** Custom stateful sessionization via flatMapGroupsWithState — the
  * "KeyValueGroupedDataset custom state" surface. Semantics match
  * `session_window(ts, gap)` for in-order-across-batches data: merge while
  * the next event starts strictly inside last + gap; session end = last
  * event + gap. Cross-batch events arriving BEFORE the open session's
  * start are dropped as late data (they may belong to an already-emitted
  * session; batch `session_window` would instead restructure history).
  */
object Sessionize {

  val DefaultGapMs: Long = 5 * 60 * 1000L

  def sessions(events: Dataset[SEvent], gapMs: Long = DefaultGapMs): Dataset[SSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        update(gapMs))
  }

  private[streaming] def update(gapMs: Long)(
      userId: Long,
      events: Iterator[SEvent],
      state: GroupState[SessionState]): Iterator[SSession] = {
    def close(s: SessionState): SSession =
      SSession(userId, s.startMs, s.lastMs + gapMs, s.n, s.total)

    if (events.isEmpty && state.hasTimedOut) {
      val out = state.getOption.map(close).iterator.toSeq
      state.remove()
      out.iterator
    } else {
      // Micro-batch input is unordered; sort locally (bounded by one
      // user's events in one batch) and fold into sessions.
      val sorted = events.toArray.sortBy(_.ts.getTime)
      val closed = Seq.newBuilder[SSession]
      var cur = state.getOption.orNull
      sorted.foreach { e =>
        val ms = e.ts.getTime
        cur = cur match {
          case null => SessionState(ms, ms, 1, e.value)
          case s if ms < s.startMs =>
            // Cross-batch out-of-order event predating the open session:
            // it may belong to an already-emitted session, so merging it
            // here would diverge from session_window. Treat it as late
            // data and drop it (the same class of row a watermarked
            // stateful operator sheds).
            s
          case s if ms < s.lastMs + gapMs =>
            SessionState(s.startMs, math.max(s.lastMs, ms), s.n + 1, s.total + e.value)
          case s =>
            closed += close(s)
            SessionState(ms, ms, 1, e.value)
        }
      }
      if (cur != null) {
        // A session whose gap already expired relative to the watermark
        // can never be extended — emit it now (a timeout in the past is
        // rejected by the state store). The previously-stored state must
        // also be REMOVED, or its pending timeout would later re-emit a
        // stale overlapping session for the same events.
        val wm = state.getCurrentWatermarkMs()
        if (cur.lastMs + gapMs <= wm) {
          closed += close(cur)
          if (state.exists) state.remove()
        } else {
          state.update(cur)
          state.setTimeoutTimestamp(cur.lastMs + gapMs)
        }
      }
      closed.result().iterator
    }
  }
}

/** One CLOSED validity interval — ev12's output shape for the rows whose
  * `valid_to_ms` is known (a stream can only finalize closed intervals;
  * each user's open row lives in state until the next change closes it).
  */
final case class ScdChange(
    user_id: Long, event_id: Long, valid_from_ms: Long, value: Double,
    valid_to_ms: Long)

/** The open SCD2 row carried between micro-batches, plus the newest
  * PROCESSED event time — the late-data floor. The open row's
  * `valid_from_ms` is NOT that floor: an absorbed repeat advances the
  * clock without moving the interval start, and an out-of-order event
  * between the two would otherwise be accepted and rewrite history the
  * stream already vouched for.
  */
final case class ScdState(
    event_id: Long, valid_from_ms: Long, value: Double, last_seen_ms: Long)

/** The streaming form of ev12's SCD2 history build
  * ([[graft.operators.Events.scd2History]]) — the CDC shape that query
  * deploys as: per user, `flatMapGroupsWithState` carries the currently
  * open interval; an arriving event with a DIFFERENT value closes it
  * (emitting the finished row) and opens a new one, while repeats of the
  * current value collapse into the open interval, exactly the batch
  * lag-filter-lead semantics.
  *
  * Agreement contract (StreamingSpec): for in-order arrivals — any
  * micro-batch slicing — the emitted rows equal the batch query's CLOSED
  * rows (`valid_to_ms IS NOT NULL`) on the same events; each user's open
  * tail row is exactly the retained state. Cross-batch out-of-order
  * events are dropped as late data ([[Sessionize]]'s convention — a
  * retroactive change would rewrite already-emitted history).
  *
  * State scale: ONE small row per active user (the open interval),
  * sharded by key — the minimal CDC state, never evicted by design (a
  * dimension's current value has no horizon).
  */
object Scd2Stream {

  def changes(events: Dataset[MEvent]): Dataset[ScdChange] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  private[streaming] def update(
      userId: Long,
      events: Iterator[MEvent],
      state: GroupState[ScdState]): Iterator[ScdChange] = {
    var open = state.getOption
    val out = Seq.newBuilder[ScdChange]
    val floor = open.map(_.last_seen_ms).getOrElse(Long.MinValue)
    val sorted = events.toArray
      .filter(_.ts.getTime >= floor)
      .sortBy(e => (e.ts.getTime, e.event_id))
    for (e <- sorted) {
      val ms = e.ts.getTime
      open match {
        case None =>
          open = Some(ScdState(e.event_id, ms, e.value, ms))
        case Some(o) if e.value == o.value =>
          // repeat: the interval absorbs it, but the late-data clock
          // still advances past it
          open = Some(o.copy(last_seen_ms = ms))
        case Some(o) =>
          out += ScdChange(userId, o.event_id, o.valid_from_ms, o.value, ms)
          open = Some(ScdState(e.event_id, ms, e.value, ms))
      }
    }
    open.foreach(state.update)
    out.result().iterator
  }
}

/** A CDC-typed change event: `tombstone = true` is a DELETE for the key
  * (value is ignored on tombstones) — ev16's delete arm, streamed.
  */
final case class CdcEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp, value: Double,
    tombstone: Boolean)

/** CDC state: the open interval (None right after a delete) plus the
  * late-data clock. The clock lives OUTSIDE the open row because a
  * delete clears the row but must NOT reset the clock — otherwise a
  * late pre-delete event would resurrect a key whose deletion the
  * stream already emitted.
  */
final case class CdcState(open: Option[ScdState], clock_ms: Long)

/** [[Scd2Stream]] completed with the DELETE arm — the streaming twin of
  * [[graft.operators.Events.mergeFull]] (ev16). A tombstone CLOSES the
  * key's open interval at the tombstone's time (emitting the finished
  * row — the delete is the interval's end, exactly the batch SCD2 row a
  * MERGE DELETE would finalize) and clears the state; a later value
  * re-opens the key as a fresh interval. A tombstone for an absent key
  * is a no-op (ev16's unmatched-delete rule). Same late-data contract as
  * [[Scd2Stream]], enforced across deletes by [[CdcState]]'s clock.
  *
  * State scale: identical to Scd2Stream — ≤1 small row per key; a
  * deleted key keeps only the clock until it re-opens.
  */
object CdcScd2Stream {

  def changes(events: Dataset[CdcEvent]): Dataset[ScdChange] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  private[streaming] def update(
      userId: Long,
      events: Iterator[CdcEvent],
      state: GroupState[CdcState]): Iterator[ScdChange] = {
    val st = state.getOption.getOrElse(CdcState(None, Long.MinValue))
    var open = st.open
    var clock = st.clock_ms
    val out = Seq.newBuilder[ScdChange]
    val sorted = events.toArray
      .filter(_.ts.getTime >= clock)
      .sortBy(e => (e.ts.getTime, e.event_id))
    for (e <- sorted) {
      val ms = e.ts.getTime
      (open, e.tombstone) match {
        case (Some(o), true) =>
          out += ScdChange(userId, o.event_id, o.valid_from_ms, o.value, ms)
          open = None
        case (None, true) =>
          () // unmatched delete: the key was never open — MERGE no-op
        case (None, false) =>
          open = Some(ScdState(e.event_id, ms, e.value, ms))
        case (Some(o), false) if e.value == o.value =>
          open = Some(o.copy(last_seen_ms = ms))
        case (Some(o), false) =>
          out += ScdChange(userId, o.event_id, o.valid_from_ms, o.value, ms)
          open = Some(ScdState(e.event_id, ms, e.value, ms))
      }
      clock = math.max(clock, ms)
    }
    if (open.isDefined || clock != Long.MinValue)
      state.update(CdcState(open, clock))
    out.result().iterator
  }
}

/** Streaming twin of dd9's incremental admission: a corpus-ingest
  * service that, per micro-batch of incoming documents, issues the same
  * exact / near / unique verdicts dd9 gates in batch — against the
  * sink-maintained index of EVERYTHING ADMITTED SO FAR — and admits only
  * the uniques, so later batches dedup against earlier admissions. The
  * index is the store (RollupStream's foreachBatch scheme: merge, then
  * eager localCheckpoint so lineage stays one merge deep); the dedup
  * kernels are dd*'s own ([[graft.functions.TextFunctions.fingerprint]]
  * for exact, [[graft.operators.Dedup.shingledOf]] +
  * [[graft.operators.Dedup.verifiedPairsOf]] band-routed Jaccard for
  * near), so the stream cannot drift from the batch gates.
  *
  * Within one micro-batch, a document also deduplicates against its
  * lower-id ADMITTED batch peers (first-id-wins, resolved to fixpoint —
  * a bounced peer is not a valid partner): two copies arriving together
  * admit exactly one, matching what replaying the same docs one-per-batch
  * would produce — StreamingSpec asserts this batch-split invariance,
  * including the chain case where a doc's only match is itself bounced.
  * Precondition: ingest doc_ids are globally unique (any real ingest id
  * satisfies this; the id order is the deterministic tiebreak).
  *
  * Scale per micro-batch: one fingerprint equi-join and one banded
  * shingle join against (index ∪ batch); nothing touches
  * |batch| × |index|.
  */
object AdmissionStream {

  import graft.operators.Dedup
  import graft.functions.TextFunctions.fingerprint

  /** Verdicts for `batch` (doc_id, text) against the admitted `index`
    * frame of the same schema: one row per batch doc — verdict
    * `exact` / `near` / `unique` plus the matched doc's id (-1 when
    * unique). Matches consider the whole index plus the batch's
    * lower-id ADMITTED peers — exactly the set a one-doc-per-batch
    * replay would consult, which is what makes the verdict log
    * batch-split invariant. A bounced peer is NOT a valid partner
    * (near-dup is not transitive: a doc whose only match is a bounced
    * near-dup may itself be far from everything admitted, and replay
    * would admit it), so peer credit resolves through the id-ordered
    * sequential scan the semantics define — run driver-side over the
    * batch-sized match lists (see the inline note; the corpus-scale
    * work stays distributed).
    */
  private[graft] def verdictsAgainst(batch: DataFrame,
      index: DataFrame): DataFrame = {
    val bFp = batch
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .localCheckpoint()
    val bIds = bFp.select(col("doc_id"))
    // index-side exact/near partners and batch-internal peer edges are
    // computed ONCE; only the peer-credit resolution iterates
    val ixExact = bFp
      .join(index.select(col("doc_id").as("m_id"),
        fingerprint(col("text")).as("fp")), Seq("fp"))
      .groupBy("doc_id").agg(min("m_id").as("ix_exact"))
    val sh = graft.engine.Caching.scopedPersist(
      Dedup.shingledOf(batch.select(col("doc_id"), col("text"))
        .unionAll(index.select(col("doc_id"), col("text")))))
    val pairs = Dedup.verifiedPairsOf(sh)
      .select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nearEdges = pairs
      .select(col("doc_b").as("doc_id"), col("doc_a").as("m_id"))
      .unionAll(pairs.select(col("doc_a").as("doc_id"),
        col("doc_b").as("m_id")))
      .join(bIds, Seq("doc_id"))
    val ixNear = nearEdges
      .join(index.select(col("doc_id").as("m_id")), Seq("m_id"))
      .groupBy("doc_id").agg(min("m_id").as("ix_near"))
    val peerNearE = nearEdges
      .join(bIds.select(col("doc_id").as("m_id")), Seq("m_id"))
      .filter(col("m_id") < col("doc_id"))
      .select(col("doc_id"), col("m_id"))
    val peerExactE = bFp
      .join(bFp.select(col("doc_id").as("m_id"), col("fp")), Seq("fp"))
      .filter(col("m_id") < col("doc_id"))
      .select(col("doc_id"), col("m_id")).localCheckpoint()
    // The admission decision itself is an id-ORDERED sequential scan by
    // definition (doc d's verdict depends on which lower peers were
    // admitted), so it runs driver-side over the BATCH-SIZED match
    // lists just computed — the same control-plane budget as t21's
    // per-step winner readback. Everything corpus-scale (fingerprints,
    // shingling, banded candidate generation, Jaccard verification)
    // already happened distributed above; what ships to the driver is
    // one row per batch doc plus the batch-internal edge list.
    val ixE = ixExact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ixN = ixNear.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def edgeMap(df: DataFrame): Map[Long, Seq[Long]] = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val pE = edgeMap(peerExactE)
    val pN = edgeMap(peerNearE)
    val ids = bIds.collect().map(_.getLong(0)).sorted
    val admitted = scala.collection.mutable.Set[Long]()
    val verdicts = ids.map { id =>
      def best(ix: Option[Long], peers: Seq[Long]): Option[Long] = {
        val adm = peers.filter(admitted)
        (ix.toSeq ++ adm).minOption
      }
      val exact = best(ixE.get(id), pE.getOrElse(id, Nil))
      val near = best(ixN.get(id), pN.getOrElse(id, Nil))
      val (verdict, matchId) = (exact, near) match {
        case (Some(e), _) => ("exact", e)
        case (None, Some(n)) => ("near", n)
        case _ => admitted += id; ("unique", -1L)
      }
      (id, verdict, matchId)
    }
    val spark = batch.sparkSession
    import spark.implicits._
    verdicts.toSeq.toDF("doc_id", "verdict", "match_id")
  }

  /** Maintain the admitted index from a streaming `(doc_id, text)` frame;
    * `onVerdicts` receives each micro-batch's verdict frame (in
    * production: the admission log the ingest writes).
    */
  def ingest(docs: DataFrame)(onVerdicts: (Long, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    var index: DataFrame = null
    docs.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.select(col("doc_id"), col("text")).localCheckpoint()
        val ix = if (index == null) b.filter(lit(false)) else index
        val v = verdictsAgainst(b, ix).localCheckpoint()
        onVerdicts(id, v)
        val admitted = b.join(
          v.filter(col("verdict") === "unique").select("doc_id"), "doc_id")
        index = ix.unionAll(admitted).localCheckpoint()
      }
  }
}

/** Typed event for the streaming funnel. */
final case class FEvent(
    user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String)

/** One funnel stage advance: stage 1 = view, 2 = click-after-view,
  * 3 = purchase-after-click (ev6's stage numbering).
  */
final case class FunnelAdvance(user_id: Long, stage: Int, at_ms: Long)

/** Per-user funnel progress carried between micro-batches: the earliest
  * qualifying timestamp of each reached stage.
  */
final case class FunnelState(
    v_ms: Option[Long], c_ms: Option[Long], p_ms: Option[Long])

/** Streaming twin of ev6's ordered funnel: per-user
  * `flatMapGroupsWithState` that emits a [[FunnelAdvance]] the moment a
  * user reaches a new stage, under the SAME strictly-after rule the
  * batch gate hashes (a click counts only strictly after the user's
  * first view, a purchase only strictly after the first qualifying
  * click). Counting the emitted advances per stage therefore reproduces
  * ev6's funnel counts exactly — StreamingSpec proves it against
  * [[graft.operators.Events.funnelCore]] on a planted, batch-split
  * timeline.
  *
  * State is three optional longs per user — constant-size, so the store
  * is user-dimension-sized at any traffic volume. Precondition (the
  * standard one for stateful event-time logic without a reorder buffer):
  * each user's events arrive time-ordered across micro-batches; within
  * a batch the update sorts on (ts, event_id), so intra-batch order is
  * deterministic regardless of shuffle arrival.
  */
object FunnelStream {

  def advances(events: Dataset[FEvent]): Dataset[FunnelAdvance] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        update)
  }

  private[streaming] def update(
      userId: Long, events: Iterator[FEvent],
      state: GroupState[FunnelState]): Iterator[FunnelAdvance] = {
    var st = state.getOption.getOrElse(FunnelState(None, None, None))
    val out = Seq.newBuilder[FunnelAdvance]
    for (e <- events.toArray.sortBy(x => (x.ts.getTime, x.event_id))) {
      val ms = e.ts.getTime
      e.event_type match {
        case "view" if st.v_ms.isEmpty =>
          st = st.copy(v_ms = Some(ms))
          out += FunnelAdvance(userId, 1, ms)
        case "click" if st.v_ms.nonEmpty && st.c_ms.isEmpty &&
            ms > st.v_ms.get =>
          st = st.copy(c_ms = Some(ms))
          out += FunnelAdvance(userId, 2, ms)
        case "purchase" if st.c_ms.nonEmpty && st.p_ms.isEmpty &&
            ms > st.c_ms.get =>
          st = st.copy(p_ms = Some(ms))
          out += FunnelAdvance(userId, 3, ms)
        case _ => ()
      }
    }
    state.update(st)
    out.result().iterator
  }
}
