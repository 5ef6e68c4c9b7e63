package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r6, t}

/** Declarative data-quality constraint checking — the dbt-test /
  * expectations layer every production pipeline runs before publishing a
  * table (north-star data-engineering surface; the reference's only
  * validation is P2's null-column drop). One report row per constraint
  * with its violation count, so a scheduler gates downstream jobs on
  * `max(n_violations) == 0`.
  *
  * Constraint classes covered: primary-key uniqueness (hash aggregate on
  * the key, map-side combine), referential integrity (anti join against
  * the referenced key set — AQE picks broadcast vs shuffle from runtime
  * sizes; never a driver-side collect, never a forced broadcast of a
  * possibly-fact-sized referenced table), domain/range
  * predicates and null checks (scan-local filters, pushed to parquet).
  * Each check aggregates to ONE row before the union, so the report
  * plan's exchanges carry single-row frames regardless of table size.
  */
object Quality {

  private def one(name: String, violations: DataFrame): DataFrame =
    violations.agg(count(lit(1)).as("n_violations"))
      .select(lit(name).as("constraint"), col("n_violations"))

  /** dq1 — the constraint report over the TPC-H-ish core tables. The
    * driver corpus is clean (every count 0 — the healthy-pipeline
    * baseline the gate pins); QualitySpec plants one violation of each
    * class through [[constraintReport]] to exercise every counting path.
    */
  def dq1ConstraintReport(spark: SparkSession, dir: String): DataFrame =
    constraintReport(t(spark, dir, "customer"), t(spark, dir, "orders"),
      t(spark, dir, "lineitem"), t(spark, dir, "events"))

  private[graft] def constraintReport(
      cust: DataFrame, ord: DataFrame, li: DataFrame, ev: DataFrame): DataFrame = {

    val pkDupes = cust.groupBy(col("c_custkey"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
    // No broadcast hint on either FK check: the referenced side of a
    // real FK can be anything from a 25-row region dim to a fact-sized
    // customer table, so AQE's size-based choice (broadcast under the
    // threshold, shuffle join above it) is the right call at 100 TB — a
    // forced broadcast of a large referenced table would OOM the build.
    val orphanOrders = ord.select(col("o_custkey"))
      .join(cust.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
    val orphanLines = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
    val badQty = li.filter(col("l_quantity") <= 0)
    val badDiscount = li.filter(
      col("l_discount") < 0 || col("l_discount") > 1)
    val nullDates = ord.filter(col("o_orderdate").isNull)
    val badValues = ev.filter(col("value").isNull || isnan(col("value")))

    one("customer_pk_unique", pkDupes)
      .unionAll(one("events_value_is_number", badValues))
      .unionAll(one("lineitem_discount_in_unit_range", badDiscount))
      .unionAll(one("lineitem_fk_orders", orphanLines))
      .unionAll(one("lineitem_quantity_positive", badQty))
      .unionAll(one("orders_date_not_null", nullDates))
      .unionAll(one("orders_fk_customer", orphanOrders))
      .orderBy("constraint")
  }

  /** dq2 — the constraint classes a warehouse adds right after dq1's
    * basics: ACCEPTED VALUES (column domain is a closed set — the dbt
    * `accepted_values` test; scan-local IN-list filters, pushed to
    * parquet) and CROSS-COLUMN predicates (row-level invariants relating
    * two columns of one row — discount+tax inside the unit interval,
    * extended price at least the quantity, i.e. unit price >= 1; still
    * scan-local, no join). Same report contract as dq1: one row per
    * constraint, driver corpus all-green, QualitySpec plants one
    * violation per new class.
    */
  def dq2AcceptedAndCross(spark: SparkSession, dir: String): DataFrame =
    acceptedAndCrossReport(t(spark, dir, "orders"),
      t(spark, dir, "lineitem"), t(spark, dir, "events"))

  private[graft] def acceptedAndCrossReport(
      ord: DataFrame, li: DataFrame, ev: DataFrame): DataFrame = {
    val badEventType = ev.filter(!col("event_type")
      .isin("click", "view", "purchase", "signup", "error"))
    val badStatus = ord.filter(!col("o_orderstatus").isin("O", "F", "P"))
    val badPriority = ord.filter(!col("o_orderpriority").isin(
      "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    val badDiscTax = li.filter(col("l_discount") + col("l_tax") > 1)
    val badUnitPrice = li.filter(col("l_extendedprice") < col("l_quantity"))
    val badTotal = ord.filter(col("o_totalprice") < 0)

    one("events_type_accepted_values", badEventType)
      .unionAll(one("lineitem_disc_plus_tax_in_unit_range", badDiscTax))
      .unionAll(one("lineitem_unit_price_at_least_one", badUnitPrice))
      .unionAll(one("orders_priority_accepted_values", badPriority))
      .unionAll(one("orders_status_accepted_values", badStatus))
      .unionAll(one("orders_totalprice_nonnegative", badTotal))
      .orderBy("constraint")
  }

  /** dq3 — robust outlier report per event_type: median, MAD (median
    * absolute deviation), and the count/share of values beyond the
    * classic `3·1.4826·MAD` robust z-band — the monitoring-side outlier
    * gate that, unlike mean/stddev bands, one corrupted batch cannot
    * drag (breakdown point 50%). Two exact-percentile passes are
    * INHERENT to MAD (deviations need the median first); each is a
    * per-group exact percentile over the fact table with the resulting
    * group-dimension-sized frame broadcast back — at 100 TB each pass
    * swaps to `approx_percentile` (prof2's sketch-cut convention)
    * without changing shape. Determinism: median and MAD round to 4
    * (pct1's exact-percentile grain) before every comparison, and the
    * outlier threshold derives from the ROUNDED mad on both engines, so
    * boundary values classify identically.
    */
  def dq3MadOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutlierReport(t(spark, dir, "events"))

  private[graft] def madOutlierReport(ev: DataFrame): DataFrame = {
    // Raw events are scanned ONCE, into the (group, value)-domain
    // contingency; both percentile passes run WITH FREQUENCIES over that
    // frame (identical to percentile over the expanded multiset), and
    // the final outlier count sums frequencies — a monitoring metric's
    // value domain is far smaller than its event count at 100 TB, so
    // every pass after the first touches domain-sized frames only.
    val vc = ev.select(col("event_type"), col("value"))
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy("event_type", "value").agg(count(lit(1)).as("freq"))
    val med = vc.groupBy("event_type")
      .agg(round(expr("percentile(value, 0.5, freq)"), 4).as("med"))
    val devc = vc.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("dev"),
        col("freq"))
    val mad = devc.groupBy("event_type")
      .agg(round(expr("percentile(dev, 0.5, freq)"), 4).as("mad"))
    // threshold from the ROUNDED mad: 3 * 1.4826 (the normal-consistency
    // constant) = 4.4478 exactly in decimal; one IEEE multiply of
    // identical inputs on both engines
    devc.join(broadcast(med.join(mad, "event_type")), "event_type")
      .groupBy("event_type")
      .agg(
        max(col("med")).as("median"),
        max(col("mad")).as("mad"),
        sum(col("freq")).as("n"),
        coalesce(sum(when(col("dev") > round(col("mad") * 4.4478, 4),
          col("freq"))), lit(0L)).as("n_outliers"),
        r6(coalesce(sum(when(col("dev") > round(col("mad") * 4.4478, 4),
          col("freq"))), lit(0L)).cast("double") / sum(col("freq")))
          .as("outlier_share"))
      .orderBy("event_type")
  }

  /** dq4 — daily-volume anomaly monitor: per ingest day, the row count
    * against the trailing-7-day median volume, flagging days that
    * deviate more than ±50% — the "did yesterday's load half-fail or
    * double-fire" check every scheduled pipeline runs before publishing
    * a partition. The median (not mean) baseline is dq3's robustness
    * argument at the day grain: one bad day in the window cannot drag
    * its own baseline.
    *
    * Scale: the fact table collapses once to the day dimension; the
    * trailing window is a range self-join of that calendar-sized frame.
    * Days with fewer than 3 trailing observations emit a null verdict
    * (warm-up, not alarm).
    */
  def dq4VolumeAnomaly(spark: SparkSession, dir: String): DataFrame =
    volumeAnomalyReport(t(spark, dir, "events"))

  private[graft] def volumeAnomalyReport(ev: DataFrame): DataFrame =
    volumeReportFromDaily(ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events")))

  /** The verdict half of dq4 over an already-maintained `(day, n_events)`
    * frame — shared with [[graft.streaming.VolumeMonitor]], whose
    * incrementally merged store feeds the SAME report definition the
    * batch gate hashes.
    */
  private[graft] def volumeReportFromDaily(daily: DataFrame): DataFrame = {
    val trail = daily.as("d")
      .join(daily.as("p"),
        col("p.day") >= date_sub(col("d.day"), 7) &&
          col("p.day") < col("d.day"))
      .groupBy(col("d.day").as("day"))
      .agg(count(lit(1)).as("n_trailing"),
        round(expr("percentile(p.n_events, 0.5)"), 4).as("trailing_med"))
    daily.join(trail, Seq("day"), "left")
      .select(col("day"), col("n_events"),
        coalesce(col("n_trailing"), lit(0L)).as("n_trailing"),
        col("trailing_med"),
        when(col("n_trailing") >= 3,
          abs(col("n_events") - col("trailing_med")) >
            col("trailing_med") * 0.5).as("anomaly"))
      .orderBy("day")
  }

  /** dq5 — freshness report: per event_type, the last-seen timestamp and
    * how many hours it lags the corpus watermark (the newest event
    * anywhere) — the staleness line a monitoring dashboard keys SLA
    * alerts on. One hash aggregate to the type dimension; the global
    * watermark is a 1-row aggregate broadcast back (no window over the
    * fact table, no second fact scan — max-of-max over the tiny frame).
    */
  def dq5Freshness(spark: SparkSession, dir: String): DataFrame =
    freshnessReport(t(spark, dir, "events"))

  private[graft] def freshnessReport(ev: DataFrame): DataFrame = {
    val perType = ev.groupBy(col("event_type"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
    val watermark = perType.agg(max(col("last_ts")).as("wm"))
    perType.join(broadcast(watermark))
      .select(col("event_type"), col("last_ts"), col("n_events"),
        round((unix_millis(col("wm")) - unix_millis(col("last_ts")))
          / 3600000.0, 6).as("hours_behind"))
      .orderBy("event_type")
  }

  /** dq6 — financial reconciliation: does each order's listed total
    * agree with the total recomputed from its own line items
    * (`Σ extendedprice·(1−discount)·(1+tax)`)? The classic
    * cross-table audit between a header mart and its detail table,
    * reported as deviation bands (exact ≤ 1¢, within 5%, within 25%,
    * gross, and headers with no detail rows at all). On the driver
    * corpus the listed totals are synthetic so the bands EXPOSE the
    * inconsistency — which is precisely the operator's job.
    *
    * Determinism: prices, discounts and taxes all carry exactly 2
    * decimals, so each line's `cents · (100−disc_bp) · (100+tax_bp)`
    * is an exact long at the 10⁻⁶ grain and every money sum here is
    * exact integer arithmetic divided once at the end (q23's
    * convention — a double-accumulated per-order `round(sum, 2)`
    * actually LANDED on a half-cent boundary at sf0.1). Band
    * assignment is then per-row scalar IEEE arithmetic on identical
    * operands.
    *
    * Scale: one lineitem aggregate keyed on orderkey and a co-located
    * equi-join to orders; the share window runs over the ≤ 5-row band
    * frame.
    */
  def dq6Reconciliation(spark: SparkSession, dir: String): DataFrame =
    reconciliationReport(t(spark, dir, "orders"), t(spark, dir, "lineitem"))

  /** dq6 over explicit (orders, lineitem) frames — QualitySpec plants
    * one order per band and checks the classification and totals.
    */
  private[graft] def reconciliationReport(
      orders: DataFrame, lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val calc = lineitem
      .select(col("l_orderkey"),
        (round(col("l_extendedprice") * 100.0).cast("long") *
          (lit(100L) - round(col("l_discount") * 100.0).cast("long")) *
          (lit(100L) + round(col("l_tax") * 100.0).cast("long"))).as("micro"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("micro")).as("micro"))
    val banded = orders
      .select(col("o_orderkey"), col("o_totalprice"))
      .join(calc, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_totalprice"), col("micro"),
        (col("micro") / 1e6).as("calc"))
      .select(col("o_totalprice"), col("micro"),
        when(col("calc").isNull, lit("no_lines"))
          .when(abs(col("o_totalprice") - col("calc")) <= 0.01, lit("exact"))
          .when(abs(col("o_totalprice") - col("calc")) / col("o_totalprice")
            <= 0.05, lit("within_5pct"))
          .when(abs(col("o_totalprice") - col("calc")) / col("o_totalprice")
            <= 0.25, lit("within_25pct"))
          .otherwise(lit("gross")).as("band"))
    banded.groupBy("band")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(round(col("o_totalprice") * 100).cast("long")) / 100.0, 2)
          .as("listed_total"),
        round(sum(col("micro")) / 1e6, 2).as("computed_total"))
      .withColumn("share", round(col("n_orders").cast("double") /
        sum(col("n_orders")).over(Window.partitionBy()), 6))
      .orderBy("band")
  }

  /** The dq7 candidate (determinant → dependent) pairs over `part` — ONE
    * list drives both the Spark plan and the oracle SQL so they cannot
    * drift. `p_partkey → p_brand` holds exactly (the key-inference
    * reading: every column is functionally determined by a key); the
    * rest are expected near-misses whose violation RATE is the useful
    * profiling signal.
    */
  private val Dq7Pairs = Seq(
    ("p_partkey", "p_brand"), ("p_brand", "p_type"),
    ("p_name", "p_brand"), ("p_type", "p_size"))

  /** dq7 — approximate functional-dependency discovery (the profiling
    * step behind schema normalization and key inference, cf. TANE /
    * Papenbrock & Naumann 2016): for each candidate pair A → B, the
    * violation count is `N − Σ_a max_b |{A=a, B=b}|` — the minimum
    * number of rows whose B must change for the FD to hold exactly —
    * reported with its rate and the holds verdict.
    *
    * Scale: per candidate, one aggregate on the (A,B) value domain then
    * two domain-sized aggregates — the fact table is scanned once per
    * pair and never shuffled row-wise.
    */
  def dq7FdDiscovery(spark: SparkSession, dir: String): DataFrame =
    fdDiscoveryCore(t(spark, dir, "part"), Dq7Pairs)

  /** dq7 over an explicit frame and pair list — QualitySpec plants a
    * held FD, a single-row violation (count exactly 1), and checks the
    * rate normalization.
    */
  private[graft] def fdDiscoveryCore(
      table: DataFrame, pairs: Seq[(String, String)]): DataFrame =
    pairs.map { case (det, dep) =>
      table
        .select(col(det).cast("string").as("det_v"),
          col(dep).cast("string").as("dep_v"))
        .groupBy("det_v", "dep_v").agg(count(lit(1)).as("c"))
        .groupBy("det_v").agg(max(col("c")).as("mx"), sum(col("c")).as("tot"))
        .agg(sum(col("mx")).as("kept"), sum(col("tot")).as("n"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n").as("n_rows"),
          (col("n") - col("kept")).as("n_violations"),
          r6((col("n") - col("kept")).cast("double") / col("n"))
            .as("violation_rate"),
          (col("n") === col("kept")).as("holds"))
    }.reduce(_.unionAll(_)).orderBy("determinant", "dependent")

  /** The dq7 oracle, generated from the SAME pair list as the plan. */
  private def dq7OracleSql: String =
    Dq7Pairs.map { case (det, dep) =>
      s"""SELECT '$det' AS determinant, '$dep' AS dependent,
         |  CAST(sum(tot) AS BIGINT) AS n_rows,
         |  CAST(sum(tot) - sum(mx) AS BIGINT) AS n_violations,
         |  round((sum(tot) - sum(mx))::DOUBLE / sum(tot), 6)
         |    AS violation_rate,
         |  sum(tot) = sum(mx) AS holds
         |FROM (
         |  SELECT det_v, max(c) AS mx, sum(c) AS tot FROM (
         |    SELECT $det::VARCHAR AS det_v, $dep::VARCHAR AS dep_v,
         |      count(*) AS c
         |    FROM part GROUP BY 1, 2) GROUP BY det_v)""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY determinant, dependent")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dq7_fd_discovery" -> dq7FdDiscovery,
    "dq6_reconciliation" -> dq6Reconciliation,
    "dq1_constraint_report" -> dq1ConstraintReport,
    "dq2_accepted_cross_report" -> dq2AcceptedAndCross,
    "dq3_mad_outliers" -> dq3MadOutliers,
    "dq4_volume_anomaly" -> dq4VolumeAnomaly,
    "dq5_freshness" -> dq5Freshness
  )

  val oracle: Map[String, String] = Map(
    "dq7_fd_discovery" -> dq7OracleSql,
    "dq6_reconciliation" ->
      """WITH c AS (
        |  SELECT l_orderkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS micro
        |  FROM lineitem GROUP BY 1),
        | banded AS (
        |  SELECT o.o_totalprice, c.micro, c.micro / 1000000.0 AS calc
        |  FROM orders o LEFT JOIN c ON o.o_orderkey = c.l_orderkey),
        | b2 AS (
        |  SELECT o_totalprice, micro,
        |    CASE WHEN calc IS NULL THEN 'no_lines'
        |      WHEN abs(o_totalprice - calc) <= 0.01 THEN 'exact'
        |      WHEN abs(o_totalprice - calc) / o_totalprice <= 0.05
        |        THEN 'within_5pct'
        |      WHEN abs(o_totalprice - calc) / o_totalprice <= 0.25
        |        THEN 'within_25pct'
        |      ELSE 'gross' END AS band
        |  FROM banded)
        |SELECT band, count(*) AS n_orders,
        |  round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
        |    AS listed_total,
        |  round(sum(micro) / 1000000.0, 2) AS computed_total,
        |  round(count(*) / (SELECT count(*)::DOUBLE FROM orders), 6) AS share
        |FROM b2
        |GROUP BY band
        |ORDER BY band""".stripMargin,
    "dq1_constraint_report" ->
      """SELECT * FROM (
        |  SELECT 'customer_pk_unique' AS "constraint",
        |    (SELECT count(*) FROM (SELECT c_custkey FROM customer
        |      GROUP BY c_custkey HAVING count(*) > 1)) AS n_violations
        |  UNION ALL
        |  SELECT 'events_value_is_number',
        |    (SELECT count(*) FROM events WHERE value IS NULL OR isnan(value))
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_unit_range',
        |    (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
        |  UNION ALL
        |  SELECT 'lineitem_fk_orders',
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'lineitem_quantity_positive',
        |    (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)
        |  UNION ALL
        |  SELECT 'orders_date_not_null',
        |    (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)
        |  UNION ALL
        |  SELECT 'orders_fk_customer',
        |    (SELECT count(*) FROM orders r WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = r.o_custkey)))
        |ORDER BY "constraint"""".stripMargin,
    "dq2_accepted_cross_report" ->
      """SELECT * FROM (
        |  SELECT 'events_type_accepted_values' AS "constraint",
        |    (SELECT count(*) FROM events WHERE event_type NOT IN
        |      ('click', 'view', 'purchase', 'signup', 'error')) AS n_violations
        |  UNION ALL
        |  SELECT 'lineitem_disc_plus_tax_in_unit_range',
        |    (SELECT count(*) FROM lineitem WHERE l_discount + l_tax > 1)
        |  UNION ALL
        |  SELECT 'lineitem_unit_price_at_least_one',
        |    (SELECT count(*) FROM lineitem WHERE l_extendedprice < l_quantity)
        |  UNION ALL
        |  SELECT 'orders_priority_accepted_values',
        |    (SELECT count(*) FROM orders WHERE o_orderpriority NOT IN
        |      ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
        |  UNION ALL
        |  SELECT 'orders_status_accepted_values',
        |    (SELECT count(*) FROM orders WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
        |  UNION ALL
        |  SELECT 'orders_totalprice_nonnegative',
        |    (SELECT count(*) FROM orders WHERE o_totalprice < 0))
        |ORDER BY "constraint"""".stripMargin,
    "dq3_mad_outliers" ->
      """WITH v AS (
        |  SELECT event_type, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        | med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 4) AS med
        |  FROM v GROUP BY 1),
        | dev AS (
        |  SELECT v.event_type, abs(value - med) AS dev, med
        |  FROM v JOIN med ON v.event_type = med.event_type),
        | mad AS (
        |  SELECT event_type, round(quantile_cont(dev, 0.5), 4) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_type, max(dev.med) AS median, max(mad.mad) AS mad,
        |  count(*) AS n,
        |  count(CASE WHEN dev > round(mad.mad * 4.4478, 4) THEN 1 END)
        |    AS n_outliers,
        |  round(count(CASE WHEN dev > round(mad.mad * 4.4478, 4) THEN 1 END)
        |    * 1.0 / count(*), 6) AS outlier_share
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |GROUP BY dev.event_type
        |ORDER BY dev.event_type""".stripMargin,
    "dq4_volume_anomaly" ->
      """WITH daily AS (
        |  SELECT ts::DATE AS day, count(*) AS n_events
        |  FROM events GROUP BY 1),
        | trail AS (
        |  SELECT d.day, count(*) AS n_trailing,
        |    round(quantile_cont(p.n_events, 0.5), 4) AS trailing_med
        |  FROM daily d JOIN daily p
        |    ON p.day >= d.day - INTERVAL 7 DAY AND p.day < d.day
        |  GROUP BY d.day)
        |SELECT daily.day, daily.n_events,
        |  coalesce(trail.n_trailing, 0) AS n_trailing, trail.trailing_med,
        |  CASE WHEN trail.n_trailing >= 3
        |    THEN abs(daily.n_events - trail.trailing_med)
        |      > trail.trailing_med * 0.5 END AS anomaly
        |FROM daily LEFT JOIN trail ON daily.day = trail.day
        |ORDER BY daily.day""".stripMargin,
    "dq5_freshness" ->
      """WITH pt AS (
        |  SELECT event_type, max(ts) AS last_ts, count(*) AS n_events
        |  FROM events GROUP BY 1)
        |SELECT event_type, last_ts, n_events,
        |  round((epoch_ms(max(last_ts) OVER ()) - epoch_ms(last_ts))
        |    / 3600000.0, 6) AS hours_behind
        |FROM pt
        |ORDER BY event_type""".stripMargin
  )
}
