package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r2, r2s, r6, r6s, t}

/** Experiment / monitoring statistics — the experiment-readout and
  * distribution-drift layer an analytics engine serves on top of its
  * aggregates (north-star scope: the reference has no statistics at all;
  * its nearest neighbor is P2's null counting). Both operators are single
  * scans into ordinary hash aggregates — the statistical formulas ride on
  * exact integer counts and conditional aggregates, so the oracle checks
  * them bit-for-bit at 6 decimals.
  */
object Stats {

  /** The deterministic 50/50 unit split every experiment readout needs:
    * first md5 hex digit of the user id — stable, engine-portable, and
    * independent of arrival order (the same convention as
    * [[Dedup.isEvalSplit]]'s 25% carve, at '8' for half).
    */
  private def inGroupA(id: org.apache.spark.sql.Column) =
    substring(md5(id.cast("string")), 1, 1) < "8"

  /** ab1 — Welch's t readout per event_type between the two hashed user
    * arms: arm sizes, arm means, and the t statistic
    * `(mean_a - mean_b) / sqrt(s2_a/n_a + s2_b/n_b)` (unequal-variance
    * form — the default for real experiments). ONE scan, ONE hash
    * aggregate keyed on event_type: the arms are conditional aggregates
    * (`when(arm, value)` — count/avg/var_samp all skip the other arm's
    * nulls), so no self-join, no second pass, and map-side partials do
    * the heavy lifting at 100 TB. The t statistic divides
    * last-ulp-stable aggregates of O(100) magnitudes, far inside the
    * 6-decimal rounding grid.
    */
  def abTest(spark: SparkSession, dir: String): DataFrame =
    abTestCore(t(spark, dir, "events"))

  /** ab1 over an explicit `(user_id, event_type, value)` frame — the
    * readout axioms (sign, swap antisymmetry, effect-size monotonicity)
    * are StatsSpec-driven on planted arms.
    */
  private[graft] def abTestCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val va = when(a, col("value"))
    val vb = when(!a, col("value"))
    ev.groupBy(col("event_type"))
      .agg(
        count(va).as("n_a"), count(vb).as("n_b"),
        r6(avg(va)).as("mean_a"), r6(avg(vb)).as("mean_b"),
        r6s((avg(va) - avg(vb)) /
          sqrt(var_samp(va) / count(va) + var_samp(vb) / count(vb)))
          .as("t_stat"))
      .orderBy("event_type")
  }

  /** ab2 — the full experiment readout on the same ONE-pass conditional-
    * aggregate discipline as ab1: Welch's t plus its Welch–Satterthwaite
    * degrees of freedom and the pooled-variance Cohen's d effect size —
    * what a real readout reports next to the statistic (df feeds the
    * p-value lookup, d says whether a significant effect is LARGE).
    * Everything derives arithmetically from the six per-arm aggregates
    * (n, mean, var per arm) the single hash aggregate already computes;
    * no second pass, no self-join. Squares are spelled `x * x` in both
    * engines (never `pow`) so the IEEE trees match bit-for-bit under the
    * 6-decimal rounding grid.
    */
  def abEffect(spark: SparkSession, dir: String): DataFrame =
    abEffectCore(t(spark, dir, "events"))

  /** ab2 over an explicit `(user_id, event_type, value)` frame —
    * StatsSpec pins the df bracket (min(n)-1 <= df <= n_a+n_b-2, the
    * Welch–Satterthwaite envelope) and d's scale-invariance.
    */
  private[graft] def abEffectCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val va = when(a, col("value"))
    val vb = when(!a, col("value"))
    val na = count(va)
    val nb = count(vb)
    val s2a = var_samp(va)
    val s2b = var_samp(vb)
    val sea = s2a / na
    val seb = s2b / nb
    val se2 = sea + seb
    val dfW = (se2 * se2) /
      ((sea * sea) / (na - 1) + (seb * seb) / (nb - 1))
    val pooled = ((na - 1) * s2a + (nb - 1) * s2b) / (na + nb - 2)
    ev.groupBy(col("event_type"))
      .agg(
        na.as("n_a"), nb.as("n_b"),
        r6s((avg(va) - avg(vb)) / sqrt(se2)).as("t_stat"),
        r6(dfW).as("df_welch"),
        r6s((avg(va) - avg(vb)) / sqrt(pooled)).as("cohen_d"))
      .orderBy("event_type")
  }

  /** ab4 — the lift readout with its 95% confidence interval: absolute
    * lift, relative lift, and Welch-form CI bounds `Δ ± 1.96·√(s²_a/n_a
    * + s²_b/n_b)` — the line a launch decision actually reads (ab1/ab2
    * give the statistic and effect size; this gives the bracket and the
    * significance verdict). Same ONE-pass conditional-aggregate
    * discipline; the `significant` flag derives from the ROUNDED bounds
    * (zero outside the rounded CI), so both engines always agree on the
    * verdict bit, and every signed output follows the ±0 convention.
    */
  def abLiftCi(spark: SparkSession, dir: String): DataFrame =
    abLiftCiCore(t(spark, dir, "events"))

  /** ab4 over an explicit frame — StatsSpec pins CI-contains-zero ↔
    * not-significant and the arm-swap antisymmetry of the bounds.
    */
  private[graft] def abLiftCiCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val va = when(a, col("value"))
    val vb = when(!a, col("value"))
    val diff = avg(va) - avg(vb)
    val se = sqrt(var_samp(va) / count(va) + var_samp(vb) / count(vb))
    val lo = r6s(diff - lit(1.96) * se)
    val hi = r6s(diff + lit(1.96) * se)
    ev.groupBy(col("event_type"))
      .agg(
        count(va).as("n_a"), count(vb).as("n_b"),
        r6s(diff).as("lift"),
        r6s(diff / avg(vb)).as("rel_lift"),
        lo.as("ci_lo"), hi.as("ci_hi"),
        (lo > 0.0 || hi < 0.0).as("significant"))
      .orderBy("event_type")
  }

  /** ab3 — chi-square test of independence between the experiment arm
    * and the event-type mix: ab1/ab2 ask "did the VALUE move"; this asks
    * "did the BEHAVIOR mix move" (a treatment that shifts what users do,
    * not how much, is invisible to the t test and lights up here). One
    * hash aggregate builds the K×2 contingency table as conditional
    * counts; expected cells and the per-category chi-square contribution
    * `(O−E)²/E` are arithmetic over the broadcast 1-row margins —
    * everything from exact integer counts (the cast to double happens at
    * the same operand in both engines, squares spelled x*x), so the gate
    * is bit-stable at 6 decimals. The scalar statistic is the sum of
    * terms with df = K−1.
    */
  def abChisq(spark: SparkSession, dir: String): DataFrame =
    abChisqCore(t(spark, dir, "events"))

  /** ab3 over an explicit `(user_id, event_type)` frame — StatsSpec
    * plants an identical mix (terms ≈ 0) and an arm-skewed category.
    */
  private[graft] def abChisqCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val counts = ev.groupBy(col("event_type"))
      .agg(count(when(a, 1)).as("n_a"), count(when(!a, 1)).as("n_b"))
    val tot = counts.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
    val n = col("ta") + col("tb")
    val ea = (col("n_a") + col("n_b")) * col("ta").cast("double") / n
    val eb = (col("n_a") + col("n_b")) * col("tb").cast("double") / n
    counts.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_a"), col("n_b"),
        r6(ea).as("expected_a"), r6(eb).as("expected_b"),
        r6((col("n_a") - ea) * (col("n_a") - ea) / ea +
          (col("n_b") - eb) * (col("n_b") - eb) / eb).as("chisq_term"))
      .orderBy("event_type")
  }

  private val RefWindowMs = 604800000L // the first 7 corpus days

  /** drift1 — Population Stability Index of events.value, current period
    * against the first-week reference slice: the ML-ops drift monitor
    * that decides "has this feature's distribution moved since the model
    * shipped". Buckets are the EXACT deciles of the reference slice (its
    * ntile-bucket maxima become 9 cut values); both slices then bucket by
    * `1 + #cuts strictly below v` — the same cut-array assignment as
    * prof2's scale path, so approximate-sketch cuts drop in unchanged at
    * 100 TB. Emits one row per REACHABLE bucket with both shares and the
    * PSI contribution `(p - q) * ln(p / q)` (counts Laplace-smoothed
    * +0.5/+5.0 so an emptied-but-reachable bucket scores finite); the
    * scalar PSI is their sum. A tie-heavy reference can collapse
    * adjacent deciles into one bucket (duplicate cuts make the skipped
    * ids unreachable — consistently in BOTH engines, with the tied mass
    * in the lower bucket); the driver corpus is continuous, and
    * StatsSpec covers the behavior on planted ties. Shares and
    * contributions derive from exact integer counts — engine-portable
    * at 6 decimals.
    *
    * Scale: the reference-decile window sorts only the REFERENCE slice
    * (profile-sized by construction); the corpus pass is scan-local
    * bucket assignment against the broadcast 9-cut array plus one hash
    * aggregate. The corpus never globally sorts.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftCore(
      t(spark, dir, "events").select(unix_millis(col("ts")).as("ts_ms"),
        col("value")))

  /** drift1 over an explicit `(ts_ms, value)` frame — StatsSpec plants an
    * identical-distribution pair (near-zero PSI) and a shifted one (PSI
    * far from zero).
    */
  private[graft] def psiDriftCore(src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tagged = psiTagged(src)
    val cuts = tagged.filter(col("in_ref"))
      .select(ntile(10).over(Window.orderBy(col("v"))).as("b"), col("v"))
      .groupBy(col("b")).agg(max(col("v")).as("cut"))
      .filter(col("b") <= 9)
      .agg(sort_array(collect_list(col("cut"))).as("cuts"))
    psiFromCuts(tagged, cuts)
  }

  /** drift3 — drift1's 100 TB sketch path as a first-class gated query:
    * decile cuts from ONE `approx_percentile` aggregate over the
    * reference slice (KLL-style mergeable sketch, map-side partials)
    * instead of the exact global-ntile sort; the bucket-assignment and
    * counting tail is THE SAME CODE as drift1 ([[psiBucketCounts]]), so
    * only the cut source differs.
    *
    * Partial oracle: the sketch
    * CUT VALUES are engine-specific (no DuckDB mirror), but the
    * monitor's load-bearing invariants are not — the gated output is
    * per-bucket `(bucket 1..10, n_ref_total, n_cur_total, ref_depth_ok)`
    * where the totals are EXACT (hash-checked against DuckDB's count of
    * the same reference-window carve) and `ref_depth_ok` asserts the
    * KLL rank-error contract: the reference slice's own deciles must
    * land each ref bucket within 10% of n_ref/10 (accuracy 10000 ⇒ rank
    * error ≤ n/10000, two orders inside the bound). The DuckDB side
    * emits literal TRUE, so a sketch whose cuts drift out of tolerance
    * hash-FAILS the round instead of passing rows-only. Every bucket
    * 1..10 must be present (each holds ≥ ~10% of ref mass by the same
    * bound). The full smoothed PSI readout remains drift1's exact path;
    * SketchSpec still asserts the Window-free plan and that the sketch
    * monitor's total PSI tracks drift1's on the same corpus.
    *
    * Tie contract (prof8's convention): a reference window where one
    * value holds more than decile+10% of the mass cannot be decile-
    * bucketed by any cut placement, and the gate then fails BY DESIGN —
    * the monitor's near-equal-reference-depth premise is broken on that
    * data, which a drift monitor should surface, not paper over. The
    * gated column (events.value) is continuous.
    */
  def psiDriftSketch(spark: SparkSession, dir: String): DataFrame =
    psiDriftSketchCore(
      graft.Tables.t(spark, dir, "events")
        .select(unix_millis(col("ts")).as("ts_ms"), col("value")))

  /** The sketch-cut monitor's full smoothed-PSI readout (drift1's tail
    * over the sketch cuts), for SketchSpec's tracking contract (sketch
    * total PSI ≈ exact total PSI
    * on the same corpus) and for callers that want the sketch monitor's
    * values rather than the gated bound checks.
    */
  private[graft] def psiDriftSketchFull(src: DataFrame): DataFrame = {
    // One tagged frame feeds both the cut sketch and the counting tail.
    val tagged = psiTagged(src)
    psiFromCuts(tagged, sketchCuts(tagged))
  }

  private def sketchCuts(tagged: DataFrame): DataFrame =
    tagged.filter(col("in_ref"))
      .agg(approx_percentile(col("v"),
        array((1 until 10).map(i => lit(i.toDouble / 10)): _*), lit(10000))
        .as("cuts"))

  private[graft] def psiDriftSketchCore(src: DataFrame): DataFrame = {
    val tagged = psiTagged(src)
    val cuts = sketchCuts(tagged)
    val counts = psiBucketCounts(tagged, cuts)
    val tot = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"),
        col("tr").as("n_ref_total"), col("tc").as("n_cur_total"),
        (abs(col("n_ref").cast("double") - col("tr") / 10.0) <=
          greatest(col("tr") / 100.0, lit(1.0))).as("ref_depth_ok"))
      .orderBy("bucket")
  }

  /** Shared drift1/drift3 reference-window tagging. */
  private def psiTagged(src: DataFrame): DataFrame = {
    val ev = src.filter(col("value").isNotNull)
    val t0 = ev.agg(min(col("ts_ms")).as("t0"))
    ev.crossJoin(broadcast(t0))
      .select(col("value").as("v"),
        (col("ts_ms") < col("t0") + RefWindowMs).as("in_ref"))
  }

  /** Shared drift1/drift3 bucket counting: scan-local bucket assignment
    * against the broadcast cut array (bucket = 1 + #cuts strictly below
    * v — prof2's convention), one hash aggregate to per-bucket
    * ref/current counts.
    */
  private def psiBucketCounts(tagged: DataFrame, cuts: DataFrame): DataFrame =
    // Scoped-cached: every consumer reads the
    // bucket-count frame in TWO subtrees of one action (the totals
    // aggregate and the per-bucket scoring/check), and without the cache
    // each subtree re-runs the corpus-sized bucket assignment.
    graft.engine.Caching.scopedPersist(
      tagged.crossJoin(broadcast(cuts))
        .select(col("in_ref"),
          aggregate(col("cuts"), lit(1L),
            (acc, c) => acc + when(col("v") > c, 1L).otherwise(0L)).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(when(col("in_ref"), 1)).as("n_ref"),
          count(when(!col("in_ref"), 1)).as("n_cur")))

  /** drift1's scoring tail over [[psiBucketCounts]]: Laplace-smoothed
    * PSI terms.
    */
  private def psiFromCuts(tagged: DataFrame, cuts: DataFrame): DataFrame = {
    val counts = psiBucketCounts(tagged, cuts)
    val tot = counts.agg(sum(col("n_ref")).as("tr"), sum(col("n_cur")).as("tc"))
    val p = (col("n_ref") + 0.5) / (col("tr") + 5.0)
    val q = (col("n_cur") + 0.5) / (col("tc") + 5.0)
    counts.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_ref"), col("n_cur"),
        r6(p).as("p_ref"), r6(q).as("p_cur"),
        r6((p - q) * log(p / q)).as("psi_term"))
      .orderBy("bucket")
  }

  /** drift2 — categorical PSI: the event_type MIX, current period vs the
    * same first-week reference slice drift1 uses — the categorical half
    * of the monitoring story (a feature whose numeric distribution is
    * stable can still drift in its category mix, and vice versa). No
    * cuts needed: the buckets are the observed category set itself, so
    * the whole monitor is ONE scan into ONE hash aggregate keyed on the
    * category — nothing sorts anywhere, at any scale. Smoothing follows
    * drift1's Laplace convention generalized to K observed categories
    * (+0.5 per cell, +0.5·K on the denominator — K from the same 1-row
    * broadcast as the totals), so a category absent from one side
    * scores finite. Shares and terms are exact-integer arithmetic under
    * the 6-decimal grid.
    */
  def psiCategorical(spark: SparkSession, dir: String): DataFrame =
    psiCategoricalCore(
      t(spark, dir, "events").select(unix_millis(col("ts")).as("ts_ms"),
        col("event_type")))

  /** drift2 over an explicit `(ts_ms, event_type)` frame — StatsSpec
    * plants an identical mix (near-zero PSI) and a shifted mix (PSI far
    * past the 0.25 action threshold), plus a side-only category.
    */
  private[graft] def psiCategoricalCore(src: DataFrame): DataFrame = {
    val ev = src.filter(col("event_type").isNotNull)
    val t0 = ev.agg(min(col("ts_ms")).as("t0"))
    val counts = ev.crossJoin(broadcast(t0))
      .select(col("event_type"),
        (col("ts_ms") < col("t0") + RefWindowMs).as("in_ref"))
      .groupBy(col("event_type"))
      .agg(count(when(col("in_ref"), 1)).as("n_ref"),
        count(when(!col("in_ref"), 1)).as("n_cur"))
    psiFromCounts(counts, "event_type")
  }

  /** The counts → smoothed-shares → PSI tail over an arbitrary
    * `(keyCol, n_ref, n_cur)` contingency frame — ONE definition shared
    * by the batch gate (drift2) and the deployed streaming monitor
    * ([[graft.streaming.DriftMonitor]]), so the scoring arithmetic
    * cannot drift between the two halves.
    */
  private[graft] def psiFromCounts(counts: DataFrame, keyCol: String): DataFrame = {
    val tot = counts.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("k"))
    val p = (col("n_ref") + 0.5) / (col("tr") + lit(0.5) * col("k"))
    val q = (col("n_cur") + 0.5) / (col("tc") + lit(0.5) * col("k"))
    counts.crossJoin(broadcast(tot))
      .select(col(keyCol), col("n_ref"), col("n_cur"),
        r6(p).as("p_ref"), r6(q).as("p_cur"),
        r6((p - q) * log(p / q)).as("psi_term"))
      .orderBy(keyCol)
  }

  /** ab5 — sample-ratio mismatch (SRM) check: per event_type, the count
    * of distinct UNITS (users, not events) each arm enrolled, the 1-df
    * chi-square goodness-of-fit statistic against the designed 50/50
    * split, and the alarm verdict at the 95% critical value 3.841. SRM
    * is the first gate a trustworthy experiment readout runs: if the
    * split itself is broken (randomization bug, logging loss on one
    * arm), every downstream ab1-ab4 number is invalid. It is a
    * different question from ab3's independence test — GOF against the
    * DESIGNED ratio on unit counts, not arm×category independence on
    * event counts.
    *
    * Scale: one aggregate to the distinct (event_type, user) domain. The
    * verdict derives from the rounded statistic so both engines agree on
    * boundary bits.
    */
  def abSrm(spark: SparkSession, dir: String): DataFrame =
    abSrmCore(t(spark, dir, "events"))

  private[graft] def abSrmCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val units = ev.select(col("event_type"), col("user_id")).distinct()
    val na = col("n_units_a")
    val nb = col("n_units_b")
    val e = (na + nb) / 2.0
    val chisq = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    units.groupBy(col("event_type"))
      .agg(count(when(a, 1)).as("n_units_a"),
        count(when(!a, 1)).as("n_units_b"))
      .select(col("event_type"), na, nb, r6(chisq).as("chisq"),
        (r6(chisq) > 3.841).as("srm_alarm"))
      .orderBy("event_type")
  }

  /** ab6 — CUPED variance reduction (Deng et al., WSDM'13 — public
    * method): regress each user's post-period metric on their pre-period
    * covariate, report `theta = cov(x,y)/var(x)`, the raw and
    * CUPED-adjusted metric variances, the variance reduction achieved,
    * and the covariate-adjusted arm difference — the standard readout
    * that shrinks experiment confidence intervals without touching the
    * treatment effect. The period split is the midpoint of the observed
    * time range (pre = first half, post = second half), derived from the
    * data so the operator is parameter-free and engine-portable.
    *
    * Scale: one events scan into a per-user conditional aggregate, then
    * one aggregate over the user frame; the adjusted variance derives
    * algebraically (`var_y − cov²/var_x`) from the same moment aggregates.
    */
  def abCuped(spark: SparkSession, dir: String): DataFrame =
    abCupedCore(t(spark, dir, "events"))

  /** ab6 over an explicit `(user_id, ts, value)` frame — StatsSpec
    * plants a perfectly-correlated covariate (100% reduction, zero
    * adjusted variance) and an independent one (theta ≈ 0, no
    * reduction).
    */
  private[graft] def abCupedCore(ev: DataFrame): DataFrame = {
    val e = ev.select(col("user_id"), unix_millis(col("ts")).as("ms"),
      col("value"))
    val bounds = e.agg(expr("(min(ms) + max(ms)) div 2").as("mid"))
    val u = e.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"), inGroupA(col("user_id")).as("a"))
      .agg(
        coalesce(sum(when(col("ms") < col("mid"), col("value"))
          .otherwise(lit(0.0))), lit(0.0)).as("x"),
        coalesce(sum(when(col("ms") >= col("mid"), col("value"))
          .otherwise(lit(0.0))), lit(0.0)).as("y"))
    val cov = covar_samp(col("x"), col("y"))
    val vx = var_samp(col("x"))
    val vy = var_samp(col("y"))
    val theta = cov / vx
    val xa = when(col("a"), col("x"))
    val ya = when(col("a"), col("y"))
    val xb = when(!col("a"), col("x"))
    val yb = when(!col("a"), col("y"))
    u.agg(
      count(lit(1)).as("n_users"),
      r6s(theta).as("theta"),
      r2(vy).as("var_post"),
      r2s(vy - cov * cov / vx).as("var_cuped"),
      r6(lit(100.0) * (cov * cov / vx) / vy).as("var_reduction_pct"),
      r6s((avg(ya) - avg(yb)) - theta * (avg(xa) - avg(xb))).as("adj_diff"))
  }

  /** ab7 — experiment power analysis: the DESIGN-side readout that comes
    * before ab1-ab6's analysis side. Per event_type, from the observed
    * mean and variance: the minimum detectable effect as 5% of the mean,
    * and the per-arm sample size the standard two-sided α=0.05 /
    * power=0.8 z-approximation requires —
    * `n = (z_{α/2} + z_β)² · 2σ² / Δ²` with the textbook constants
    * 1.96 and 0.8416 spelled as parsed literals on both engines. The
    * answer every "how long must this test run" question starts from.
    *
    * One scan, one hash aggregate on event_type (map-side combine); the
    * formula is scan-free arithmetic over the aggregates. `n_per_arm`
    * ceils to a whole user on the ROUNDED (6-decimal) real-valued n, so
    * the integer output cannot straddle an engine ulp at the boundary.
    */
  def abPower(spark: SparkSession, dir: String): DataFrame =
    abPowerCore(t(spark, dir, "events"))

  private[graft] def abPowerCore(ev: DataFrame): DataFrame = {
    val mde = abs(avg(col("value"))) * lit(0.05)
    val zsum2 = lit((1.96 + 0.8416) * (1.96 + 0.8416))
    val nReal = zsum2 * lit(2.0) * var_samp(col("value")) / (mde * mde)
    // Degenerate guard, decided on ROUNDED values so both engines agree
    // on the bit: a zero mean makes the relative MDE 0 and nReal
    // Infinity (NaN when the variance is 0 too) — Spark's long cast
    // would saturate while DuckDB's BIGINT cast ERRORS, so emit null
    // ("no finite answer") instead; likewise a near-zero MDE whose
    // rounded nReal exceeds 1e15 ("more users than exist") stays null
    // rather than risking the oracle-side BIGINT overflow.
    val nRounded = r6(nReal)
    ev.groupBy(col("event_type"))
      .agg(
        count(col("value")).as("n_observed"),
        r6(avg(col("value"))).as("mean"),
        r2(var_samp(col("value"))).as("variance"),
        r6(mde).as("mde"),
        when(r6(mde) > 0.0 && nRounded <= 1e15,
          ceil(nRounded).cast("long")).as("n_per_arm"))
      .orderBy("event_type")
  }

  /** drift4 — exact two-sample Kolmogorov–Smirnov statistic between the
    * reference window (drift1's 7-day carve) and the rest of the
    * stream: `sup |F_ref − F_cur|`, the distribution-free drift test
    * that reacts to ANY shape change where PSI (drift1) sees only its
    * 10 bins. Computed on the DISTINCT-VALUE domain — per value, both
    * samples' counts; cumulative sums give both ECDFs at every jump
    * point, and the supremum over jump points IS the exact KS — so
    * every number is a ratio of exact integers and ties carry no
    * ambiguity (both ECDFs are right-continuous at the same points).
    *
    * Scale: one aggregate to the value domain and one window over the
    * domain frame; the raw stream is scanned once.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame =
    ksDriftCore(
      t(spark, dir, "events").select(unix_millis(col("ts")).as("ts_ms"),
        col("value")))

  /** drift4 over an explicit `(ts_ms, value)` frame — StatsSpec plants
    * identical samples (KS 0) and disjoint ones (KS 1).
    */
  private[graft] def ksDriftCore(src: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = src.filter(col("value").isNotNull)
    val t0 = ev.agg(min(col("ts_ms")).as("t0"))
    val tagged = ev.crossJoin(broadcast(t0))
      .select(col("value").as("v"),
        (col("ts_ms") < col("t0") + RefWindowMs).as("in_ref"))
    val dom = tagged.groupBy("v")
      .agg(count(when(col("in_ref"), 1)).as("nr"),
        count(when(!col("in_ref"), 1)).as("nc"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    // Degenerate-sample guard (ab7's convention): if either window holds
    // zero observations its ECDF divisor is 0 — Spark's Divide yields
    // null where DuckDB's IEEE division yields inf/NaN, so BOTH engines
    // nullif the divisor and report a null ks_stat instead.
    val nrTot = sum(col("nr")).over(tot)
    val ncTot = sum(col("nc")).over(tot)
    dom
      .select(col("v"),
        (sum(col("nr")).over(w) / when(nrTot =!= 0, nrTot)).as("fr"),
        (sum(col("nc")).over(w) / when(ncTot =!= 0, ncTot)).as("fc"),
        sum(col("nr")).over(tot).as("n_ref"),
        sum(col("nc")).over(tot).as("n_cur"))
      .agg(r6(max(abs(col("fr") - col("fc")))).as("ks_stat"),
        min(col("n_ref")).as("n_ref"), min(col("n_cur")).as("n_cur"))
  }

  /** ab8 — multiple-testing correction over the per-event-type Welch
    * family: an experimentation platform running one test per metric
    * must correct for the family or its false-positive rate compounds.
    * Per hypothesis: the two-sided normal-approximation p-value (large
    * arms make Welch's t ≈ z; erfc via the Abramowitz–Stegun 7.1.26
    * polynomial, IDENTICAL coefficient chain on both engines), the
    * Bonferroni-adjusted p, the Benjamini–Hochberg step-up adjusted p
    * (`min_{j≥i} m·p_j/j`, a running min from the largest rank), and
    * the BH verdict at FDR 0.05.
    *
    * Determinism: the chain STARTS from ab1's 6-rounded t statistic —
    * identical inputs by construction — and every decision derives from
    * 6-ROUNDED p-values (dq3's threshold convention); the one
    * cross-engine transcendental (`exp`) sits 6 decimals above its ulp.
    *
    * Scale: after ab1's one-pass aggregate everything runs on the m-row
    * hypothesis frame (m = event types).
    */
  def abFdr(spark: SparkSession, dir: String): DataFrame =
    abFdrCore(t(spark, dir, "events"))

  private[graft] def abFdrCore(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val z = abs(col("t_stat")) / sqrt(lit(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * z)
    val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
      tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
        tt * lit(1.061405429)))))
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("p_value"), col("event_type"))
    val wTail = Window.orderBy(col("i"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    // Null-hypothesis guard: a single-populated or zero-variance arm
    // yields a null Welch t. Spark sorts nulls FIRST ascending, DuckDB
    // LAST — a null p in the rank window would shift every BH rank —
    // so null-t hypotheses are excluded from the family on BOTH engines
    // (they carry no testable signal; m shrinks accordingly).
    abTestCore(ev)
      .filter(col("t_stat").isNotNull)
      .select(col("event_type"), col("t_stat"),
        round(poly * exp(-z * z), 6).as("p_value"))
      .withColumn("i", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("p_bonferroni",
        round(least(col("m") * col("p_value"), lit(1.0)), 6))
      .withColumn("p_bh", round(least(
        min(col("m") * col("p_value") / col("i")).over(wTail), lit(1.0)), 6))
      .withColumn("significant_bh", col("p_bh") <= 0.05)
      .select(col("event_type"), col("t_stat"), col("p_value"),
        col("p_bonferroni"), col("p_bh"), col("significant_bh"))
      .orderBy("event_type")
  }

  /** ab9 — mixture sequential probability ratio test (mSPRT): the
    * always-valid p-value of Johari et al. 2017 ("Peeking at A-B
    * Tests", KDD), the statistic an experimentation platform serves when
    * analysts peek at a running test — unlike ab1's fixed-horizon t, it
    * keeps its type-I guarantee under continuous monitoring. Closed
    * form under the normal mixture prior with tuning variance τ² = 1:
    * with δ = mean_a − mean_b and V = s²_a/n_a + s²_b/n_b,
    * `ln Λ = ½·ln(V/(V+τ²)) + δ²τ²/(2V(V+τ²))` and
    * `p = min(1, exp(−ln Λ))`; the 5% verdict derives from the ROUNDED
    * p (ab4's convention, so both engines agree on the bit).
    *
    * Determinism: same aggregate inputs as ab1 (exact counts +
    * conditional avg/var of O(10) magnitudes); `ln`/`exp` sit 6
    * decimals above their ulp (ab8's precedent). V is guarded strictly
    * positive on BOTH engines (v = 0 — both arms zero-variance — would
    * be Spark log(0) = null vs a DuckDB ln(0) ERROR): a V of zero or a
    * single-populated arm (var_samp null) nulls V and the whole readout
    * nulls through — the family's degenerate convention.
    *
    * Scale: as ab1 — one scan, one aggregate; the sequential-ness is in
    * the statistic (valid at any stopping time), not in any extra pass.
    */
  def abMsprt(spark: SparkSession, dir: String): DataFrame =
    abMsprtCore(t(spark, dir, "events"))

  /** ab9 over an explicit `(user_id, event_type, value)` frame —
    * StatsSpec plants a strong effect (reject) against a null one (keep)
    * and pins the anytime-validity direction: more data under H1 only
    * shrinks p.
    */
  private[graft] def abMsprtCore(ev: DataFrame): DataFrame = {
    val a = inGroupA(col("user_id"))
    val va = when(a, col("value"))
    val vb = when(!a, col("value"))
    val na = count(va)
    val nb = count(vb)
    val dlt = avg(va) - avg(vb)
    // V must be strictly positive: v = 0 (both arms zero-variance) would
    // feed log(0) — Spark nulls it but DuckDB ln(0) ERRORS the whole
    // query, and the delta²/(2V(V+1)) term diverges null-vs-inf. The
    // guard makes the scaladoc's "nulls V" contract literal: v <= 0 or
    // single-populated arms (var_samp null) null V and the readout
    // nulls through (p included — Spark/DuckDB `least` both IGNORE
    // nulls, so p needs its own guard, not just lnl's null).
    val vRaw = var_samp(va) / na + var_samp(vb) / nb
    val v = when(vRaw > 0, vRaw)
    val tau2 = lit(1.0)
    val lnl = lit(0.5) * log(v / (v + tau2)) +
      (dlt * dlt * tau2) / (lit(2.0) * v * (v + tau2))
    val p = when(lnl.isNotNull, least(lit(1.0), exp(-lnl)))
    ev.groupBy(col("event_type"))
      .agg(
        na.as("n_a"), nb.as("n_b"),
        r6s(dlt).as("delta"),
        r6s(lnl).as("log_lambda"),
        r6(p).as("p_always_valid"),
        (round(p, 6) <= 0.05).as("reject_at_05"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ab9_msprt" -> abMsprt,
    "ab8_fdr" -> abFdr,
    "drift4_ks" -> ksDrift,
    "ab7_power" -> abPower,
    "ab6_cuped" -> abCuped,
    "ab5_srm_check" -> abSrm,
    "ab1_welch_readout" -> abTest,
    "ab2_welch_effect" -> abEffect,
    "ab3_chisq_mix" -> abChisq,
    "ab4_lift_ci" -> abLiftCi,
    "drift1_psi" -> psiDrift,
    "drift2_psi_categorical" -> psiCategorical,
    "drift3_psi_sketch" -> psiDriftSketch
  )

  val oracle: Map[String, String] = Map(
    // drift3's partial oracle: the exact reference-window totals
    // hash-gate the carve; ref_depth_ok is Spark's KLL rank-error bound
    // check, TRUE by contract (see psiDriftSketch's scaladoc) — DuckDB
    // emits the literal, so an out-of-tolerance sketch hash-FAILS.
    "drift3_psi_sketch" ->
      s"""WITH e AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value AS v
        |  FROM events WHERE value IS NOT NULL),
        | t0 AS (SELECT min(ts_ms) AS t0 FROM e),
        | tagged AS (
        |  SELECT v, ts_ms < (SELECT t0 FROM t0) + $RefWindowMs AS in_ref
        |  FROM e),
        | tot AS (
        |  SELECT CAST(count(CASE WHEN in_ref THEN 1 END) AS BIGINT)
        |      AS n_ref_total,
        |    CAST(count(CASE WHEN NOT in_ref THEN 1 END) AS BIGINT)
        |      AS n_cur_total
        |  FROM tagged)
        |SELECT bucket, n_ref_total, n_cur_total, TRUE AS ref_depth_ok
        |FROM (SELECT unnest(generate_series(1, 10)) AS bucket) b
        |CROSS JOIN tot
        |ORDER BY bucket""".stripMargin,
    "ab9_msprt" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events),
        | s AS (
        |  SELECT event_type,
        |    count(CASE WHEN a THEN value END) AS n_a,
        |    count(CASE WHEN NOT a THEN value END) AS n_b,
        |    avg(CASE WHEN a THEN value END)
        |      - avg(CASE WHEN NOT a THEN value END) AS dlt,
        |    var_samp(CASE WHEN a THEN value END)
        |        / count(CASE WHEN a THEN value END)
        |      + var_samp(CASE WHEN NOT a THEN value END)
        |        / count(CASE WHEN NOT a THEN value END) AS v
        |  FROM e GROUP BY event_type),
        | m AS (
        |  SELECT event_type, n_a, n_b, dlt,
        |    CASE WHEN v > 0 THEN 0.5 * ln(v / (v + 1.0))
        |      + (dlt * dlt * 1.0) / (2.0 * v * (v + 1.0)) END AS lnl
        |  FROM s)
        |SELECT event_type, n_a, n_b,
        |  round(dlt, 6) + 0 AS delta,
        |  round(lnl, 6) + 0 AS log_lambda,
        |  CASE WHEN lnl IS NULL THEN NULL
        |    ELSE round(least(1.0, exp(-lnl)), 6) END AS p_always_valid,
        |  CASE WHEN lnl IS NULL THEN NULL
        |    ELSE round(least(1.0, exp(-lnl)), 6) <= 0.05 END AS reject_at_05
        |FROM m
        |ORDER BY event_type""".stripMargin,
    "ab8_fdr" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events),
        | base AS (
        |  SELECT event_type,
        |    round((avg(CASE WHEN a THEN value END)
        |         - avg(CASE WHEN NOT a THEN value END)) /
        |      sqrt(var_samp(CASE WHEN a THEN value END)
        |             / count(CASE WHEN a THEN value END)
        |         + var_samp(CASE WHEN NOT a THEN value END)
        |             / count(CASE WHEN NOT a THEN value END)), 6) + 0
        |      AS t_stat
        |  FROM e GROUP BY event_type),
        | pv AS (
        |  SELECT event_type, t_stat,
        |    round(
        |      (1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0)))) *
        |      (0.254829592 +
        |       (1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0)))) *
        |       (-0.284496736 +
        |        (1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0)))) *
        |        (1.421413741 +
        |         (1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0)))) *
        |         (-1.453152027 +
        |          (1.0 / (1.0 + 0.3275911 * (abs(t_stat) / sqrt(2.0)))) *
        |          1.061405429)))) *
        |      exp(-(abs(t_stat) / sqrt(2.0)) * (abs(t_stat) / sqrt(2.0))),
        |      6) AS p_value
        |  FROM base WHERE t_stat IS NOT NULL),
        | rk AS (
        |  SELECT event_type, t_stat, p_value,
        |    row_number() OVER (ORDER BY p_value, event_type) AS i,
        |    count(*) OVER () AS m
        |  FROM pv),
        | adj AS (
        |  SELECT event_type, t_stat, p_value,
        |    round(least(m * p_value, 1.0), 6) AS p_bonferroni,
        |    round(least(min(m * p_value / i) OVER (ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0), 6)
        |      AS p_bh
        |  FROM rk)
        |SELECT event_type, t_stat, p_value, p_bonferroni, p_bh,
        |  p_bh <= 0.05 AS significant_bh
        |FROM adj
        |ORDER BY event_type""".stripMargin,
    "drift4_ks" ->
      s"""WITH ev AS (
         |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value
         |  FROM events WHERE value IS NOT NULL),
         | t0 AS (SELECT min(ts_ms) AS t0 FROM ev),
         | tagged AS (
         |  SELECT value AS v,
         |    ts_ms < (SELECT t0 FROM t0) + $RefWindowMs AS in_ref
         |  FROM ev),
         | dom AS (
         |  SELECT v,
         |    count(CASE WHEN in_ref THEN 1 END) AS nr,
         |    count(CASE WHEN NOT in_ref THEN 1 END) AS nc
         |  FROM tagged GROUP BY v),
         | c AS (
         |  SELECT v,
         |    sum(nr) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |      / CAST(nullif(sum(nr) OVER (), 0) AS DOUBLE) AS fr,
         |    sum(nc) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |      / CAST(nullif(sum(nc) OVER (), 0) AS DOUBLE) AS fc,
         |    sum(nr) OVER () AS n_ref, sum(nc) OVER () AS n_cur
         |  FROM dom)
         |SELECT round(max(abs(fr - fc)), 6) AS ks_stat,
         |  CAST(min(n_ref) AS BIGINT) AS n_ref,
         |  CAST(min(n_cur) AS BIGINT) AS n_cur
         |FROM c""".stripMargin,
    "ab7_power" ->
      """SELECT event_type,
        |  count(value) AS n_observed,
        |  round(avg(value), 6) AS mean,
        |  round(var_samp(value), 2) AS variance,
        |  round(abs(avg(value)) * 0.05, 6) AS mde,
        |  CASE WHEN round(abs(avg(value)) * 0.05, 6) > 0
        |        AND round(
        |          (1.96 + 0.8416) * (1.96 + 0.8416) * 2.0 * var_samp(value)
        |          / ((abs(avg(value)) * 0.05) * (abs(avg(value)) * 0.05)),
        |          6) <= 1e15
        |       THEN CAST(ceil(round(
        |         (1.96 + 0.8416) * (1.96 + 0.8416) * 2.0 * var_samp(value)
        |           / ((abs(avg(value)) * 0.05) * (abs(avg(value)) * 0.05)),
        |         6)) AS BIGINT)
        |  END AS n_per_arm
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // ab6: the moment arithmetic runs on unrounded per-user aggregates
    // mirroring Spark op-for-op (squares as cov*cov, never pow).
    "ab6_cuped" ->
      """WITH b AS (
        |  SELECT (epoch_ms(min(CAST(ts AS TIMESTAMP)))
        |        + epoch_ms(max(CAST(ts AS TIMESTAMP)))) // 2 AS mid
        |  FROM events),
        | u AS (
        |  SELECT user_id,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a,
        |    coalesce(sum(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) < mid
        |      THEN value ELSE 0 END), 0) AS x,
        |    coalesce(sum(CASE WHEN epoch_ms(CAST(ts AS TIMESTAMP)) >= mid
        |      THEN value ELSE 0 END), 0) AS y
        |  FROM events, b GROUP BY user_id, a)
        |SELECT count(*) AS n_users,
        |  round(covar_samp(x, y) / var_samp(x), 6) + 0 AS theta,
        |  round(var_samp(y), 2) AS var_post,
        |  round(var_samp(y)
        |    - covar_samp(x, y) * covar_samp(x, y) / var_samp(x), 2) + 0
        |    AS var_cuped,
        |  round(100.0 * (covar_samp(x, y) * covar_samp(x, y) / var_samp(x))
        |    / var_samp(y), 6) AS var_reduction_pct,
        |  round((avg(CASE WHEN a THEN y END)
        |       - avg(CASE WHEN NOT a THEN y END))
        |    - (covar_samp(x, y) / var_samp(x))
        |      * (avg(CASE WHEN a THEN x END)
        |       - avg(CASE WHEN NOT a THEN x END)), 6) + 0 AS adj_diff
        |FROM u""".stripMargin,
    "ab5_srm_check" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events),
        | c AS (
        |  SELECT event_type,
        |    count(CASE WHEN a THEN 1 END) AS n_units_a,
        |    count(CASE WHEN NOT a THEN 1 END) AS n_units_b
        |  FROM u GROUP BY event_type)
        |SELECT event_type, n_units_a, n_units_b,
        |  round((n_units_a - (n_units_a + n_units_b) / 2.0)
        |      * (n_units_a - (n_units_a + n_units_b) / 2.0)
        |      / ((n_units_a + n_units_b) / 2.0)
        |    + (n_units_b - (n_units_a + n_units_b) / 2.0)
        |      * (n_units_b - (n_units_a + n_units_b) / 2.0)
        |      / ((n_units_a + n_units_b) / 2.0), 6) AS chisq,
        |  round((n_units_a - (n_units_a + n_units_b) / 2.0)
        |      * (n_units_a - (n_units_a + n_units_b) / 2.0)
        |      / ((n_units_a + n_units_b) / 2.0)
        |    + (n_units_b - (n_units_a + n_units_b) / 2.0)
        |      * (n_units_b - (n_units_a + n_units_b) / 2.0)
        |      / ((n_units_a + n_units_b) / 2.0), 6) > 3.841 AS srm_alarm
        |FROM c
        |ORDER BY event_type""".stripMargin,
    "ab1_welch_readout" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events)
        |SELECT event_type,
        |  count(CASE WHEN a THEN value END) AS n_a,
        |  count(CASE WHEN NOT a THEN value END) AS n_b,
        |  round(avg(CASE WHEN a THEN value END), 6) AS mean_a,
        |  round(avg(CASE WHEN NOT a THEN value END), 6) AS mean_b,
        |  round((avg(CASE WHEN a THEN value END)
        |       - avg(CASE WHEN NOT a THEN value END)) /
        |    sqrt(var_samp(CASE WHEN a THEN value END)
        |           / count(CASE WHEN a THEN value END)
        |       + var_samp(CASE WHEN NOT a THEN value END)
        |           / count(CASE WHEN NOT a THEN value END)), 6) + 0 AS t_stat
        |FROM e
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // ab2: the t/df/d arithmetic runs on the UNROUNDED per-arm aggregates
    // in a CTE, mirroring Spark's inline expressions op-for-op (squares
    // as x * x, never pow) so both IEEE trees are identical.
    "ab2_welch_effect" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events),
        | agg AS (
        |  SELECT event_type,
        |    count(CASE WHEN a THEN value END) AS n_a,
        |    count(CASE WHEN NOT a THEN value END) AS n_b,
        |    avg(CASE WHEN a THEN value END) AS m_a,
        |    avg(CASE WHEN NOT a THEN value END) AS m_b,
        |    var_samp(CASE WHEN a THEN value END) AS s2_a,
        |    var_samp(CASE WHEN NOT a THEN value END) AS s2_b
        |  FROM e GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  round((m_a - m_b) / sqrt(s2_a / n_a + s2_b / n_b), 6) + 0 AS t_stat,
        |  round(((s2_a / n_a + s2_b / n_b) * (s2_a / n_a + s2_b / n_b)) /
        |    ((s2_a / n_a) * (s2_a / n_a) / (n_a - 1)
        |   + (s2_b / n_b) * (s2_b / n_b) / (n_b - 1)), 6) AS df_welch,
        |  round((m_a - m_b) /
        |    sqrt(((n_a - 1) * s2_a + (n_b - 1) * s2_b) / (n_a + n_b - 2)),
        |    6) + 0 AS cohen_d
        |FROM agg
        |ORDER BY event_type""".stripMargin,
    // ab4: the CI arithmetic runs on the UNROUNDED per-arm aggregates in
    // a CTE (ab2's convention); the significance bit derives from the
    // ROUNDED bounds so the verdict cannot straddle an engine boundary.
    "ab4_lift_ci" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |    substr(md5(user_id::VARCHAR), 1, 1) < '8' AS a
        |  FROM events),
        | agg AS (
        |  SELECT event_type,
        |    count(CASE WHEN a THEN value END) AS n_a,
        |    count(CASE WHEN NOT a THEN value END) AS n_b,
        |    avg(CASE WHEN a THEN value END) AS m_a,
        |    avg(CASE WHEN NOT a THEN value END) AS m_b,
        |    var_samp(CASE WHEN a THEN value END) AS s2_a,
        |    var_samp(CASE WHEN NOT a THEN value END) AS s2_b
        |  FROM e GROUP BY event_type),
        | ci AS (
        |  SELECT event_type, n_a, n_b,
        |    round(m_a - m_b, 6) + 0 AS lift,
        |    round((m_a - m_b) / m_b, 6) + 0 AS rel_lift,
        |    round((m_a - m_b)
        |      - 1.96 * sqrt(s2_a / n_a + s2_b / n_b), 6) + 0 AS ci_lo,
        |    round((m_a - m_b)
        |      + 1.96 * sqrt(s2_a / n_a + s2_b / n_b), 6) + 0 AS ci_hi
        |  FROM agg)
        |SELECT event_type, n_a, n_b, lift, rel_lift, ci_lo, ci_hi,
        |  (ci_lo > 0.0 OR ci_hi < 0.0) AS significant
        |FROM ci
        |ORDER BY event_type""".stripMargin,
    "ab3_chisq_mix" ->
      """WITH c AS (
        |  SELECT event_type,
        |    count(CASE WHEN substr(md5(user_id::VARCHAR), 1, 1) < '8'
        |      THEN 1 END) AS n_a,
        |    count(CASE WHEN NOT (substr(md5(user_id::VARCHAR), 1, 1) < '8')
        |      THEN 1 END) AS n_b
        |  FROM events GROUP BY event_type),
        | tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM c)
        |SELECT event_type, n_a, n_b,
        |  round((n_a + n_b) * CAST(ta AS DOUBLE) / (ta + tb), 6) AS expected_a,
        |  round((n_a + n_b) * CAST(tb AS DOUBLE) / (ta + tb), 6) AS expected_b,
        |  round(
        |    (n_a - (n_a + n_b) * CAST(ta AS DOUBLE) / (ta + tb))
        |      * (n_a - (n_a + n_b) * CAST(ta AS DOUBLE) / (ta + tb))
        |      / ((n_a + n_b) * CAST(ta AS DOUBLE) / (ta + tb))
        |  + (n_b - (n_a + n_b) * CAST(tb AS DOUBLE) / (ta + tb))
        |      * (n_b - (n_a + n_b) * CAST(tb AS DOUBLE) / (ta + tb))
        |      / ((n_a + n_b) * CAST(tb AS DOUBLE) / (ta + tb)), 6) AS chisq_term
        |FROM c CROSS JOIN tot
        |ORDER BY event_type""".stripMargin,
    "drift2_psi_categorical" ->
      s"""WITH e AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, event_type
        |  FROM events WHERE event_type IS NOT NULL),
        | t0 AS (SELECT min(ts_ms) AS t0 FROM e),
        | counts AS (
        |  SELECT event_type,
        |    count(CASE WHEN ts_ms < (SELECT t0 FROM t0) + $RefWindowMs
        |      THEN 1 END) AS n_ref,
        |    count(CASE WHEN NOT (ts_ms < (SELECT t0 FROM t0) + $RefWindowMs)
        |      THEN 1 END) AS n_cur
        |  FROM e GROUP BY event_type),
        | tot AS (
        |  SELECT sum(n_ref) AS tr, sum(n_cur) AS tc, count(*) AS k
        |  FROM counts)
        |SELECT event_type, n_ref, n_cur,
        |  round((n_ref + 0.5) / (tr + 0.5 * k), 6) AS p_ref,
        |  round((n_cur + 0.5) / (tc + 0.5 * k), 6) AS p_cur,
        |  round(((n_ref + 0.5) / (tr + 0.5 * k)
        |       - (n_cur + 0.5) / (tc + 0.5 * k))
        |    * ln(((n_ref + 0.5) / (tr + 0.5 * k))
        |       / ((n_cur + 0.5) / (tc + 0.5 * k))), 6) AS psi_term
        |FROM counts CROSS JOIN tot
        |ORDER BY event_type""".stripMargin,
    "drift1_psi" ->
      s"""WITH e AS (
        |  SELECT epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms, value AS v
        |  FROM events WHERE value IS NOT NULL),
        | t0 AS (SELECT min(ts_ms) AS t0 FROM e),
        | tagged AS (
        |  SELECT v, ts_ms < (SELECT t0 FROM t0) + $RefWindowMs AS in_ref
        |  FROM e),
        | refb AS (
        |  SELECT ntile(10) OVER (ORDER BY v) AS b, v
        |  FROM tagged WHERE in_ref),
        | cuts AS (
        |  SELECT list(cut ORDER BY cut) AS cuts FROM (
        |    SELECT b, max(v) AS cut FROM refb GROUP BY b)
        |  WHERE b <= 9),
        | counts AS (
        |  SELECT 1 + len(list_filter((SELECT cuts FROM cuts), c -> v > c))
        |      AS bucket,
        |    count(CASE WHEN in_ref THEN 1 END) AS n_ref,
        |    count(CASE WHEN NOT in_ref THEN 1 END) AS n_cur
        |  FROM tagged GROUP BY bucket),
        | tot AS (
        |  SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM counts)
        |SELECT bucket, n_ref, n_cur,
        |  round((n_ref + 0.5) / (tr + 5.0), 6) AS p_ref,
        |  round((n_cur + 0.5) / (tc + 5.0), 6) AS p_cur,
        |  round(((n_ref + 0.5) / (tr + 5.0) - (n_cur + 0.5) / (tc + 5.0))
        |    * ln(((n_ref + 0.5) / (tr + 5.0)) / ((n_cur + 0.5) / (tc + 5.0))),
        |    6) AS psi_term
        |FROM counts CROSS JOIN tot
        |ORDER BY bucket""".stripMargin
  )
}
