package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables.t
import graft.engine.{Dictionary, Enrich}
import graft.engine.DictionaryTranslator
import graft.engine.SchemaMap
import graft.engine.SchemaMap.ColumnMapping

/** Oracle-checked queries for the dictionary + enrichment surface
  * (SURVEY.md §2.3 D1-D2, §2.4 E1/E5/E8) over the driver tables.
  *
  * The classifier query (`e1_*`) runs the deterministic heuristic on
  * deterministic samples, so its oracle is a pinned VALUES literal — a
  * golden regression check rather than a recomputation (the heuristic is
  * not reasonably SQL-expressible; the pin guards semantics drift).
  */
object Enrichment {

  /** D1: long-format distinct dictionary over documents' text columns. */
  def distinctDictionary(spark: SparkSession, dir: String): DataFrame =
    Dictionary.distinctValues(t(spark, dir, "documents"), Seq("lang", "source"))
      .orderBy("column_name", "value")

  /** D2: deterministic head-N samples, two columns from two tables. */
  def valueSample(spark: SparkSession, dir: String): DataFrame = {
    val lang = Dictionary.sampleTopN(t(spark, dir, "documents"), "lang", 3)
      .select(lit("lang").as("column_name"), col("value"))
    val etype = Dictionary.sampleTopN(t(spark, dir, "events"), "event_type", 3)
      .select(lit("event_type").as("column_name"), col("value"))
    lang.unionAll(etype).orderBy("column_name", "value")
  }

  /** The status/flag dictionaries used by the translation queries — small
    * enough for the expression strategy, with deliberate gaps ("P" and "N"
    * have no entry) so identity fallback is exercised.
    */
  private val flagMaps = Map(
    "l_returnflag" -> Map("A" -> "Accepted", "R" -> "Returned"),
    "l_linestatus" -> Map("F" -> "Finished", "O" -> "Open"))

  /** E5 via map-literal expressions (small-dictionary strategy). */
  def translateFlags(spark: SparkSession, dir: String): DataFrame =
    translateFlagsWith(new DictionaryTranslator(flagMaps), spark, dir)

  /** E5 via broadcast joins (large-dictionary strategy, forced by a zero
    * threshold — same semantics, different physical plan).
    */
  def translateFlagsJoin(spark: SparkSession, dir: String): DataFrame =
    translateFlagsWith(
      new DictionaryTranslator(flagMaps, literalMapThreshold = 0), spark, dir)

  private def translateFlagsWith(
      tr: DictionaryTranslator, spark: SparkSession, dir: String): DataFrame =
    tr.applyTo(t(spark, dir, "lineitem").select("l_returnflag", "l_linestatus"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val translateFlagsOracle =
    """SELECT
      |  CASE l_returnflag WHEN 'A' THEN 'Accepted' WHEN 'R' THEN 'Returned'
      |       ELSE l_returnflag END AS l_returnflag,
      |  CASE l_linestatus WHEN 'F' THEN 'Finished' WHEN 'O' THEN 'Open'
      |       ELSE l_linestatus END AS l_linestatus,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** E1: classify representative string columns from deterministic top-10
    * samples. Driver-side on tiny samples by design (`translate.py:36-55`
    * samples 10 values per column); result is one row per column.
    */
  def classifyColumns(spark: SparkSession, dir: String): DataFrame = {
    val inputs = Seq(
      ("orders", "o_orderpriority"), ("orders", "o_orderstatus"),
      ("part", "p_name"), ("part", "p_brand"),
      ("customer", "c_mktsegment"), ("customer", "c_name"),
      ("nation", "n_name"), ("lineitem", "l_returnflag"))
    // One sampler query over the union of the tables' dictionaries, with
    // names qualified `table.column`, instead of one job per column.
    val dict = inputs.groupBy(_._1).toSeq.sortBy(_._1).map { case (table, cs) =>
      Dictionary.distinctValues(t(spark, dir, table), cs.map(_._2))
        .withColumn("column_name", concat(lit(s"$table."), col("column_name")))
    }.reduce(_ union _)
    val samples = Dictionary.sampleTopNPerColumn(
      dict, inputs.map { case (table, c) => s"$table.$c" }, 10)
    val rows = inputs.map { case (table, c) =>
      Row(s"$table.$c",
        Enrich.HeuristicColumnClassifier.classify(c, samples(s"$table.$c")))
    }
    val schema = StructType(Seq(
      StructField("column_name", StringType), StructField("label", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .orderBy("column_name")
  }

  private val classifyOracle =
    """SELECT * FROM (VALUES
      |  ('customer.c_mktsegment', 'TEXT'),
      |  ('customer.c_name', 'NON-TEXT'),
      |  ('lineitem.l_returnflag', 'NON-TEXT'),
      |  ('nation.n_name', 'NON-TEXT'),
      |  ('orders.o_orderpriority', 'TEXT'),
      |  ('orders.o_orderstatus', 'NON-TEXT'),
      |  ('part.p_brand', 'NON-TEXT'),
      |  ('part.p_name', 'TEXT')
      |) AS v(column_name, label)
      |ORDER BY column_name""".stripMargin

  /** E6+E8: map a messy source frame onto a destination star schema by name
    * similarity, then vertically partition; emits the fact-table slice.
    * The destination schema models the reference's GHG star schema
    * (`prompts/schema_description.txt:1-11`) with driver-table columns.
    */
  def verticalPartition(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "orders").select(
      col("o_orderkey").as("Order Key"),
      col("o_totalprice").as("Total Price!"),
      col("o_orderpriority").as(" order priority "),
      col("o_orderstatus").as("status"))
    val dest = Map(
      "FACT_Orders" -> Seq("order_key", "total_price"),
      "DIM_OrderMeta" -> Seq("order_priority", "order_status"))
    val mapper = new SchemaMap.NameSimilarityMapper()
    // Direct mapper output keeps the original source names as keys;
    // cleanMapping is only for the LLM-line parse path where keys need E7
    // normalization.
    val mapping = mapper.mapColumns(src.columns.toSeq, dest)
      .collect { case (srcCol, Some(cm)) => srcCol -> cm }
    val parts = SchemaMap.verticalPartition(src, mapping)
    parts("FACT_Orders").orderBy("order_key")
  }

  private val verticalPartitionOracle =
    """SELECT o_orderkey AS order_key, o_totalprice AS total_price
      |FROM orders
      |ORDER BY order_key""".stripMargin

  /** E2 in its DISTRIBUTED form: per-value non-English scoring as a pure
    * Column expression over the corpus (how detection runs when the
    * distinct dictionary itself is large). The text column is mixed with
    * fixed multilingual literals so both labels occur.
    */
  def detectLanguageDistributed(spark: SparkSession, dir: String): DataFrame = {
    val mixed = when(col("doc_id") % 4 === 0, lit("Verpflegungspauschale Erstattung"))
      .when(col("doc_id") % 4 === 1, lit("el coche y los trenes de la ciudad"))
      .otherwise(col("text"))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        Enrich.HeuristicLanguageDetector.isNonEnglishExpr(mixed).as("non_english"))
      .groupBy("non_english")
      .agg(count(lit(1)).as("n"))
      .orderBy("non_english")
  }

  /** D3 in oracle-gated form: the deterministic "random" sample — distinct
    * values ordered by the fixed md5 pseudo-permutation — over part names.
    * md5 hex and its lexicographic order agree across engines, so the
    * sampled PREFIX (not just the set) is oracle-checkable.
    */
  def hashedSample(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Dictionary.sampleHashed(t(spark, dir, "part"), "p_name", 20)

  /** E3 in its DISTRIBUTED form, oracle-gated: the long-format distinct
    * dictionary run through `Translate.translateDictionary` (mapPartitions
    * + grouped batching — the scale shape of the reference's batched REST
    * loop, `translate.py:78-123`) with a deterministic 4-entry dictionary.
    * Identity fallback for unknown values is part of the checked contract.
    */
  def translateDictionaryQuery(spark: SparkSession, dir: String): DataFrame = {
    val dict = graft.engine.Dictionary.distinctValues(
      t(spark, dir, "documents"), Seq("lang", "source"))
    val tr = new graft.engine.DictionaryTranslator(Map(
      "lang" -> Map("en" -> "English", "de" -> "German",
        "es" -> "Spanish", "fr" -> "French")))
    graft.engine.Translate.translateDictionary(dict, tr)
      .orderBy("column_name", "value")
  }

  /** D3 extended to the STRATIFIED form: the 5 md5-smallest doc_ids per
    * language — the deterministic class-balancing subsample (equal slices
    * of an imbalanced corpus). Compiles to WindowGroupLimit: only k rows
    * per stratum survive to the exchange (see
    * [[graft.engine.Dictionary.sampleStratified]]).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    graft.engine.Dictionary.sampleStratified(
      t(spark, dir, "documents").select(col("lang"), col("doc_id")),
      "lang", "doc_id", 5)
      .orderBy("lang", "doc_id")

  /** Domain-mixture reweighting — the data-mixing pass of a training
    * pipeline: per source, the sampling weight that would rebalance the
    * corpus to a UNIFORM target mix (weight = target share / actual
    * share, so weight > 1 upsamples under-represented domains). One hash
    * aggregate (shuffle carries one row per source) plus a window over
    * the source-count frame — at 100 TB the windowed frame is
    * domain-count sized, never corpus sized. Shares and weights are
    * ratios of exact integer aggregates, so both engines evaluate the
    * identical IEEE expression tree.
    */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val share = col("n_docs").cast("double") / sum(col("n_docs")).over(w)
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        round(share, 6).as("share"),
        round((lit(1.0) / count(lit(1)).over(w)) / share, 6).as("weight"))
      .orderBy("source")
  }

  /** Temperature-damped mixture weights (T = 2) — the multilingual
    * pre-training recipe (mT5/XLM-R lineage): domains are sampled
    * proportionally to p^(1/T) instead of p, which upsamples small
    * domains less aggressively than d5's uniform target. The PER-DOCUMENT
    * sampling weight is p^(1/T - 1) = sqrt(N / n_d) — deliberately left
    * UNNORMALIZED: every gated value is then a per-row function of exact
    * integer aggregates (N and n_d), where a normalized share would
    * require summing doubles across domains whose accumulation order no
    * cross-engine contract fixes. Normalizing is one constant computed
    * driver-side over the domain-count-sized frame at any scale.
    */
  def temperatureWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    t(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        round(sqrt(sum(col("n_docs")).over(w).cast("double") / col("n_docs")), 6)
          .as("temp_weight"))
      .orderBy("source")
  }

  /** d12 — epoch-mix materialization: turn d6's temperature factors into
    * an actual one-epoch training mix and MATERIALIZE it. Each document
    * receives `floor(r)` guaranteed copies plus one more iff its md5
    * uniform falls below `frac(r)` (deterministic stochastic rounding —
    * the expected copy count per doc is exactly r), where
    * `r = sqrt(N / n_d)` is d6's unnormalized temperature-2 factor. This
    * is the step that converts a mixing POLICY (d5/d6 weights) into the
    * upsampled corpus a trainer actually iterates — mT5/XLM-R-style
    * domain balancing as data, not metadata.
    *
    * Determinism: r is sqrt of a ratio of exact integers (correctly
    * rounded IEEE ops — no cross-domain double summation, d6's
    * convention) and the uniform is the md5 pseudo-permutation (d7's
    * convention), so both engines materialize the identical multiset.
    *
    * Scale: the per-source factor frame is domain-sized and broadcast;
    * copy materialization is a scan-local explode (no shuffle).
    */
  def epochMix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val factors = docs.groupBy("source").agg(count(lit(1)).as("n_d"))
      .select(col("source"),
        sqrt(sum(col("n_d")).over(w).cast("double") / col("n_d")).as("r"))
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    docs.join(broadcast(factors), "source")
      .select(col("doc_id"), col("source"),
        (floor(col("r")).cast("long") +
          when(u < (col("r") - floor(col("r"))), 1L).otherwise(0L))
          .as("n_copies"))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1L, n_copies)")).as("copy"))
      .orderBy("doc_id", "copy")
  }

  /** d7 — deterministic WEIGHTED sampling without replacement
    * (Efraimidis–Spirakis A-ES): each document draws an exponential key
    * `-ln(u) / w` with rate w = its token count, and the 20 smallest keys
    * win — inclusion probability proportional to size, the length-weighted
    * draw a token-budgeted training-data pipeline uses (sampling documents
    * ∝ tokens ≈ sampling a uniformly random token's document). The uniform
    * u derives from the md5 pseudo-permutation (D3's determinism
    * convention): the first 8 hex digits of md5(doc_id) as a 32-bit
    * integer, shifted by 0.5 so u is never 0 — both engines compute the
    * IDENTICAL double, so the sampled prefix (not just the set) is
    * oracle-checkable.
    *
    * Scale: one scan-side projection into a TakeOrderedAndProject top-k;
    * the exchange carries k rows per partition, never the corpus.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double")
    val u = (h + lit(0.5)) / lit(4294967296.0)
    val key = -log(u) / col("n_tokens").cast("double")
    t(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), round(key, 6).as("es_key"))
      .orderBy(col("es_key").asc, col("doc_id"))
      .limit(20)
  }

  /** d8 — per-domain quality pruning: keep the top half of each source
    * domain by quality score (the DCLM/FineWeb-style "keep the best X%
    * per shard" curation step — a GLOBAL quality bar would instead let
    * one clean domain crowd out every other). Rank is per-domain over
    * (quality desc, doc_id) — the doc_id tiebreak makes the kept PREFIX
    * unique, so the oracle checks exact membership. The per-domain keep
    * count ceil(n_d/2) arrives by broadcast join from a domain-sized
    * count aggregate.
    *
    * Scale: exact per-domain quantiles need one shuffle partitioned by
    * source and a sort within domain; the variable keep bound rules out
    * WindowGroupLimit (literal-k only).
    */
  def qualityPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.qualityScore
    val scored = t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), qualityScore(col("text")).as("quality"))
    val counts = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("quality").desc, col("doc_id")))
        .cast("long"))
      .join(broadcast(counts), "source")
      .filter(col("rk") <= floor((col("n_docs") + lit(1)) / lit(2)).cast("long"))
      .select(col("source"), col("doc_id"), col("quality"), col("rk"))
      .orderBy("source", "rk")
  }

  /** d9 — per-domain token-budget fill: walk each domain in the md5
    * pseudo-permutation order (D3's determinism convention) and keep
    * documents until the domain's token budget is spent — how a mixture
    * spec ("200 B tokens of web, 50 B of code") is actually materialized
    * from an over-sized corpus. A document is kept iff the tokens BEFORE
    * it are under budget (t10's straddle convention: the budget-crossing
    * document is kept, so every domain with any documents fills its
    * budget; nothing after it survives).
    *
    * Scale: a per-domain running sum (t10's sharded-prefix-sum shape),
    * never a global ordered window.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokenCount
    val budget = 500L
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(spark, dir, "documents")
      .select(col("source"), col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("tokens_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .filter(col("tokens_before") < budget)
      .select(col("source"), col("doc_id"), col("n_tokens"), col("tokens_before"))
      .orderBy("source", "tokens_before", "doc_id")
  }

  /** d10 — winsorization readout: the percentile-clip step a
    * feature/reward-normalization pass runs before training on
    * heavy-tailed numerics (price, duration, token counts). Reports the
    * p01/p99 cut points, how many rows each side clips, and the mean
    * before/after — the "how much did the tail move my statistic"
    * audit line.
    *
    * Scale: two fact scans — one exact-percentile aggregate for the cuts
    * (a 1-row broadcast), one scan-local clip-and-aggregate. Cuts round
    * to 4 (pct1's exact-percentile grain) before every comparison, so
    * boundary rows clip identically on both engines.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeCore(
      t(spark, dir, "lineitem").select(col("l_extendedprice").as("v")))

  /** d13 — curriculum phases: order the corpus easy → hard for
    * curriculum training. Difficulty is each document's mean unigram
    * negative log-probability under the corpus's own unigram model
    * (rare-word-heavy docs score high — the model-free complement of
    * t8's bigram surprise and t23's perplexity band). Phase cuts are
    * mean ± stddev/2 of the ROUNDED per-doc difficulty (dq3's
    * convention: thresholds derive from rounded values so both engines
    * classify boundary docs identically); token-free docs land in an
    * explicit `empty` phase.
    *
    * Scale: no corpus sort, no window; the Zipf-bounded vocabulary frame
    * is the only shuffled artifact.
    */
  def curriculum(spark: SparkSession, dir: String): DataFrame =
    curriculumCore(t(spark, dir, "documents"))

  /** d13 over an explicit `(doc_id, text)` frame — InvariantSpec plants
    * a token-free document (the `empty` arm the all-token driver corpus
    * cannot reach) and a rarity-ordered pair.
    */
  private[graft] def curriculumCore(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokensOrdered
    val docs = documents
      .select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    val occ = docs.select(col("doc_id"), explode(col("tk")).as("w"))
    val freq = occ.groupBy("w").agg(count(lit(1)).as("c"))
    val totF = freq.agg(sum(col("c")).as("tot"))
    val scored = occ.join(freq, "w").crossJoin(broadcast(totF))
      .groupBy("doc_id")
      .agg(round(avg(-log(col("c").cast("double") / col("tot"))), 4)
        .as("difficulty"),
        count(lit(1)).as("n_tokens"))
    val cuts = scored.agg(
      round(avg(col("difficulty")) - stddev_samp(col("difficulty")) / 2, 6)
        .as("lo"),
      round(avg(col("difficulty")) + stddev_samp(col("difficulty")) / 2, 6)
        .as("hi"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(cuts))
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("difficulty"),
        when(col("difficulty").isNull, lit("empty"))
          .when(col("difficulty") <= col("lo"), lit("easy"))
          .when(col("difficulty") > col("hi"), lit("hard"))
          .otherwise(lit("medium")).as("phase"))
      .orderBy("doc_id")
  }

  /** d10 over an explicit single-column frame `v` — DictionarySpec plants
    * a known tail and checks the exact clip counts and the clamped mean.
    */
  private[graft] def winsorizeCore(v: DataFrame): DataFrame = {
    // The exact `percentile(v, array(...))` aggregate builds and merges a
    // per-partition value→count hash map over the whole column
    // (CPU+allocation-bound). Tail cuts
    // only need the DISTRIBUTION EDGES: the p-th order statistics for
    // p ∈ {1%, 99%} live in the smallest/largest ~1% of values, which
    // TakeOrderedAndProject retrieves with a bounded per-partition heap
    // and NO shuffle — two light head scans replace the map build. The
    // driver then replays Spark's own exact-percentile interpolation
    // (position p·(n−1); lower·(hi−pos) + upper·(pos−lo); the
    // BigDecimal-HALF_UP round) on those order statistics, so the cut
    // values are bit-identical to the exact aggregate's. Empty input
    // falls back to the percentile form to preserve its null/0-row
    // semantics exactly.
    //
    // Scale: the heads are min(p, 1−p)·n rows — fine at bench scale,
    // driver-unbounded at 100 TB, where the documented swap (prof2's
    // convention) replaces BOTH exact forms with approx_percentile;
    // exact map has the same (worse) corpus-scale ceiling.
    val base = v.filter(col("v").isNotNull)
    val nv = base.count()
    if (nv == 0L) {
      val cuts = v.agg(expr("percentile(v, array(0.01, 0.99))").as("pcts"))
        .select(round(element_at(col("pcts"), 1), 4).as("lo_cut"),
          round(element_at(col("pcts"), 2), 4).as("hi_cut"))
      return v.join(broadcast(cuts))
        .groupBy(col("lo_cut"), col("hi_cut"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("v") < col("lo_cut"), 1)).as("n_clipped_lo"),
          count(when(col("v") > col("hi_cut"), 1)).as("n_clipped_hi"),
          round(avg(col("v")), 6).as("mean_raw"),
          round(avg(
            when(col("v") < col("lo_cut"), col("lo_cut"))
              .when(col("v") > col("hi_cut"), col("hi_cut"))
              .otherwise(col("v"))), 6).as("mean_winsorized"))
    }
    // Exact percentile via order statistics: ascending head covers the
    // p01 positions, descending head the p99 positions (its index i is
    // ascending index n−1−i). Interpolation replays Percentile.scala's
    // expression shape so the result matches the old plan bit-for-bit.
    def interp(sorted: IndexedSeq[Double], pos: Double): Double = {
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) sorted(lo)
      else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
    }
    def round4(x: Double): Double =
      if (x.isNaN || x.isInfinite) x // Spark's Round passes non-finite through
      else BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val posLo = 0.01 * (nv - 1)
    val posHi = 0.99 * (nv - 1)
    // Cast to double before collecting: the exact-percentile aggregate
    // accepts any numeric `v` (its buffer promotes internally), so the
    // heads must too — `getDouble` on a decimal/float column would throw
    // where the fallback plan computes. Matches Percentile's own
    // toDoubleValue promotion; ordering is value-order either way.
    val baseD = base.select(col("v").cast("double").as("v"))
    val kAsc = math.ceil(posLo).toInt + 1
    val ascHead = baseD.orderBy(col("v").asc).limit(kAsc)
      .collect().map(_.getDouble(0)).toIndexedSeq
    val kDesc = (nv - 1 - math.floor(posHi).toLong).toInt + 1
    val descHead = baseD.orderBy(col("v").desc).limit(kDesc)
      .collect().map(_.getDouble(0)).toIndexedSeq
    // re-index the descending head ascending: asc index i = n−1−(desc i)
    val hiWindow = descHead.reverse
    val hiBase = nv - hiWindow.length // asc index of hiWindow(0)
    val loCut = round4(interp(ascHead, posLo))
    val hiCut = round4(interp(hiWindow, posHi - hiBase))
    v.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("v") < lit(loCut), 1)).as("n_clipped_lo"),
        count(when(col("v") > lit(hiCut), 1)).as("n_clipped_hi"),
        round(avg(col("v")), 6).as("mean_raw"),
        round(avg(
          when(col("v") < lit(loCut), lit(loCut))
            .when(col("v") > lit(hiCut), lit(hiCut))
            .otherwise(col("v"))), 6).as("mean_winsorized"))
      .select(lit(loCut).as("lo_cut"), lit(hiCut).as("hi_cut"),
        col("n_rows"), col("n_clipped_lo"), col("n_clipped_hi"),
        col("mean_raw"), col("mean_winsorized"))
  }

  /** d11 — leak-proof train/val/test split: the split key is the hash of
    * the document's content FINGERPRINT (normalized-text md5), not of its
    * id, so exact duplicates — even across sources, even with different
    * ids — always land in the SAME split. Splitting on doc_id leaks:
    * duplicated web pages end up with one copy in train and one in test,
    * and the eval measures memorization. Buckets are the first 8 md5 hex
    * digits of the fingerprint re-hashed (d7's hex→int convention) mod
    * 10 → 0 = test, 1 = val, 2-9 = train (80/10/10 in expectation).
    *
    * The gated output is the split manifest a pipeline records: per
    * (split, source) document counts, distinct-fingerprint counts and
    * token totals — one hash aggregate over one scan, no join, no
    * window. EnrichSpec plants cross-source duplicate texts and asserts
    * they co-locate (the leak-proof law the aggregate cannot show).
    */
  def leakproofSplit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokenCount}
    leakproofSplitCore(t(spark, dir, "documents"))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("fp")).as("n_unique"),
        sum(col("n_tokens")).as("n_tokens"))
      .orderBy("split", "source")
  }

  /** Per-document split assignment (doc_id, source, fp, n_tokens, split);
    * the d11 aggregate and the spec's co-location law both read this.
    */
  /** d11's split rule as ONE shared expression over the content
    * fingerprint — the batch aggregate and the streaming twin
    * ([[graft.streaming.Streams.splitTag]]) both apply exactly this, so
    * an ingest-time tag and a batch re-derivation can never disagree on
    * a document (the leakproofness contract: split follows CONTENT, not
    * arrival).
    */
  private[graft] def splitOfFp(fp: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val bucket = conv(substring(md5(fp), 1, 8), 16, 10).cast("long") % 10
    when(bucket === 0, "test").when(bucket === 1, "val").otherwise("train")
  }

  private[graft] def leakproofSplitCore(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{fingerprint, tokenCount}
    docs
      .select(col("doc_id"), col("source"),
        fingerprint(col("text")).as("fp"),
        tokenCount(col("text")).as("n_tokens"))
      .withColumn("split", splitOfFp(col("fp")))
  }

  /** fe1 — hashing-trick feature encoding (the Weinberger et al. 2009
    * "hashing trick"): categorical values map to a FIXED feature space
    * through a hash, so the encoder needs no fitted vocabulary, new
    * categories cannot grow the schema, and the same code encodes
    * training and serving rows — the property that matters when the
    * category set is open-ended at 100 TB. Each customer emits a
    * long-format `(c_custkey, feature_id, value)` triple per feature:
    * market segment one-hot into buckets [0,16), nation into [16,32)
    * (both via the md5 pseudo-hash, D3's determinism convention), and
    * account balance min-max scaled into [0,1] at feature 32 (bounds
    * from exact integer cents, so the per-row scale is deterministic
    * IEEE arithmetic on identical operands).
    *
    * Scale: no shuffle except the output sort. The long format is the
    * sparse-matrix ingest format a trainer consumes.
    */
  def hashedFeatures(spark: SparkSession, dir: String): DataFrame = {
    def bucket(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long") % 16
    val cust = t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        bucket(col("c_mktsegment")).as("seg_fid"),
        (bucket(col("n_name")) + 16L).as("nat_fid"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
    val bounds = cust.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    cust.crossJoin(broadcast(bounds))
      .select(col("c_custkey"), explode(array(
        struct(col("seg_fid").as("feature_id"), lit(1.0).as("value")),
        struct(col("nat_fid").as("feature_id"), lit(1.0).as("value")),
        struct(lit(32L).as("feature_id"),
          // degenerate guard: a constant-balance corpus makes the span
          // 0 and 0/0 a NaN readout — pin the midpoint on both engines
          when(col("mx") === col("mn"), lit(0.5))
            .otherwise(round((col("cents") - col("mn")).cast("double") /
              (col("mx") - col("mn")), 6)).as("value")))).as("f"))
      .select(col("c_custkey"), col("f.feature_id"), col("f.value"))
      .orderBy("c_custkey", "feature_id")
  }

  /** d14 — DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document by
    * how much more likely its content is under a TARGET distribution than
    * under the raw corpus, using hashed unigram features — the
    * train-data-like-the-eval-set selector that needs no model, only two
    * n-gram count profiles. Target here = the corpus's English slice
    * (`lang = 'en'`), the "select data that looks like my reference
    * domain" reading; the weight is each document's MEAN per-token
    * log-ratio `ln p_target(b) − ln p_raw(b)` over K=256 hash buckets
    * with add-one smoothing (mean, not sum, so the weight is
    * length-invariant and comparable across documents). Sampling
    * proportional to exp(weight) IS importance resampling; the weight
    * frame composes directly with d7's weighted sampler.
    *
    * Scale: the bucket frame is 256 rows at any corpus size (that
    * fixed-dimension profile is DSIR's whole point); no vocabulary-sized
    * shuffle, no joins between corpora.
    *
    * Determinism: buckets ride the md5 pseudo-hash (D3's convention);
    * the log-ratio's operands are identical exact integers on both
    * engines, so `ln` differs at most 1 ulp against a 1e-6 grid.
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsCore(t(spark, dir, "documents"))

  /** d14 over an explicit `(doc_id, lang, text)` frame — InvariantSpec
    * plants a target-only token (positive weight) against a raw-only one
    * (negative), and an empty document (null weight). Factored through
    * the mergeable-profile pieces below so the streaming twin
    * ([[graft.streaming.DsirStream]]) maintains the SAME 256-row profile
    * incrementally and the spec can assert bit-equality of the final
    * weights across a micro-batch split.
    */
  private[graft] def dsirWeightsCore(documents: DataFrame): DataFrame = {
    val occ = dsirOcc(documents)
    dsirWeightsFrom(documents, dsirLogRatio(dsirProfileOf(occ)), occ)
  }

  /** The per-token-occurrence stream `(doc_id, is_t, b)`: every token of
    * every document mapped to its 256-way md5 hash bucket, flagged with
    * target membership (`lang = 'en'`). Shared by the batch path and the
    * streaming twin's per-micro-batch delta so the bucketing cannot
    * drift between them.
    */
  private[graft] def dsirOcc(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.tokensOrdered
    documents
      .select(col("doc_id"), (col("lang") === "en").as("is_t"),
        explode(tokensOrdered(col("text"))).as("w"))
      .select(col("doc_id"), col("is_t"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % 256)
          .as("b"))
  }

  /** The DSIR profile: raw/target token counts per hash bucket — at most
    * 256 rows at ANY corpus size, and ALGEBRAIC (counts merge by
    * addition), which is what makes the profile maintainable on an
    * ingest stream (DsirStream full-outer-merges per-batch partials).
    */
  private[graft] def dsirProfileOf(occ: DataFrame): DataFrame =
    occ.groupBy("b").agg(
      count(lit(1)).as("cr"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))

  /** Add-one-smoothed log-ratio table from a `(b, cr, ct)` profile. The
    * operands are exact integers, so the same profile yields bit-equal
    * `lam` whether the profile was built in one batch pass or merged
    * incrementally.
    */
  private[graft] def dsirLogRatio(profile: DataFrame): DataFrame = {
    val tot = profile.agg(sum(col("cr")).as("r"), sum(col("ct")).as("t"))
    profile.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("ct") + 1).cast("double") / (col("t") + 256)) -
          log((col("cr") + 1).cast("double") / (col("r") + 256))).as("lam"))
  }

  /** Per-document mean log-ratio weights from a `(b, lam)` table and the
    * documents' token-occurrence stream: one broadcast of the ≤256-row
    * table onto the token stream plus one per-doc aggregate.
    */
  private[graft] def dsirWeightsFrom(
      documents: DataFrame, lam: DataFrame, occ: DataFrame): DataFrame = {
    val per = occ.join(broadcast(lam), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        // r6s: a mean log-ratio rounding to zero must be +0.0 on both
        // engines (the sf0.1 corpus hits exactly this on one doc)
        (round(avg(col("lam")), 6) + lit(0)).as("dsir_logratio"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("dsir_logratio"))
      .orderBy("doc_id")
  }

  /** fe2 — smoothed target encoding of a categorical feature, in both the
    * serving form `(Σ_seg y + m·ȳ)/(n_seg + m)` and the LEAVE-ONE-OUT
    * training form `(Σ_seg y − y_i + m·ȳ)/(n_seg − 1 + m)` (smoothing
    * m = 10 toward the global mean — the Micci-Barreca 2001 estimator
    * every tabular feature pipeline ships). The LOO column is the
    * leakage-proof one: a row never sees its own target, so a model
    * trained on it cannot memorize singletons — the same
    * contamination-avoidance stance as d11's leakproof split.
    * Encodes `c_mktsegment` against the account-balance target.
    *
    * Scale: one aggregate on the category domain, broadcast back; no
    * window over the fact table.
    *
    * Determinism: Σ_seg is a parallel double sum, but every output
    * DIVIDES it by n_seg, shrinking the summation error back under the
    * 6-decimal grid (the avg-rescue convention, cf. d14).
    */
  def targetEncoding(spark: SparkSession, dir: String): DataFrame =
    targetEncodingCore(t(spark, dir, "customer"))

  /** fe2 over an explicit `(c_custkey, c_mktsegment, c_acctbal)` frame —
    * InvariantSpec pins LOO-excludes-own-row (a two-row category where
    * each row's LOO encoding is the OTHER row's target, m = 0 limit
    * checked algebraically) and smoothing's pull toward the global mean.
    */
  private[graft] def targetEncodingCore(cust: DataFrame): DataFrame = {
    val m = lit(10.0)
    val seg = cust.groupBy(col("c_mktsegment"))
      .agg(sum(col("c_acctbal")).as("s"), count(lit(1)).as("n"))
    val glob = cust.agg(avg(col("c_acctbal")).as("g"))
    cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .join(broadcast(seg), "c_mktsegment")
      .crossJoin(broadcast(glob))
      .select(col("c_custkey"), col("c_mktsegment"),
        round((col("s") + m * col("g")) / (col("n") + m), 6).as("enc"),
        round((col("s") - col("c_acctbal") + m * col("g")) /
          (col("n") - 1 + m), 6).as("loo_enc"))
      .orderBy("c_custkey")
  }

  /** d15 — UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer
    * and More Effective Language Sampling"): split a total training
    * token budget `B = 2·N` across sources as UNIFORMLY as possible
    * subject to the per-source epoch cap `cap_d = 4·n_d` (no source is
    * repeated more than 4 epochs) — the water-filling allocation that
    * replaced temperature sampling (d5/d6) for multilingual
    * pretraining: temperature still over-samples the head, UniMax gives
    * every uncapped source the SAME share. Greedy closed form: sort
    * sources ascending by cap; source at rank i (of D, prefix sum P)
    * is capped iff `cap_i·(D−i+1) ≤ B−P_{i−1}`, and the capped set is
    * a prefix by monotonicity; uncapped sources share the leftover
    * evenly. Emits tokens + epochs per source with the capped flag.
    *
    * Determinism: the entire cascade — caps, ranks, prefix sums, the
    * capped predicate — is EXACT BIGINT arithmetic on token counts;
    * only the final uncapped share divides, under the 6-grid.
    *
    * Scale: windows run over the source domain — metadata-sized at any
    * corpus size.
    */
  def unimaxAllocation(spark: SparkSession, dir: String): DataFrame =
    unimaxCore(t(spark, dir, "documents"))

  /** d15 over an explicit `(source, text)` frame — InvariantSpec plants
    * a tiny source (capped at 4 epochs) against balanced big ones
    * (uniform leftover split) and checks the budget exactly exhausts.
    */
  private[graft] def unimaxCore(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokenCount
    val dom = documents
      .select(col("source"), tokenCount(col("text")).as("nt"))
      .groupBy("source").agg(sum(col("nt")).as("n_tokens"))
    val wAll = Window.partitionBy()
    val wOrd = Window.orderBy(col("cap"), col("source"))
    val f = dom
      .select(col("source"), col("n_tokens"), (col("n_tokens") * 4L).as("cap"))
      .withColumn("b", sum(col("n_tokens")).over(wAll) * 2L)
      .withColumn("i", row_number().over(wOrd))
      .withColumn("d", count(lit(1)).over(wAll))
      .withColumn("pprev", coalesce(sum(col("cap")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("is_capped",
        col("cap") * (col("d") - col("i") + 1) <= col("b") - col("pprev"))
    val kf = f.agg(
      coalesce(max(when(col("is_capped"), col("i"))), lit(0L)).as("k"),
      coalesce(sum(when(col("is_capped"), col("cap"))), lit(0L)).as("pk"))
    f.crossJoin(broadcast(kf))
      .select(col("source"), col("n_tokens"),
        (col("i") <= col("k")).as("capped"),
        round(when(col("i") <= col("k"), col("cap").cast("double"))
          .otherwise((col("b") - col("pk")).cast("double") /
            (col("d") - col("k"))), 6).as("budget_tokens"),
        round(when(col("i") <= col("k"), lit(4.0))
          .otherwise((col("b") - col("pk")).cast("double") /
            ((col("d") - col("k")) * col("n_tokens"))), 6).as("epochs"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d15_unimax" -> unimaxAllocation,
    "fe2_target_encoding" -> targetEncoding,
    "d14_dsir_weights" -> dsirWeights,
    "fe1_hashed_features" -> hashedFeatures,
    "d11_leakproof_split" -> leakproofSplit,
    "d13_curriculum" -> curriculum,
    "d5_mixture_weights" -> mixtureWeights,
    "d8_quality_prune" -> qualityPrune,
    "d10_winsorize" -> winsorize,
    "d9_token_budget" -> tokenBudget,
    "d7_weighted_sample" -> weightedSample,
    "d12_epoch_mix" -> epochMix,
    "d6_temperature_weights" -> temperatureWeights,
    "d4_stratified_sample" -> stratifiedSample,
    "e2_detect_distributed" -> detectLanguageDistributed,
    "e3_translate_dictionary" -> translateDictionaryQuery,
    "d1_distinct_dictionary" -> distinctDictionary,
    "d2_value_sample" -> valueSample,
    "d3_hashed_sample" -> hashedSample,
    "e5_translate_flags" -> translateFlags,
    "e5_translate_flags_join" -> translateFlagsJoin,
    "e1_classify_columns" -> classifyColumns,
    "e8_vertical_partition" -> verticalPartition
  )

  private val e2Oracle: String = {
    val d = Enrich.HeuristicLanguageDetector
    def lst(s: Iterable[String]) = s.toSeq.sorted.map("'" + _ + "'").mkString(",")
    val sfx = d.ForeignSuffixes.mkString("|")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 4 = 0 THEN 'Verpflegungspauschale Erstattung'
       |         WHEN doc_id % 4 = 1 THEN 'el coche y los trenes de la ciudad'
       |         ELSE text END AS v
       |  FROM documents),
       | tok AS (
       |  SELECT doc_id, v,
       |    regexp_split_to_array(lower(v), '[^\\p{L}]+') AS tk
       |  FROM m)
       |SELECT (
       |    regexp_matches(regexp_replace(v, '[\\x00-\\x7F]', '', 'g'), '\\p{L}')
       |    OR len(list_filter(tk, x -> regexp_matches(x, '.($sfx)$$'))) > 0
       |    OR (len(list_intersect(tk, [${lst(d.ForeignStopwords)}])) > 0
       |        AND len(list_intersect(tk, [${lst(d.ForeignStopwords)}])) >
       |            len(list_intersect(tk, [${lst(d.EnglishStopwords)}])))
       |  ) AS non_english, count(*) AS n
       |FROM tok
       |GROUP BY 1
       |ORDER BY non_english""".stripMargin
  }

  /** The (lang, source) distinct dictionary as a shared SQL fragment —
    * mirrors `Dictionary.distinctValues`; used by the d1 AND e3 oracles so
    * the two cannot drift.
    */
  private val sqlDistinctDict =
    """SELECT DISTINCT 'lang' AS column_name, trim(lang) AS value
      |  FROM documents WHERE lang IS NOT NULL
      |  UNION ALL
      |  SELECT DISTINCT 'source', trim(source) FROM documents
      |  WHERE source IS NOT NULL""".stripMargin

  val oracle: Map[String, String] = Map(
    "d15_unimax" ->
      s"""WITH dom AS (
         |  SELECT source,
         |    CAST(sum(${TextAnalysis.sqlTokenCount("text")}) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         | f AS (
         |  SELECT source, n_tokens, n_tokens * 4 AS cap,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) * 2 AS b,
         |    CAST(row_number() OVER (ORDER BY n_tokens * 4, source)
         |      AS BIGINT) AS i,
         |    count(*) OVER () AS d,
         |    CAST(coalesce(sum(n_tokens * 4) OVER (
         |      ORDER BY n_tokens * 4, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pprev
         |  FROM dom),
         | g AS (
         |  SELECT *, cap * (d - i + 1) <= b - pprev AS is_capped FROM f),
         | kf AS (
         |  SELECT CAST(coalesce(max(CASE WHEN is_capped THEN i END), 0)
         |      AS BIGINT) AS k,
         |    CAST(coalesce(sum(CASE WHEN is_capped THEN cap END), 0)
         |      AS BIGINT) AS pk
         |  FROM g)
         |SELECT source, n_tokens, i <= k AS capped,
         |  round(CASE WHEN i <= k THEN cap::DOUBLE
         |    ELSE (b - pk)::DOUBLE / (d - k) END, 6) AS budget_tokens,
         |  round(CASE WHEN i <= k THEN 4.0
         |    ELSE (b - pk)::DOUBLE / ((d - k) * n_tokens) END, 6)
         |    AS epochs
         |FROM g CROSS JOIN kf
         |ORDER BY source""".stripMargin,
    "fe2_target_encoding" ->
      """WITH seg AS (
        |  SELECT c_mktsegment, sum(c_acctbal) AS s, count(*) AS n
        |  FROM customer GROUP BY c_mktsegment),
        | overall AS (SELECT avg(c_acctbal) AS g FROM customer)
        |SELECT c_custkey, c.c_mktsegment,
        |  round((s + 10.0 * g) / (n + 10.0), 6) AS enc,
        |  round((s - c_acctbal + 10.0 * g) / (n - 1 + 10.0), 6)
        |    AS loo_enc
        |FROM customer c
        |JOIN seg ON c.c_mktsegment = seg.c_mktsegment
        |CROSS JOIN overall
        |ORDER BY c_custkey""".stripMargin,
    "d14_dsir_weights" ->
      s"""WITH occ AS (
         |  SELECT doc_id, is_t,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS b
         |  FROM (
         |    SELECT doc_id, lang = 'en' AS is_t,
         |      unnest(${TextAnalysis.sqlTokens}) AS tok
         |    FROM documents)),
         | bf AS (
         |  SELECT b, count(*) AS cr,
         |    CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct
         |  FROM occ GROUP BY b),
         | tot AS (
         |  SELECT CAST(sum(cr) AS BIGINT) AS r,
         |    CAST(sum(ct) AS BIGINT) AS t
         |  FROM bf),
         | lam AS (
         |  SELECT b,
         |    ln((ct + 1)::DOUBLE / (t + 256))
         |      - ln((cr + 1)::DOUBLE / (r + 256)) AS lam
         |  FROM bf, tot),
         | per AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    round(avg(lam), 6) + 0 AS dsir_logratio
         |  FROM occ JOIN lam USING (b) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens,
         |  p.dsir_logratio
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "fe1_hashed_features" ->
      """WITH cust AS (
        |  SELECT c_custkey,
        |    ('0x' || substr(md5(c_mktsegment), 1, 8))::BIGINT % 16
        |      AS seg_fid,
        |    ('0x' || substr(md5(n_name), 1, 8))::BIGINT % 16 + 16
        |      AS nat_fid,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        | b AS (SELECT min(cents) AS mn, max(cents) AS mx FROM cust)
        |SELECT c_custkey, feature_id, value FROM (
        |  SELECT c_custkey, seg_fid AS feature_id, 1.0::DOUBLE AS value
        |  FROM cust
        |  UNION ALL
        |  SELECT c_custkey, nat_fid, 1.0::DOUBLE FROM cust
        |  UNION ALL
        |  SELECT c_custkey, CAST(32 AS BIGINT),
        |    CASE WHEN mx = mn THEN 0.5
        |      ELSE round(CAST(cents - mn AS DOUBLE) / (mx - mn), 6) END
        |  FROM cust, b)
        |ORDER BY c_custkey, feature_id""".stripMargin,
    "d13_curriculum" ->
      s"""WITH occ AS (
         |  SELECT doc_id, unnest(${TextAnalysis.sqlTokens}) AS w
         |  FROM documents),
         | freq AS (SELECT w, count(*) AS c FROM occ GROUP BY w),
         | tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM freq),
         | scored AS (
         |  SELECT doc_id,
         |    round(avg(-ln(c / (SELECT t FROM tot))), 4) AS difficulty,
         |    count(*) AS n_tokens
         |  FROM occ JOIN freq USING (w) GROUP BY doc_id),
         | cuts AS (
         |  SELECT round(avg(difficulty) - stddev_samp(difficulty) / 2, 6)
         |      AS lo,
         |    round(avg(difficulty) + stddev_samp(difficulty) / 2, 6) AS hi
         |  FROM scored)
         |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens, s.difficulty,
         |  CASE WHEN s.difficulty IS NULL THEN 'empty'
         |    WHEN s.difficulty <= (SELECT lo FROM cuts) THEN 'easy'
         |    WHEN s.difficulty > (SELECT hi FROM cuts) THEN 'hard'
         |    ELSE 'medium' END AS phase
         |FROM documents d LEFT JOIN scored s USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "d11_leakproof_split" ->
      s"""WITH f AS (
         |  SELECT doc_id, source,
         |    ${TextAnalysis.sqlFp("text")} AS fp,
         |    ${TextAnalysis.sqlTokenCount("text")} AS n_tokens
         |  FROM documents),
         | s AS (
         |  SELECT *, CASE (('0x' || substr(md5(fp), 1, 8))::BIGINT % 10)
         |    WHEN 0 THEN 'test' WHEN 1 THEN 'val' ELSE 'train' END AS split
         |  FROM f)
         |SELECT split, source, count(*) AS n_docs,
         |  count(DISTINCT fp) AS n_unique,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM s
         |GROUP BY split, source
         |ORDER BY split, source""".stripMargin,
    "d12_epoch_mix" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_d FROM documents GROUP BY source),
        | tot AS (SELECT count(*) AS n FROM documents),
        | f AS (
        |  SELECT source,
        |    sqrt((SELECT n FROM tot) / CAST(n_d AS DOUBLE)) AS r
        |  FROM c),
        | p AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(floor(r) AS BIGINT)
        |      + CASE WHEN
        |          (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE
        |            + 0.5) / 4294967296.0 < r - floor(r)
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM documents d JOIN f ON d.source = f.source)
        |SELECT doc_id, source, CAST(u.copy AS BIGINT) AS copy
        |FROM p CROSS JOIN unnest(generate_series(1, n_copies)) AS u(copy)
        |ORDER BY doc_id, copy""".stripMargin,
    "d7_weighted_sample" ->
      s"""WITH tk AS (
         |  SELECT doc_id,
         |    ${TextAnalysis.sqlTokenCount("text")} AS n_tokens
         |  FROM documents),
         | keyed AS (
         |  SELECT doc_id, n_tokens,
         |    round(-ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT::DOUBLE + 0.5)
         |        / 4294967296.0) / n_tokens::DOUBLE, 6) AS es_key
         |  FROM tk WHERE n_tokens > 0)
         |SELECT doc_id, n_tokens, es_key
         |FROM keyed
         |ORDER BY es_key, doc_id
         |LIMIT 20""".stripMargin,
    "d5_mixture_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  round(n_docs::DOUBLE / sum(n_docs) OVER (), 6) AS share,
        |  round((1.0 / count(*) OVER ()) / (n_docs::DOUBLE / sum(n_docs) OVER ()), 6) AS weight
        |FROM c
        |ORDER BY source NULLS FIRST""".stripMargin,
    "d6_temperature_weights" ->
      """WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  round(sqrt(sum(n_docs) OVER ()::DOUBLE / n_docs), 6) AS temp_weight
        |FROM c
        |ORDER BY source NULLS FIRST""".stripMargin,
    "d4_stratified_sample" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5
        |ORDER BY lang, doc_id""".stripMargin,
    "d10_winsorize" ->
      """WITH cuts AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.01), 4) AS lo_cut,
        |         round(quantile_cont(l_extendedprice, 0.99), 4) AS hi_cut
        |  FROM lineitem)
        |SELECT lo_cut, hi_cut, count(*) AS n_rows,
        |  count(CASE WHEN l_extendedprice < lo_cut THEN 1 END) AS n_clipped_lo,
        |  count(CASE WHEN l_extendedprice > hi_cut THEN 1 END) AS n_clipped_hi,
        |  round(avg(l_extendedprice), 6) AS mean_raw,
        |  round(avg(CASE WHEN l_extendedprice < lo_cut THEN lo_cut
        |             WHEN l_extendedprice > hi_cut THEN hi_cut
        |             ELSE l_extendedprice END), 6) AS mean_winsorized
        |FROM lineitem, cuts
        |GROUP BY lo_cut, hi_cut""".stripMargin,
    "d8_quality_prune" ->
      s"""WITH s AS (
         |  SELECT source, doc_id, ${TextAnalysis.sqlQuality("text")} AS quality
         |  FROM documents),
         | r AS (
         |  SELECT source, doc_id, quality,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY quality DESC, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n_docs
         |  FROM s)
         |SELECT source, doc_id, quality, rk
         |FROM r WHERE rk <= (n_docs + 1) // 2
         |ORDER BY source, rk""".stripMargin,
    "d9_token_budget" ->
      s"""WITH tk AS (
         |  SELECT source, doc_id, ${TextAnalysis.sqlTokenCount("text")} AS n_tokens
         |  FROM documents),
         | p AS (
         |  SELECT source, doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY md5(doc_id::VARCHAR), doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS tokens_before
         |  FROM tk WHERE n_tokens > 0)
         |SELECT source, doc_id, n_tokens, tokens_before
         |FROM p WHERE tokens_before < 500
         |ORDER BY source, tokens_before, doc_id""".stripMargin,
    "e2_detect_distributed" -> e2Oracle,
    "d1_distinct_dictionary" ->
      s"""SELECT column_name, value FROM (
         |  $sqlDistinctDict)
         |ORDER BY column_name, value""".stripMargin,
    "d2_value_sample" ->
      """SELECT * FROM (
        |  (SELECT 'lang' AS column_name, value FROM (
        |     SELECT DISTINCT trim(lang) AS value FROM documents
        |     WHERE lang IS NOT NULL) ORDER BY value LIMIT 3)
        |  UNION ALL
        |  (SELECT 'event_type', value FROM (
        |     SELECT DISTINCT trim(event_type) AS value FROM events
        |     WHERE event_type IS NOT NULL) ORDER BY value LIMIT 3))
        |ORDER BY column_name, value""".stripMargin,
    "e3_translate_dictionary" ->
      s"""WITH d AS (
         |  $sqlDistinctDict),
         | m(orig, trans) AS (SELECT * FROM (VALUES
         |  ('en','English'), ('de','German'), ('es','Spanish'), ('fr','French')))
         |SELECT column_name, value, coalesce(trans, value) AS translated
         |FROM d LEFT JOIN m ON value = orig AND column_name = 'lang'
         |ORDER BY column_name, value""".stripMargin,
    "d3_hashed_sample" ->
      """SELECT value FROM (
        |  SELECT DISTINCT trim(p_name) AS value FROM part
        |  WHERE p_name IS NOT NULL)
        |ORDER BY md5(value), value LIMIT 20""".stripMargin,
    "e5_translate_flags" -> translateFlagsOracle,
    "e5_translate_flags_join" -> translateFlagsOracle,
    "e1_classify_columns" -> classifyOracle,
    "e8_vertical_partition" -> verticalPartitionOracle
  )
}
