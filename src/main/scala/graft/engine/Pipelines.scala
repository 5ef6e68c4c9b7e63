package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StringType

import graft.engine.Enrich.{ColumnClassifier, LanguageDetector}
import graft.engine.SchemaMap.{ColumnMapping, SchemaMapper}
import graft.sources.{Loader, WorkbookSink}

/** End-to-end pipelines mirroring the reference's three entry points
  * (SURVEY.md §3): EP1 `main.py` (load+clean), EP2 `translate.py:151-226`
  * (clean → dictionary → classify → detect → translate → apply), EP3
  * `mapper.py:195-235` (clean → schema-map → vertically partition → sink).
  *
  * Stage boundaries follow the reference but the execution model is
  * Spark's: the per-column dictionary work (classification, detection)
  * runs on tiny deterministic samples collected driver-side — bounded by
  * distinct-value counts, exactly like the reference's LLM-call inputs.
  * EP2 and EP3 each write their cleaned frame once as an eager local
  * checkpoint, the stand-in for the reference's one in-memory pandas
  * frame: every later consumer of the stage (EP2's column samples, EP3's
  * per-table sheet writes) reads those blocks instead of re-running the
  * load and the cleaning pass with its dedup shuffle. The reference's JSON
  * checkpoint artifacts become optional returns (the report object)
  * instead of filesystem barriers.
  */
object Pipelines {

  /** EP2 stage artifacts — the checkpoint payloads of the reference
    * (`cache/unique_values.json`, classification/detection maps) as a
    * typed report.
    */
  final case class TranslateReport(
      df: DataFrame,
      columnLabels: Map[String, String],   // E1: col -> TEXT/NON-TEXT
      languageLabels: Map[String, String], // E2: TEXT col -> ENGLISH/NON-ENGLISH
      translatedColumns: Seq[String],      // columns actually mapped
      log: Seq[String])

  /** EP1: extension-dispatched load + the P1-P10 cleaning pass. */
  def cleanPipeline(spark: SparkSession, path: String,
      verbose: Boolean = false): Preprocess.CleanResult =
    Preprocess.clean(Loader.load(spark, path), verbose)

  /** EP2: the translation pipeline over an already-loaded frame.
    *
    * The cleaned frame is materialised once (eager `localCheckpoint`);
    * the per-column sample jobs, the translation and the returned
    * `TranslateReport.df` all read its blocks. The returned frame is
    * therefore lineage-truncated: `Caching.releaseAll` before it is
    * consumed makes its consumer fail rather than recompute — the same
    * contract as pipe1's checkpoint.
    */
  def translatePipeline(
      df: DataFrame,
      translator: DictionaryTranslator,
      classifier: ColumnClassifier = Enrich.HeuristicColumnClassifier,
      detector: LanguageDetector = Enrich.HeuristicLanguageDetector,
      sampleN: Int = 10): TranslateReport = {

    val cleaned = Preprocess.clean(df)
    val base = cleaned.df.localCheckpoint()
    val stringCols = base.schema.fields
      .filter(_.dataType == StringType).map(_.name).toSeq

    // D2 samples -> E1 classification (driver-side, one tiny job per col —
    // same cost shape as the reference's one LLM call per column). The
    // per-column jobs are independent; submit them concurrently instead
    // of paying N sequential job latencies on wide tables.
    // Finite deadline + scoped cancellation (Jobs.boundedTraverse): a
    // wedged sample job surfaces as an error without hanging the driver or
    // cancelling unrelated work on a shared SparkContext.
    val samples = Jobs.boundedTraverse(
        base.sparkSession, stringCols, "translatePipeline-samples")(c =>
        c -> Dictionary.sampleTopNSeq(base, c, sampleN))
      .toMap
    val columnLabels = samples.map { case (c, s) => c -> classifier.classify(c, s) }
    val textCols = stringCols.filter(c => columnLabels(c) == "TEXT")

    // E2 detection over TEXT columns only (translate.py:196-204)
    val languageLabels = textCols.map(c => c -> detector.detect(samples(c))).toMap
    val nonEnglish = textCols.filter(c => languageLabels(c) == "NON-ENGLISH")

    // E3+E5: translate only NON-ENGLISH text columns, identity fallback
    val translated = translator.applyTo(base, nonEnglish)
    val applied = nonEnglish.filter(c => translator.forColumn(c).nonEmpty)

    TranslateReport(translated, columnLabels, languageLabels, applied,
      cleaned.log ++
        Seq(s"TEXT columns: ${textCols.mkString(", ")}",
          s"NON-ENGLISH columns: ${nonEnglish.mkString(", ")}",
          s"Translated columns: ${applied.mkString(", ")}"))
  }

  /** EP3: schema-map a cleaned frame onto a destination star schema and
    * vertically partition; optionally sink one dataset per table. A
    * `sinkPath` ending in `.xlsx` writes the reference's actual artifact
    * — one binary workbook, one sheet per table (`mapper.py:123-136`) —
    * via [[graft.sources.Xlsx]]; any other path gets the data-scale
    * directory-of-parquet form. Either way an empty mapping sinks
    * nothing (Excel has no zero-sheet workbook; the dir sink likewise
    * creates no files).
    *
    * The mapping needs only the cleaned frame's column names, so it is
    * decided first; when it yields tables, the cleaned frame is
    * materialised once (eager `localCheckpoint`) and every returned table
    * is a projection of those blocks. Row i of every table then comes
    * from the same stored row (the alignment [[SchemaMap.verticalPartition]]
    * relies on), and each sheet write reads blocks instead of re-running
    * the lineage. The returned frames are lineage-truncated:
    * `Caching.releaseAll` before they are consumed makes their consumers
    * fail rather than recompute — the same contract as pipe1's checkpoint.
    * An empty mapping returns no tables and runs no job.
    */
  def mapPipeline(
      df: DataFrame,
      destSchema: Map[String, Seq[String]],
      mapper: SchemaMapper = new SchemaMap.NameSimilarityMapper(),
      sinkPath: Option[String] = None): Map[String, DataFrame] = {
    val cleaned = Preprocess.clean(df).df
    val cols = cleaned.columns.toSeq
    val mapping: Map[String, ColumnMapping] =
      mapper.mapColumns(cols, destSchema)
        .collect { case (src, Some(cm)) if cols.contains(src) => src -> cm }
    val tables =
      if (mapping.isEmpty) Map.empty[String, DataFrame]
      else SchemaMap.verticalPartition(cleaned.localCheckpoint(), mapping)
    sinkPath.filter(_ => tables.nonEmpty).foreach { p =>
      if (p.toLowerCase.endsWith(".xlsx"))
        graft.sources.Xlsx.write(tables, p, df.sparkSession)
      else WorkbookSink.save(tables, p)
    }
    tables
  }

  /** pipe1 — the end-to-end training-corpus pipeline, composed from the
    * operators a real user would chain: P1-P10 clean → quality score +
    * language ID (t4's scoring) → canonical near-dup assignment over the
    * SURVIVING corpus (dd5's machinery) → held-out-eval contamination drop
    * (dd6/dd7's split convention: the md5-carved ~1/4 of ids is the eval
    * benchmark; any training component touching it is leaked and dropped
    * whole) → per-language stratified sample (d4).
    *
    * Scan discipline (the integration claim): `documents` is read from
    * parquet exactly TWICE — once by the cleaning pass's fused validation
    * aggregate (the P2 all-null and P7 all-or-nothing-cast decisions are
    * data-dependent by definition, so no cleaner can skip that scan) and
    * once to materialize the cleaned+scored corpus as a local checkpoint.
    * Every later consumer (the shingle pass feeding label propagation,
    * the keep-list join, the final sample) reads the checkpoint blocks;
    * the FINAL action's plan contains zero parquet scans
    * (PlanSpec-asserted). A scoped cache would not do here: the
    * label-propagation rounds are separate actions, and the first would
    * release the cache before the caller's own action runs.
    *
    * Output: the sampled corpus manifest `(doc_id, lang_detected,
    * quality)` — k=5 docs per detected language, md5-permutation order
    * (D3's determinism convention), so the oracle checks exact membership.
    *
    * Cost budget (sf0.1, local[32], warm min-of-2, suite-context with
    * inter-query reclaim; r14 box, Bench probe ≈ 0.44 s — divide by your
    * box's probe to normalize): ≈ 7.1 s end-to-end. Stagewise: ~1.7 s
    * clean + score + checkpoint (scan-bound, irreducible — the cleaning
    * aggregate and the checkpoint write each need one pass), ~2.6–3.0 s
    * canonical clustering over the full cleaned corpus (the dd5 budget:
    * shingle/signature/band/verify + seeded label-propagation rounds),
    * ~0.9 s contamination carve + keep-list joins + stratified sample.
    * The round-7 seeding of label propagation (see
    * [[graft.operators.Dedup.clustersOf]]) bought back the cost of
    * widening clustering from the quality-filtered corpus to the full
    * cleaned corpus; the remaining sum is the stages' inherent passes.
    *
    * Contention A/B (r14, the r13 "pipe1 inflates 3.6× under load"
    * hypothesis, tested): with 32 CPU spinners saturating all cores for
    * the WHOLE run (probe 0.63 s start AND end — steady load), pipe1
    * inflated 1.24× and pipe3 1.11× against a 1.37× median over 8
    * reference queries — the multi-action structure (label rounds +
    * convergence counts) does NOT amplify sustained contention; it
    * inflates LESS than shuffle-bound single-action queries (dd3 1.68×).
    * r13's official 18.0 s was a transient co-tenant BURST landing on
    * both min-of-2 samples, which the contract line's probe drift now
    * exposes from the artifact alone (a load that died mid-suite
    * reproduced the signature: probe 1.15 s → 0.53 s, drift 2.19×,
    * flagged CONTENTION-SUSPECT by compare_bench.py).
    */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val kept = curatedSurvivors(spark, dir)
      .select(col("doc_id"), col("lang_detected"), col("quality"))
    Dictionary.sampleStratified(kept, "lang_detected", "doc_id", 5)
      .orderBy("lang_detected", "doc_id")
  }

  /** The shared pipe1/pipe3 core: clean → score → cluster → decontaminate
    * → best-surviving-representative, returning the surviving corpus
    * `(doc_id, text, lang_detected, quality)` — everything up to (but not
    * including) pipe1's stratified sample / pipe3's packing, on the
    * one-checkpoint scan discipline documented above.
    */
  private def curatedSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.EvalOnce.once
    import graft.functions.TextFunctions.{langId, qualityScore}

    // Clean the CONSUMED columns, not the whole table (r19, the pipe1
    // checkpoint shave): the pipeline's output derives from (doc_id,
    // text) only, and P9's dedup-on-all-columns blocks column pruning
    // through the clean — so the full-table form shuffled and
    // placeholder-scrubbed lang/source/n_chars just to drop them at the
    // checkpoint projection. Pruning FIRST is also exactly the oracle's
    // model (keptCtes' `cleaned` CTE cleans doc_id+text and nothing
    // else); on any corpus with unique doc_id the two forms agree (P9
    // then no-ops under both widths), and the composed pipelines' gates
    // hash-pin that agreement every round. At 100 TB this is the
    // difference between shuffling the 2 consumed columns and the whole
    // row.
    val cleaned = Preprocess.clean(graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"), col("text"))).df
    // NO quality filter before clustering: the held-out benchmark is
    // carved from the FULL cleaned corpus, so an eval document below the
    // quality bar must still poison its near-dup component — a kept train
    // doc that near-dups a low-quality eval doc is still a leak. (Round 6
    // clustered the filtered corpus, which let exactly that case through.)
    // langId is NOT computed here (r19): quality gates eligibility so it
    // must score every cleaned doc, but lang_detected is consumed only on
    // the SURVIVORS (pipe1's stratified sample key; pipe3 never reads it)
    // — deferring it to the post-window projection skips the detector
    // over every dropped/duplicate doc and lets pipe3's plan prune it
    // entirely.
    // The checkpoint CARRIES the shingle array (r20): the cleaning pass's
    // one tokenization now serves both scoring and the banded dedup —
    // the r19 shape re-tokenized the checkpointed corpus into a separate
    // scoped shingle cache (a second corpus-sized materialization plus
    // its job). Docs too short to shingle keep a NULL sh (they stay in
    // the corpus/nodes but can never be candidates — the same absence
    // shingledOf's size filter produces). The keyed quarter-width
    // repartition ahead of the projection is Tables.tWide's width pin:
    // the cleaned frame is otherwise a single partition, so quality
    // scoring AND shingling would run as one task (and every checkpoint
    // consumer would inherit the single-partition layout).
    // The when() guard around the shingle HOF is the shape shinglesOf's
    // scaladoc prices at ~2x the row-level filter — but the filter form
    // is unavailable HERE (short docs must stay in the corpus; only
    // their shingles are absent), and the cost is paid once inside the
    // checkpoint against the r19 shape's whole second tokenize pass +
    // separate cache materialization: the A/B that accepted it (pipe1
    // 28→22 stages, wall 3.19→3.04 warm Prof) includes it.
    val scored = graft.Tables.wide(cleaned, col("doc_id"))
      .select(col("doc_id"), col("text"),
        once(qualityScore(col("text"))).as("quality"),
        graft.functions.TextFunctions.tokensOrdered(col("text")).as("tk"))
      .select(col("doc_id"), col("text"), col("quality"),
        when(size(col("tk")) >= 2,
          graft.operators.Dedup.shinglesOf(col("tk"))).as("sh"))
      .localCheckpoint()
    // ONE split definition shared with dd6/dd7 (Dedup.isEvalSplit).
    val isEval = graft.operators.Dedup.isEvalSplit(col("doc_id"))
    // Quality/eval filters AFTER clustering (the clustering ran on the
    // full corpus above); components with at least one eval member are
    // leaked wholesale: any training doc near-duplicating eval data (or
    // near-duplicating a doc that does) trains on the benchmark.
    val eligibleBase = scored.filter(col("quality") >= 0.5 && !isEval)
    val outCols = Seq(col("doc_id"), col("text"), col("quality"),
      col("canonical_doc_id"))
    // Regime-gated tail (r18, the pipe1 application of the gr-family
    // driver finishes): in the driver regime the active assignment is
    // already a collected broadcast-sized list, so the contamination
    // carve runs on the DRIVER (Dedup.isEvalSplitLocal — a component is
    // bad if any member, including its canonical, is eval; self-canonical
    // eval docs need no entry because their only member is already
    // dropped by the !isEval filter) and the label + keep-list joins
    // collapse to ONE broadcast join plus a broadcast anti-join — no
    // corpus shuffle, no corpus-sized scoped cache, ~3 fewer exchanges.
    // The distributed regime keeps the prior shape: scoped-cached full
    // label frame (consumed by two subtrees of the final plan), distinct
    // carve, shuffle keep-join, anti-join. Same-box isolated A/B at
    // sf0.1/local[32] (min-of-3, spin 0.32-0.35 on every run): pipe1
    // 5.38 → 4.16/4.57 s across two quiet post-change runs, pipe3
    // → 3.68 s (r17 official 4.13); the residual pipe1 cost is the
    // scored checkpoint (~1.4 s of clean + scoring expression CPU over
    // the corpus — shared work both regimes need) plus the banded dedup
    // machinery (~1.6 s, dd5's floor) and a 0.4 s tail.
    // r19 checkpoint shave (the r18 verdict's #4; same-box isolated
    // min-of-4 A/B, spin 0.32-0.40 and probe 0.53-0.55 on BOTH runs):
    // pruning the clean to the consumed (doc_id, text) and deferring
    // langId to the survivors-only projection took pipe1 4.36 → 3.46 s
    // and pipe3 3.93 → 3.50 s — pipe1's missed r17 target of ≤3.5 s
    // reached isolated, oracle hashes unchanged (pipe1-4 PASS at
    // sf0.01).
    val eligible = graft.operators.Dedup.clusterAssignmentPreShingled(
        scored.select(col("doc_id")),
        scored.filter(col("sh").isNotNull)
          .select(col("doc_id"), col("sh"))) match {
      case Left(assign) =>
        import spark.implicits._
        val bad = assign.iterator.collect {
          case (d, c) if graft.operators.Dedup.isEvalSplitLocal(d) ||
            graft.operators.Dedup.isEvalSplitLocal(c) => c
        }.toSet
        eligibleBase
          .join(broadcast(assign.toDF("lid", "cmin")),
            col("doc_id") === col("lid"), "left")
          .withColumn("canonical_doc_id",
            coalesce(col("cmin"), col("doc_id")))
          .join(broadcast(bad.toSeq.toDF("bad")),
            col("canonical_doc_id") === col("bad"), "left_anti")
          .select(outCols: _*)
      case Right(labels0) =>
        val labels = graft.engine.Caching.scopedPersist(labels0)
        val contaminated = labels.filter(isEval)
          .select(col("canonical_doc_id").as("bad")).distinct()
        eligibleBase
          .join(labels.select(col("doc_id").as("lid"), col("canonical_doc_id")),
            col("doc_id") === col("lid"))
          .join(contaminated, col("canonical_doc_id") === col("bad"), "left_anti")
          .select(outCols: _*)
    }
    // The component representative is the min doc_id among the SURVIVING
    // members — a component whose global canonical was quality-filtered
    // still keeps its best-id survivor (under canonical-only semantics it
    // would vanish entirely). The rank-1 window compiles to map-side
    // WindowGroupLimits on the component key, so the exchange carries
    // ~one row per component, same shape as d4's stratified sample.
    // text rides along (it was already in the eligible exchange before the
    // round-8 refactor): pipe1 drops it before sampling, pipe3 tokenizes it
    eligible
      .withColumn("rk", row_number().over(
        Window.partitionBy("canonical_doc_id").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("text"),
        once(langId(col("text"))).as("lang_detected"), col("quality"))
  }

  /** pipe3 — the trainer-facing composition: pipe1's cleaned/deduped/
    * decontaminated SURVIVORS (not the sample — the full curated corpus)
    * fed into t10's sequence-packing, emitting the `(shard, seq_id,
    * doc_id, offset_in_seq, n_tokens)` manifest a pre-training job
    * actually consumes. Both halves are the SAME machinery their
    * standalone gates pin ([[curatedSurvivors]] /
    * [[graft.operators.TextAnalysis.packManifest]]); the composition adds
    * zero new operators, only the contract that they compose on one
    * checkpointed scan (PlanSpec: the final plan reads no parquet) and
    * conserve tokens (InvariantSpec: per-doc manifest sums equal the
    * survivor's token count).
    *
    * Bench budget: ≈ 7.1 s at sf0.1 local[32] (r14 box, probe ≈ 0.44 s,
    * min-of-2 in suite context — r13's fast box measured 5.2 s at its
    * own probe speed; normalize by the contract line's probe before
    * comparing) — the full clean → score → banded-dedup → decontaminate
    * → pack composition; the banded dedup inside [[curatedSurvivors]] is
    * the dominant term (matches dd3's standalone ~2.4 s plus verify).
    * A probe-normalized regression well past that budget means a stage
    * re-materialized the scan (PlanSpec's scan-free pin is the
    * structural guard). Contention behavior: see [[trainingCorpus]]'s
    * A/B — pipe3 inflates 1.11× under full sustained saturation vs the
    * 1.37× reference median; the multi-action loop is not an amplifier.
    */
  def packedCorpus(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions.tokenCount
    graft.operators.TextAnalysis.packManifest(
      curatedSurvivors(spark, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n")))
  }

  /** pipe2 — the batch twin of [[graft.streaming.Streams.corpusIngest]]:
    * score quality + language with the SAME expression trees, drop
    * below-bar documents, keep ONE document per normalized content
    * fingerprint. The streaming form's `dropDuplicatesWithinWatermark`
    * keeps an arbitrary first arrival per fingerprint; the batch twin pins
    * the deterministic equivalent (min doc_id wins) so the whole ingest
    * head gets a DuckDB hash gate. Scale shape: one scan-side projection,
    * then a rank-1 filter that compiles to map-side WindowGroupLimits on
    * the fingerprint key — the dedup exchange carries ~one row per
    * distinct fingerprint, not the corpus.
    */
  def ingestBatch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.functions.EvalOnce.once
    import graft.functions.TextFunctions.{fingerprint, langId, qualityScore}
    graft.Tables.t(spark, dir, "documents")
      .select(col("doc_id"),
        once(qualityScore(col("text"))).as("quality"),
        once(langId(col("text"))).as("lang_detected"),
        fingerprint(col("text")).as("fp"))
      .filter(col("quality") >= 0.5)
      .withColumn("rk", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("quality"), col("lang_detected"), col("fp"))
      .orderBy("doc_id")
  }

  /** pipe4 — the corpus report card: the one-frame health summary a
    * dataset release ships (the "dataset card" numbers) — corpus size,
    * mean document length, exact-duplicate rate, declared-English share,
    * token volume, and hapax share (the vocabulary-health canary: near 0
    * means template spam, near 1 means token soup). Long-format
    * `(metric, value)` so downstream monitors diff releases row-wise.
    *
    * Scale shape: ONE document-level aggregate (count / mean length /
    * distinct-fingerprint / lang share in a single pass; the exact
    * count_distinct swaps to approx at 100 TB — prof1's convention) and
    * ONE token-frequency aggregate (t6's explode-with-map-side-combine
    * into a vocabulary-sized frame), crossed as 1-row broadcasts and
    * unpivoted. No joins against the corpus.
    */
  def reportCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.Tables.r6
    import graft.functions.TextFunctions.{fingerprint, tokensOrdered}
    val docs = graft.Tables.t(spark, dir, "documents")
    val d = docs.agg(
      count(lit(1)).cast("double").as("n_docs"),
      r6(avg(length(col("text")))).as("mean_chars"),
      r6(lit(1.0) -
        count_distinct(fingerprint(col("text"))).cast("double") /
          count(lit(1))).as("exact_dup_rate"),
      r6(count(when(col("lang") === "en", 1)).cast("double") /
        count(lit(1))).as("en_share"))
    val freq = docs.select(explode(tokensOrdered(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
    val tk = freq.agg(
      sum(col("f")).cast("double").as("n_tokens"),
      r6(count(when(col("f") === 1, 1)).cast("double") / count(lit(1)))
        .as("hapax_share"))
    d.crossJoin(broadcast(tk))
      .select(expr("stack(6, " +
        "'en_share', en_share, 'exact_dup_rate', exact_dup_rate, " +
        "'hapax_share', hapax_share, 'mean_chars', mean_chars, " +
        "'n_docs', n_docs, 'n_tokens', n_tokens) AS (metric, value)"))
      .orderBy("metric")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe4_report_card" -> reportCard,
    "pipe1_training_corpus" -> trainingCorpus,
    "pipe2_ingest_batch" -> ingestBatch,
    "pipe3_packed_corpus" -> packedCorpus
  )

  /** pipe1's oracle chains the SAME shared fragments the stage oracles
    * use — Preprocess.Placeholders, TextAnalysis.sqlQuality/sqlLangId,
    * Dedup.dd3CtesFrom/dd3PairSelect and dd5's recursive closure — so the
    * composed pipeline cannot drift from its stages.
    */
  val oracle: Map[String, String] = {
    import graft.operators.{Dedup, TextAnalysis}
    val ph = Preprocess.Placeholders.map("'" + _ + "'").mkString("(", ",", ")")
    val q = TextAnalysis.sqlQuality("text")
    val lang = TextAnalysis.sqlLangId("text")
    val fp = TextAnalysis.sqlFp("text")
    Map(
      "pipe4_report_card" ->
        s"""WITH d AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           |    round(avg(length(text)), 6) AS mean_chars,
           |    round(1.0 - CAST(count(DISTINCT $fp) AS DOUBLE)
           |      / count(*), 6) AS exact_dup_rate,
           |    round(count(CASE WHEN lang = 'en' THEN 1 END)
           |      / CAST(count(*) AS DOUBLE), 6) AS en_share
           |  FROM documents),
           | fr AS (
           |  SELECT token, count(*) AS f FROM (
           |    SELECT unnest(list_filter(
           |      regexp_split_to_array(lower(text), '[^a-z]+'),
           |      x -> x <> '')) AS token
           |    FROM documents)
           |  GROUP BY token),
           | tk AS (
           |  SELECT CAST(sum(f) AS DOUBLE) AS n_tokens,
           |    round(count(CASE WHEN f = 1 THEN 1 END)
           |      / CAST(count(*) AS DOUBLE), 6) AS hapax_share
           |  FROM fr),
           | m AS (
           |  SELECT 'en_share' AS metric, en_share AS value FROM d
           |  UNION ALL SELECT 'exact_dup_rate', exact_dup_rate FROM d
           |  UNION ALL SELECT 'hapax_share', hapax_share FROM tk
           |  UNION ALL SELECT 'mean_chars', mean_chars FROM d
           |  UNION ALL SELECT 'n_docs', n_docs FROM d
           |  UNION ALL SELECT 'n_tokens', n_tokens FROM tk)
           |SELECT metric, value FROM m ORDER BY metric""".stripMargin,
      "pipe2_ingest_batch" ->
        s"""WITH scored AS (
           |  SELECT doc_id, $q AS quality, $lang AS lang_detected, $fp AS fp
           |  FROM documents
           |  WHERE $q >= 0.5)
           |SELECT doc_id, quality, lang_detected, fp FROM (
           |  SELECT doc_id, quality, lang_detected, fp,
           |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
           |  FROM scored)
           |WHERE rk = 1
           |ORDER BY doc_id""".stripMargin,
      "pipe1_training_corpus" ->
        (s"WITH RECURSIVE ${keptCtes(ph, q, lang)}\n" +
          """SELECT doc_id, lang_detected, quality FROM (
            |  SELECT doc_id, lang_detected, quality,
            |    row_number() OVER (PARTITION BY lang_detected
            |      ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
            |  FROM kept)
            |WHERE rn <= 5
            |ORDER BY lang_detected, doc_id""".stripMargin),
      "pipe3_packed_corpus" ->
        (s"WITH RECURSIVE ${keptCtes(ph, q, lang)},\n" +
          s""" tk AS (
             |  SELECT doc_id, ${TextAnalysis.sqlTokenCount("text")} AS n,
             |    doc_id % ${TextAnalysis.PackShards} AS shard
             |  FROM kept),
             |""".stripMargin +
          TextAnalysis.sqlPackTail("tk")))
  }

  /** The shared oracle CTE chain through `kept` — the SQL twin of
    * [[curatedSurvivors]], consumed by both pipe1 (sample tail) and pipe3
    * (packing tail) so the composed pipelines cannot drift from each
    * other or from their stage oracles.
    */
  private def keptCtes(ph: String, q: String, lang: String): String = {
    import graft.operators.Dedup
    s"""cleaned AS (
       |  SELECT DISTINCT doc_id,
       |    trim(CASE WHEN text IN $ph THEN NULL ELSE text END) AS text
       |  FROM documents),
       | scored AS (
       |  SELECT doc_id, text, $q AS quality, $lang AS lang_detected
       |  FROM cleaned),
       | """.stripMargin +
      Dedup.dd3CtesFrom("scored", "x.doc_id < y.doc_id") +
      s",\n pairs AS (${Dedup.dd3PairSelect}),\n" +
      s""" edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       | reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
       | labels AS (
       |  SELECT s.doc_id,
       |    CAST(least(coalesce(min(r.dst), s.doc_id), s.doc_id) AS BIGINT) AS canon
       |  FROM scored s LEFT JOIN reach r ON s.doc_id = r.src
       |  GROUP BY s.doc_id),
       | contaminated AS (
       |  SELECT DISTINCT canon FROM labels
       |  WHERE ${Dedup.sqlIsEvalSplit("doc_id")}),
       | eligible AS (
       |  SELECT s.doc_id, s.text, s.lang_detected, s.quality, l.canon
       |  FROM scored s JOIN labels l ON s.doc_id = l.doc_id
       |  WHERE s.quality >= 0.5
       |    AND NOT ${Dedup.sqlIsEvalSplit("s.doc_id")}
       |    AND l.canon NOT IN (SELECT canon FROM contaminated)),
       | kept AS (
       |  SELECT doc_id, text, lang_detected, quality FROM (
       |    SELECT doc_id, text, lang_detected, quality,
       |      row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rk
       |    FROM eligible)
       |  WHERE rk = 1)""".stripMargin
  }
}
