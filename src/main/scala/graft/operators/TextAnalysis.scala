package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.{r6, r6s, t, tWide}
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table (north-star
  * extensions, SURVEY.md §2.5): token counting, quality scoring, language
  * ID, fingerprinting. Pure per-row projections — no shuffle except the
  * deterministic output sort / small aggregations — so throughput at 100 TB
  * is scan-bound.
  */
object TextAnalysis {

  /** Per-document analysis columns (the profile a training-data pipeline
    * attaches before filtering).
    */
  // Range-first instead of tWide: repartitionByRange on the raw scan (the
  // sampler reads only the column-pruned doc_id), then the heavy chain
  // runs once post-exchange in parallel, and sortWithinPartitions restores
  // exactly orderBy's physical output (ascending range partitions, locally
  // sorted). A hash pin before an orderBy makes the range sampler replay
  // the heavy chain.
  def profile(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .repartitionByRange(math.max(2,
          spark.sparkContext.defaultParallelism / 4), col("doc_id"))
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        round(alphaRatio(col("text")), 6).as("alpha_ratio"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"),
        langId(col("text")).as("lang_detected"),
        fingerprint(col("text")).as("fp"))
      .sortWithinPartitions("doc_id")

  /** Quality-band aggregation: the filter decision a pipeline would make,
    * summarized per detected language and quality decile.
    */
  def qualityBands(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(langId(col("text")).as("lang_detected"),
        floor(qualityScore(col("text")) * 10).cast("long").as("quality_decile"),
        tokenCount(col("text")).as("n_tokens"))
      .groupBy("lang_detected", "quality_decile")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy("lang_detected", "quality_decile")

  /** Rolling-hash-style shingle fingerprint alongside the whole-document
    * md5: the minimum hashed word-bigram (the first MinHash signature
    * column) — stable under small edits away from the minimal shingle,
    * where the whole-doc hash flips on any edit. Short docs (<2 tokens)
    * fingerprint as null.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{rawShingles, tokensOrdered}
    val base = t(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp_doc"),
        tokensOrdered(col("text")).as("tk"))
    val withShingle = base
      .select(col("doc_id"), explode(rawShingles(col("tk"))).as("s"), col("fp_doc"))
      .groupBy("doc_id", "fp_doc")
      .agg(min(substring(md5(col("s")), 1, 16)).as("fp_shingle"))
    base.select(col("doc_id"), col("fp_doc"))
      .join(withShingle.select(col("doc_id").as("d2"), col("fp_shingle")),
        col("doc_id") === col("d2"), "left")
      .select(col("doc_id"), col("fp_doc"), col("fp_shingle"))
      .orderBy("doc_id")
  }

  /** The end filter a training pipeline applies: keep documents above a
    * quality bar in the target language; emit the kept ids + scores.
    *
    * The score/lang trees are pinned with [[graft.functions.EvalOnce]]:
    * without the barrier the filter is pushed below the projection and the
    * ~full expression tree (4 stopword intersects + ratios) evaluates
    * twice per surviving row (~2x on this query).
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.EvalOnce.once
    t(spark, dir, "documents")
      .select(col("doc_id"), once(qualityScore(col("text"))).as("quality"),
        once(langId(col("text"))).as("lang_detected"))
      .filter(col("quality") >= 0.7 && col("lang_detected") === "en")
      .orderBy("doc_id")
  }

  /** Repetition signal (the Gopher-family duplicate-content heuristic in
    * deterministic form): share of word tokens that repeat an earlier
    * token — `1 - distinct/total`, 0 for token-free documents. High values
    * mark boilerplate/spam for the quality filter.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(tokensOrdered(col("text"))).cast("long").as("n_tokens"),
        size(tokenSet(col("text"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(when(col("n_tokens") === 0, lit(0.0))
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens")), 6)
          .as("repetition"))
      .orderBy("doc_id")

  /** Corpus vocabulary: the 50 most frequent word tokens with occurrence
    * and document frequencies — the vocabulary-building pass of a
    * tokenizer-training pipeline. Scale shape: explode → ONE
    * `(token, doc_id)`-level hash aggregate (map-side partial combine, so
    * the shuffle carries distinct pairs, not occurrences), from which BOTH
    * counts derive — `n_occurrences` as the sum of per-doc counts, `n_docs`
    * as the pair count — then a TakeOrderedAndProject top-k. A direct
    * `count + countDistinct` would instead plan through Expand, duplicating
    * every exploded token row before the shuffle; PlanSpec pins the
    * Expand-free shape.
    */
  def vocabulary(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokensOrdered(col("text"))).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("c"))
      .groupBy("token")
      // count(doc_id), not count(1): a NULL doc_id group must not count
      // toward document frequency (countDistinct and the oracle's
      // count(DISTINCT doc_id) both skip NULLs)
      .agg(sum(col("c")).as("n_occurrences"), count(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(50)

  /** t14 — Zipf rank-frequency fit: the least-squares slope and Pearson
    * correlation of ln(frequency) against ln(rank) over the corpus
    * vocabulary — the distributional-health diagnostic corpus teams run
    * (natural text tracks slope ≈ −1; template/boilerplate corpora and
    * synthetic spam bend the curve). Also exercises the SQL regression-
    * aggregate family (regr_slope, corr) the rest of the surface lacks.
    *
    * Scale: the ranking window and the regression aggregate run over the
    * vocabulary-sized frequency frame, never the corpus. The ln() inputs
    * differ across engines by at most 1 ulp, absorbed by the 6-decimal
    * rounding.
    */
  def zipf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freqs = t(spark, dir, "documents")
      .select(explode(tokensOrdered(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    // vocab-sized frame: the empty-partition window is over types, not
    // tokens (d5's documented convention for count-frame windows)
    val ranked = freqs.withColumn("rank",
      row_number().over(Window.orderBy(col("freq").desc, col("token"))))
    ranked
      .agg(
        (round(expr("regr_slope(ln(freq), ln(rank))"), 6) + lit(0))
          .as("zipf_slope"),
        (round(corr(log(col("freq")), log(col("rank"))), 6) + lit(0))
          .as("zipf_corr"),
        count(lit(1)).as("n_types"),
        sum(col("freq")).as("n_tokens"))
  }

  /** t20 — per-source lexical diversity: type–token ratio and hapax share
    * per corpus domain — the "is this domain template spam or natural
    * text" curation signal (boilerplate/SEO farms collapse TTR and hapax
    * share; natural prose holds both up). Complements t14's corpus-global
    * Zipf fit with the per-domain breakdown a mixture builder acts on.
    *
    * Scale: the corpus is scanned once into the (source, token) frame and
    * never re-joined.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val perTok = t(spark, dir, "documents")
      .select(col("source"), explode(tokensOrdered(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("freq"))
    perTok.groupBy("source")
      .agg(
        sum(col("freq")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        count(when(col("freq") === 1, 1)).as("n_hapax"),
        r6(count(lit(1)).cast("double") / sum(col("freq"))).as("ttr"),
        r6(count(when(col("freq") === 1, 1)).cast("double") / count(lit(1)))
          .as("hapax_share"))
      .orderBy("source")
  }

  /** Bigram language-model surprise — the perplexity-style quality signal
    * training pipelines use (CCNet/Gopher lineage): train add-one-smoothed
    * bigram statistics on the corpus itself, then score every document by
    * the average negative log-likelihood of its bigrams. High surprise =
    * unusual token sequences (garbled text, boilerplate word-salad); low =
    * fluent in-distribution text. Deterministic by construction — no
    * external LM, the corpus is its own model.
    *
    * Scale: the model is vocabulary-sized (prefix counts derive from the
    * bigram table — one source of truth); scoring is one corpus-side join
    * against it, and the corpus never joins itself.
    */
  def lmSurprise(spark: SparkSession, dir: String): DataFrame =
    surpriseScores(spark, dir).orderBy("doc_id")

  /** t8's per-doc scoring core `(doc_id, n_bigrams, avg_surprise)`,
    * un-ordered — shared by the t8 gate and t23's band filter.
    */
  private def surpriseScores(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.rawShingles
    // The tokenized frame feeds four plan subtrees and is deliberately not
    // cached or width-pinned: re-running the fully-pipelined tokenize per
    // subtree is cheaper than a cache barrier (~50% slower) or a pin
    // exchange replayed once per subtree.
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    val bi = docs.select(col("doc_id"), explode(rawShingles(col("tk"))).as("bg"))
    val c2 = bi.groupBy("bg").agg(count(lit(1)).as("c2"))
    // ONE prefix-extraction expression feeds both the marginal and the
    // conditional join.
    val c2w = c2.withColumn("w1", split(col("bg"), " ").getItem(0))
    val c1 = c2w.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val vF = docs.select(explode(col("tk")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val model = c2w
      .join(c1, "w1")
      .crossJoin(broadcast(vF))
      .select(col("bg"),
        (-log((col("c2") + lit(1)).cast("double") / (col("c1") + col("v")))).as("nll"))
    val scored = bi.join(model, "bg")
      .groupBy("doc_id")
      .agg(round(avg(col("nll")), 4).as("avg_surprise"),
        count(lit(1)).as("n_bigrams"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_surprise"))
  }

  /** t23 — the model-based quality filter t8's scores exist FOR (the
    * CCNet/Gopher convention): keep documents whose average bigram
    * surprise sits in the middle band of the corpus distribution —
    * too-LOW surprise is templated/repetitive boilerplate the model has
    * effectively memorized, too-HIGH is gibberish the model cannot
    * predict at all; both poison training. Cuts are the exact p10/p90 of
    * the score distribution, broadcast back onto the scored frame (d10's
    * cut-array shape — `approx_percentile` is the stated 100 TB swap).
    *
    * The scored frame is scope-persisted: BOTH consumers (the cut
    * aggregate and the band join) would otherwise re-run the full
    * model-join pipeline — unlike t8's linear tokenize projection, this
    * subtree contains two aggregation exchanges and a join, which is
    * exactly the reuse case dd2/dd3 persist for. Bands derive from the
    * ROUNDED scores and ROUNDED cuts on both engines, so boundary
    * documents classify identically.
    */
  def perplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    val s = graft.engine.Caching.scopedPersist(
      surpriseScores(spark, dir).filter(col("n_bigrams") > 0)
        .select(col("doc_id"), col("avg_surprise")))
    val cuts = s.agg(
        expr("percentile(avg_surprise, array(0.10, 0.90))").as("p"))
      .select(round(element_at(col("p"), 1), 4).as("lo_cut"),
        round(element_at(col("p"), 2), 4).as("hi_cut"))
    s.join(broadcast(cuts))
      .select(col("doc_id"), col("avg_surprise"),
        when(col("avg_surprise") < col("lo_cut"), "low")
          .when(col("avg_surprise") > col("hi_cut"), "high")
          .otherwise("mid").as("band"),
        (col("avg_surprise") >= col("lo_cut") &&
          col("avg_surprise") <= col("hi_cut")).as("kept"))
      .orderBy("doc_id")
  }

  private val ChunkTokens = 128L

  /** Context-window chunking — the pre-training step that splits every
    * document into fixed-size token windows (the sequence boundaries a
    * trainer packs into context windows): one row per 128-token chunk
    * with its start offset and (tail-truncated) length. Scale shape: the
    * explode emits one row per CHUNK, not per token — output is
    * corpus-tokens/128 sized — and everything is arithmetic on the
    * per-doc token count, no second tokenization pass. Token-free
    * documents produce no chunks.
    */
  def chunks(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(ChunkTokens))).as("start_token"))
      .select(col("doc_id"),
        (col("start_token") / ChunkTokens).cast("long").as("chunk_id"),
        col("start_token"),
        least(lit(ChunkTokens), col("n") - col("start_token")).as("n_tokens"))
      .orderBy("doc_id", "chunk_id")

  private[graft] val PackTokens = 512L
  private[graft] val PackShards = 8L

  /** Sequence packing — the concat-and-split manifest GPT-style
    * pre-training actually consumes: within each shard, document token
    * streams are concatenated in doc_id order and cut every 512 tokens;
    * the output maps every document to the training sequence(s) it lands
    * in, with its offset and token count inside each. Documents straddle
    * cuts (the standard packing semantics) and long documents span
    * multiple sequences.
    *
    * Scale: the running offset is a prefix sum windowed per shard
    * (doc_id mod 8), never a global ordered window; sequence ids are
    * shard-local (shard, seq_id) for the same reason.
    */
  def packing(spark: SparkSession, dir: String): DataFrame =
    packManifest(t(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n")))

  /** The packing core over any `(doc_id, n)` token-count frame — shared
    * by t10 (whole corpus) and pipe3 (the curated survivor corpus), so
    * the manifest the composed pipeline emits is pinned to the same
    * machinery the standalone operator gates.
    */
  private[graft] def packManifest(tk: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pos = tk
      .filter(col("n") > 0)
      .withColumn("shard", col("doc_id") % PackShards)
      .withColumn("tok_end", sum(col("n")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n"))
    val seqStart = col("seq_id") * PackTokens
    pos.select(col("shard"), col("doc_id"), col("tok_start"), col("n"),
        explode(sequence(
          (col("tok_start") / PackTokens).cast("long"),
          ((col("tok_end") - 1) / PackTokens).cast("long"))).as("seq_id"))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (greatest(seqStart, col("tok_start")) - seqStart).as("offset_in_seq"),
        (least(seqStart + PackTokens, col("tok_start") + col("n")) -
          greatest(seqStart, col("tok_start"))).as("n_tokens"))
      .orderBy("shard", "seq_id", "doc_id")
  }

  /** The (>= 2-char) token stream and its adjacent character-pair counts —
    * ONE definition shared by t11 (the top-50 listing) and t15 (the merge
    * election), so the tokenization, length filter, and tie-break that
    * decide which pair "wins" cannot drift between electing a merge and
    * applying it.
    */
  private def tokenStream(spark: SparkSession, dir: String): DataFrame =
    tWide(spark, dir, "documents")
      .select(explode(tokensOrdered(col("text"))).as("token"))
      .filter(length(col("token")) >= 2)

  private def pairCounts(toks: DataFrame): DataFrame =
    toks
      .select(explode(transform(
        sequence(lit(1), length(col("token")) - 1),
        i => col("token").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occurrences"))

  /** t11 — BPE merge-pair counting: the frequency table of ADJACENT
    * character pairs across all token occurrences, top-50 — exactly the
    * statistic the first iteration of byte-pair-encoding tokenizer
    * training maximizes over (subsequent iterations re-run the same count
    * over re-segmented text; the counting plan is identical, so this pins
    * the shape that matters). Complements t6 (word vocabulary) and the
    * BPE-ish token COUNT in t1 with the merge-TRAINING statistic.
    *
    * Scale: the shuffle carries distinct character pairs (bounded by 26²
    * here), not occurrences.
    */
  def bpeMergePairs(spark: SparkSession, dir: String): DataFrame =
    pairCounts(tokenStream(spark, dir))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(50)

  /** t15 — one full BPE training STEP: take t11's winning merge pair,
    * apply it to the corpus (greedy left-to-right, non-overlapping — both
    * engines' `replace` contract), and recount adjacent UNIT pairs over
    * the re-segmented tokens — the statistic iteration 2 of tokenizer
    * training maximizes. Pair labels join units with '+' ("th+e"), so a
    * merged unit is distinguishable from its characters.
    *
    * Segmentation trick: tokens are pure [a-z]+ (tokensOrdered strips all
    * else), so the merged unit is encoded by replacing the pair with the
    * sentinel '0' — impossible in the token alphabet — and pair labels
    * decode the sentinel back. No array-of-units state, no fold: the
    * re-segmentation is ONE string replace per token.
    *
    * Scale: the token frame is tokenized once and scoped-persisted for
    * its two consumers; the recount shuffle carries distinct labels
    * (≤27²), not occurrences.
    */
  def bpeStep(spark: SparkSession, dir: String): DataFrame = {
    val toks = graft.engine.Caching.scopedPersist(tokenStream(spark, dir))
    val top = pairCounts(toks)
      .orderBy(col("n_occurrences").desc, col("pair")).limit(1)
      .select(col("pair").as("mp"))
    val merged = toks.join(broadcast(top))
      .select(expr("replace(token, mp, '0')").as("mt"), col("mp"))
      .filter(length(col("mt")) >= 2)
    def unit(c: Column): Column = when(c === "0", col("mp")).otherwise(c)
    merged
      .select(explode(transform(
        sequence(lit(1), length(col("mt")) - 1),
        i => concat(unit(col("mt").substr(i, lit(1))), lit("+"),
          unit(col("mt").substr(i + lit(1), lit(1)))))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(50)
  }

  /** Merge steps the gated t21 trains (sentinel alphabet bounds k at 10). */
  private[graft] val BpeTrainSteps = 6

  /** t21 — k-step BPE TRAINING loop: t15's single elect→merge→recount
    * step iterated [[BpeTrainSteps]] times, emitting the MERGE TABLE —
    * one row per step with the elected pair (units joined by '+'), the
    * new vocabulary unit (flat), and its count at election time. The
    * merge table IS the trained tokenizer: applying its replaces in step
    * order re-segments any text — the capability an LLM-data pipeline
    * trains, not just one statistic of it.
    *
    * Encoding: t15's sentinel trick generalized — the step-i merge is
    * the digit '<i>' (impossible in the [a-z]+ token alphabet), and
    * later steps decode sentinels through the accumulated unit table, so
    * a merge can itself absorb earlier merges ("t+he" → "the"). Election
    * ties break on the DECODED label, which grouping by raw symbol pair
    * preserves (decode is injective per symbol: units are ≥2 chars, so
    * no unit collides with a letter).
    *
    * Scale — the Zipf crush: the corpus is aggregated once to the
    * distinct-token frequency table, so every one of the k steps is
    * vocab-sized; the replace+regroup also merges post-replace
    * collisions, keeping the frame a true vocabulary. Each step reads
    * back exactly one row (the elected winner) and `localCheckpoint`s the
    * re-segmented vocab so lineage stays one generation deep: a lazy
    * chain goes exponential in planning cost (20-35 s vs ~2 s).
    * Invariant (InvariantSpec, planted + real corpus): elected counts
    * are monotone non-increasing — a merge only removes old adjacencies,
    * and every new pair contains the new unit, whose occurrence count is
    * at most the elected count.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainSteps(tokenStream(spark, dir), BpeTrainSteps)

  /** One trained merge: step index, raw symbol pair (in the sentinel
    * encoding — `rp` replaced by digit `step` applies it), decoded '+'
    * label, flat unit, elected weighted count.
    */
  private[graft] final case class BpeMerge(
      step: Long, rp: String, pair: String, unit: String, n: Long)

  /** t21 over an explicit single-column `token` frame (InvariantSpec
    * plants a corpus with a known merge sequence).
    */
  private[graft] def bpeTrainSteps(tokens: DataFrame, k: Int): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    bpeTrainRaw(tokens, k)
      .map(m => (m.step, m.pair, m.unit, m.n))
      .toDF("step", "pair", "unit", "n_occurrences")
  }

  /** The trainer itself, returning the raw merge list (t22's encode
    * applies `replace(t, rp, digit)` in step order).
    *
    * Two regimes, picked by [[graft.engine.RegimeGate]] on the
    * distinct-token frame: the k-step elect→merge→recount loop iterates
    * on vocab-sized data (the Zipf crush above), where the distributed
    * form pays 2 jobs / ~4 AQE stages per step. At or below the gate's
    * bound the loop runs in
    * plain Scala on the collected vocab — integer weights, the same
    * 2-char windows, the same (n desc, decoded-pair asc) election and the
    * same non-overlapping left-to-right `replace` (`String.replace` and
    * Spark's `StringReplace` share the contract), so the merge list is
    * bit-identical (TextAnalysisSpec pins both regimes on seeded random
    * corpora; the sf0.001/0.01/0.1 oracle hashes are unchanged). The
    * corpus-width tokenize/aggregate that FEEDS the vocab stays
    * distributed — at 100 TB that one pass dominates and the vocab is
    * orders smaller; a vocabulary past 1M distinct tokens falls back to
    * the distributed loop unchanged.
    */
  private[graft] def bpeTrainRaw(tokens: DataFrame, k: Int,
      driverVocabMax: Long = graft.engine.RegimeGate.DriverRows): Seq[BpeMerge] = {
    require(k >= 1 && k <= 10, "sentinel alphabet is '0'-'9'")
    // Both regimes ignore length-1 tokens (the driver loop counts no pairs
    // for them and drops them on merge; the distributed elect's
    // sequence(1, length-1) would instead descend and fabricate bogus
    // "pairs"), enforced here for any caller.
    val vocab0 = tokens.select(col("token").as("t"))
      .filter(length(col("t")) >= 2)
      .groupBy("t").agg(count(lit(1)).as("w"))
    graft.engine.RegimeGate(vocab0, driverVocabMax, longKeys = false)(
        _.localCheckpoint()) match {
      case Left(rows) =>
        bpeTrainDriver(rows.iterator.map(r => (r.getString(0), r.getLong(1))), k)
      case Right(vocab) => bpeTrainDistributed(vocab, k)
    }
  }

  /** Driver-regime trainer: the elect loop over a collected vocabulary.
    * Semantics are the distributed loop's, line for line — see
    * [[bpeTrainRaw]]'s scaladoc for the equivalence argument.
    */
  private def bpeTrainDriver(
      vocab0: Iterator[(String, Long)], k: Int): Seq[BpeMerge] = {
    val units = scala.collection.mutable.LinkedHashMap[String, String]()
    def dec(s: String): String = units.getOrElse(s, s)
    var vocab: scala.collection.Map[String, Long] =
      scala.collection.mutable.HashMap.from(vocab0)
    val merges = Seq.newBuilder[BpeMerge]
    var dry = false
    for (i <- 0 until k if !dry) {
      val counts = scala.collection.mutable.HashMap[String, Long]()
      vocab.foreach { case (t, w) =>
        var p = 0
        while (p < t.length - 1) {
          val rp = t.substring(p, p + 2)
          counts.update(rp, counts.getOrElse(rp, 0L) + w)
          p += 1
        }
      }
      if (counts.isEmpty) dry = true // vocab merged away (distributed: empty limit(1))
      else {
        // Election order (n desc, decoded pair asc) — pair label is
        // ASCII [a-z+], where Java and UTF8String orderings agree; the
        // label determines rp (decode is injective per symbol and '+'
        // never occurs in a unit), so the order is strict.
        val (rp, n) = counts.minBy { case (rp, n) =>
          (-n, dec(rp.substring(0, 1)) + "+" + dec(rp.substring(1, 2)))
        }
        val pair = dec(rp.substring(0, 1)) + "+" + dec(rp.substring(1, 2))
        val unit = dec(rp.substring(0, 1)) + dec(rp.substring(1, 2))
        merges += BpeMerge(i.toLong, rp, pair, unit, n)
        units += (i.toString -> unit)
        if (i < k - 1) {
          val next = scala.collection.mutable.HashMap[String, Long]()
          vocab.foreach { case (t, w) =>
            val m = t.replace(rp, i.toString)
            if (m.length >= 2) next.update(m, next.getOrElse(m, 0L) + w)
          }
          vocab = next
        }
      }
    }
    merges.result()
  }

  /** Distributed-regime trainer: one
    * elect job + one re-segment checkpoint per step over the
    * checkpointed vocab frame.
    */
  private def bpeTrainDistributed(
      vocab0: DataFrame, k: Int): Seq[BpeMerge] = {
    var vocab = vocab0
    val units = scala.collection.mutable.LinkedHashMap[String, String]()
    val merges = Seq.newBuilder[BpeMerge]
    var dry = false
    for (i <- 0 until k if !dry) {
      def dec(c: Column): Column =
        units.foldLeft(c) { case (e, (d, u)) =>
          when(c === d, lit(u)).otherwise(e)
        }
      val top = vocab
        .select(col("w"), explode(transform(
          sequence(lit(1), length(col("t")) - 1),
          p => col("t").substr(p, lit(2)))).as("rp"))
        .groupBy("rp").agg(sum(col("w")).as("n"))
        .select(col("rp"), col("n"),
          concat(dec(col("rp").substr(1, 1)), lit("+"),
            dec(col("rp").substr(2, 1))).as("pair"),
          concat(dec(col("rp").substr(1, 1)),
            dec(col("rp").substr(2, 1))).as("unit"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) dry = true // vocab merged away: no further electable pair
      else {
        val r = top(0)
        val rp = r.getString(0)
        merges += BpeMerge(i.toLong, rp, r.getString(2), r.getString(3),
          r.getLong(1))
        units += (i.toString -> r.getString(3))
        if (i < k - 1)
          vocab = vocab
            // rp's alphabet is [a-z0-9]: safe to inline as a SQL literal
            .select(expr(s"replace(t, '$rp', '$i')").as("t"), col("w"))
            .filter(length(col("t")) >= 2)
            .groupBy("t").agg(sum(col("w")).as("w"))
            .localCheckpoint()
      }
    }
    merges.result()
  }

  /** t22 — tokenizer APPLICATION (the encode half of the t21 train/apply
    * pair): train the k-merge table, apply the merges in step order to
    * every token, and report each document's segmentation — token count,
    * character mass, BPE-unit count, and the units-per-character
    * compression ratio (the statistic that prices a corpus in tokens
    * under a trained tokenizer, what every context-budget and
    * cost-estimate pass runs).
    *
    * Scale: the merge table applies to the distinct-token frame; one
    * occurrence-level join tags each token with its unit count (every
    * post-merge symbol is one char, so units = length). Zero-token
    * documents report 0/0/0 with null compression.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeCore(t(spark, dir, "documents"), BpeTrainSteps)

  /** t22 over an explicit `(doc_id, text)` frame — InvariantSpec replays
    * the planted t21 corpus and checks the hand-computed segmentation.
    */
  private[graft] def bpeEncodeCore(docs: DataFrame, k: Int): DataFrame =
    bpeDocUnits(docs, k)
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("n_units"),
        when(col("n_chars") > 0,
          round(col("n_units").cast("double") / col("n_chars"), 6))
          .as("compression"))
      .orderBy("doc_id")

  /** The shared t22/t31 per-document segmentation frame `(doc_id,
    * n_tokens, n_chars, n_units)`, un-ordered: train the k-merge table,
    * encode the DISTINCT-token vocabulary, tag occurrences, aggregate
    * per doc.
    */
  private[graft] def bpeDocUnits(docs: DataFrame, k: Int): DataFrame = {
    import graft.functions.TextFunctions.tokensOrdered
    val merges = bpeTrainRaw(
      docs.select(explode(tokensOrdered(col("text"))).as("token"))
        .filter(length(col("token")) >= 2), k)
    val encStr = merges.foldLeft("tok")((e, m) =>
      s"replace($e, '${m.rp}', '${m.step}')")
    val toks = docs.select(col("doc_id"),
      explode_outer(tokensOrdered(col("text"))).as("tok"))
    val vocabEnc = toks.filter(col("tok").isNotNull)
      .select(col("tok")).distinct()
      .select(col("tok").as("vt"),
        length(expr(encStr)).cast("long").as("units"))
    toks.join(vocabEnc, col("tok") === col("vt"), "left")
      .groupBy("doc_id")
      .agg(count(col("tok")).as("n_tokens"),
        coalesce(sum(length(col("tok")).cast("long")), lit(0L)).as("n_chars"),
        coalesce(sum(col("units")), lit(0L)).as("n_units"))
  }

  /** t31 — tokenizer fertility by language: BPE units per WORD under the
    * t21-trained tokenizer, aggregated per declared language — the
    * under-served-language audit (a language whose fertility runs far
    * above the corpus norm pays proportionally more context budget per
    * word, the signal multilingual tokenizer work reports and rebalances
    * on — cf. the NLLB / XLM-R fertility analyses). Reported beside the
    * chars-per-unit compression so "long words" and "bad merges" are
    * distinguishable.
    *
    * Scale: t22's per-doc segmentation ([[bpeDocUnits]]) re-aggregated to
    * the language domain. All sums are exact integers; the two divisions
    * are final, nullif-guarded single IEEE ops.
    */
  def fertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    docs.select(col("doc_id"), col("lang"))
      .join(bpeDocUnits(docs, BpeTrainSteps), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_words"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_units")).as("total_units"),
        r6s(sum(col("n_units")).cast("double") /
          when(sum(col("n_tokens")) > 0, sum(col("n_tokens"))))
          .as("fertility"),
        r6s(sum(col("n_units")).cast("double") /
          when(sum(col("n_chars")) > 0, sum(col("n_chars"))))
          .as("compression"))
      .orderBy("lang")
  }

  /** t12 — TF-IDF keyword extraction: the top-3 most distinctive terms per
    * document (tf × ln(N/df)), the classic relevance statistic a corpus
    * pipeline attaches for retrieval, topic labeling, or near-dup triage.
    *
    * Scale: everything derives from t6's `(token, doc_id)` aggregate; the
    * corpus text is never re-tokenized or self-joined, and the top-3 rank
    * compiles to map-side WindowGroupLimits (PlanSpec). tf and df are
    * exact integers and tfidf is one rounded double expression; ranking
    * is on the rounded value with a token tiebreak.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokensOrdered(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    // count(doc_id), not count(1): the NULL-doc_id group must not count
    // toward document frequency (t6's convention).
    val dfreq = pairs.groupBy("token").agg(count(col("doc_id")).as("df"))
    val nF = pairs.agg(countDistinct(col("doc_id")).as("n"))
    val scored = pairs.join(dfreq, "token").crossJoin(broadcast(nF))
      .select(col("doc_id"), col("token"),
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df")), 6).as("tfidf"))
    scored.withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))))
      .filter(col("rk") <= 3).drop("rk")
      .orderBy(col("doc_id"), col("tfidf").desc, col("token"))
  }

  /** t13 — top-bigram repetition (the Gopher repetition rule family, in
    * deterministic token form): the share of a document's bigrams taken by
    * its single most frequent bigram. t5 catches documents whose TOKENS
    * repeat; this catches documents whose SEQUENCES repeat (looped
    * boilerplate like "click here click here…" has near-zero t5 distinct
    * deficit per unique word but a dominant bigram) — the complementary
    * repetition signal quality filters threshold on.
    *
    * Scale: one (doc_id, bigram) aggregate; the per-doc top-1 compiles to
    * map-side WindowGroupLimits (PlanSpec). Ties break lexicographically
    * so the winner is unique; the share is one rounded double of two
    * exact integers.
    */
  def topBigram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.rawShingles
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    val counts = docs.select(col("doc_id"),
        (size(col("tk")) - 1).cast("long").as("n_bigrams"),
        explode(rawShingles(col("tk"))).as("bg"))
      .groupBy("doc_id", "n_bigrams", "bg")
      .agg(count(lit(1)).as("c"))
    val top = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("c").desc, col("bg"))))
      .filter(col("rk") === 1)
    docs.select(col("doc_id"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bg").as("top_bigram"),
        coalesce(col("c"), lit(0L)).as("n_occurrences"),
        coalesce(round(col("c").cast("double") / col("n_bigrams"), 6), lit(0.0))
          .as("bigram_share"))
      .orderBy("doc_id")
  }

  /** t19 — PMI collocations: corpus-wide pointwise mutual information
    * over token bigrams, `ln(p(ab) / (p(a)·p(b)))` — the association
    * measure that separates true collocations ("machine learning") from
    * bigrams that co-occur only because both words are common. t13 asks
    * "which bigram dominates WITHIN a document"; this asks "which pairs
    * are bound ACROSS the corpus" — the phrase-mining signal a tokenizer
    * or stopword-phrase list is built from.
    *
    * Scale: both model frames are vocabulary-sized and the min-support
    * filter (n_ab >= 5) lands before the joins. PMI is one
    * ln-of-exact-integers expression with identical term order in both
    * engines; the top-50 ranks on the rounded score with a bigram
    * tiebreak.
    */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.rawShingles
    val docs = t(spark, dir, "documents")
      .select(tokensOrdered(col("text")).as("tk"))
    val uni = docs.select(explode(col("tk")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n_tok"))
    val tt = uni.agg(sum(col("n_tok")).cast("double").as("t_tok"))
    val pairs = docs.select(explode(rawShingles(col("tk"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
    val nbig = pairs.agg(sum(col("n_ab")).cast("double").as("n_big"))
    pairs.filter(col("n_ab") >= 5)
      .join(broadcast(uni.select(col("token").as("ta"), col("n_tok").as("n_a"))),
        substring_index(col("bg"), " ", 1) === col("ta"))
      .join(broadcast(uni.select(col("token").as("tb"), col("n_tok").as("n_b"))),
        substring_index(col("bg"), " ", -1) === col("tb"))
      .crossJoin(broadcast(nbig)).crossJoin(broadcast(tt))
      .select(col("bg").as("bigram"), col("n_ab"), col("n_a"), col("n_b"),
        r6(log(col("n_ab")) - log(col("n_big")) + lit(2.0) * log(col("t_tok"))
          - log(col("n_a")) - log(col("n_b"))).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(50)
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\+[0-9][0-9-]{6,}[0-9]"

  /** PII-style redaction — the scrubbing pass a training pipeline applies
    * before anything leaves the data plane: emails, URLs and phone-shaped
    * tokens are counted and replaced by typed tags. PII literals are
    * INJECTED deterministically by doc_id (the synthetic corpus carries
    * none), same convention as e2's mixed-language column. URLs redact
    * first so an address inside a query string cannot double-count. All
    * three patterns are RE2-safe (no backtracking constructs), so Spark
    * and the DuckDB oracle match byte-for-byte; the redacted text is
    * emitted as an md5 fingerprint to keep the gated output narrow.
    */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    val mixed =
      when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" contact john.doe@example.com")))
      .when(col("doc_id") % 5 === 1,
        concat(col("text"), lit(" visit https://example.com/a?b=1")))
      .when(col("doc_id") % 5 === 2,
        concat(col("text"), lit(" call +1-555-0100")))
      .otherwise(col("text"))
    val redacted =
      regexp_replace(
        regexp_replace(
          regexp_replace(mixed, UrlRe, "<URL>"),
          EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>")
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(mixed, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(mixed, lit(UrlRe), lit(0))).cast("long").as("n_urls"),
        size(regexp_extract_all(mixed, lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        md5(redacted).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** t16 — BM25 retrieval ranking: the top-10 documents for a fixed query
    * under Okapi BM25 (k1=1.2, b=0.75, the Robertson +1 idf), the scoring
    * function behind Lucene/Elasticsearch relevance and the standard
    * lexical leg of corpus search — t12 scores a document's OWN terms;
    * this ranks documents AGAINST a query.
    *
    * Scale: the query-term filter lands right after the explode, so the
    * (doc, term) shuffle carries only |matching docs| x |Q| rows; nothing
    * doc-sized sorts globally.
    *
    * Determinism: tf/df/dl are exact integers, avgdl is an exact-integer
    * sum divided once; the score is ONE rounded double expression ranked
    * with a doc_id tiebreak — both engines rank identically.
    */
  def bm25Rank(spark: SparkSession, dir: String): DataFrame =
    bm25Core(t(spark, dir, "documents"), Seq("spark", "join", "window"))

  /** t16 over an explicit `(doc_id, text)` frame and query — the ranking
    * axioms (tf monotonicity, length normalization, idf rarity) are
    * spec-driven on planted corpora; the gate pins the driver corpus.
    */
  private[graft] def bm25Core(src: DataFrame, query: Seq[String]): DataFrame = {
    import graft.functions.TextFunctions.tokensOrdered
    val docs = src
      .select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    val lens = docs.select(col("doc_id"), size(col("tk")).cast("long").as("dl"),
      col("tk"))
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tfs = lens
      .select(col("doc_id"), col("dl"), explode(col("tk")).as("token"))
      .filter(col("token").isin(query: _*))
      .groupBy("doc_id", "dl", "token")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tfs.groupBy("token").agg(count(col("doc_id")).as("df"))
    bm25Score(tfs.join(broadcast(dfreq), "token").crossJoin(broadcast(stats)))
  }

  /** The ONE BM25 scoring tail — consumed by both the direct-scan path
    * (t16) and the serve-from-index path (t18), so the two rankers share
    * the exact IEEE expression tree and cannot drift by an ulp. Input
    * frame carries (doc_id, dl, token, tf, df, n, avgdl).
    */
  private def bm25Score(tfdf: DataFrame): DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val contrib =
      log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
        (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    tfdf.groupBy("doc_id")
      .agg(round(sum(contrib), 6).as("bm25"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(10)
  }

  /** t17 — inverted-index materialization: the (term → posting list)
    * table a search/retrieval pipeline builds once and serves forever —
    * the precomputed form of the posting slice t16 derives per query.
    *
    * Postings are SHARDED by doc_id range (100 docs per shard at test scale): a
    * web-scale term's posting list is far larger than any sane single
    * row, so the physical layout keys on (token, shard) — bounded rows,
    * parallel build, parallel merge at read time; a term lookup is a
    * (token)-prefix range scan. The build is ONE hash aggregate over the
    * distinct (doc, term) pairs (map-side combine; `sort_array` makes the
    * collected list canonical — collect_list order is otherwise
    * partition-dependent), plus a WindowGroupLimit-free broadcast of
    * nothing: no second pass, no skew (shards bound the hot terms).
    *
    * Gate rule: the driver's checker sorts every output column and cannot
    * sort array cells, so the posting list ships as a ','-joined string —
    * same information, scalar schema. `invertedIndexRaw` keeps the typed
    * array form for in-engine consumers (t18 serves BM25 from it).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    invertedIndexRaw(spark, dir)
      .withColumn("postings",
        array_join(col("postings").cast("array<string>"), ","))

  /** The typed (token, shard) → array<long> posting table — the form a
    * retrieval stage joins against (t18); t17's gate output is this with
    * the list serialized to a scalar for the driver's comparator.
    */
  def invertedIndexRaw(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenSet
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(tokenSet(col("text"))).as("token"))
      .groupBy(col("token"), floor(col("doc_id") / 100).cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .orderBy("token", "shard")
  }

  /** The ranked-retrieval index pair t18 serves from — Lucene's layout in
    * frame form: a FREQUENCY index ((token, shard) → postings of
    * (doc_id, tf) structs — t17's membership index with term frequencies
    * on the postings, same sharding, same one-hash-aggregate build) plus
    * the doc-length "norms" table. Together they carry everything BM25
    * needs: tf on the posting, df = posting count per token, dl from the
    * norms table, N/avgdl from one 1-row aggregate of it.
    */
  private[graft] def freqIndexFrames(src: DataFrame): (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions.tokensOrdered
    val docs = src.select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    // Scope-persist the doc-length table: t18 consumes it twice (the
    // N/avgdl stats aggregate and the score-join spine), and each consumer
    // otherwise re-reads parquet and re-tokenizes the corpus just to take
    // size(tk). The cached frame is two longs per doc (d10/dq3's
    // narrow-frame trick), not a wide tokenized projection.
    val docLens = graft.engine.Caching.scopedPersist(
      docs.select(col("doc_id"), size(col("tk")).cast("long").as("dl")))
    val index = docs
      .select(col("doc_id"), explode(col("tk")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .groupBy(col("token"),
        floor(col("doc_id") / 100).cast("long").as("shard"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
        .as("postings"))
    (index, docLens)
  }

  /** t18 — BM25 served FROM the materialized index (the retrieval half of
    * the t17 build/serve story): the query's terms select their posting
    * rows out of the frequency index, tf rides the postings, df is the
    * slice's per-token posting count, and dl/N/avgdl come from the
    * doc-length table — then the SAME [[bm25Score]] tail as t16 ranks.
    * TextAnalysisSpec pins t16 ≡ t18 row-for-row; the gate pins the
    * driver corpus against t16's oracle (identical output contract).
    *
    * Scale: the index-side filter selects |Q| token groups and the
    * |Q|-bounded slice is broadcast, so serving cost is
    * posting-slice-sized end to end.
    */
  def bm25FromIndex(spark: SparkSession, dir: String): DataFrame = {
    val (index, docLens) = freqIndexFrames(t(spark, dir, "documents"))
    val query = Seq("spark", "join", "window")
    val slice = index.filter(col("token").isin(query: _*))
      .select(col("token"), explode(col("postings")).as("p"))
      .select(col("token"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val dfreq = slice.groupBy("token").agg(count(lit(1)).as("df"))
    val stats = docLens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    bm25Score(
      docLens.join(broadcast(slice.join(broadcast(dfreq), "token")), "doc_id")
        .crossJoin(broadcast(stats)))
  }

  /** t24 — Heaps'-law vocabulary growth: the empirical V = K·N^β curve
    * (type count vs corpus size) sampled at 10 corpus prefixes, with the
    * log-log OLS fit (β, K) attached — t14's Zipf fit measures the
    * frequency DISTRIBUTION, this measures vocabulary GROWTH, and
    * together they are the two classic laws a corpus-health audit checks
    * (β near 0 flags a closed template vocabulary; a tokenizer-budget
    * planner reads V(N) off this curve directly). Types here are word
    * TRIGRAMS: the driver corpus draws from a ~31-word pool, so unigram
    * and bigram spaces saturate inside the first prefix (β ≡ 0 — the
    * degenerate readout the operator exists to flag); the trigram space
    * is where this corpus actually grows (β ≈ 0.8 at sf0.01), and the
    * n-gram order is the natural parameter of the operator.
    *
    * Scale: one tokenize pass; each type records its first prefix bucket
    * and both curves are cumulative sums over the 10-row bucket frame.
    * Prefix buckets derive from doc_id against a broadcast max, so no
    * global sort anywhere.
    */
  def heapsFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val m = docs.agg((max(col("doc_id")) + 1).as("m"))
    val tok = graft.engine.Caching.scopedPersist(
      docs.join(broadcast(m))
        .select(expr("least(10L, (doc_id * 10) div m + 1)").as("bucket"),
          tokensOrdered(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("bucket"), explode(expr(
          "transform(sequence(1, size(tk) - 2), i -> concat(" +
            "element_at(tk, i), ' ', element_at(tk, i + 1), ' ', " +
            "element_at(tk, i + 2)))")).as("token")))
    val nb = tok.groupBy("bucket").agg(count(lit(1)).as("nb"))
    val vb = tok.groupBy("token").agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("vb"))
    val wc = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // 10-row frame: the empty-partition window is over buckets (d5's
    // count-frame convention), as is the crossJoin with the 1-row fit
    val curve = graft.engine.Caching.scopedPersist(
      nb.join(vb, Seq("bucket"), "left")
        .select(col("bucket"),
          sum(col("nb")).over(wc).as("n_tokens"),
          sum(coalesce(col("vb"), lit(0L))).over(wc).as("vocab")))
    val fit = curve.agg(
      expr("regr_slope(ln(vocab), ln(n_tokens))").as("beta"),
      expr("regr_intercept(ln(vocab), ln(n_tokens))").as("alpha"))
    curve.crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_tokens"), col("vocab"),
        r6(col("beta")).as("beta"),
        r6(exp(col("alpha"))).as("k_const"))
      .orderBy("bucket")
  }

  /** t25 — language-ID confusion matrix: the heuristic detector's
    * verdicts cross-tabulated against the corpus's DECLARED `lang`
    * labels, with per-cell share of the declared language — the
    * evaluation readout that turns "we have a language detector" into
    * "here is its accuracy by class" (the diagonal is per-language
    * recall; off-diagonal mass says which languages it confuses).
    * One scan, scan-local detection (the same expression tree t4/pipe2
    * gate), one hash aggregate onto the |langs|² frame.
    */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = t(spark, dir, "documents")
      .select(col("lang").as("declared"), langId(col("text")).as("detected"))
      .groupBy("declared", "detected").agg(count(lit(1)).as("n"))
    cells.select(col("declared"), col("detected"), col("n"),
        r6(col("n") / sum(col("n"))
          .over(Window.partitionBy("declared"))).as("share_of_declared"))
      .orderBy("declared", "detected")
  }

  /** t26 — first-occurrence n-gram novelty: per document, the share of
    * its DISTINCT word bigrams whose first appearance (minimum doc_id)
    * is this document — high novelty marks genuinely new content, low
    * novelty marks documents assembled from already-seen phrasing (the
    * corpus-relative complement of t5's within-doc repetition; the dd8
    * span-contamination signal read as a per-doc score). Documents with
    * fewer than two tokens carry zero bigrams and a null novelty.
    *
    * Scale: one explode into the distinct (doc, shingle) domain and a
    * `min(doc_id)` window partitioned by shingle; no corpus self-join.
    *
    * Width-pinned: on a single-row-group corpus the
    * tokenize+shingle+explode chain would otherwise run as one task.
    */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.rawShingles
    import org.apache.spark.sql.expressions.Window
    val docs = tWide(spark, dir, "documents")
      .select(col("doc_id"), tokensOrdered(col("text")).as("tk"))
    val ds = docs.select(col("doc_id"),
      explode(array_distinct(rawShingles(col("tk")))).as("s"))
    val per = ds
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy("s")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(col("n_novel").cast("double") / col("n_bigrams"), 6)
          .as("novelty"))
      .orderBy("doc_id")
  }

  /** t27 — Gopher-style rule-based quality gate (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1): the battery of cheap
    * structural document rules a pre-training pipeline runs BEFORE any
    * model-based scoring — word count in [50, 100k], mean word length in
    * [3, 10], ≥80% of words containing an alphabetic character, and at
    * least 2 distinct English stopword hits (the "is this prose at all"
    * test). Emits every rule's measurement plus the per-rule booleans and
    * the conjunctive verdict, so downstream can audit WHICH rule killed a
    * document — the reason-tagged output all production filters keep.
    * Complements t4's weighted quality SCORE with hard REJECTION rules.
    *
    * Determinism: mean word length and the alpha fraction are exact
    * rationals of integers (identical IEEE division on both engines);
    * thresholds compare the 6-ROUNDED values (dq3's convention).
    *
    * Scale: pure per-row projection — no shuffle except the output sort.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherRulesCore(tWide(spark, dir, "documents"))

  /** t27 over an explicit `(doc_id, text)` frame — TextAnalysisSpec
    * plants one violator per rule and one passer.
    */
  private[graft] def gopherRulesCore(documents: DataFrame): DataFrame = {
    import graft.functions.TextFunctions.{stopwordHits, EnStop}
    val words = split(trim(col("text")), "\\s+")
    val nWords = tokenCount(col("text"))
    val sumLen = aggregate(words, lit(0L), (a, w) => a + length(w))
    val nAlpha = size(filter(words,
      w => length(regexp_replace(w, "[^A-Za-z]", "")) > 0)).cast("long")
    documents
      .select(col("doc_id"), nWords.as("n_words"),
        when(nWords > 0, round(sumLen.cast("double") / nWords, 6))
          .as("mean_word_len"),
        when(nWords > 0, round(nAlpha.cast("double") / nWords, 6))
          .as("alpha_word_frac"),
        stopwordHits(col("text"), EnStop).as("stopword_hits"))
      .withColumn("words_ok",
        col("n_words") >= 50 && col("n_words") <= 100000)
      .withColumn("word_len_ok",
        coalesce(col("mean_word_len") >= 3.0 &&
          col("mean_word_len") <= 10.0, lit(false)))
      .withColumn("alpha_ok",
        coalesce(col("alpha_word_frac") >= 0.8, lit(false)))
      .withColumn("stop_ok", col("stopword_hits") >= 2)
      .withColumn("passes",
        col("words_ok") && col("word_len_ok") && col("alpha_ok") &&
          col("stop_ok"))
      .orderBy("doc_id")
  }

  /** t28 — out-of-vocabulary rate per document against the corpus's own
    * top-K token vocabulary (K = 16): the tokenizer-coverage audit run
    * before committing to a fixed vocab — a document whose tokens
    * mostly fall outside the head vocabulary will shatter into
    * fallback/byte tokens and blow up its training token budget (the same
    * readout HuggingFace's tokenizer analysis reports as unk-rate).
    * K is deliberately tiny relative to this corpus so the rate is
    * non-degenerate at every sf.
    *
    * Scale: one token explode feeds both sides (the vocab is a K-row
    * TakeOrdered broadcast back); the corpus is scanned once, never
    * self-joined.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame =
    oovRateCore(t(spark, dir, "documents"))

  /** t28 over an explicit `(doc_id, text)` frame — TextAnalysisSpec
    * shrinks K's effect by planting a head token and a one-off token:
    * the one-off must count as OOV, the head must not, an empty doc is
    * null-rated.
    */
  private[graft] def oovRateCore(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(tokensOrdered(col("text"))).as("token"))
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token"))
      .limit(16)
      .select(col("token"), lit(true).as("in_vocab"))
    val flagged = tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
    documents.select(col("doc_id"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** t29 — classic readability scores: Flesch Reading Ease
    * `206.835 − 1.015·(W/S) − 84.6·(Y/W)` and the Flesch–Kincaid grade
    * `0.39·(W/S) + 11.8·(Y/W) − 15.59` (Kincaid et al. 1975) — the
    * oldest quality features in every text-curation stack, still a
    * strong cheap prior next to t4's ratio score and t27's hard rules.
    * Deterministic proxies: sentences = non-blank `[.!?]+` segments,
    * syllables = vowel-group runs `[aeiouy]+` (the standard heuristic;
    * exact hyphenation is dictionary-bound and non-portable).
    *
    * Scale: pure per-row projection; zero-word or zero-sentence docs null
    * through (nullif-guarded divisors on both engines).
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityCore(t(spark, dir, "documents"))

  /** t29 over an explicit `(doc_id, text)` frame — TextAnalysisSpec pins
    * hand-counted W/S/Y on punctuated prose and the monosyllabic-easier
    * direction.
    */
  private[graft] def readabilityCore(documents: DataFrame): DataFrame = {
    val words = tokenCount(col("text"))
    val sentences = size(filter(split(col("text"), "[.!?]+"),
      s => length(trim(s)) > 0)).cast("long")
    val syllables = size(filter(split(lower(col("text")), "[^aeiouy]+"),
      s => length(s) > 0)).cast("long")
    val w = col("n_words").cast("double")
    val s = when(col("n_sentences") =!= 0L, col("n_sentences").cast("double"))
    val y = col("n_syllables").cast("double")
    val wNz = when(col("n_words") =!= 0L, w)
    documents
      .select(col("doc_id"), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (round(lit(206.835) - lit(1.015) * (w / s) - lit(84.6) * (y / wNz), 6)
          + lit(0)).as("flesch_ease"),
        (round(lit(0.39) * (w / s) + lit(11.8) * (y / wNz) - lit(15.59), 6)
          + lit(0)).as("fk_grade"))
      .orderBy("doc_id")
  }

  /** t30 — corpus-level boilerplate detection: a 5-token shingle is
    * BOILERPLATE when it recurs in ≥ 3 distinct documents (the C4
    * repeated-line rule lifted to n-grams — nav chrome, license
    * headers, templated intros), and each document reports what
    * fraction of its distinct shingles are boilerplate — the signal a
    * curation pass uses to strip or down-weight templated text.
    * Within-corpus complement to dd8's cross-corpus span contamination.
    *
    * Scale: document frequency is `count(*)` over a window partitioned by
    * shingle hash, so the scan+tokenize+shingle chain runs once and no
    * aggregate is joined back.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame =
    boilerplateCore(tWide(spark, dir, "documents"))

  /** t30 over an explicit `(doc_id, text)` frame — TextAnalysisSpec
    * plants one 5-gram shared by 3 docs (boilerplate) against a 2-doc
    * one (not), and a short doc with no shingles at all.
    */
  private[graft] def boilerplateCore(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = documents
      .select(col("doc_id"), explode(graft.functions.CorpusKernels.kgramMd5(
        tokensOrdered(col("text")), 5)).as("h"))
      .distinct()
    val per = sh.withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6)
          .as("boilerplate_rate"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t30_boilerplate" -> boilerplate,
    "t29_readability" -> readability,
    "t28_oov_rate" -> oovRate,
    "t27_gopher_rules" -> gopherRules,
    "t26_ngram_novelty" -> ngramNovelty,
    "t25_langid_confusion" -> langidConfusion,
    "t24_heaps_fit" -> heapsFit,
    "t16_bm25_rank" -> bm25Rank,
    "t17_inverted_index" -> invertedIndex,
    "t18_bm25_from_index" -> bm25FromIndex,
    "t19_pmi_collocations" -> pmiCollocations,
    "t1_text_profile" -> profile,
    "t2_quality_bands" -> qualityBands,
    "t3_fingerprints" -> fingerprints,
    "t4_quality_filter" -> qualityFilter,
    "t5_repetition" -> repetition,
    "t6_vocab_topk" -> vocabulary,
    "t14_zipf" -> zipf,
    "t20_lexical_diversity" -> lexicalDiversity,
    "t15_bpe_step" -> bpeStep,
    "t21_bpe_train" -> bpeTrain,
    "t22_bpe_encode" -> bpeEncode,
    "t31_fertility" -> fertility,
    "t7_redact" -> redact,
    "t8_lm_surprise" -> lmSurprise,
    "t23_perplexity_filter" -> perplexityFilter,
    "t9_chunks" -> chunks,
    "t10_packing" -> packing,
    "t11_bpe_merge_pairs" -> bpeMergePairs,
    "t12_tfidf_keywords" -> tfidfKeywords,
    "t13_top_bigram" -> topBigram
  )

  // Shared SQL fragments for the oracle (DuckDB dialect), mirroring
  // TextFunctions exactly.
  private[graft] val sqlTokens =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')"
  private def sqlTokenSet(c: String) =
    s"list_distinct(list_filter(regexp_split_to_array(lower($c), '[^a-z]+'), x -> x <> ''))"
  private def sqlHits(c: String, words: Seq[String]) =
    s"len(list_intersect(${sqlTokenSet(c)}, [${words.map("'" + _ + "'").mkString(",")}]))"
  /** The packing oracle tail over a CTE exposing (doc_id, n, shard) —
    * shared by t10 and pipe3 exactly like [[packManifest]] on the Spark
    * side.
    */
  private[graft] def sqlPackTail(tk: String): String =
    s""" pck AS (
       |  SELECT doc_id, n, shard,
       |    CAST(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
       |  FROM $tk WHERE n > 0),
       | pex AS (
       |  SELECT shard, doc_id, tok_end - n AS tok_start, n, tok_end,
       |    unnest(range((tok_end - n) // $PackTokens,
       |      (tok_end - 1) // $PackTokens + 1)) AS seq_id
       |  FROM pck)
       |SELECT CAST(shard AS BIGINT) AS shard, CAST(seq_id AS BIGINT) AS seq_id,
       |  doc_id,
       |  CAST(greatest(seq_id * $PackTokens, tok_start)
       |    - seq_id * $PackTokens AS BIGINT) AS offset_in_seq,
       |  CAST(least((seq_id + 1) * $PackTokens, tok_start + n)
       |    - greatest(seq_id * $PackTokens, tok_start) AS BIGINT) AS n_tokens
       |FROM pex
       |ORDER BY shard, seq_id, doc_id""".stripMargin

  private[graft] def sqlTokenCount(c: String) =
    s"CASE WHEN length(trim($c)) = 0 THEN 0 ELSE CAST(length(regexp_split_to_array(trim($c), '\\s+')) AS BIGINT) END"
  private def sqlBpe(c: String) =
    s"CAST(len(regexp_extract_all($c, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)"
  private def sqlAlpha(c: String) =
    s"CASE WHEN length($c) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($c, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length($c) END"
  private def sqlPunct(c: String) =
    s"""CASE WHEN length($c) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($c, '[^.,;:!?''"()-]', '', 'g')) AS DOUBLE) / length($c) END"""
  private def sqlStopRatio(c: String) = {
    val toks = s"list_filter(regexp_split_to_array(lower($c), '[^a-z]+'), x -> x <> '')"
    val stop = graft.functions.TextFunctions.EnStop.map("'" + _ + "'").mkString(",")
    s"CASE WHEN len($toks) = 0 THEN 0.0 ELSE CAST(len(list_filter($toks, x -> list_contains([$stop], x))) AS DOUBLE) / len($toks) END"
  }
  private[graft] def sqlQuality(c: String) = {
    val en = graft.functions.TextFunctions.EnStop
    s"""round(${sqlAlpha(c)} * 0.4 + least(length($c) / 200.0, 1.0) * 0.3 +
       | least(${sqlHits(c, en)} / 4.0, 1.0) * 0.2 +
       | (1.0 - least(${sqlPunct(c)} * 5.0, 1.0)) * 0.1, 6)""".stripMargin
  }
  private[graft] def sqlLangId(c: String) = {
    import graft.functions.TextFunctions._
    val (en, de, es, fr) =
      (sqlHits(c, EnStop), sqlHits(c, DeStop), sqlHits(c, EsStop), sqlHits(c, FrStop))
    s"""CASE WHEN greatest($en, $de, $es, $fr) = 0 THEN 'und'
       | WHEN $en >= $de AND $en >= $es AND $en >= $fr THEN 'en'
       | WHEN $de >= $es AND $de >= $fr THEN 'de'
       | WHEN $es >= $fr THEN 'es' ELSE 'fr' END""".stripMargin
  }
  private[graft] def sqlFp(c: String) =
    s"md5(regexp_replace(lower(trim($c)), '\\s+', ' ', 'g'))"

  /** t8's add-one-smoothed bigram-LM scoring chain (tk → bi → counts →
    * model → per-doc agg), shared by the t8 and t23 oracles so the band
    * filter cannot drift from the score it filters.
    */
  private val sqlSurpriseCtes =
    """tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
      |  FROM documents),
      | bi AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> list_element(t, i) || ' ' || list_element(t, i + 1))) AS bg
      |  FROM tk WHERE len(t) >= 2),
      | c2 AS (SELECT bg, count(*) AS c2 FROM bi GROUP BY bg),
      | c1 AS (
      |  SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1),
      | v AS (
      |  SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(t) AS w FROM tk)),
      | model AS (
      |  SELECT bg, -ln((c2.c2 + 1)::DOUBLE / (c1.c1 + (SELECT v FROM v))) AS nll
      |  FROM c2 JOIN c1 ON split_part(c2.bg, ' ', 1) = c1.w1),
      | agg AS (
      |  SELECT doc_id, round(avg(nll), 4) AS avg_surprise, count(*) AS n_bigrams
      |  FROM bi JOIN model USING (bg)
      |  GROUP BY doc_id)""".stripMargin

  /** [[tokenStream]]+[[pairCounts]]'s DuckDB twin — the tok/pairs CTE
    * chain shared by the t11 and t15 oracles.
    */
  /** t21's oracle, GENERATED for k steps — the same unrolled
    * elect→merge→recount chain the Spark loop builds, so the two can
    * only drift if the shared structure does. Step-i CTEs: cnt (raw
    * symbol-pair counts), un (1-row accumulated unit table), lab
    * (decoded labels), top (elected winner), toks (re-segmented corpus).
    */
  private def sqlBpeTrain(k: Int): String =
    sqlBpeTrainChain(k) + "\nSELECT * FROM (\n" +
      (0 until k).map(i =>
        s"  SELECT CAST($i AS BIGINT) AS step, pair, unit, n AS n_occurrences FROM top$i")
        .mkString("\n  UNION ALL\n") +
      ")\nORDER BY step"

  /** t22's oracle: the SAME generated training chain, then the merges
    * applied (nested scalar-subquery replaces, step order) over the
    * distinct-token frame and summed per document.
    */
  /** The shared t22/t31 oracle mid-chain: the train CTEs plus the
    * occurrence, vocab-encode and per-doc `agg` CTEs ([[bpeDocUnits]]'s
    * mirror — one template, two schemes).
    */
  private def sqlBpeDocUnits(k: Int): String = {
    val enc = (0 until k).foldLeft("tok")((e, i) =>
      s"replace($e, (SELECT rp FROM top$i), '$i')")
    sqlBpeTrainChain(k) +
      s""",
         | occ AS (SELECT doc_id, unnest($sqlTokens) AS tok FROM documents),
         | venc AS (
         |  SELECT tok AS vt, CAST(length($enc) AS BIGINT) AS units
         |  FROM (SELECT DISTINCT tok FROM occ)),
         | agg AS (
         |  SELECT occ.doc_id, count(*) AS n_tokens,
         |    CAST(sum(length(occ.tok)) AS BIGINT) AS n_chars,
         |    CAST(sum(units) AS BIGINT) AS n_units
         |  FROM occ JOIN venc ON occ.tok = vt GROUP BY 1)""".stripMargin
  }

  private def sqlBpeEncode(k: Int): String = {
    sqlBpeDocUnits(k) +
      s"""
         |SELECT d.doc_id,
         |  CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(agg.n_chars, 0) AS BIGINT) AS n_chars,
         |  CAST(coalesce(agg.n_units, 0) AS BIGINT) AS n_units,
         |  CASE WHEN coalesce(agg.n_chars, 0) > 0
         |    THEN round(CAST(agg.n_units AS DOUBLE) / agg.n_chars, 6)
         |    END AS compression
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  }

  /** The shared t21/t22 CTE chain: tokenize, then k unrolled
    * elect→merge→recount steps exposing `top0..top{k-1}` (rp, pair,
    * unit, n).
    */
  private def sqlBpeTrainChain(k: Int): String = {
    def dec(i: Int, s: String): String =
      if (i == 0) s
      else s"(CASE $s" +
        (0 until i).map(j => s" WHEN '$j' THEN u$j").mkString +
        s" ELSE $s END)"
    val sb = new StringBuilder(
      s"""WITH tok AS (
         |  SELECT unnest($sqlTokens) AS token FROM documents),
         | toks0 AS (SELECT token AS t FROM tok WHERE length(token) >= 2)""".stripMargin)
    for (i <- 0 until k) {
      val d1 = dec(i, "substr(rp, 1, 1)")
      val d2 = dec(i, "substr(rp, 2, 1)")
      sb ++= s""",
         | cnt$i AS (
         |  SELECT rp, count(*) AS n FROM (
         |    SELECT unnest(list_transform(range(1, length(t)),
         |      p -> substr(t, CAST(p AS INTEGER), 2))) AS rp
         |    FROM toks$i) GROUP BY rp)""".stripMargin
      if (i > 0)
        sb ++= s",\n un$i AS (SELECT " +
          (0 until i).map(j => s"(SELECT unit FROM top$j) AS u$j")
            .mkString(", ") + ")"
      sb ++= s""",
         | lab$i AS (
         |  SELECT rp, n, $d1 || '+' || $d2 AS pair, $d1 || $d2 AS unit
         |  FROM cnt$i${if (i > 0) s" CROSS JOIN un$i" else ""}),
         | top$i AS (
         |  SELECT rp, pair, unit, n FROM lab$i ORDER BY n DESC, pair LIMIT 1)""".stripMargin
      if (i < k - 1)
        sb ++= s""",
           | toks${i + 1} AS (
           |  SELECT t FROM (
           |    SELECT replace(t, (SELECT rp FROM top$i), '$i') AS t FROM toks$i)
           |  WHERE length(t) >= 2)""".stripMargin
    }
    sb.toString
  }

  private def sqlBpePairCtes: String =
    s"""tok AS (
       |  SELECT unnest($sqlTokens) AS token FROM documents),
       | pairs AS (
       |  SELECT unnest(list_transform(range(1, length(token)),
       |    i -> substr(token, CAST(i AS INTEGER), 2))) AS pair
       |  FROM tok WHERE length(token) >= 2)""".stripMargin

  /** The direct-scan BM25 top-10 — shared by t16 and t18 (one output
    * contract, two Spark plans: scan vs serve-from-index).
    */
  private lazy val sqlBm25TopTen =
    s"""WITH tk AS (
       |  SELECT doc_id, $sqlTokens AS t FROM documents),
       | lens AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM tk),
       | stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM lens),
       | tfs AS (
       |  SELECT doc_id, dl, token, count(*) AS tf FROM (
       |    SELECT doc_id, dl, unnest(t) AS token FROM lens)
       |  WHERE token IN ('spark', 'join', 'window')
       |  GROUP BY doc_id, dl, token),
       | dfreq AS (SELECT token, count(doc_id) AS df FROM tfs GROUP BY token)
       |SELECT doc_id,
       |  round(sum(
       |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * (1.2 + 1)) /
       |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25,
       |  count(*) AS n_terms_matched
       |FROM tfs JOIN dfreq USING (token) CROSS JOIN stats
       |GROUP BY doc_id
       |ORDER BY bm25 DESC, doc_id
       |LIMIT 10""".stripMargin

  val oracle: Map[String, String] = Map(
    "t30_boilerplate" ->
      s"""WITH tk AS (
         |  SELECT doc_id, $sqlTokens AS t FROM documents),
         | sh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, len(t) - 3),
         |    i -> md5(array_to_string(list_slice(t, i, i + 4), ' ')))))
         |    AS h
         |  FROM tk WHERE len(t) >= 5),
         | freq AS (
         |  SELECT h FROM sh GROUP BY h HAVING count(*) >= 3),
         | per AS (
         |  SELECT doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN f.h IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boiler
         |  FROM sh LEFT JOIN freq f USING (h)
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_shingles, 0) AS n_shingles,
         |  coalesce(p.n_boiler, 0) AS n_boiler,
         |  round(p.n_boiler::DOUBLE / p.n_shingles, 6) AS boilerplate_rate
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "t28_oov_rate" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         | vocab AS (
         |  SELECT token FROM tok GROUP BY token
         |  ORDER BY count(*) DESC, token LIMIT 16),
         | per AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_oov
         |  FROM tok LEFT JOIN vocab v USING (token)
         |  GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_tokens, 0) AS n_tokens,
         |  coalesce(p.n_oov, 0) AS n_oov,
         |  round(p.n_oov::DOUBLE / p.n_tokens, 6) AS oov_rate
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "t29_readability" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    ${sqlTokenCount("text")} AS n_words,
         |    CAST(len(list_filter(
         |      regexp_split_to_array(text, '[.!?]+'),
         |      x -> length(trim(x)) > 0)) AS BIGINT) AS n_sentences,
         |    CAST(len(list_filter(
         |      regexp_split_to_array(lower(text), '[^aeiouy]+'),
         |      x -> length(x) > 0)) AS BIGINT) AS n_syllables
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  round(206.835
         |    - 1.015 * (n_words::DOUBLE / nullif(n_sentences, 0))
         |    - 84.6 * (n_syllables::DOUBLE / nullif(n_words, 0)), 6) + 0
         |    AS flesch_ease,
         |  round(0.39 * (n_words::DOUBLE / nullif(n_sentences, 0))
         |    + 11.8 * (n_syllables::DOUBLE / nullif(n_words, 0))
         |    - 15.59, 6) + 0 AS fk_grade
         |FROM m
         |ORDER BY doc_id""".stripMargin,
    "t27_gopher_rules" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(trim(text), '\\s+') AS words,
         |    ${sqlTokenCount("text")} AS n_words,
         |    ${sqlHits("text", graft.functions.TextFunctions.EnStop)}
         |      AS hits
         |  FROM documents),
         | m AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0 THEN round(
         |      list_sum(list_transform(words, x -> length(x)))::DOUBLE
         |        / n_words, 6) END AS mean_word_len,
         |    CASE WHEN n_words > 0 THEN round(
         |      len(list_filter(words,
         |        x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
         |        / n_words, 6) END AS alpha_word_frac,
         |    CAST(hits AS BIGINT) AS stopword_hits
         |  FROM w)
         |SELECT doc_id, n_words, mean_word_len, alpha_word_frac,
         |  stopword_hits,
         |  n_words >= 50 AND n_words <= 100000 AS words_ok,
         |  coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
         |    false) AS word_len_ok,
         |  coalesce(alpha_word_frac >= 0.8, false) AS alpha_ok,
         |  stopword_hits >= 2 AS stop_ok,
         |  (n_words >= 50 AND n_words <= 100000)
         |    AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
         |      false)
         |    AND coalesce(alpha_word_frac >= 0.8, false)
         |    AND stopword_hits >= 2 AS passes
         |FROM m
         |ORDER BY doc_id""".stripMargin,
    "t26_ngram_novelty" ->
      s"""WITH tk AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         | ds AS (
         |  SELECT DISTINCT doc_id, s FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |      i -> list_element(t, i) || ' ' || list_element(t, i + 1)))
         |      AS s
         |    FROM tk WHERE len(t) >= 2)),
         | firsts AS (SELECT s, min(doc_id) AS first_doc FROM ds GROUP BY s),
         | per AS (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_novel
         |  FROM ds JOIN firsts USING (s) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(p.n_bigrams, 0) AS n_bigrams,
         |  coalesce(p.n_novel, 0) AS n_novel,
         |  round(p.n_novel / CAST(p.n_bigrams AS DOUBLE), 6) AS novelty
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "t25_langid_confusion" ->
      s"""WITH cells AS (
         |  SELECT lang AS declared, ${sqlLangId("text")} AS detected,
         |    count(*) AS n
         |  FROM documents GROUP BY 1, 2)
         |SELECT declared, detected, n,
         |  round(n / CAST(sum(n) OVER (PARTITION BY declared) AS DOUBLE),
         |    6) AS share_of_declared
         |FROM cells
         |ORDER BY declared, detected""".stripMargin,
    "t24_heaps_fit" ->
      s"""WITH m AS (SELECT max(doc_id) + 1 AS m FROM documents),
         | tk AS (SELECT doc_id, $sqlTokens AS t FROM documents),
         | tok AS (
         |  SELECT least(10, (doc_id * 10) // (SELECT m FROM m) + 1) AS bucket,
         |    unnest(list_transform(range(1, len(t) - 1),
         |      i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS token
         |  FROM tk WHERE len(t) >= 3),
         | nb AS (SELECT bucket, count(*) AS nb FROM tok GROUP BY bucket),
         | vb AS (
         |  SELECT bucket, count(*) AS vb FROM (
         |    SELECT token, min(bucket) AS bucket FROM tok GROUP BY token)
         |  GROUP BY bucket),
         | curve AS (
         |  SELECT nb.bucket,
         |    CAST(sum(nb.nb) OVER (ORDER BY nb.bucket) AS BIGINT)
         |      AS n_tokens,
         |    CAST(sum(coalesce(vb.vb, 0)) OVER (ORDER BY nb.bucket)
         |      AS BIGINT) AS vocab
         |  FROM nb LEFT JOIN vb ON nb.bucket = vb.bucket),
         | fit AS (
         |  SELECT regr_slope(ln(vocab), ln(n_tokens)) AS beta,
         |    regr_intercept(ln(vocab), ln(n_tokens)) AS alpha
         |  FROM curve)
         |SELECT bucket, n_tokens, vocab,
         |  round(beta, 6) AS beta, round(exp(alpha), 6) AS k_const
         |FROM curve, fit
         |ORDER BY bucket""".stripMargin,
    "t1_text_profile" ->
      s"""SELECT doc_id,
         |  ${sqlTokenCount("text")} AS n_tokens,
         |  ${sqlBpe("text")} AS n_bpe_tokens,
         |  round(${sqlAlpha("text")}, 6) AS alpha_ratio,
         |  round(${sqlPunct("text")}, 6) AS punct_ratio,
         |  round(${sqlStopRatio("text")}, 6) AS stopword_ratio,
         |  ${sqlQuality("text")} AS quality,
         |  ${sqlLangId("text")} AS lang_detected,
         |  ${sqlFp("text")} AS fp
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "t3_fingerprints" ->
      s"""WITH tk AS (
         |  SELECT doc_id, ${sqlFp("text")} AS fp_doc,
         |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
         |  FROM documents),
         | sh AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(t)),
         |      i -> list_element(t, i) || ' ' || list_element(t, i + 1))) AS s
         |  FROM tk WHERE len(t) >= 2),
         | ms AS (
         |  SELECT doc_id, min(substr(md5(s), 1, 16)) AS fp_shingle
         |  FROM sh GROUP BY doc_id)
         |SELECT tk.doc_id, tk.fp_doc, ms.fp_shingle
         |FROM tk LEFT JOIN ms ON tk.doc_id = ms.doc_id
         |ORDER BY tk.doc_id""".stripMargin,
    "t4_quality_filter" ->
      s"""SELECT doc_id, ${sqlQuality("text")} AS quality,
         |  ${sqlLangId("text")} AS lang_detected
         |FROM documents
         |WHERE ${sqlQuality("text")} >= 0.7 AND ${sqlLangId("text")} = 'en'
         |ORDER BY doc_id""".stripMargin,
    "t5_repetition" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '') AS t
        |  FROM documents)
        |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
        |  round(CASE WHEN len(t) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) END, 6) AS repetition
        |FROM tk
        |ORDER BY doc_id""".stripMargin,
    "t14_zipf" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |    x -> x <> '')) AS token
        |  FROM documents),
        | freqs AS (SELECT token, count(*) AS freq FROM tok GROUP BY token),
        | ranked AS (
        |  SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, token) AS rank
        |  FROM freqs)
        |SELECT round(regr_slope(ln(freq), ln(rank)), 6) + 0 AS zipf_slope,
        |  round(corr(ln(freq), ln(rank)), 6) + 0 AS zipf_corr,
        |  count(*) AS n_types,
        |  CAST(sum(freq) AS BIGINT) AS n_tokens
        |FROM ranked""".stripMargin,
    "t20_lexical_diversity" ->
      """WITH tok AS (
        |  SELECT source,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS token
        |  FROM documents),
        | pt AS (SELECT source, token, count(*) AS freq
        |  FROM tok GROUP BY 1, 2)
        |SELECT source,
        |  CAST(sum(freq) AS BIGINT) AS n_tokens,
        |  count(*) AS n_types,
        |  count(CASE WHEN freq = 1 THEN 1 END) AS n_hapax,
        |  round(count(*) * 1.0 / sum(freq), 6) AS ttr,
        |  round(count(CASE WHEN freq = 1 THEN 1 END) * 1.0 / count(*), 6)
        |    AS hapax_share
        |FROM pt
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    "t6_vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS token
        |  FROM documents)
        |SELECT token, count(*) AS n_occurrences,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token
        |LIMIT 50""".stripMargin,
    "t7_redact" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' contact john.doe@example.com'
         |         WHEN doc_id % 5 = 1 THEN text || ' visit https://example.com/a?b=1'
         |         WHEN doc_id % 5 = 2 THEN text || ' call +1-555-0100'
         |         ELSE text END AS v
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(v, '$EmailRe')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(v, '$UrlRe')) AS BIGINT) AS n_urls,
         |  CAST(len(regexp_extract_all(v, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(v,
         |    '$UrlRe', '<URL>', 'g'),
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g')) AS redacted_fp
         |FROM m
         |ORDER BY doc_id""".stripMargin,
    "t8_lm_surprise" ->
      s"""WITH $sqlSurpriseCtes
        |SELECT tk.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams, agg.avg_surprise
        |FROM tk LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "t23_perplexity_filter" ->
      s"""WITH $sqlSurpriseCtes,
        | s AS (
        |  SELECT doc_id, avg_surprise FROM agg WHERE n_bigrams > 0),
        | cuts AS (
        |  SELECT round(quantile_cont(avg_surprise, 0.10), 4) AS lo_cut,
        |    round(quantile_cont(avg_surprise, 0.90), 4) AS hi_cut
        |  FROM s)
        |SELECT doc_id, avg_surprise,
        |  CASE WHEN avg_surprise < lo_cut THEN 'low'
        |       WHEN avg_surprise > hi_cut THEN 'high'
        |       ELSE 'mid' END AS band,
        |  avg_surprise >= lo_cut AND avg_surprise <= hi_cut AS kept
        |FROM s, cuts
        |ORDER BY doc_id""".stripMargin,
    "t9_chunks" ->
      s"""WITH tk AS (
         |  SELECT doc_id, ${sqlTokenCount("text")} AS n FROM documents),
         | ch AS (
         |  SELECT doc_id, n, unnest(range(0, n, $ChunkTokens)) AS start_token
         |  FROM tk WHERE n > 0)
         |SELECT doc_id,
         |  CAST(start_token // $ChunkTokens AS BIGINT) AS chunk_id,
         |  CAST(start_token AS BIGINT) AS start_token,
         |  CAST(least($ChunkTokens, n - start_token) AS BIGINT) AS n_tokens
         |FROM ch
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "t10_packing" ->
      (s"""WITH tk AS (
         |  SELECT doc_id, ${sqlTokenCount("text")} AS n, doc_id % $PackShards AS shard
         |  FROM documents),
         |""".stripMargin + sqlPackTail("tk")),
    "t21_bpe_train" -> sqlBpeTrain(BpeTrainSteps),
    "t22_bpe_encode" -> sqlBpeEncode(BpeTrainSteps),
    "t31_fertility" -> (sqlBpeDocUnits(BpeTrainSteps) +
      """,
        | pd AS (
        |  SELECT d.lang,
        |    coalesce(agg.n_tokens, 0) AS n_tokens,
        |    coalesce(agg.n_chars, 0) AS n_chars,
        |    coalesce(agg.n_units, 0) AS n_units
        |  FROM documents d LEFT JOIN agg USING (doc_id))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_words,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_units) AS BIGINT) AS total_units,
        |  round(CAST(sum(n_units) AS DOUBLE)
        |    / nullif(CAST(sum(n_tokens) AS BIGINT), 0), 6) + 0 AS fertility,
        |  round(CAST(sum(n_units) AS DOUBLE)
        |    / nullif(CAST(sum(n_chars) AS BIGINT), 0), 6) + 0 AS compression
        |FROM pd GROUP BY 1
        |ORDER BY lang""".stripMargin),
    "t11_bpe_merge_pairs" ->
      s"""WITH $sqlBpePairCtes
         |SELECT pair, count(*) AS n_occurrences
         |FROM pairs GROUP BY pair
         |ORDER BY n_occurrences DESC, pair
         |LIMIT 50""".stripMargin,
    // t15: the SAME election CTEs as t11 (shared fragment — the winning
    // pair cannot drift between the two oracles), then ONE string replace
    // per token (greedy left-to-right in both engines) with the '0'
    // sentinel decoded back in the pair labels.
    "t15_bpe_step" ->
      s"""WITH $sqlBpePairCtes,
         | top AS (
         |  SELECT pair AS mp FROM (
         |    SELECT pair, count(*) AS n FROM pairs GROUP BY pair)
         |  ORDER BY n DESC, pair LIMIT 1),
         | m AS (
         |  SELECT replace(token, mp, '0') AS mt, mp
         |  FROM tok CROSS JOIN top
         |  WHERE length(token) >= 2),
         | p2 AS (
         |  SELECT unnest(list_transform(range(1, length(mt)),
         |    i -> (CASE WHEN substr(mt, CAST(i AS INTEGER), 1) = '0'
         |            THEN mp ELSE substr(mt, CAST(i AS INTEGER), 1) END)
         |      || '+' ||
         |      (CASE WHEN substr(mt, CAST(i + 1 AS INTEGER), 1) = '0'
         |         THEN mp ELSE substr(mt, CAST(i + 1 AS INTEGER), 1) END))) AS pair
         |  FROM m WHERE length(mt) >= 2)
         |SELECT pair, count(*) AS n_occurrences
         |FROM p2 GROUP BY pair
         |ORDER BY n_occurrences DESC, pair
         |LIMIT 50""".stripMargin,
    "t17_inverted_index" ->
      s"""SELECT token, shard, count(*) AS n_docs,
         |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
         |FROM (
         |  SELECT doc_id, CAST(floor(doc_id / 100) AS BIGINT) AS shard,
         |    unnest(list_distinct($sqlTokens)) AS token
         |  FROM documents)
         |GROUP BY token, shard
         |ORDER BY token, shard""".stripMargin,
    "t16_bm25_rank" -> sqlBm25TopTen,
    "t19_pmi_collocations" ->
      s"""WITH tk AS (
         |  SELECT doc_id, $sqlTokens AS t FROM documents),
         | uni AS (
         |  SELECT token, count(*) AS n_tok FROM (
         |    SELECT unnest(t) AS token FROM tk) GROUP BY token),
         | tt AS (SELECT CAST(sum(n_tok) AS DOUBLE) AS t_tok FROM uni),
         | bi AS (
         |  SELECT unnest(list_transform(range(1, len(t)),
         |    i -> list_element(t, i) || ' ' || list_element(t, i + 1))) AS bg
         |  FROM tk WHERE len(t) >= 2),
         | pairs AS (SELECT bg, count(*) AS n_ab FROM bi GROUP BY bg),
         | nb AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS n_big FROM pairs)
         |SELECT bg AS bigram, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
         |  round(ln(n_ab) - ln((SELECT n_big FROM nb))
         |    + 2.0 * ln((SELECT t_tok FROM tt))
         |    - ln(ua.n_tok) - ln(ub.n_tok), 6) AS pmi
         |FROM pairs
         |JOIN uni ua ON split_part(bg, ' ', 1) = ua.token
         |JOIN uni ub ON split_part(bg, ' ', 2) = ub.token
         |WHERE n_ab >= 5
         |ORDER BY pmi DESC, bigram
         |LIMIT 50""".stripMargin,
    // t18 serves the SAME ranking from the materialized index — its
    // output contract is t16's, so the oracle is the shared direct-scan
    // SQL (the serve path's index plumbing is pinned Spark-side by the
    // t16 ≡ t18 equivalence spec).
    "t18_bm25_from_index" -> sqlBm25TopTen,
    "t12_tfidf_keywords" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($sqlTokens) AS token FROM documents),
         | pairs AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         | dfreq AS (
         |  SELECT token, count(doc_id) AS df FROM pairs GROUP BY token),
         | np AS (SELECT count(DISTINCT doc_id) AS n FROM pairs),
         | scored AS (
         |  SELECT doc_id, pairs.token,
         |    round(tf::DOUBLE * ln((SELECT n FROM np)::DOUBLE / df), 6) AS tfidf
         |  FROM pairs JOIN dfreq ON pairs.token = dfreq.token)
         |SELECT doc_id, token, tfidf FROM (
         |  SELECT doc_id, token, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, token) AS rk
         |  FROM scored)
         |WHERE rk <= 3
         |ORDER BY doc_id, tfidf DESC, token""".stripMargin,
    "t13_top_bigram" ->
      s"""WITH tk AS (
         |  SELECT doc_id, $sqlTokens AS t FROM documents),
         | bi AS (
         |  SELECT doc_id, CAST(len(t) - 1 AS BIGINT) AS n_bigrams,
         |    unnest(list_transform(range(1, len(t)),
         |      i -> list_element(t, i) || ' ' || list_element(t, i + 1))) AS bg
         |  FROM tk WHERE len(t) >= 2),
         | c AS (
         |  SELECT doc_id, n_bigrams, bg, count(*) AS c
         |  FROM bi GROUP BY doc_id, n_bigrams, bg),
         | top AS (
         |  SELECT doc_id, n_bigrams, bg, c FROM (
         |    SELECT doc_id, n_bigrams, bg, c,
         |      row_number() OVER (PARTITION BY doc_id
         |        ORDER BY c DESC, bg) AS rk
         |    FROM c)
         |  WHERE rk = 1)
         |SELECT tk.doc_id, top.bg AS top_bigram,
         |  coalesce(top.c, 0) AS n_occurrences,
         |  coalesce(round(top.c::DOUBLE / top.n_bigrams, 6), 0.0) AS bigram_share
         |FROM tk LEFT JOIN top USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "t2_quality_bands" ->
      s"""SELECT ${sqlLangId("text")} AS lang_detected,
         |  CAST(floor(${sqlQuality("text")} * 10) AS BIGINT) AS quality_decile,
         |  count(*) AS n_docs,
         |  CAST(sum(${sqlTokenCount("text")}) AS BIGINT) AS total_tokens
         |FROM documents
         |GROUP BY 1, 2
         |ORDER BY lang_detected, quality_decile""".stripMargin
  )
}
