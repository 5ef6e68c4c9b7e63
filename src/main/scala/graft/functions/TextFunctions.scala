package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column expressions for large-scale training-data pipelines
  * (north-star extensions over the reference's text handling, SURVEY.md
  * §2.5): token counting, quality scoring, language ID, fingerprinting.
  *
  * No UDFs: each function is a Catalyst expression tree over builtins and
  * the codegen kernels of [[CorpusKernels]]. Every expression has an exact
  * ANSI-SQL equivalent (used by the DuckDB oracle), which also pins the
  * semantics. Higher-order functions such as [[stopwordRatio]]'s `filter`
  * are `CodegenFallback`: they run interpreted, and the operator that
  * evaluates one leaves whole-stage codegen.
  */
object TextFunctions {

  /** Lowercased alphabetic word tokens in document order, duplicates
    * preserved — THE single tokenization definition; every operator
    * (text analysis, dedup shingling) and every oracle SQL fragment must
    * derive from this expression so tokenization cannot drift. The
    * [[CorpusKernels.tokens]] kernel: the maximal `[a-z]+` runs of
    * `lower(c)`, which the oracle spells with `regexp_split_to_array`.
    */
  def tokensOrdered(c: Column): Column = CorpusKernels.tokens(c)

  /** Lowercased alphabetic word tokens, deduplicated (set semantics). */
  def tokenSet(c: Column): Column =
    array_distinct(tokensOrdered(c))

  /** Word-bigram shingles (duplicates preserved) of a token array — THE
    * single shingle definition (dedup LSH, fingerprints): the
    * [[CorpusKernels.bigrams]] kernel, empty below two tokens.
    */
  def rawShingles(tokens: Column): Column = CorpusKernels.bigrams(tokens)

  /** Whitespace token count (the "wc -w" notion of tokens). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0L))
      .otherwise(size(split(trim(c), "\\s+")).cast("long"))

  /** BPE-ish subword count: alphabetic runs count 1 each, digits count 1
    * each, every other non-space symbol counts 1 — a deterministic proxy
    * for byte-pair-encoded token counts.
    */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Share of characters that are ASCII letters, counted by deleting the
    * complement class with a regex pass — the exact expression the oracle
    * SQL computes. A `translate`-based per-codepoint map lookup is 3.3x
    * slower than the byte-level regex NFA.
    */
  def alphaRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "[^A-Za-z]", "")).cast("double") / length(c))

  /** Share of characters that are punctuation (same regexp counting as
    * [[alphaRatio]]).
    */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "[^.,;:!?'\"()-]", "")).cast("double") / length(c))

  /** English stopwords used by quality scoring and language ID. Kept small
    * and fixed so the oracle SQL can enumerate them.
    */
  val EnStop: Seq[String] = Seq("the", "a", "and", "of", "to", "in", "is")
  val DeStop: Seq[String] = Seq("der", "die", "das", "und", "ist", "mit", "von")
  val EsStop: Seq[String] = Seq("el", "la", "los", "las", "y", "de", "que")
  val FrStop: Seq[String] = Seq("le", "la", "les", "et", "est", "dans", "que")

  /** Count of DISTINCT stopwords from `stop` present in the token set. */
  def stopwordHits(c: Column, stop: Seq[String]): Column =
    size(array_intersect(tokenSet(c), typedlit(stop))).cast("long")

  /** Share of whitespace tokens that are English stopwords (occurrence
    * share, not distinct): hits / tokenCount.
    */
  def stopwordRatio(c: Column): Column = {
    val toks = tokensOrdered(c)
    val hits = size(filter(toks, t => array_contains(typedlit(EnStop), t)))
    when(size(toks) === 0, lit(0.0)).otherwise(hits.cast("double") / size(toks))
  }

  /** Composite quality score in [0,1]: weighted mix of alpha ratio, an
    * ideal-length band, stopword presence and low punctuation — the
    * length/punct/stopword-ratio heuristic family of C4/Gopher-style
    * cleaning rules, reduced to a deterministic arithmetic form.
    */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 200.0, lit(1.0))
    val stopScore = least(stopwordHits(c, EnStop).cast("double") / 4.0, lit(1.0))
    round(
      alphaRatio(c) * 0.4 + lenScore * 0.3 + stopScore * 0.2 +
        (lit(1.0) - least(punctRatio(c) * 5.0, lit(1.0))) * 0.1,
      6)
  }

  /** N-gram-heuristic language ID over distinct stopword hits: argmax of
    * per-language hit counts with a fixed precedence (en > de > es > fr) on
    * ties; "und" (undetermined) when nothing hits.
    */
  def langId(c: Column): Column = {
    val en = stopwordHits(c, EnStop)
    val de = stopwordHits(c, DeStop)
    val es = stopwordHits(c, EsStop)
    val fr = stopwordHits(c, FrStop)
    when(greatest(en, de, es, fr) === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Document fingerprint: md5 of the normalized text (portable across
    * engines; stands in for a rolling-hash fingerprint).
    */
  def fingerprint(c: Column): Column = md5(normText(c))
}
