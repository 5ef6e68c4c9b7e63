package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Schema mapping + vertical partitioning (SURVEY.md §2.4 E6/E7/E8).
  *
  * The reference asks an LLM to map source columns onto a fixed star schema
  * (`mapper.py:13-73`), parses lines of the form `src -> Table.Column` or
  * `src -> Unclear (needs review)`, cleans the parsed mapping
  * (`mapper.py:76-103`), then vertically partitions the source frame into
  * one output frame per destination table (`mapper.py:106-121`).
  *
  * Here mapping is a [[SchemaMapper]] trait; the default deterministic
  * implementation scores normalized-name similarity (exact > containment >
  * edit distance) between source and destination columns. The LLM-output
  * parser ([[SchemaMap.parseMappingLines]]) and cleanup rules are kept so
  * that an LLM-backed implementation could be dropped in behind the same
  * trait. Vertical partitioning is pure projection — one `select` per
  * destination table off the same frame, no shuffle (`mapper.py:106-121`
  * relies on the shared row index; see [[SchemaMap.verticalPartition]]
  * for when the projections keep that alignment).
  */
object SchemaMap {

  /** A resolved destination for a source column. */
  final case class ColumnMapping(table: String, column: String)

  /** E6: source column → destination, or None = "Unclear (needs review)". */
  trait SchemaMapper {
    def mapColumns(
        sourceCols: Seq[String],
        destSchema: Map[String, Seq[String]]): Map[String, Option[ColumnMapping]]
  }

  /** Default E6: deterministic normalized-name similarity.
    *
    * Score between a source and destination column name (both P1-normalized):
    * 1.0 exact; 0.75 + 0.15 × length-ratio when one contains the other;
    * otherwise 1 − levenshtein/maxLen. Best score at or above `threshold`
    * wins; ties break lexicographically by (table, column) so the result
    * never depends on map iteration order.
    */
  final class NameSimilarityMapper(threshold: Double = 0.72) extends SchemaMapper {

    private def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }

    def score(src: String, dst: String): Double = {
      val s = Preprocess.normalizeName(src)
      val d = Preprocess.normalizeName(dst)
      if (s == d) 1.0
      else if (s.nonEmpty && d.nonEmpty && (s.contains(d) || d.contains(s)))
        // Containment always clears the default threshold; longer shared
        // fraction ranks higher (0.75..0.9 < exact's 1.0).
        0.75 + 0.15 * math.min(s.length, d.length).toDouble / math.max(s.length, d.length)
      else {
        val m = math.max(s.length, d.length)
        if (m == 0) 0.0 else 1.0 - lev(s, d).toDouble / m
      }
    }

    override def mapColumns(
        sourceCols: Seq[String],
        destSchema: Map[String, Seq[String]]): Map[String, Option[ColumnMapping]] = {
      val candidates = destSchema.toSeq.sortBy(_._1)
        .flatMap { case (t, cols) => cols.map(c => ColumnMapping(t, c)) }
      sourceCols.map { src =>
        val best = candidates
          .map(cm => (score(src, cm.column), cm))
          .sortBy { case (sc, cm) => (-sc, cm.table, cm.column) }
          .headOption
        src -> best.collect { case (sc, cm) if sc >= threshold => cm }
      }.toMap
    }
  }

  /** E6 output parser (`mapper.py:59-72`): lines `src -> Table.Column`,
    * split on the first `->` then the first `.`; a destination without a
    * dot or containing "unclear" maps to None.
    */
  def parseMappingLines(lines: Seq[String]): Map[String, Option[ColumnMapping]] =
    lines.flatMap { line =>
      line.split("->", 2) match {
        case Array(rawSrc, rawDst) =>
          val src = cleanKey(rawSrc)
          val dst = rawDst.trim
          if (src.isEmpty) None
          else if (dst.toLowerCase.contains("unclear") || !dst.contains("."))
            Some(src -> None)
          else {
            val Array(t, c) = dst.split("\\.", 2)
            Some(src -> Some(ColumnMapping(t.trim, cleanColumn(c))))
          }
        case _ => None
      }
    }.toMap

  /** E7 key cleanup (`mapper.py:86`): strip list numbering and markdown
    * bold from LLM-emitted keys, lowercase.
    */
  private[engine] def cleanKey(s: String): String =
    s.trim
      .replaceAll("^\\d+\\.\\s*", "")
      .replaceAll("\\*\\*", "")
      .trim.toLowerCase

  /** E7 column cleanup (`mapper.py:96`): strip parenthesized explanations. */
  private[engine] def cleanColumn(s: String): String =
    s.replaceAll("\\(.*?\\)", "").trim

  /** E7 (`mapper.py:76-103`): normalize keys, drop unclear/unparseable
    * entries from a raw mapping.
    */
  def cleanMapping(raw: Map[String, Option[ColumnMapping]]): Map[String, ColumnMapping] =
    raw.flatMap { case (k, v) =>
      val key = cleanKey(k)
      v.filter(cm => !cm.table.toLowerCase.contains("unclear"))
        .map(cm => key -> cm.copy(column = cleanColumn(cm.column)))
    }

  /** E8 (`mapper.py:106-121`): vertical partition — one projection per
    * destination table, source columns renamed to their destinations.
    * Deterministic column order (destination-name sort) regardless of map
    * iteration order.
    *
    * Invariant: row i of every returned table comes from the same row of
    * `df` only when `df` is materialised, as a local checkpoint is. Each
    * table is consumed by its own action, and over a lazy plan each
    * action re-executes it; a shuffle in that plan (a `dropDuplicates`,
    * say) need not emit rows in the same order twice.
    * [[graft.engine.Pipelines.mapPipeline]] therefore passes a local
    * checkpoint.
    */
  def verticalPartition(
      df: DataFrame,
      mapping: Map[String, ColumnMapping]): Map[String, DataFrame] = {
    val present = mapping.filter { case (src, _) => df.columns.contains(src) }
    present.groupBy(_._2.table).map { case (table, entries) =>
      val cols = entries.toSeq
        .map { case (src, cm) => (src, cm.column) }
        .sortBy { case (src, dst) => (dst, src) }
        // Two sources can legally score onto the same destination (the
        // reference's LLM mapping has the same property); keep the first
        // by (dest, source) order so output columns stay unique.
        .distinctBy(_._2)
        .map { case (src, dstCol) => col(src).as(dstCol) }
      table -> df.select(cols: _*)
    }
  }
}
