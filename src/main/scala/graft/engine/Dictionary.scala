package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Distinct-value dictionary operators (SURVEY.md §2.3, D1-D4).
  *
  * The reference builds a per-column dictionary of distinct text values
  * (`translate.py:11-34`) so every expensive downstream operation (LLM
  * classification, REST translation) runs once per DISTINCT value, never per
  * row — the core optimization that makes its pipeline feasible. Here the
  * dictionary is a long-format DataFrame `(column_name, value)` built in ONE
  * scan of the source (explode over per-column structs), so at 100 TB the
  * fact table is read once regardless of how many columns are dictionarized;
  * the distinct is a single shuffle on `(column_name, value)` with map-side
  * partial aggregation and stays proportional to cardinality, not row count.
  *
  * Sampling (D2/D3) is deterministic by construction — the reference's
  * `random.sample` (`translate.py:64`) is replaced by hash-ordered prefixes
  * so replays and the DuckDB oracle agree.
  */
object Dictionary {

  /** The long-format dictionary schema of [[distinctValues]]. */
  private val LongSchema = StructType(Seq(
    StructField("column_name", StringType), StructField("value", StringType)))

  /** D1 (`translate.py:11-34`): per-column distinct non-null trimmed string
    * values, long format `(column_name, value)`. First-occurrence order of
    * the reference is NOT preserved (documented: order is never consumed
    * downstream — the dictionary feeds map lookups and samples only).
    * No columns give an empty dictionary.
    */
  def distinctValues(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty)
      df.sparkSession.createDataFrame(java.util.Collections.emptyList[Row](), LongSchema)
    else {
      val kvs = cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("string").as("value")))
      df.select(explode(array(kvs: _*)).as("kv"))
        .select(col("kv.column_name").as("column_name"), trim(col("kv.value")).as("value"))
        .filter(col("value").isNotNull)
        .distinct()
    }

  /** D2 (`translate.py:43`, `mapper.py:48`): deterministic head-N sample of a
    * column's distinct trimmed values (value-ordered prefix).
    */
  def sampleTopN(df: DataFrame, c: String, n: Int): DataFrame =
    df.select(trim(col(c).cast("string")).as("value"))
      .filter(col("value").isNotNull)
      .distinct()
      .orderBy("value")
      .limit(n)

  /** D2 for many columns in ONE action: each column's [[sampleTopN]],
    * read from a long-format `(column_name, value)` dictionary such as
    * [[distinctValues]] builds, collected to the driver (the samples feed
    * the enrichment classifiers and are tiny by construction). Every
    * name in `columns` is a key of the result; a column with no values
    * maps to an empty sample. An empty `columns` runs no job.
    *
    * Plan shape: the dictionary's distinct (one shuffle on
    * `(column_name, value)`), then `row_number() over (partition by
    * column_name order by value) <= n`, which Spark plans as a map-side
    * `WindowGroupLimit` ahead of the exchange on `column_name`, so that
    * exchange carries at most n rows per column and partition. Within a
    * column the rows are ordered by the collected `rn`, i.e. by Spark's
    * UTF-8 byte order — the order `sampleTopN` uses. Scala's `String`
    * order (UTF-16 code units) differs for supplementary-plane
    * characters, so the driver never re-sorts by value.
    */
  def sampleTopNPerColumn(
      dict: DataFrame, columns: Seq[String], n: Int): Map[String, Seq[String]] =
    if (columns.isEmpty) Map.empty
    else {
      val rn = row_number().over(Window.partitionBy("column_name").orderBy("value"))
      val got = dict.select(col("column_name"), col("value"), rn.as("rn"))
        .filter(col("rn") <= n)
        .collect()
        .groupBy(_.getString(0))
        .map { case (c, rows) => c -> rows.sortBy(_.getInt(2)).map(_.getString(1)).toSeq }
      columns.map(c => c -> got.getOrElse(c, Seq.empty)).toMap
    }

  /** D3 (`translate.py:64`): "random" sample made deterministic — order by
    * md5(value) (a fixed pseudo-random permutation) and take the prefix.
    */
  def sampleHashed(df: DataFrame, c: String, n: Int): DataFrame =
    df.select(trim(col(c).cast("string")).as("value"))
      .filter(col("value").isNotNull)
      .distinct()
      .orderBy(md5(col("value")), col("value"))
      .limit(n)

  /** Deterministic STRATIFIED sample: the k smallest ids per stratum under
    * the md5 pseudo-permutation — the class-balancing subsample a training
    * pipeline takes (equal-sized per-language slices of an imbalanced
    * corpus), with the reference's determinism convention (D3's md5 order,
    * never `random.sample`).
    *
    * Scale shape: the rank filter compiles to Spark's WindowGroupLimit,
    * which keeps only k rows per stratum on the MAP side before the
    * shuffle — the exchange carries O(strata x k), not the corpus. The
    * md5-order tiebreak (`idCol` asc) makes the selected PREFIX unique, so
    * the oracle checks exact membership, not just counts.
    */
  def sampleStratified(
      df: DataFrame, stratumCol: String, idCol: String, k: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window
          .partitionBy(stratumCol)
          .orderBy(md5(col(idCol).cast("string")), col(idCol))))
      .filter(col("rn") <= k)
      .drop("rn")

  /** D4 (`mapper.py:168-192`): `{table → column names}` over a catalog. */
  def schemaOf(tables: Map[String, DataFrame]): Map[String, Seq[String]] =
    tables.map { case (name, df) => name -> df.schema.fieldNames.toSeq }

  /** D4 for a temp-view catalog. */
  def schemaOf(spark: SparkSession, views: Seq[String]): Map[String, Seq[String]] =
    views.map(v => v -> spark.table(v).schema.fieldNames.toSeq).toMap
}
