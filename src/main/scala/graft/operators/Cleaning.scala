package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.t
import graft.engine.Preprocess

/** Oracle-checked queries exercising the P1-P10 cleaning pass
  * (graft.engine.Preprocess, SURVEY.md §2.2) over the driver tables.
  *
  * `p_clean_documents` runs the pass over a real table (string trim +
  * placeholder-null + exact row dedup). `p_clean_messy` first derives a messy
  * frame FROM `orders` deterministically (padded mixed-case headers,
  * punctuation in names, an unnamed column, an all-null column, placeholder
  * values, a numeric-as-string column, a datetime-as-string column with
  * per-value junk) so the oracle can verify name normalization, column drops,
  * the all-or-nothing double cast and per-value timestamp coercion.
  */
object Cleaning {

  def cleanDocuments(spark: SparkSession, dir: String): DataFrame =
    Preprocess.clean(t(spark, dir, "documents")).df.orderBy("doc_id")

  def cleanMessy(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val messy = o.select(
      concat(lit("  "), col("o_orderpriority"), lit(" ")).as(" Priority Level "),
      when(col("o_orderkey") % 100 === 0, lit("n/a"))
        .otherwise(col("o_orderkey").cast("string")).as("Order#Key!"),
      when(col("o_orderkey") % 7 === 0, lit("junk"))
        .otherwise(col("o_orderdate").cast("string")).as("Order Date"),
      lit(null).cast("string").as("empty_col"),
      col("o_orderstatus").as("Unnamed: 5"),
      col("o_totalprice").as("total"))
    // Width pin before the cleaning pass (the shingledOf precedent): a
    // single-row-group orders scan would run the fused try_cast
    // validation aggregate and the cleaning projection as one task. Every
    // downstream step is partition-insensitive (exact validation counts,
    // hash dedup of identical rows, a total-order sort over all kept
    // columns).
    Preprocess.clean(graft.Tables.wide(messy, col("Order#Key!"))).df
      .orderBy(col("orderkey").asc_nulls_first, col("order_date").asc_nulls_first,
        col("priority_level"), col("total"))
  }

  /** Fixture for the S1/S3 CSV scan path: a deterministic messy CSV written
    * idempotently at query time to a FIXED path (under the repo build dir)
    * so the static oracle SQL can re-read the same bytes with DuckDB's
    * `read_csv`. Exercises extension dispatch + header + schema inference
    * (`Loader.load`), then the full P1-P10 pass: padded mixed-case headers,
    * an "Unnamed:" column, an all-null column, placeholder values, a
    * numeric-as-string column and a per-value-junk date column — the same
    * shapes the reference meets via `pd.read_csv` (`preprocess.py:21-24`).
    *
    * Every surviving column parses as STRING on both engines (each carries
    * a placeholder or junk value, so neither schema sniffer can promote
    * it), which pins the P7 all-or-nothing cast decision to the cleaning
    * pass rather than the reader. The timestamp column is compared as
    * epoch-ms (the repo's portable-timestamp convention).
    */
  // Not session scratch: DuckDB reads the file after the session ends.
  private val CsvFixturePath = new java.io.File(
    sys.props("user.dir"), "target/fixtures/p_clean_input.csv").getAbsolutePath
  private val CsvFixture =
    """ Order Id !, Amount ,Ship Date,Unnamed: 3,empty_col, Note
      |1,10.5,2024-01-02 03:04:05,x,,  alpha beta
      |2,20.25,junk,y,,gamma
      |n/a,-,2024-02-03 10:30:00,z,,null
      |4,40.75,2024-03-04 00:00:01,w,,delta
      |5,20.25,2024-01-02 03:04:05,x,,none
      |2,20.25,junk,y,,gamma
      |""".stripMargin

  def cleanCsv(spark: SparkSession, dir: String): DataFrame = {
    val p = java.nio.file.Paths.get(CsvFixturePath)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, CsvFixture.getBytes("UTF-8"))
    val cleaned = Preprocess.clean(graft.sources.Loader.load(spark, CsvFixturePath)).df
    cleaned.select(col("order_id_"), col("amount"),
        unix_millis(col("ship_date")).as("ship_date_ms"), col("note"))
      .orderBy(col("order_id_").asc_nulls_first, col("amount").asc_nulls_first,
        col("ship_date_ms").asc_nulls_first, col("note").asc_nulls_first)
  }

  /** S2/S7 workbook namespace, oracle-gated end to end — BOTH forms of the
    * seam in one hash: nation round-trips through the binary `.xlsx` codec
    * ([[graft.sources.XlsxWorkbookSink]]/[[graft.sources.XlsxWorkbookSource]]
    * — 25 rows of real table data through zip + SpreadsheetML and back),
    * region through the directory-of-tables form
    * ([[graft.sources.WorkbookSink]]/[[graft.sources.DirWorkbookSource]]),
    * and the two reloaded namespaces join — the oracle recomputes the same
    * answer straight from the original parquet tables, so any loss or
    * corruption in EITHER sink→source roundtrip breaks the hash.
    */
  def workbookRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.GraftSession.scratchDir(spark, "workbook")
    graft.sources.XlsxWorkbookSink.save(
      Map("nation" -> t(spark, dir, "nation")), s"$path.xlsx", spark)
    graft.sources.WorkbookSink.save(
      Map("region" -> t(spark, dir, "region")), path)
    val xwb = graft.sources.XlsxWorkbookSource.load(spark, s"$path.xlsx")
    val wb = graft.sources.DirWorkbookSource.load(spark, path)
    xwb("nation")
      .join(broadcast(wb("region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"))
      .orderBy("r_name")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_clean_documents" -> cleanDocuments,
    "p_clean_messy" -> cleanMessy,
    "p_clean_csv" -> cleanCsv,
    "wb1_workbook_roundtrip" -> workbookRoundtrip
  )

  private val ph = "('n/a','none','-','null','')"

  val oracle: Map[String, String] = Map(
    "p_clean_documents" ->
      s"""SELECT DISTINCT doc_id,
         |  trim(CASE WHEN text IN $ph THEN NULL ELSE text END) AS text,
         |  trim(CASE WHEN lang IN $ph THEN NULL ELSE lang END) AS lang,
         |  trim(CASE WHEN source IN $ph THEN NULL ELSE source END) AS source,
         |  n_chars
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "p_clean_messy" ->
      """SELECT DISTINCT
        |  trim(o_orderpriority) AS priority_level,
        |  CASE WHEN o_orderkey % 100 = 0 THEN NULL
        |       ELSE CAST(o_orderkey AS DOUBLE) END AS orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END AS order_date,
        |  o_totalprice AS total
        |FROM orders
        |ORDER BY orderkey ASC NULLS FIRST, order_date ASC NULLS FIRST,
        |  priority_level, total""".stripMargin,
    "p_clean_csv" ->
      s"""WITH src AS (
         |  SELECT * FROM read_csv('$CsvFixturePath', header=true, all_varchar=true)),
         | c AS (
         |  SELECT
         |    trim(CASE WHEN "Order Id !" IN $ph THEN NULL ELSE "Order Id !" END) AS o,
         |    trim(CASE WHEN "Amount" IN $ph THEN NULL ELSE "Amount" END) AS a,
         |    trim(CASE WHEN "Ship Date" IN $ph THEN NULL ELSE "Ship Date" END) AS s,
         |    trim(CASE WHEN "Note" IN $ph THEN NULL ELSE "Note" END) AS nt
         |  FROM src)
         |SELECT DISTINCT CAST(o AS DOUBLE) AS order_id_, CAST(a AS DOUBLE) AS amount,
         |  epoch_ms(try_cast(s AS TIMESTAMP)) AS ship_date_ms, nt AS note
         |FROM c
         |ORDER BY order_id_ ASC NULLS FIRST, amount ASC NULLS FIRST,
         |  ship_date_ms ASC NULLS FIRST, note ASC NULLS FIRST""".stripMargin,
    "wb1_workbook_roundtrip" ->
      """SELECT r_name, count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY r_name""".stripMargin
  )
}
