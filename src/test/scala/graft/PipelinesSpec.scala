package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{DoubleType, StringType, TimestampType}

import graft.engine.{DictionaryTranslator, Pipelines}
import graft.sources.DirWorkbookSource

/** EP1/EP2/EP3 end-to-end over the messy CSV fixture (FIXTURES.md §B1)
  * with the golden translation-map excerpt.
  */
class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def csvPath = getClass.getResource("/messy_source.csv").getPath
  private lazy val golden = DictionaryTranslator.fromJson(
    getClass.getResource("/translation_map.json").getPath)

  test("EP1: load + clean the messy CSV") {
    val res = Pipelines.cleanPipeline(spark, csvPath)
    val out = res.df
    assert(out.columns.toSeq == Seq("expense_type", "col1", "merchant",
      "amount", "amount_clean", "trip_date", "expenseaccountname"))
    val types = out.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("amount") == StringType)       // "12,5" poisons the cast
    assert(types("amount_clean") == DoubleType) // all parse
    assert(types("trip_date") == TimestampType) // name-matched, per-value
    assert(out.count() == 5)                    // one exact-dup row removed
  }

  test("EP2: classify, detect, translate NON-ENGLISH text columns") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val report = Pipelines.translatePipeline(df, golden)
    // merchant + expenseaccountname carry real text; German values make
    // expenseaccountname NON-ENGLISH
    assert(report.columnLabels("expenseaccountname") == "TEXT")
    assert(report.languageLabels.get("expenseaccountname").contains("NON-ENGLISH"))
    assert(report.translatedColumns.contains("expenseaccountname"))
    val vals = report.df.select("expenseaccountname")
      .collect().map(_.getString(0)).toSet
    assert(vals.contains("Hotel Abroad"))     // translated
    assert(vals.contains("Meal package"))     // translated
    assert(vals.contains("Hotel"))            // "Hotell" (sv) translated
    assert(vals.contains("Other"))            // "Anderes" translated
    // identity fallback: untranslated values survive
    assert(vals.contains("Toll") || vals.contains("Peaje"))
  }

  test("EP3: schema-map + vertical partition + workbook sink roundtrip") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val dest = Map(
      "FACT_Expense" -> Seq("amount_clean", "merchant"),
      "DIM_Trip" -> Seq("trip_date"))
    val sink = TestSpark.tempDir("graft-wb").toString
    val tables = Pipelines.mapPipeline(df, dest, sinkPath = Some(sink))
    assert(tables.keySet == Set("FACT_Expense", "DIM_Trip"))
    assert(tables("FACT_Expense").columns.sorted.toSeq == Seq("amount_clean", "merchant"))
    // sink roundtrip via the directory workbook source
    val loaded = DirWorkbookSource.load(spark, sink)
    assert(loaded.keySet == Set("FACT_Expense", "DIM_Trip"))
    assert(loaded("DIM_Trip").count() == tables("DIM_Trip").count())
  }

  test("EP3 with an .xlsx sinkPath writes the reference's binary workbook") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val dest = Map(
      "FACT_Expense" -> Seq("amount_clean", "merchant"),
      "DIM_Trip" -> Seq("trip_date"))
    val sink = TestSpark.tempDir("graft-wb-x").toString + "/report.xlsx"
    val tables = Pipelines.mapPipeline(df, dest, sinkPath = Some(sink))
    // one binary file, one sheet per destination table, readable back
    // through the xlsx half of the workbook seam
    val loaded = graft.sources.XlsxWorkbookSource.load(spark, sink)
    assert(loaded.keySet == Set("FACT_Expense", "DIM_Trip"))
    assert(loaded("DIM_Trip").count() == tables("DIM_Trip").count())
    assert(loaded("FACT_Expense").columns.sorted.toSeq ==
      Seq("amount_clean", "merchant"))
  }

  /** One destination column per cleaned column of the fixture, over three
    * tables, so the tables together reassemble whole cleaned rows. */
  private val everyColumn = Map(
    "FACT_Expense" -> Seq("amount", "amount_clean", "merchant"),
    "DIM_Trip" -> Seq("expense_type", "trip_date"),
    "DIM_Account" -> Seq("col1", "expenseaccountname"))

  test("EP3 tables are row-aligned projections of one materialised frame") {
    val df = graft.sources.Loader.load(spark, csvPath).repartition(3)
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt > 1)
    val tables = Pipelines.mapPipeline(df, everyColumn)
    assert(tables.keySet == everyColumn.keySet)
    val parts = tables.values.toSeq.map(t => (t.columns.toSeq, t.collect()))
    val n = parts.head._2.length
    assert(parts.forall(_._2.length == n), parts.map(_._2.length))
    val cleaned = graft.engine.Preprocess.clean(df).df
    val expected = cleaned.collect()
      .map(r => cleaned.columns.toSeq.zip(r.toSeq).toMap).toSet
    // row i of every table, joined on position, is one cleaned row; and
    // the n reassembled rows are the whole (deduplicated) cleaned frame
    val reassembled = (0 until n).map { i =>
      parts.flatMap { case (cols, rows) => cols.zip(rows(i).toSeq) }.toMap
    }
    reassembled.foreach(r => assert(expected.contains(r), r))
    assert(reassembled.toSet == expected)
  }

  test("EP3 tables read the materialised frame: no exchange, no file scan") {
    val tables = Pipelines.mapPipeline(
      graft.sources.Loader.load(spark, csvPath), everyColumn)
    tables.foreach { case (t, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange") && !p.contains("FileScan"), s"$t: $p")
    }
  }

  test("jobsDuring counts jobs from other threads and other job groups") {
    val sc = spark.sparkContext
    val (_, jobs) = TestSpark.jobsDuring {
      // a pooled thread carries no inherited job group
      val t = new Thread(() => { sc.clearJobGroup(); sc.parallelize(Seq(1, 2), 2).count() })
      t.start(); t.join()
      sc.setJobGroup("jobs-during-own-group", "body's own group")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    assert(jobs == 2, s"$jobs jobs")
  }

  test("EP3 xlsx sink runs one job for all of mapPipeline's tables") {
    val tables = Pipelines.mapPipeline(
      graft.sources.Loader.load(spark, csvPath), everyColumn)
    val sink = TestSpark.tempDir("graft-wb-jobs").toString + "/pin.xlsx"
    val (_, jobs) = TestSpark.jobsDuring(graft.sources.Xlsx.write(tables, sink, spark))
    assert(jobs == 1, s"$jobs jobs for ${tables.size} sheets")
  }

  test("EP2 runs at most 7 jobs: cleaning aggregate, checkpoint, one sampler") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val (_, jobs) = TestSpark.jobsDuring(Pipelines.translatePipeline(df, golden))
    assert(jobs <= 7, s"$jobs jobs")
  }

  test("EP2 over a frame with no string columns runs no sampler job") {
    import spark.implicits._
    val df = Seq((1L, 2.5), (2L, 3.5)).toDF("id", "amount")
    val (report, jobs) = TestSpark.jobsDuring(Pipelines.translatePipeline(df, golden))
    assert(report.columnLabels.isEmpty)
    val (_, baseJobs) = TestSpark.jobsDuring(
      graft.engine.Preprocess.clean(df).df.localCheckpoint())
    assert(jobs == baseJobs, s"$jobs jobs against $baseJobs for clean + checkpoint")
  }

  test("EP3 with an empty mapping sinks nothing and materialises nothing") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val sink = TestSpark.tempDir("graft-wb-empty").toString + "/none.xlsx"
    val dest = Map("DIM_None" -> Seq("qqqqqqqqqqqqqqqq"))
    val (tables, mapJobs) =
      TestSpark.jobsDuring(Pipelines.mapPipeline(df, dest, sinkPath = Some(sink)))
    assert(tables.isEmpty)
    assert(!new java.io.File(sink).exists())
    // only the cleaning pass's own validation job runs
    val (_, cleanJobs) = TestSpark.jobsDuring(graft.engine.Preprocess.clean(df))
    assert(mapJobs == cleanJobs)
  }

  test("S6 CSV sink roundtrip through the extension-dispatched loader") {
    val df = graft.sources.Loader.load(spark, csvPath)
    val cleaned = Pipelines.cleanPipeline(spark, csvPath).df
    val out = TestSpark.tempDir("graft-csv").toString + "/out.csv"
    cleaned.write.mode("overwrite").option("header", "true").csv(out)
    // Spark writes a directory of part files; read the directory back
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(out)
    assert(back.count() == cleaned.count())
    assert(back.columns.sorted.toSeq == cleaned.columns.sorted.toSeq)
    assert(df.count() >= cleaned.count())
  }

  test("workbook sheet names truncate to 31 chars") {
    assert(graft.sources.WorkbookSink.sheetName("A" * 40).length == 31)
  }

  // Three disjoint token vocabularies, none containing any stopword of any
  // supported language: near-dup structure is then fully controlled (shared
  // vocabulary = shingle-jaccard 1.0; disjoint = 0.0), and the digit pad
  // tanks the quality score (alpha ratio) without adding a single token —
  // the padded twin stays a verbatim near-dup of its clean partner.
  private val wordsA = "zebra yonder quartz plasma vortex jumble kraken " +
    "nimbus oracle pixel quasar rocket sphinx trellis umbra velvet walnut " +
    "xylem ripple zephyr"
  private val wordsB = "gargoyle harbor indigo jasper kelp lantern marble " +
    "nectar onyx prism quiver russet saffron topaz damson wicker yarrow " +
    "zinc cobalt drift"
  private val wordsC = "anchor bridge copper dune ferret glacier hollow " +
    "iris juniper krill lagoon meadow nutmeg osprey pebble quill reed " +
    "summit tundra willow"

  test("pipe1: a BELOW-BAR eval doc still poisons its component; a filtered " +
      "canonical keeps its best surviving representative") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = TestSpark.tempDir("graft-pipe1").toString
    val pad = "0" * 800
    Seq(
      (6L, wordsA + " " + pad), // EVAL side of the md5 carve, quality < 0.5
      (7L, wordsA),             // train near-dup of 6 — leaked, must be dropped
      (8L, wordsC),             // train, clean — control, must survive
      (12L, wordsB + " " + pad), // train component canonical (min id), < bar
      (13L, wordsB)              // train survivor — the kept representative
    ).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // Fixture guards — the scenario only tests what it claims if the
    // planted qualities straddle the 0.5 bar and doc 6 alone is on the
    // eval side of the SHARED split definition (the driver corpus never
    // exercises this combination, hence the synthetic).
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qs = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(qs(6L) < 0.5 && qs(12L) < 0.5, qs)
    assert(qs(7L) >= 0.5 && qs(8L) >= 0.5 && qs(13L) >= 0.5, qs)
    val evalIds = docs
      .filter(graft.operators.Dedup.isEvalSplit(col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(evalIds == Set(6L), evalIds)
    // Round-6 semantics (cluster on the quality-FILTERED corpus) would
    // never see doc 6, keep leaked doc 7, and drop doc 13 (not its
    // component's canonical). The widened pipeline must do the opposite.
    val kept = Pipelines.trainingCorpus(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(8L, 13L), kept)
  }
}
