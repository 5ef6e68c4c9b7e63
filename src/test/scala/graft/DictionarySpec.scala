package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Dictionary

/** D1-D4 over inline frames + the sf0.001 driver tables. */
class DictionarySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("D1 long-format distinct dictionary: trim, dropna, one scan") {
    import spark.implicits._
    val df = Seq(
      (Some(" a "), Some("x")), (Some("a"), None), (None, Some("x")),
      (Some("b"), Some("y"))).toDF("c1", "c2")
    val dict = Dictionary.distinctValues(df, Seq("c1", "c2"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dict == Set(("c1", "a"), ("c1", "b"), ("c2", "x"), ("c2", "y")))
  }

  test("D2 deterministic top-N sample") {
    val s = Dictionary.sampleTopN(
      spark.read.parquet(s"$sf/documents.parquet"), "lang", 3)
      .collect().map(_.getString(0)).toSeq
    assert(s == Seq("de", "en", "es"))
  }

  test("D2 one-query sampler equals per-column sampleTopN on every edge") {
    import spark.implicits._
    // dups: repeated values (also shared with other columns); nulls: one
    // distinct value, fewer than n; blank: space-only values trim to a
    // kept ""; num: a non-string column; plane: a high-BMP value against
    // a supplementary-plane one, whose UTF-8 and UTF-16 orders disagree.
    val df = Seq(
      ("b", Some("x"), "  ", 3, "Ａ"),
      ("a", None, "\t", 1, "😀"),
      ("b", Some("x"), " z ", 2, "a"),
      ("c", None, "y", 3, "Ａ"),
      ("a", Some(" x"), " ", 10, "a")
    ).toDF("dups", "nulls", "blank", "num", "plane")
    val cols = df.columns.toSeq
    def perColumn(frame: org.apache.spark.sql.DataFrame) = cols.map(c =>
      c -> Dictionary.sampleTopN(frame, c, 3).collect().map(_.getString(0)).toSeq).toMap
    def fused(frame: org.apache.spark.sql.DataFrame) =
      Dictionary.sampleTopNPerColumn(Dictionary.distinctValues(frame, cols), cols, 3)
    assert(fused(df) == perColumn(df))
    assert(fused(df)("plane") == Seq("a", "Ａ", "😀")) // Spark's UTF-8 byte order
    assert(fused(df)("blank") == Seq("", "\t", "y")) // trim strips spaces only
    assert(fused(df)("num") == Seq("1", "10", "2"))
    val empty = df.limit(0)
    assert(fused(empty) == perColumn(empty))
    assert(fused(empty) == cols.map(_ -> Seq.empty[String]).toMap)
  }

  test("D2 one-query sampler over no columns is empty and runs no job") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val (samples, jobs) = TestSpark.jobsDuring(
      Dictionary.sampleTopNPerColumn(Dictionary.distinctValues(df, Nil), Nil, 3))
    assert(samples.isEmpty && jobs == 0)
  }

  test("D3 hashed sample is deterministic across invocations") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
    val a = Dictionary.sampleHashed(df, "source", 5).collect().map(_.getString(0)).toSeq
    val b = Dictionary.sampleHashed(df, "source", 5).collect().map(_.getString(0)).toSeq
    assert(a == b && a.size == 5)
  }

  test("D4 schema extraction") {
    val df = spark.read.parquet(s"$sf/region.parquet")
    assert(Dictionary.schemaOf(Map("region" -> df)) ==
      Map("region" -> Seq("r_regionkey", "r_name")))
  }

  test("d10 winsorize: exact cuts, clip counts, and clamped mean on 1..100") {
    import spark.implicits._
    val row = graft.operators.Enrichment.winsorizeCore(
      (1 to 100).map(_.toDouble).toDF("v")).collect()(0)
    // linear interpolation over 100 sorted values: p01 between 1 and 2 at
    // 0.99, p99 between 99 and 100 at 0.01
    assert(row.getAs[Double]("lo_cut") == 1.99)
    assert(row.getAs[Double]("hi_cut") == 99.01)
    assert(row.getAs[Long]("n_clipped_lo") == 1L) // only v=1
    assert(row.getAs[Long]("n_clipped_hi") == 1L) // only v=100
    assert(row.getAs[Double]("mean_raw") == 50.5)
    // clamping 1→1.99 and 100→99.01 adds exactly +0.99−0.99 to the sum
    assert(row.getAs[Double]("mean_winsorized") == 50.5)
  }
}
