package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{BatchedTranslator, Dictionary, Preprocess, Translate, Translator}

/** Edge inputs: empty frames, zero-row frames, batching boundaries. */
class EdgeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("Preprocess on a zero-row frame keeps schema, drops all-null columns") {
    val schema = StructType(Seq(
      StructField("a", StringType), StructField("b", IntegerType)))
    val df = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val out = Preprocess.clean(df).df
    // zero rows -> every column is all-null by the reference's test -> dropped
    assert(out.columns.isEmpty || out.count() == 0)
  }

  test("Dictionary ops on zero-row input are empty, not failing") {
    val schema = StructType(Seq(StructField("c", StringType)))
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(Dictionary.distinctValues(df, Seq("c")).count() == 0)
    assert(Dictionary.sampleTopN(df, "c", 5).collect().isEmpty)
  }

  test("BatchedTranslator covers every value across batch boundaries") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[Int]
    val counting = new Translator {
      override def translate(values: Seq[String]): Map[String, String] = {
        calls += values.size
        values.map(v => v -> v.toUpperCase).toMap
      }
    }
    val tr = new BatchedTranslator(counting, batchSize = 3)
    val in = (1 to 10).map(i => s"v$i")
    val out = tr.translate(in)
    assert(out.size == 10 && in.forall(v => out(v) == v.toUpperCase))
    assert(calls.toSeq == Seq(3, 3, 3, 1)) // grouped(3) over 10
    assert(tr.translate(Seq.empty).isEmpty)
  }

  test("distributed dictionary translation matches driver-side translation") {
    import spark.implicits._
    val golden = graft.engine.DictionaryTranslator.fromJson(
      getClass.getResource("/translation_map.json").getPath)
    val dict = Seq(
      ("expenseaccountname", "Hotel Ausland"),
      ("expenseaccountname", "Peaje"),
      ("expenseaccountname", "untranslated value"))
      .toDF("column_name", "value")
    val out = Translate.translateDictionary(dict, golden, batchSize = 2)
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(out("Hotel Ausland") == "Hotel Abroad")
    assert(out("Peaje") == "Toll")
    assert(out("untranslated value") == "untranslated value")
  }
}
