package graft

import org.scalatest.funsuite.AnyFunSuite

/** The plan guard: [[Explain.formatted]] text must depend on the plan
  * alone, not on ids, counters or hashes that change from run to run. */
class ExplainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("normalise rewrites ids, lambdas, hashes, the app id and file UUIDs") {
    val raw = "Project [doc_id#123L, lambda x_17#456] " +
      "Exchange hashpartitioning(k#7, 4), ENSURE_REQUIREMENTS, [plan_id=2718] " +
      "graft.operators.Graph$$$Lambda/0x00007f12c4a3b2d8@1b2c3d4e " +
      "org.apache.spark.sql.Foo@6a5b3c2d " +
      "j5_orders_local_1792394179696_sf0_001 lake/local-1792394179696/t " +
      "part-00000-21607d5d-0d49-4e2e-a643-fe5a5f235b67-c000.snappy.parquet"
    assert(Explain.normalise(raw) ==
      "Project [doc_id#NL, lambda x_N#N] " +
      "Exchange hashpartitioning(k#N, 4), ENSURE_REQUIREMENTS, [plan_id=N] " +
      "graft.operators.Graph$Lambda@H " +
      "org.apache.spark.sql.Foo@H " +
      "j5_orders_local_APP_sf0_001 lake/local-APP/t " +
      "part-00000-UUID-c000.snappy.parquet")
  }

  test("normalise rewrites an RDD's id and the source line of its call site") {
    val raw = "Scan ExistingRDD [doc_id#1L] Arguments: [doc_id#1L], " +
      "MapPartitionsRDD[847] at localCheckpoint at Pipelines.scala:249, " +
      "createDataFrame at Xlsx.scala:798 " +
      "Condition : (quality#3 >= 0.5)"
    assert(Explain.normalise(raw) ==
      "Scan ExistingRDD [doc_id#NL] Arguments: [doc_id#NL], " +
      "MapPartitionsRDD[N] at localCheckpoint at Pipelines.scala:N, " +
      "createDataFrame at Xlsx.scala:N " +
      "Condition : (quality#N >= 0.5)")
  }

  test("a cached frame (dd9) and a gated one (gr5) explain identically twice") {
    for (name <- Seq("dd9_incremental", "gr5_components")) {
      val fn = SparkEntry.queries(name)
      val (a, b) = (Explain.formatted(fn(spark, sf)), Explain.formatted(fn(spark, sf)))
      assert(a == b, s"$name:\n$a\n---\n$b")
      graft.engine.Caching.releaseAll(spark, gc = false)
    }
  }
}
