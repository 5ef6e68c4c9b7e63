package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.RegimeGate

/** The driver-or-distributed gate: which side of the bound a frame lands
  * on, the clamp, the eligibility check and the cache's release in every
  * outcome. The operators' two-regime equivalence is pinned in DedupSpec,
  * GraphSpec and InvariantSpec.
  */
class RegimeGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def longs(n: Long): DataFrame = spark.range(n).toDF("id")

  /** The gate's outcome on `frame`, with the frame's storage level as the
    * distributed branch sees it; the cache must be gone afterwards. */
  private def gate(frame: DataFrame, max: Long, nodes: Option[DataFrame] = None,
      longKeys: Boolean = true): Either[Seq[Long], StorageLevel] = {
    val out = RegimeGate(frame, max, nodes, longKeys)(_.storageLevel)
    assert(frame.storageLevel == StorageLevel.NONE)
    out.left.map(_.toSeq.map(_.getLong(0)).sorted)
  }

  test("exactly bound rows finish on the driver; bound + 1 go distributed") {
    assert(gate(longs(5), 5) == Left(0L until 5L))
    assert(gate(longs(6), 5) == Right(StorageLevel.MEMORY_AND_DISK))
  }

  test("bound 0 on an empty frame finishes on the driver") {
    assert(gate(longs(0), 0) == Left(Nil))
    assert(gate(longs(1), 0).isRight)
  }

  test("a bound above Int.MaxValue is clamped, not wrapped negative") {
    for (max <- Seq(Int.MaxValue.toLong, Int.MaxValue + 1L, Long.MaxValue))
      assert(gate(longs(3), max) == Left(Seq(0L, 1L, 2L)), max)
  }

  test("an ineligible frame goes distributed without collecting") {
    import spark.implicits._
    val strings = Seq("a", "b").toDF("t")
    val (out, jobs) = TestSpark.jobsDuring(gate(strings, 10))
    assert(out.isRight && jobs == 0, s"$out after $jobs jobs")
    val intNodes = Seq(1, 2).toDF("id")
    assert(gate(longs(2), 10, Some(intNodes)).isRight)
    assert(gate(longs(2), 10, Some(longs(2))).isLeft)
    // no type check: a string frame under the bound finishes on the driver
    val rows = RegimeGate(strings, 10, longKeys = false)(_ => ())
    assert(rows.left.map(_.map(_.getString(0)).sorted.toSeq) == Left(Seq("a", "b")))
    assert(strings.storageLevel == StorageLevel.NONE)
  }

  test("the cache is released when the collect or the materialise throws") {
    val planted = udf((v: Long) =>
      if (v == 7L) throw new IllegalStateException("planted") else v)
    val failing = longs(10).select(planted(col("id")).as("id"))
    intercept[Exception](RegimeGate(failing, 100)(_ => ()))
    assert(failing.storageLevel == StorageLevel.NONE)
    val big = longs(10)
    intercept[IllegalStateException](
      RegimeGate(big, 5)(_ => throw new IllegalStateException("materialise")))
    assert(big.storageLevel == StorageLevel.NONE)
  }
}
