package graft.engine

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel

/** The driver-or-distributed regime gate shared by the operators that
  * finish small graphs and vocabularies on the driver (componentsOf,
  * pr1, the gr family, the BPE trainer).
  *
  * Contract: [[apply]] persists the gated frame and runs ONE bounded
  * action, `limit(bound + 1).collect()`. It returns every row when the
  * frame holds at most `bound` rows and `bound + 1` rows otherwise, so
  * the same job decides the regime and delivers the driver regime's
  * data. A frame over the bound, or one whose keys are not all long,
  * takes the distributed regime: the caller's `materialise` runs against
  * the persisted frame, so its checkpoint reads the blocks the collect
  * wrote instead of re-running the frame's lineage. The persist is
  * released in a `finally`: after the collect in the driver regime,
  * after `materialise` in the distributed one, and when either throws.
  *
  * The bound is clamped at `Int.MaxValue - 1`, so `limit`'s argument
  * cannot wrap negative.
  */
private[graft] object RegimeGate {

  /** The default bound, in rows: at or below it the gated frame is
    * broadcast-build-side sized (1M long pairs ≈ 16 MB of ids, 1M vocab
    * rows a few tens of MB), the regime where Spark itself would ship a
    * join side whole. Above it the distributed plans run unchanged, so a
    * corpus-scale frame never routes through the driver.
    */
  val DriverRows = 1000000L

  /** `Left(rows)`: the collected rows, at most `max` of them. `Right(b)`:
    * what `materialise` built from the persisted frame. `nodes`, when
    * given, is a one-column id frame whose id must be long as well;
    * `longKeys = false` skips the type check (the caller reads no long
    * keys).
    */
  def apply[B](
      frame: DataFrame,
      max: Long,
      nodes: Option[DataFrame] = None,
      longKeys: Boolean = true)(materialise: DataFrame => B): Either[Array[Row], B] = {
    val p = frame.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val eligible = !longKeys ||
        (p.schema.fields ++ nodes.map(_.schema.fields.head))
          .forall(_.dataType == LongType)
      val bound = math.min(max, Int.MaxValue - 1L).toInt
      val head = if (eligible) p.limit(bound + 1).collect() else Array.empty[Row]
      if (eligible && head.length <= bound) Left(head) else Right(materialise(p))
    } finally p.unpersist(blocking = false)
  }
}
