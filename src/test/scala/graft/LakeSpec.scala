package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Partitioned-lake layout: directory pruning at plan time and explicit
  * output-file budgets — the storage disciplines the 100 TB notes in
  * [[graft.sources.Lake]] promise.
  */
class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("partition filter prunes directories, not rows") {
    val scan = Lake.prunedScan(spark, sf)
    val plan = scan.queryExecution.executedPlan.toString
    // the event_type predicate must be a PARTITION filter (resolved
    // against the directory layout), never a per-row data filter
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    val pf = plan.split("PartitionFilters:")(1).split("]")(0)
    assert(pf.contains("event_type"), plan.take(2000))
    assert(!plan.split("PushedFilters:")(1).split("]")(0).contains("event_type"),
      plan.take(2000))
    // and the partition column is not read from the files themselves
    val rows = scan.count()
    val direct = Tables.t(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(rows == direct && rows > 0)
  }

  test("incremental read prunes the already-ingested day directories") {
    import org.apache.spark.sql.functions.to_date
    val scan = Lake.incrementalScan(spark, sf)
    val plan = scan.queryExecution.executedPlan.toString
    // the watermark predicate resolves against the directory layout at
    // planning time — directory pruning, not row filtering
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    val pf = plan.split("PartitionFilters:")(1).split("]")(0)
    assert(pf.contains("day"), plan.take(2000))
    assert(!plan.split("PushedFilters:")(1).split("]")(0).contains("day"),
      plan.take(2000))
    // increment = exactly the rows past day 15 of the corpus
    val ev = Tables.t(spark, sf, "events")
    val minDay = ev.select(org.apache.spark.sql.functions.min(to_date(col("ts"))))
      .head.getDate(0)
    val direct = ev.filter(
      to_date(col("ts")) > org.apache.spark.sql.functions.date_add(
        org.apache.spark.sql.functions.lit(minDay), 14)).count()
    assert(scan.count() == direct && direct > 0)
  }

  test("z-order layout skips more row groups than linear sort on 2-D ranges") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    // 10k rows + tiny row groups => enough groups for stats to matter
    val ev = Tables.t(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    // numPartitions = 1 keeps the z and linear group counts comparable
    // for the overlap-count comparison below; the multi-partition path is
    // covered by the disjoint-z-ranges test.
    val zDir = Lake.writeZOrdered(ev, "events_z", rowGroupBytes = 8192,
      numPartitions = 1)
    val linDir = GraftSession.scratchDir(spark, "events_linear")
    ev.repartitionByRange(1, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").option("parquet.block.size", 8192L)
      .parquet(linDir)

    // per row group: (user_id min/max, value min/max) from parquet footers
    def groups(dir: String): Seq[(Long, Long, Double, Double)] = {
      val conf = new org.apache.hadoop.conf.Configuration()
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.flatMap { f =>
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
          try rd.getFooter.getBlocks.asScala.toSeq.map { b =>
            val byName = b.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            (byName("user_id").genericGetMin.asInstanceOf[Long],
              byName("user_id").genericGetMax.asInstanceOf[Long],
              byName("value").genericGetMin.asInstanceOf[Double],
              byName("value").genericGetMax.asInstanceOf[Double])
          } finally rd.close()
        }
    }
    val zg = groups(zDir)
    val lg = groups(linDir)
    assert(zg.size >= 8 && lg.size >= 8, s"z=${zg.size} lin=${lg.size}")

    // a moderately selective square: middle ~25% of each dimension
    val (us, vs) = (ev.selectExpr("min(user_id)", "max(user_id)",
      "min(value)", "max(value)").collect()(0) match {
      case r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))
    })
    val (u1, u2) = (us._1 + (us._2 - us._1) * 3 / 8, us._1 + (us._2 - us._1) * 5 / 8)
    val (v1, v2) = (vs._1 + (vs._2 - vs._1) * 0.375, vs._1 + (vs._2 - vs._1) * 0.625)
    def hits(gs: Seq[(Long, Long, Double, Double)]): Int =
      gs.count { case (umn, umx, vmn, vmx) =>
        umx >= u1 && umn <= u2 && vmx >= v1 && vmn <= v2 }

    // the linear layout prunes on user_id only; z prunes on BOTH — with
    // comparable group counts it must overlap strictly fewer groups
    assert(hits(zg) < hits(lg),
      s"z=${hits(zg)}/${zg.size} linear=${hits(lg)}/${lg.size}")
    // and the data survives the layout intact
    assert(spark.read.parquet(zDir)
      .filter(col("user_id").between(u1, u2) && col("value").between(v1, v2))
      .count() ==
      ev.filter(col("user_id").between(u1, u2) && col("value").between(v1, v2))
        .count())
  }

  test("z-interleave matches an independent bit interleave on random cells") {
    import spark.implicits._
    def ref(a: Long, b: Long): Long =
      (0 until 16).foldLeft(0L) { (acc, i) =>
        acc | (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(7)
    val cells = (Seq((0L, 0L), (65535L, 65535L), (0L, 65535L), (65535L, 0L)) ++
      Seq.fill(200)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)))
    val got = cells.toDF("a", "b")
      .select(org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"),
        Lake.zInterleave(org.apache.spark.sql.functions.col("a"),
          org.apache.spark.sql.functions.col("b")).as("z"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) == ref(r.getLong(0), r.getLong(1)), r)
    }
    // corner sanity: full-range interleave fills exactly 32 bits
    assert(ref(65535L, 65535L) == 0xFFFFFFFFL)
  }

  test("multi-partition z-order write keeps per-file z-ranges disjoint") {
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val ev = Tables.t(spark, "/root/testdata/sf0.01", "events")
      .select("event_id", "user_id", "value")
    val zDir = Lake.writeZOrdered(ev, "events_z8", rowGroupBytes = 8192,
      numPartitions = 8)
    // Recompute each written row's z-key (same rows => same corpus
    // min/max => same cells) and collapse to per-file [min, max] ranges.
    // input_file_name() must attach directly over the single scan —
    // withZKey's stats join would make it a multi-source expression.
    val tagged = Lake.withZKey(
      spark.read.parquet(zDir).withColumn("f", input_file_name()))
    val ranges = tagged
      .groupBy(col("f"))
      .agg(min(col("zvalue")).as("lo"), max(col("zvalue")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "expected a parallel multi-file layout")
    ranges.sliding(2).foreach { case Array((_, hi), (lo2, _)) =>
      assert(hi < lo2, s"overlapping file z-ranges: $hi >= $lo2")
    }
    // and 2-D skipping still holds: a z-interval query touches a strict
    // subset of the files
    val (zl, zh) = (ranges(2)._1, ranges(2)._2)
    val touched = tagged
      .filter(col("zvalue").between(zl, zh))
      .select(col("f")).distinct().count()
    assert(touched < ranges.length)
    assert(spark.read.parquet(zDir).count() == ev.count())
  }

  test("compacted write honors the output file budget exactly") {
    val out = Lake.compactedWrite(
      Tables.t(spark, sf, "events").select("event_id", "user_id", "value"),
      "events_compacted", numFiles = 4)
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length == 4, files.map(_.getName).mkString(","))
    // nothing lost in the compaction
    assert(spark.read.parquet(out).count() ==
      Tables.t(spark, sf, "events").count())
  }
}
