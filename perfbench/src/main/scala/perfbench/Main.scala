package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry, Tables}
import graft.engine.{DictionaryTranslator, Pipelines, Preprocess}
import graft.sources.{Loader, XlsxWorkbookSink}

/** JVM half of the benchmark: set-up, the timed closed loop and, with
  * `--trace 1`, the per-layer spans and counters. Inputs are made by
  * `run.py`; this program only reads them, runs the operations one after
  * another on `GraftSession.local(Cores)` and writes `result.json` into
  * `--out` for `run.py` to check and summarise.
  *
  * Arguments (all required): `--workload etl_workbook|query_latency|
  * corpus_batch`, `--ops` (comma-separated operations in run order:
  * workbook paths or query names), `--data` (parquet table directory or
  * workbook directory), `--warmup` (the warm-up's input), `--out`,
  * `--trace 0|1`.
  */
object Main {

  val Cores = 4

  /** The corpus op that is not a registry query: the P1-P10 cleaning pass
    * over one large text column. */
  val CleanText = "clean_documents_text"

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val out = opt("out")
    Files.createDirectories(Paths.get(out))

    // Set-up, the first thing this JVM does: a session plus the warm-up.
    val t0 = System.nanoTime()
    val spark = GraftSession.local(Cores)
    val startS = secs(t0)
    warmUp(spark, workload, opt("warmup"), out)
    val setupS = secs(t0)
    val data = opt("data")
    val tracer = if (opt("trace") == "1") Some(Tracer.install(spark)) else None
    val gc0 = gcSeconds()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val runner: Runner = workload match {
      case "etl_workbook" => new EtlRunner(spark, data, out)
      case "query_latency" | "corpus_batch" => new QueryRunner(spark, data)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // Timed phase: every operation once, one client.
    val phaseStart = System.nanoTime()
    val records = opt("ops").split(",").toSeq.zipWithIndex.map {
      case (op, id) => runner.run(op, id)
    }
    val batchS = secs(phaseStart)
    val gcS = gcSeconds() - gc0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val traced = tracer.map(_.summary(records))

    // Outside the timed window: results of the timed operations go to disk
    // for the independent checks.
    runner.finish(out)
    val json = new StringBuilder("{")
    json ++= s""""workload":${q(workload)},"setup_s":$setupS,"session_start_s":$startS,"""
    json ++= s""""batch_s":$batchS,"peak_rss_mb":${peakRssMb()},"""
    json ++= s""""gc_s":$gcS,"heap_peak_mb":$heapPeakMb,"""
    json ++= s""""ops":[${records.map(_.json).mkString(",")}]"""
    traced.foreach(t => json ++= s""","trace":$t""")
    json ++= "}"
    Files.write(Paths.get(out, "result.json"), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  /** Exercises code paths the workload's operations share (a csv read,
    * the cleaning aggregate and dedup shuffle, the xlsx writer; a parquet
    * scan and aggregate) with work no timed operation repeats. */
  def warmUp(spark: SparkSession, workload: String, input: String, out: String): Unit =
    if (workload == "etl_workbook") {
      val df = Preprocess.clean(Loader.load(spark, input)).df
      XlsxWorkbookSink.save(Map("warmup" -> df), s"$out/warmup.xlsx", spark)
    } else
      SparkEntry.queries("q1_pricing_summary")(spark, input).collect()

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
}

/** One timed operation: its wall time, the phase spans inside it (epoch
  * ms, for attributing Spark events) and an error if it failed. */
final case class OpRecord(
    name: String, id: Int, wallS: Double,
    spans: Seq[(String, Long, Long, Double)], error: Option[String],
    extra: Map[String, Double] = Map.empty) {
  def json: String = {
    val sp = spans.map { case (n, a, b, d) =>
      s"""{"name":${Main.q(n)},"start_ms":$a,"end_ms":$b,"s":$d}""" }
    val ex = extra.map { case (k, v) => s"${Main.q(k)}:$v" }
    s"""{"name":${Main.q(name)},"id":$id,"wall_s":$wallS,""" +
      s""""error":${error.map(Main.q).getOrElse("null")},""" +
      s""""spans":[${sp.mkString(",")}],"extra":{${ex.mkString(",")}}}"""
  }
}

trait Runner {
  def run(op: String, id: Int): OpRecord
  /** Write what the checks need. */
  def finish(out: String): Unit

  /** Time `body` as span `name`; spans are recorded in both modes so the
    * traced and untraced runs do identical work. */
  protected def span[A](spans: mutable.Buffer[(String, Long, Long, Double)],
      name: String)(body: => A): A = {
    val a = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = body
    spans += ((name, a, System.currentTimeMillis(), Main.secs(t0)))
    r
  }

  protected def timed(name: String, id: Int)(
      body: mutable.Buffer[(String, Long, Long, Double)] => Map[String, Double])
      : OpRecord = {
    val spans = mutable.Buffer.empty[(String, Long, Long, Double)]
    val t0 = System.nanoTime()
    try {
      val extra = body(spans)
      OpRecord(name, id, Main.secs(t0), spans.toSeq, None, extra)
    } catch { case scala.util.control.NonFatal(e) =>
      OpRecord(name, id, Main.secs(t0), spans.toSeq,
        Some(s"${e.getClass.getName}: ${e.getMessage}".take(500)))
    }
  }
}

/** The paper's pipeline, one source workbook per operation:
  * `Loader.load` -> `translatePipeline` -> `mapPipeline` onto the GHG
  * schema -> `XlsxWorkbookSink.save`. Each output lands in its own file,
  * `<out>/<workbook base name>.xlsx`. */
final class EtlRunner(spark: SparkSession, dir: String, out: String) extends Runner {
  private val dest: Map[String, Seq[String]] = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(dir, "schema.json"), classOf[java.util.Map[String, java.util.List[String]]])
    m.asScala.map { case (k, v) => k -> v.asScala.toSeq }.toMap
  }

  def run(op: String, id: Int): OpRecord =
    timed(op, id) { spans =>
      val base = new File(op).getName.replaceAll("\\.[^.]+$", "")
      val target = s"$out/$base.xlsx"
      val df = span(spans, "sources.read")(Loader.load(spark, op))
      val report = span(spans, "engine.translate") {
        val tr = DictionaryTranslator.fromJson(s"$dir/dictionary.json")
        Pipelines.translatePipeline(df, tr)
      }
      val tables = span(spans, "engine.map")(Pipelines.mapPipeline(report.df, dest))
      span(spans, "sources.write")(XlsxWorkbookSink.save(tables, target, spark))
      Map("write_mb" -> new File(target).length / 1e6)
    }

  def finish(out: String): Unit = ()
}

/** Registry queries (and the text-column clean): build with
  * `fn(spark, dir)`, force the physical plan, then collect. The collected
  * rows are kept for the checks. */
final class QueryRunner(spark: SparkSession, dir: String) extends Runner {
  private val queries = SparkEntry.queries
  private val results = mutable.LinkedHashMap.empty[String, (org.apache.spark.sql.types.StructType, Array[Row])]

  private def build(op: String): DataFrame =
    if (op == Main.CleanText)
      Preprocess.clean(Tables.t(spark, dir, "documents").select("text")).df
    else queries(op)(spark, dir)

  def run(op: String, id: Int): OpRecord =
    timed(op, id) { spans =>
      val df = span(spans, "construct")(build(op))
      span(spans, "plan")(df.queryExecution.executedPlan)
      val rows = span(spans, "exec")(df.collect())
      results(op) = (df.schema, rows)
      Map("rows" -> rows.length.toDouble)
    }

  def finish(out: String): Unit = {
    results.foreach { case (op, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/results/$op")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => results.contains(k) }
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new File(out, "oracle_sql.json"), oracle.asJava)
  }
}
