package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, gathered from outside the engine:
  * a `SparkListener` (jobs, stages, tasks, cached blocks) and a
  * `QueryExecutionListener` (Catalyst phase times of every action), both
  * registered by the benchmark. Events are kept in memory and attributed
  * to the benchmark's own spans by time when the run ends.
  */
final class Tracer(spark: SparkSession) {

  private final case class Job(id: Int, start: Long, var end: Long,
      site: String, stages: Seq[Int])
  private final class StageAcc {
    var ran = false
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val executionSites = mutable.HashMap.empty[Long, String]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var cachePeak = 0L
  // (end of the last phase in epoch ms, analysis s, optimizer s, planning s)
  private val phases = mutable.Buffer.empty[(Long, Double, Double, Double)]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAcc)

  val sparkListener: SparkListener = new SparkListener {
    // A SQL job's own call site is often a thread of Spark's adaptive
    // executor; the user call site is on the SQL execution it belongs to.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executionSites(s.executionId) = s.description }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong))
      val site = execution.orElse(
        e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, e.time, site, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized { stage(e.stageInfo.stageId).ran = true }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cached += size - blocks.getOrElse(b.blockId.name, 0L)
        if (size > 0) blocks(b.blockId.name) = size else blocks.remove(b.blockId.name)
        cachePeak = math.max(cachePeak, cached)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def d(n: String) = p.get(n).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    if (p.nonEmpty)
      phases += ((p.values.map(_.endTimeMs).max, d("analysis"), d("optimization"), d("planning")))
  }

  /** Per-layer metrics as a JSON object: per-operation means of span
    * times and counts, run-level peaks. */
  def summary(ops: Seq[OpRecord]): String = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val n = ops.size.toDouble
      val allSpans = ops.flatMap(o => o.spans.map(s => (o, s)))
      // The span (and its op) a timestamp falls in.
      def spanAt(t: Long) = allSpans.find { case (_, s) => s._2 <= t && t <= s._3 }
      def jobsIn(pred: (OpRecord, String) => Boolean): Seq[Job] =
        jobs.values.toSeq.filter(j => spanAt(j.start).exists { case (o, s) => pred(o, s._1) })
      def spanS(name: String) = ops.flatMap(_.spans).filter(_._1 == name).map(_._4).sum / n
      def siteIs(j: Job, file: String) = j.site.contains(s" at $file:")
      def jobS(js: Seq[Job]) = js.map(j => (j.end - j.start) / 1e3).sum / n
      def stageSum(js: Seq[Job])(f: StageAcc => Long) =
        js.flatMap(_.stages).distinct.flatMap(stages.get).map(f).sum
      // Wall time during which at least one of `js` was running.
      def busyS(js: Seq[Job]) = {
        var total, end = 0L
        js.sortBy(_.start).foreach { j =>
          if (j.start >= end) { total += j.end - j.start; end = j.end }
          else if (j.end > end) { total += j.end - end; end = j.end }
        }
        total / 1e3 / n
      }
      val hasPlanSpan = ops.exists(_.spans.exists(_._1 == "plan"))
      val opJobs = jobsIn((_, _) => true)
      val execJobs = if (hasPlanSpan) jobsIn((_, s) => s == "exec") else opJobs
      val opPhases = phases.filter(p => spanAt(p._1).nonEmpty)
      val analysis = opPhases.map(_._2).sum / n
      val optimizer = opPhases.map(_._3).sum / n
      val physical = opPhases.map(_._4).sum / n
      val execS = if (hasPlanSpan) spanS("exec") else busyS(execJobs)
      val taskS = stageSum(execJobs)(_.taskMs) / 1e3 / n
      val tablesJobs = opJobs.filter(siteIs(_, "Tables.scala"))
      val mb = 1e6 * n
      val m = Seq(
        "sources.read_s" -> spanS("sources.read"),
        "sources.write_s" -> spanS("sources.write"),
        "sources.write_mb" -> ops.flatMap(_.extra.get("write_mb")).sum / n,
        "sources.write_jobs" -> jobsIn((_, s) => s == "sources.write").size / n,
        "engine.translate_s" -> spanS("engine.translate"),
        "engine.translate_jobs" -> jobsIn((_, s) => s == "engine.translate").size / n,
        "engine.map_s" -> spanS("engine.map"),
        "engine.map_jobs" -> jobsIn((_, s) => s == "engine.map").size / n,
        "engine.clean_jobs" -> opJobs.count(siteIs(_, "Preprocess.scala")) / n,
        "tables.jobs" -> tablesJobs.size / n,
        "tables.s" -> jobS(tablesJobs),
        "construct.s" -> spanS("construct"),
        "construct.jobs" -> jobsIn((_, s) => s == "construct").size / n,
        "plan.s" -> (if (hasPlanSpan) spanS("plan") else analysis + optimizer + physical),
        "plan.analysis_s" -> analysis,
        "plan.optimizer_s" -> optimizer,
        "plan.physical_s" -> physical,
        "exec.s" -> execS,
        "exec.jobs" -> execJobs.size / n,
        "exec.stages" -> stageSum(execJobs)(s => if (s.ran) 1L else 0L) / n,
        "exec.tasks" -> stageSum(execJobs)(_.tasks) / n,
        "exec.task_s" -> taskS,
        "exec.core_util" -> (if (execS > 0) taskS / (execS * Main.Cores) else 0.0),
        "exec.shuffle_write_mb" -> stageSum(execJobs)(_.shuffleWrite) / mb,
        "exec.shuffle_read_mb" -> stageSum(execJobs)(_.shuffleRead) / mb,
        "exec.spill_mb" -> stageSum(execJobs)(_.spill) / mb,
        "cache.peak_mb" -> cachePeak / 1e6)
      val sites = jobs.values.groupBy(_.site).map { case (k, v) => Main.q(k) + ":" + v.size }
      m.map { case (k, v) => s"${Main.q(k)}:$v" }
        .mkString("{\"metrics\":{", ",", "},\"job_sites\":{" + sites.mkString(",") + "}}")
    }
  }
}

object Tracer {
  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t.sparkListener)
    spark.listenerManager.register(t.queryListener)
    t
  }
}
