package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Single-query profiler: run named `SparkEntry.queries` entries with
  * per-action stage/task/task-time accounting.
  *
  * `runMain graft.Prof <query>[,<query>...]` (env `SPARK_GRAFT_SF_DIR`,
  * `SPARK_GRAFT_CPUS` as in [[Bench]], on the same [[GraftSession]]
  * config; 3 timed runs each printed, read the later ones as the warm
  * numbers).
  *
  * Why task counts and not just seconds: on a contended box a Spark task
  * carries a large fixed launch cost, so a "slow query" is very often a
  * TASK-COUNT pathology (a cached tiny frame pinned at `cpus` near-empty
  * partitions fanning every downstream stage) rather than a data-volume
  * one. `taskTime >> wall * cpus` means contention; `tasks` large
  * with `taskTime` small means launch overhead — fix the partitioning,
  * not the operator.
  */
object Prof {
  @volatile private var stages = 0
  @volatile private var tasks = 0
  @volatile private var taskTimeMs = 0L

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).toSeq)
      .getOrElse(sys.error("usage: graft.Prof <query>[,<query>...]"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages += 1
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null) taskTimeMs += t.taskMetrics.executorRunTime
      }
    })
    def time(name: String)(body: => Unit): Unit = {
      stages = 0; tasks = 0; taskTimeMs = 0
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // let straggler listener events drain
      println(f"[prof] $name%-28s $dt%.3f s  stages=$stages tasks=$tasks " +
        f"taskTime=${taskTimeMs / 1000.0}%.1f s")
    }
    time("warmup (per-task floor)")(
      spark.range(1000).selectExpr("sum(id)").toDF()
        .write.mode("overwrite").format("noop").save())
    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query: $n (see SparkEntry.queries)"))
      (1 to 3).foreach(i => time(s"$n #$i")(
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()))
    }
    GraftSession.stop(spark)
  }
}
