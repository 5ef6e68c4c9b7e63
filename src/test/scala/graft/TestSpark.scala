package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  /** Directories deleted at JVM exit, with file I/O alone, which does not
    * care whether Spark's own hook has run yet. */
  private val atExit = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  sys.addShutdownHook(atExit.forEach(f => GraftSession.delete(f)))

  /** A fresh directory under the JVM temp dir, deleted at JVM exit. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    atExit.add(dir.toFile)
    dir
  }

  lazy val spark: SparkSession = {
    val warehouse = tempDir("graft-wh").toFile
    val s = GraftSession.builder("local[4]", defaultParallelism = Some(4))
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // The suites share this session to the end of the JVM, so it never
    // reaches GraftSession.stop: its scratch goes at exit too.
    atExit.add(new java.io.File(GraftSession.scratchDir(s, "")))
    s
  }

  /** The body's result and the number of jobs that start while it runs,
    * whatever thread or job group submits them: every job that starts
    * between a start marker job and an end marker job. Suites run one at
    * a time in the forked test JVM, so no other test's jobs fall in the
    * window. Listener events arrive asynchronously but in order, so the
    * end marker's start event proves every earlier one has been
    * delivered. */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID()
    val (start, end) = (s"jobs-$id-start", s"jobs-$id-end")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var counting = false
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `start` => counting = true
          case `end` => counting = false; drained.countDown()
          case _ => if (counting) jobs.incrementAndGet()
        }
    }
    def marker(group: String): Unit = {
      sc.setJobGroup(group, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      marker(start)
      val result = body
      marker(end)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
