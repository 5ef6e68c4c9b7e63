package graft

/** Dev tool: print the formatted physical plan of selected queries
  * (all of them when only the sf dir is given).
  *
  * {{{ sbt "runMain graft.Explain /root/testdata/sf0.001 dd2_jaccard_pairs" }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { n =>
      println(s"==== $n ====")
      // Per-query isolation: a mistyped name or a constructor that fails
      // (some constructors run eager driver-side work) must not abort the
      // remaining audits.
      SparkEntry.queries.get(n) match {
        case None => println(s"[explain] unknown query: $n")
        case Some(fn) =>
          try fn(spark, sfDir).explain("formatted")
          catch { case e: Throwable =>
            println(s"[explain] $n failed: ${e.getMessage}")
          }
      }
    } finally spark.stop()
  }
}
