package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: print the formatted physical plan of selected queries
  * (all of them when only the sf dir is given), normalised so that two
  * dumps of the same plans are byte-identical and a plain `diff` of two
  * trees' dumps shows only real plan changes.
  *
  * {{{ sbt "runMain graft.Explain /root/testdata/sf0.001 dd2_jaccard_pairs" }}}
  */
object Explain {

  /** Run-to-run noise in a plan's text, with its stable stand-in:
    * expression ids (`doc_id#123L`), exchange `plan_id`s, the counter
    * suffix of generated lambda variables (`x_12`), JVM lambda class
    * names, identity hashes (`Foo@1b2c3d4e`), the Spark application id
    * that names per-session tables and paths (`local-1792394179696`),
    * written files' UUIDs, and the ids and call-site source lines of RDDs
    * (`MapPartitionsRDD[847] at localCheckpoint at Pipelines.scala:249`),
    * which shift with any job or edit before them.
    */
  private val Noise = Seq(
    """#\d+""".r -> "#N",
    """plan_id=\d+""".r -> "plan_id=N",
    """\b(lambda [A-Za-z]+)_\d+""".r -> "$1_N",
    """\$+Lambda[$/\w.]*""".r -> "\\$Lambda",
    """@[0-9a-f]{4,16}\b""".r -> "@H",
    """(local[-_])\d{6,}""".r -> "$1APP",
    """[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}""".r -> "UUID",
    """RDD\[\d+\]""".r -> "RDD[N]",
    """(\bat \w+\.scala):\d+""".r -> "$1:N")

  /** `text` with every [[Noise]] pattern replaced (pure). */
  def normalise(text: String): String =
    Noise.foldLeft(text) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  /** The normalised formatted plan of `df` (plans, runs nothing), with
    * paths under the working directory made relative, so that two
    * checkouts' dumps compare. */
  private[graft] def formatted(df: DataFrame): String =
    normalise(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      .replace("file:" + System.getProperty("user.dir") + "/", "file:")

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
          try println(formatted(fn(spark, sfDir)))
          catch { case e: Throwable =>
            println(s"[explain] $n failed: ${e.getMessage}")
          }
      }
    } finally GraftSession.stop(spark)
  }
}
