package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated name prefixes to dump a subset
    // (the driver always passes exactly two args — full run)
    val prefixes = args.lift(2).map(_.split(",").toSeq)
    def selected(name: String): Boolean =
      prefixes.forall(_.exists(name.startsWith))
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    try dump(spark, sfDir, outDir, selected)
    finally GraftSession.stop(spark)
  }

  private def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String, selected: String => Boolean): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => selected(kv._1)).zipWithIndex.foreach {
      case ((name, fn), i) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // Inter-query hygiene (Caching.releaseAll's rationale): drop the
        // localCheckpoint / leftover-cache blocks a query leaves in the
        // block manager so the 231-query sweep doesn't tax late queries'
        // storage pool — only GC + ContextCleaner reclaim them otherwise.
        // Unlike Bench (whose per-query times must track isolated cost),
        // Verify only needs the debris BOUNDED, and it runs under the
        // driver's wall-clock budget — so the full GC runs every 4th
        // query (~0.3 s each; per-query it cost the sf0.01 sweep +80 s)
        // and the cheap unpersist sweep runs on the other three.
        // Own try/catch (per-query error-isolation convention): a reclaim
        // failure after a query fatally broke the context must not abort
        // main before oracle_sql.json is written — that would zero the
        // round's correctness instead of failing the one query.
        try graft.engine.Caching.releaseAll(spark, gc = i % 4 == 3,
          blocking = false)
        catch { case e: Throwable =>
          System.err.println(s"[verify] reclaim after $name failed: ${e.getMessage}")
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
