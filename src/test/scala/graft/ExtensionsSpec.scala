package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** The SparkSessionExtensions seam (SQL-text access to custom
  * expressions) and the one session factory, [[GraftSession]], that wires
  * it and every engine setting into each session.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("float_dot_product callable from SQL after registration") {
    def dot(): Double = spark.sql(
      """SELECT float_dot_product(
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    // GraftSession registers the extensions when it builds the session
    assert(dot() == 11.0)
    GraftExtensions.registerOn(spark)
    assert(dot() == 11.0)
  }

  test("the test session carries GraftSession's engine settings") {
    val expected = Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true")
    assert(expected.map { case (k, _) => k -> spark.conf.get(k) } == expected)
  }

  test("GraftSession is the only code that builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val builds = """SparkSession\s*\.\s*builder\b""".r
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root),
        s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
      val walked = java.nio.file.Files.walk(root)
      try walked.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "GraftSession.scala")
        .filter(p => builds.findFirstIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
        .map(_.toString).toList
      finally walked.close()
    }
    assert(hits.isEmpty, s"build the session through GraftSession: $hits")
  }

  /** The `src/main/scala` files other than `owner` that spell any of
    * `copies`. */
  private def spelledOutside(owner: String, copies: Seq[scala.util.matching.Regex]) = {
    import scala.jdk.CollectionConverters._
    val walked = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walked.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != owner)
      .filter { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        copies.exists(_.findFirstIn(src).isDefined)
      }
      .map(_.toString).toList
    finally walked.close()
  }

  test("RegimeGate is the only code that clamps a bound and collects bound + 1 rows") {
    val hits = spelledOutside("RegimeGate.scala",
      Seq("""limit\(\s*\w+\s*\+\s*1\s*\)""".r, """Int\.MaxValue\s*-\s*1L""".r))
    assert(hits.isEmpty, s"gate through graft.engine.RegimeGate: $hits")
  }

  test("the corpus kernels are the only code that spells the compositions they replace") {
    val hits = spelledOutside("CorpusKernels.scala", Seq(
      """md5\(\s*concat_ws\(\s*" ",\s*slice\(""".r,
      """conv\(\s*md5\(""".r,
      """(?s)aggregate\(\s*zip_with\(.{0,120}?lit\(0L\)""".r,
      // the tokenizer; other splits of a lowered string are not tokens
      """\bsplit\(\s*lower\([^"']*["']\[\^a-z\]\+["']""".r,
      // the bigram window; the trigram one counts to `size - 2`
      """transform\(\s*sequence\(\s*(?:lit\()?1\)?\s*,\s*size\([^()]*(?:\([^()]*\))?\)\s*-\s*1\s*\)""".r,
      // the signature's window minima; sim8's nearest centroid is not one
      """array_min\(\s*transform\((?!\s*cents\b)""".r))
    assert(hits.isEmpty, s"call graft.functions.CorpusKernels: $hits")
  }

  test("GraftSession is the only code that names the scratch root or the warehouse") {
    val hits = spelledOutside("GraftSession.scala",
      Seq("""target/lake""".r, """warehouse\.dir""".r))
    assert(hits.isEmpty, s"name session scratch through GraftSession.scratchDir: $hits")
  }

  test("no comment in src/main cites a round or an A/B run") {
    import scala.jdk.CollectionConverters._
    val cites = """\br[12]\d\b|(?i:round)[- ]\d|A/B""".r
    // bench record file names, not history
    val artifacts = """BENCH_r\d+|bench_full_r\d+""".r
    def commentOf(line: String): String = {
      val t = line.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) t
      else line.indexOf(" // ") match { case -1 => ""; case k => line.substring(k) }
    }
    val walked = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val hits = try walked.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if cites.findFirstIn(artifacts.replaceAllIn(commentOf(line), "")).isDefined =>
            s"$p:${i + 1}"
        }
      }.toList
    finally walked.close()
    assert(hits.isEmpty, s"history belongs in OPTIMIZATION_r*.md / CHANGES.md: $hits")
  }

  test("extensions object injects without error at construction") {
    // smoke: applying the extensions hook to a fresh container must not
    // throw (full wiring needs a new session, which local tests share)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("graftbridge reaches Spark's private Column<->Expression seam") {
    // Bridge (org.apache.spark.sql.graftbridge) depends on the
    // `private[sql]` classic.ExpressionUtils — a deliberate, version-pinned
    // dependency on Spark 4.1 internals. If a Spark upgrade moves or
    // removes it, this test fails loudly at build time instead of the
    // library failing at runtime; the round-trip also pins the semantics.
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graftbridge.Bridge
    // Column -> Expression -> Column round trip must yield an executable
    // column (the expression side is a lazily-resolved wrapper node, so
    // execution — not a type check — is what pins the seam).
    val expr = Bridge.expression(lit(42))
    val col = Bridge.column(expr)
    val out = spark.range(1).select(col.as("v")).collect()(0).getInt(0)
    assert(out == 42)
  }
}
