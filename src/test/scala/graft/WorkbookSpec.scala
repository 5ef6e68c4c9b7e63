package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DirWorkbookSource, WorkbookSink}

/** Workbook source/sink (SURVEY.md §2.1 S2/S7): the directory-of-tables
  * workbook and the reference's 31-char sheet-name rule, including the
  * truncation-collision edge the reference gets wrong (`mapper.py:134`
  * silently overwrites earlier sheets when two table names share a
  * 31-char prefix).
  */
class WorkbookSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("sheetName truncates to the Excel 31-char cap") {
    assert(WorkbookSink.sheetName("short") == "short")
    assert(WorkbookSink.sheetName("a" * 40) == "a" * 31)
    assert(WorkbookSink.sheetName("a" * 31) == "a" * 31)
  }

  test("sheetNames disambiguates truncation collisions deterministically") {
    // all three truncate to the same 31-char name
    val base31 = "fact_customer_order_lineitem_da" // exactly 31 chars
    val a = base31 + "ily_v1"
    val b = base31 + "ily_v2"
    val names = WorkbookSink.sheetNames(Seq(b, a, base31))
    assert(names.values.toSet.size == 3)
    assert(names.values.forall(_.length <= 31))
    // sorted order: the bare 31-char name sorts first and keeps the
    // truncation; later colliders get a ~N suffix within the budget
    assert(names(base31) == base31)
    assert(names(a) == base31.take(29) + "~1")
    assert(names(b) == base31.take(29) + "~2")
    // input-order independence
    assert(WorkbookSink.sheetNames(Seq(a, base31, b)) == names)
  }

  test("colliding tables round-trip losslessly through the sink") {
    import spark.implicits._
    val a = "t" + ("x" * 35) + "_alpha"
    val b = "t" + ("x" * 35) + "_beta"
    val dir = TestSpark.tempDir("graft-wb").toString
    WorkbookSink.save(
      Map(a -> Seq((1, "a")).toDF("id", "v"), b -> Seq((2, "b")).toDF("id", "v")),
      dir)
    // The reference would have written ONE sheet here; we must keep both.
    val back = DirWorkbookSource.load(spark, dir)
    assert(back.size == 2)
    assert(back.values.map(_.collect().map(_.getString(1)).toSeq).toSet ==
      Set(Seq("a"), Seq("b")))
  }

  test("workbook listing goes through the Hadoop FileSystem API (file: URI)") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-wb-fs").toString
    WorkbookSink.save(
      Map("sales" -> Seq((1, "x"), (2, "y")).toDF("id", "v"),
        "dims" -> Seq((7, "d")).toDF("id", "v")),
      dir)
    // The same directory addressed by a scheme-qualified URI: a
    // java.io.File listing would reject "file:/...", the Hadoop path
    // resolves it — which is what lets the workbook live on hdfs:/s3a:.
    val back = DirWorkbookSource.load(spark, s"file:$dir")
    assert(back.keySet == Set("sales", "dims"))
    assert(back("sales").count() == 2)
    assert(back("dims").collect().map(_.getString(1)).toSeq == Seq("d"))
  }

  test("empty and path-hostile table names are refused loudly") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "v")
    // Empty sheet names are rejected by Excel/openpyxl, and in the dir
    // sink would aim the write AT the workbook directory itself.
    intercept[IllegalArgumentException] {
      WorkbookSink.sheetNames(Seq(""))
    }
    // Sheet names are CHILD PATHS in the dir sink: a separator nests the
    // sheet outside the flat listing, and '..' points the overwrite-mode
    // parquet write at the workbook's PARENT directory.
    val dir = TestSpark.tempDir("graft-wb-hostile").toString
    for (bad <- Seq("..", ".", "a/b", "a\\b")) {
      intercept[IllegalArgumentException] {
        WorkbookSink.save(Map(bad -> df), dir)
      }
    }
    // The xlsx sink is NOT affected for separators: its sanitize pass
    // maps them to '_' before naming (sheet names aren't paths there).
    assert(graft.sources.Xlsx.sanitizeSheetName("a/b") == "a_b")
  }

  test("control chars, whitespace-only, and Windows-reserved entry names are refused") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "v")
    val dir = TestSpark.tempDir("graft-wb-hostile2").toString
    // Beyond separators/traversal: control chars (incl. NUL) corrupt
    // listings or truncate paths in C-string layers, whitespace-only
    // names are unaddressable, and Windows device names (CON, NUL, COM1,
    // even with an extension) shadow any file of that base name.
    val bad = Seq("a\u0000b", "a\nb", "a\tb", "\u0007", "   ", "\t \t",
      "CON", "con", "NUL", "Com1", "lpt9", "CON.parquet", "nul.data")
    for (b <- bad) {
      val e = intercept[IllegalArgumentException] {
        WorkbookSink.save(Map(b -> df), dir)
      }
      assert(e.getMessage.contains("safe workbook entry"), s"'$b': ${e.getMessage}")
    }
    // Names that merely CONTAIN a reserved word, or have interior
    // whitespace, stay legal — the guard is a refusal of genuinely
    // hostile names, not a lint on ordinary ones.
    for (ok <- Seq("CONSOLE", "icon", "COM10", "a b", "sales.2024", "NULs"))
      assert(WorkbookSink.isSafeEntryName(ok), s"'$ok' should be safe")
  }

  test("non-directory and missing workbook paths fail loudly with one contract") {
    val f = java.nio.file.Files.createFile(TestSpark.tempDir("graft-wb").resolve("f.parquet"))
    intercept[IllegalArgumentException] {
      DirWorkbookSource.load(spark, f.toString)
    }
    intercept[IllegalArgumentException] {
      DirWorkbookSource.load(spark, "/no/such/graft/workbook/dir")
    }
  }
}
