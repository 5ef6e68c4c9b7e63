package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Xlsx, XlsxWorkbookSink, XlsxWorkbookSource}

/** Binary xlsx codec (SURVEY.md §2.1 S2/S7 binary halves).
  *
  * Two independent-validation axes, the strongest available offline:
  *   1. Scala round-trip: the Scala reader must reproduce what the Scala
  *      writer emitted, schema and values, across every cell type.
  *   2. Independent producer: `src/test/resources/interop_fixture.xlsx`
  *      was written by `tools/check_xlsx.py`'s SEPARATE Python-stdlib
  *      SpreadsheetML implementation and exercises the parts the Scala
  *      writer never emits (sharedStrings + rich-text runs, `t="s"`
  *      cells, sparse rows/headers via `r=` gaps, a formula cell with a
  *      cached value, a rel-less positional sheet). The reverse direction
  *      (Python reads a Scala-written file) is run as a dev check —
  *      `python3 tools/check_xlsx.py read <file>` — and its output is
  *      recorded in SURVEY §8.
  */
class XlsxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(name: String): String =
    TestSpark.tempDir("graft-xlsx").resolve(name).toString

  /** The writer's sheet spool files now in the JVM temp dir. */
  private def spools(): Set[String] = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
    dir.list().filter(_.startsWith("graft-xlsx-spool-")).toSet
  }

  test("multi-sheet multi-type workbook round-trips losslessly") {
    import spark.implicits._
    val facts = Seq(
      (1L, 12.5, true, "plain"),
      (2L, -0.25, false, "  padded  "),
      (3L, 1e9, true, "specials <&> \"quoted\" и 汉字")
    ).toDF("id", "ratio", "flag", "label")
    val dims = Seq(("eu", 7L), ("ap", 9L)).toDF("region", "n")
    // Deterministic location (not tmp): every test run refreshes the
    // artifact the manual reverse-interop check reads —
    //   python3 tools/check_xlsx.py read target/xlsx-interop/roundtrip.xlsx
    val path = "target/xlsx-interop/roundtrip.xlsx"
    XlsxWorkbookSink.save(Map("facts" -> facts, "dims" -> dims), path, spark)

    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.keySet == Set("facts", "dims"))
    assert(back("facts").schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("id" -> "long", "ratio" -> "double", "flag" -> "boolean", "label" -> "string"))
    assert(back("facts").orderBy("id").collect().map(_.toSeq).toSeq ==
      facts.orderBy("id").collect().map(_.toSeq).toSeq)
    assert(back("dims").orderBy("region").collect().map(_.toSeq).toSeq ==
      dims.orderBy("region").collect().map(_.toSeq).toSeq)
  }

  test("nulls survive as typed nulls; all-null columns read as string") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Option.empty[String], Option.empty[Double]),
      (Option.empty[Long], Some("x"), Option.empty[Double])
    ).toDF("a", "b", "c")
    val path = tmp("nulls.xlsx")
    XlsxWorkbookSink.save(Map("t" -> df), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)("t")
    assert(back.schema.map(_.dataType.typeName) == Seq("long", "string", "string"))
    val rows = back.orderBy("a").collect()
    assert(rows(0).toSeq == Seq(null, "x", null)) // nulls sort first
    assert(rows(1).toSeq == Seq(1L, null, null))
  }

  test("31-char sheet-name truncation and ~N collisions apply to xlsx sheets") {
    import spark.implicits._
    val a = "t" + ("x" * 35) + "_alpha"
    val b = "t" + ("x" * 35) + "_beta"
    val path = tmp("collide.xlsx")
    XlsxWorkbookSink.save(
      Map(a -> Seq((1, "a")).toDF("id", "v"), b -> Seq((2, "b")).toDF("id", "v")),
      path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    // Both tables survive (the reference's mapper.py:134 would have
    // silently kept one) under distinct <=31-char sheet names.
    assert(back.size == 2)
    assert(back.keys.forall(_.length <= 31))
    assert(back.values.flatMap(_.collect().map(_.getString(1))).toSet == Set("a", "b"))
  }

  test("independent Python-stdlib producer fixture parses correctly") {
    val path = getClass.getResource("/interop_fixture.xlsx").getPath
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.keySet == Set("metrics", "notes & caveats", "dates"))

    val m = back("metrics")
    // sharedStrings headers (incl. a rich-text <r>-run value in the body),
    // a sparse D1 gap -> pandas-style placeholder, E1 present
    assert(m.schema.fieldNames.toSeq ==
      Seq("region", "revenue", "ok", "Unnamed: 3", "extra"))
    assert(m.schema.map(_.dataType.typeName) ==
      Seq("string", "double", "boolean", "string", "string"))
    assert(m.orderBy("region").collect().map(_.toSeq).toSeq == Seq(
      Seq("ap-south", null, false, null, null),   // sparse row: B3 absent
      Seq("computed", 12.5, true, null, null),    // formula cell cached <v>
      Seq("errored", null, false, null, null),    // t="e" error cell -> null
      Seq("eu-west", 12.5, true, null, null)))    // rich-text shared string

    val n = back("notes & caveats")
    assert(n.schema.fieldNames.toSeq == Seq("note"))
    // sheet2 has no r= attributes and no rels entry beyond the standard
    // one; XML entities decode through the escape round-trip
    assert(n.collect().map(_.getString(0)).toSeq == Seq("7 < 9 & \"q\""))

    // sheet3: styled numeric cells are Excel-native date serials — the
    // builtin date format (14) and a custom datetime format both decode
    // to the codec's ISO text convention, while the UNstyled serial in
    // the same row stays a number. A datetime-formatted serial with a
    // zero time fraction reads date-only (documented heuristic).
    val d = back("dates")
    assert(d.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq("day" -> "string", "at" -> "string", "serial" -> "long"))
    assert(d.orderBy("day").collect().map(_.toSeq).toSeq == Seq(
      Seq("1999-12-31", "1999-12-31", 36525L),
      Seq("2026-08-15", "2026-08-15 10:30:00", 46249L)))
  }

  test("six-sheet workbook preserves workbook sheet order in the returned map") {
    import spark.implicits._
    // Past 4 entries an immutable Map defaults to hash iteration — the
    // insertion-order contract must hold at ANY sheet count. Workbook
    // order is the writer's sorted-table-name order.
    val names = Seq("a1", "a2", "b1", "c3", "d4", "e5")
    val path = tmp("order.xlsx")
    XlsxWorkbookSink.save(
      names.map(n => n -> Seq((n, 1L)).toDF("k", "v")).toMap, path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.keys.toSeq == names)
  }

  test("serial edges: phantom day 60, time-only and sub-second serials") {
    // Serial 60 IS Lotus's phantom 1900-02-29: it renders as the real day
    // it aliases (1900-03-01) rather than fabricating Feb 29 of a
    // non-leap year — so serials 60 and 61 coincide, by design.
    assert(Xlsx.serialToIso(60, date1904 = false) == "1900-03-01")
    assert(Xlsx.serialToIso(61, date1904 = false) == "1900-03-01")
    // Time-only serials (< 1) anchor at day zero, rendered explicitly as
    // 1899-12-31-dated timestamps.
    assert(Xlsx.serialToIso(0.5, date1904 = false) == "1899-12-31 12:00:00")
    assert(Xlsx.serialToIso(0.75, date1904 = true) == "1904-01-01 18:00:00")
    // Sub-second fractions round to the nearest second.
    assert(Xlsx.serialToIso(46249 + 37800.4 / 86400.0, date1904 = false)
      == "2026-08-15 10:30:00")
    assert(Xlsx.serialToIso(46249 + 37800.6 / 86400.0, date1904 = false)
      == "2026-08-15 10:30:01")
  }

  test("carriage returns round-trip losslessly (XML EOL normalization)") {
    import spark.implicits._
    // A literal \r in element text is normalized to \n by every XML 1.0
    // parser; the writer must emit &#13; for these to survive.
    val vals = Seq("a\rb", "x\r\ny", "p\nq", "t\tu", "\rleading")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "s")
    val path = tmp("cr.xlsx")
    XlsxWorkbookSink.save(Map("t" -> df), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)("t")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == vals)
  }

  test("sheet names with tabs/newlines survive attribute-value normalization") {
    import spark.implicits._
    // Attribute values collapse literal tabs/newlines to spaces unless
    // character-referenced (&#9;/&#10;).
    val name = "q3\treport\nfinal"
    val path = tmp("attr.xlsx")
    XlsxWorkbookSink.save(Map(name -> Seq((1L, "x")).toDF("id", "v")), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.keySet == Set(name))
  }

  test("case-insensitively colliding table names get distinct sheet names") {
    import spark.implicits._
    // Excel requires sheet-name uniqueness case-insensitively; 'Sales' +
    // 'sales' in one workbook reads as corrupt there.
    val ns = graft.sources.WorkbookSink.sheetNames(Seq("Sales", "sales"))
    assert(ns.values.map(_.toLowerCase).toSet.size == 2)
    val path = tmp("case.xlsx")
    XlsxWorkbookSink.save(
      Map("Sales" -> Seq((1L, "x")).toDF("id", "v"),
        "sales" -> Seq((2L, "y")).toDF("id", "v")), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.size == 2)
    assert(back.keys.map(_.toLowerCase).toSet.size == 2)
    assert(back.values.flatMap(_.collect().map(_.getString(1))).toSet == Set("x", "y"))
  }

  test("numeric-lookalike text stays a string column (no parseDouble suffix forms)") {
    import spark.implicits._
    // Double.parseDouble accepts '7f'/'1d'/hex-floats; column inference
    // must not — a text column of such values would otherwise corrupt to
    // DoubleType 7.0/1.0.
    val vals = Seq("7f", "1d", "0x1.8p1", "12D")
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "code")
    val path = tmp("suffix.xlsx")
    XlsxWorkbookSink.save(Map("t" -> df), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)("t")
    assert(back.schema("code").dataType.typeName == "string")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == vals)
    // while genuine decimal/scientific text still types numeric, and the
    // writer's non-finite Double forms survive as doubles
    val df2 = Seq((1L, "1.5e3", Double.NaN), (2L, "-0.25", Double.PositiveInfinity))
      .toDF("id", "num", "d")
    val path2 = tmp("sci.xlsx")
    XlsxWorkbookSink.save(Map("t" -> df2), path2, spark)
    val back2 = XlsxWorkbookSource.load(spark, path2)("t")
    assert(back2.schema("num").dataType.typeName == "double")
    assert(back2.schema("d").dataType.typeName == "double")
    val r2 = back2.orderBy("id").collect()
    assert(r2(0).getDouble(1) == 1500.0 && r2(0).getDouble(2).isNaN)
    assert(r2(1).getDouble(1) == -0.25 && r2(1).getDouble(2).isPosInfinity)
  }

  test("embedded blank rows surface as all-null rows via the row r= index") {
    // Excel omits <row> elements for fully blank rows; the r= indices on
    // the rows around the gap carry the alignment.
    val path = tmp("gap.xlsx")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def part(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(("""<?xml version="1.0"?>""" + body).getBytes("UTF-8"))
      zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="g" sheetId="1"/></sheets></workbook>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="B1" t="inlineStr"><is><t>v</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>a</t></is></c><c r="B2"><v>1</v></c></row>""" +
        """<row r="4"><c r="A4" t="inlineStr"><is><t>b</t></is></c><c r="B4"><v>2</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val back = XlsxWorkbookSource.load(spark, path)("g")
    assert(back.count() == 3)
    assert(back.orderBy("v").collect().map(_.toSeq).toSeq == Seq(
      Seq(null, null), Seq("a", 1L), Seq("b", 2L)))
  }

  test("sheet-width header semantics: wide body rows and leading blank rows") {
    // pandas parity: openpyxl pads gap rows as empty lists and TextParser
    // runs with skip_blank_lines=False, so (a) a body row WIDER than the
    // header contributes trailing `Unnamed: N` columns instead of being
    // silently truncated, and (b) a sheet whose first physical row sits
    // at r>=2 reads with an all-`Unnamed` header and the would-be header
    // text as the first body row.
    val path = tmp("widths.xlsx")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def part(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(("""<?xml version="1.0"?>""" + body).getBytes("UTF-8"))
      zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="wide" sheetId="1"/><sheet name="late" sheetId="2"/></sheets></workbook>""")
    // sheet1: header 2 cols, second body row spills into column C
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c><c r="B1" t="inlineStr"><is><t>v</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>a</t></is></c><c r="B2"><v>1</v></c></row>""" +
        """<row r="3"><c r="A3" t="inlineStr"><is><t>b</t></is></c><c r="B3"><v>2</v></c><c r="C3" t="inlineStr"><is><t>spill</t></is></c></row>""" +
        """</sheetData></worksheet>""")
    // sheet2: first physical row at r=2 (leading blank row above it)
    part("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>k</t></is></c><c r="B2" t="inlineStr"><is><t>v</t></is></c></row>""" +
        """<row r="3"><c r="A3" t="inlineStr"><is><t>a</t></is></c><c r="B3"><v>1</v></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val wb = XlsxWorkbookSource.load(spark, path)
    val wide = wb("wide")
    assert(wide.schema.fieldNames.toSeq == Seq("k", "v", "Unnamed: 2"))
    assert(wide.orderBy("v").collect().map(_.toSeq).toSeq == Seq(
      Seq("a", 1L, null), Seq("b", 2L, "spill")))
    val late = wb("late")
    assert(late.schema.fieldNames.toSeq == Seq("Unnamed: 0", "Unnamed: 1"))
    assert(late.collect().map(_.toSeq).toSeq == Seq(Seq("k", "v"), Seq("a", "1")))
  }

  test("a mid-write failure leaves the previous good workbook intact") {
    import spark.implicits._
    val dir = TestSpark.tempDir("graft-xlsx-atomic")
    val path = dir.resolve("report.xlsx").toString
    val spooledBefore = spools()
    XlsxWorkbookSink.save(Map("t" -> Seq((1L, "good")).toDF("id", "v")), path, spark)
    assert(spools().subsetOf(spooledBefore), "spool file left after a write")
    // A table whose evaluation throws mid-iteration — the rows only
    // materialize inside the zip stream, so this is the torn-write case.
    val failing = spark.range(5).selectExpr(
      "id", "case when id > 2 then raise_error('boom') else 'ok' end AS v")
    intercept[Throwable] {
      XlsxWorkbookSink.save(Map("t" -> failing), path, spark)
    }
    // destination still the complete previous file, and no temp debris
    val back = XlsxWorkbookSource.load(spark, path)("t")
    assert(back.collect().map(_.toSeq).toSeq == Seq(Seq(1L, "good")))
    val leftovers = java.nio.file.Files.list(dir).iterator()
    val names = Iterator.continually(leftovers)
      .takeWhile(_.hasNext).map(_.next().getFileName.toString).toSeq
      .filterNot(_.endsWith(".crc")) // Hadoop LocalFileSystem checksum sidecars
    assert(names == Seq("report.xlsx"), s"temp debris: $names")
    assert(spools().subsetOf(spooledBefore), "spool file left after a failed write")
  }

  test("sheets projecting one shuffled parent are row-aligned and run it once") {
    import spark.implicits._
    val rows = spark.sparkContext.longAccumulator("parent rows")
    // 40 rows, 4 per key; which row dropDuplicates keeps is up to the shuffle
    val base = spark.range(0, 40, 1, 4)
      .map { i => rows.add(1); (i.longValue % 10, i.longValue) }.toDF("k", "tag")
    val parent = base.repartition(3).dropDuplicates("k")
    val path = tmp("aligned.xlsx")
    XlsxWorkbookSink.save(Map(
      "keys" -> parent.select($"k"),
      "tags" -> parent.select($"tag".as("t"), $"k".as("k2"))), path, spark)
    assert(rows.value == 40L, "the parent ran more than once")
    val back = XlsxWorkbookSource.load(spark, path)
    val keys = back("keys").collect().map(_.getLong(0)).toSeq
    val tags = back("tags").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(keys.sorted == (0L until 10L))
    assert(tags.map(_._2) == keys) // row i of both sheets is parent row i
    assert(tags.forall { case (t, k) => t % 10 == k })
  }

  test("a mixed workbook reads back equal to its input frames") {
    import spark.implicits._
    val parent = Seq((1L, "a", 1.5), (2L, "b", -2.0), (3L, "c", 0.25))
      .toDF("id", "name", "score")
    val tables = Map(
      "a_names" -> parent.select($"id", $"name"),
      "b_other" -> Seq(("x", 7L), ("y", 8L)).toDF("key", "n"),
      "c_scores" -> parent.select($"score".as("s"), $"id"),
      "d_doubled" -> parent.select(($"id" * 2).as("id2"), $"name"))
    val path = tmp("mixed.xlsx")
    XlsxWorkbookSink.save(tables, path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.keySet == tables.keySet)
    tables.foreach { case (t, df) =>
      assert(back(t).columns.toSeq == df.columns.toSeq, t)
      assert(back(t).collect().map(_.toSeq).toSeq == df.collect().map(_.toSeq).toSeq, t)
    }
  }

  test("date-serial decode: epoch rules, phantom-day boundary, 1904 system") {
    // 1900 system: serial 61 = 1900-03-01 (post-phantom epoch 1899-12-30);
    // serials 1..60 shift one day (1 = 1900-01-01)
    assert(Xlsx.serialToIso(61, date1904 = false) == "1900-03-01")
    assert(Xlsx.serialToIso(1, date1904 = false) == "1900-01-01")
    assert(Xlsx.serialToIso(59, date1904 = false) == "1900-02-28")
    // 1904 system: serial 0 = 1904-01-01, no phantom day
    assert(Xlsx.serialToIso(0, date1904 = true) == "1904-01-01")
    assert(Xlsx.serialToIso(366, date1904 = true) == "1905-01-01")
    // time fractions round to the second; .999999 of a day carries over
    assert(Xlsx.serialToIso(46249.4375, date1904 = false) == "2026-08-15 10:30:00")
    assert(Xlsx.serialToIso(46249.9999999, date1904 = false) == "2026-08-16")
  }

  test("date and timestamp columns round-trip as ISO-8601 text") {
    import spark.implicits._
    val df = Seq("2026-08-15", "1999-12-31").toDF("s")
      .selectExpr("cast(s as date) AS d", "cast(concat(s, ' 10:30:00') as timestamp) AS ts")
    val path = tmp("dates.xlsx")
    XlsxWorkbookSink.save(Map("t" -> df), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)("t")
    // documented divergence: text, not Excel 1900-epoch serials
    assert(back.schema.map(_.dataType.typeName) == Seq("string", "string"))
    assert(back.orderBy("d").collect().map(_.toSeq).toSeq == Seq(
      Seq("1999-12-31", "1999-12-31 10:30:00"),
      Seq("2026-08-15", "2026-08-15 10:30:00")))
  }

  test("empty workbooks, missing files and non-xlsx bytes fail loudly") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      XlsxWorkbookSink.save(Map.empty, tmp("empty.xlsx"), spark)
    }
    intercept[IllegalArgumentException] {
      XlsxWorkbookSource.load(spark, "/no/such/graft/workbook.xlsx")
    }
    val junk = TestSpark.tempDir("graft-junk").resolve("junk.xlsx")
    java.nio.file.Files.write(junk, "not a zip at all".getBytes)
    intercept[IllegalArgumentException] {
      XlsxWorkbookSource.load(spark, junk.toString)
    }
  }

  test("Loader dispatches .xlsx: unwraps one sheet, refuses ambiguity") {
    import spark.implicits._
    val one = tmp("one.xlsx")
    XlsxWorkbookSink.save(Map("t" -> Seq((1L, "a")).toDF("id", "v")), one, spark)
    val df = graft.sources.Loader.load(spark, one)
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(1L, "a")))

    val two = tmp("two.xlsx")
    XlsxWorkbookSink.save(
      Map("t1" -> Seq((1L, "a")).toDF("id", "v"),
        "t2" -> Seq((2L, "b")).toDF("id", "v")), two, spark)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Loader.load(spark, two)
    }
    assert(e.getMessage.contains("XlsxWorkbookSource"))
  }

  test("property: random schemas and values round-trip exactly (seeded trials)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    // Letters guarantee a string column never reads back as numeric
    // (read_excel-style inference is part of the contract under test).
    val alphabet = "abλдZ字 <>&\"'\t\r\n" // incl. XML specials + all whitespace
    def randString(): String =
      "s" + Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (trial <- 1 to 5) {
      val width = 1 + rnd.nextInt(5)
      val dts: Seq[DataType] = Seq.fill(width)(rnd.nextInt(4) match {
        case 0 => LongType
        case 1 => DoubleType
        case 2 => BooleanType
        case 3 => StringType
      })
      val schema = StructType(dts.zipWithIndex.map { case (t, i) =>
        StructField(s"col $i &<${i}>", t, nullable = true)
      })
      val nRows = rnd.nextInt(40)
      val data: Seq[Row] = Seq.fill(nRows)(Row.fromSeq(dts.map { t =>
        if (rnd.nextInt(5) == 0) null
        else t match {
          case LongType => rnd.nextLong()
          case DoubleType => rnd.nextDouble() * math.pow(10, rnd.nextInt(9)) - 500
          case BooleanType => rnd.nextBoolean()
          case StringType => randString()
        }
      }))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(data, 2), schema)
      val path = tmp(s"prop$trial.xlsx")
      XlsxWorkbookSink.save(Map("t" -> df), path, spark)
      val back = XlsxWorkbookSource.load(spark, path)("t")
      assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq,
        s"trial $trial header")
      // All-null and empty columns legitimately read back as string; any
      // column with >=1 value must keep its exact type.
      dts.zipWithIndex.foreach { case (t, i) =>
        val hasValue = data.exists(_.get(i) != null)
        val got = back.schema.fields(i).dataType
        assert(if (hasValue) got == t else got == StringType,
          s"trial $trial col $i: wrote $t (hasValue=$hasValue), read $got")
      }
      // row multisets equal (no ordering guarantee through parallelize)
      def key(r: Row) = r.toSeq.map(v => if (v == null) " " else v.toString).mkString("|")
      assert(back.collect().map(key).sorted.toSeq == data.map(key).sorted,
        s"trial $trial values")
    }
  }

  test("property: random sparse sheet geometries parse to the padded matrix (seeded trials)") {
    // Reader-side counterpart of the round-trip property test: the writer
    // only ever emits dense full-width rows, so the sparse shapes real
    // producers emit (row gaps, missing cells, ragged widths) are built
    // here as raw SpreadsheetML from a random model and the parse is
    // compared against the padded matrix directly — pinning the r=
    // padding, per-cell ref alignment, width-of-widest-row and trailing
    // truncation conventions all at once.
    val rnd = new scala.util.Random(71)
    for (trial <- 1 to 3) {
      val width = 1 + rnd.nextInt(6)
      val nBody = 1 + rnd.nextInt(25)
      val gapRow = Array.fill(nBody)(rnd.nextInt(5) == 0)
      gapRow(nBody - 1) = false // trailing gap rows legitimately drop
      val body: Seq[Seq[Option[String]]] = (0 until nBody).map { r =>
        if (gapRow(r)) Seq.fill(width)(None)
        else (0 until width).map { c =>
          // unique non-numeric values: every column types string and
          // every row stays distinguishable for the multiset compare
          if (rnd.nextInt(4) == 0) None else Some(s"v${r}_${c}x")
        }
      }
      // the last row anchors the frame's row count — give it a cell
      val anchored = body.updated(nBody - 1,
        body(nBody - 1).updated(0, Some(s"v${nBody - 1}_0x")))
      val sb = new StringBuilder
      sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      sb.append("""<row r="1">""")
      (0 until width).foreach { c =>
        sb.append(s"""<c r="${Xlsx.colRef(c)}1" t="inlineStr"><is><t>h$c</t></is></c>""")
      }
      sb.append("</row>")
      anchored.zipWithIndex.foreach { case (row, r) =>
        if (!gapRow(r)) { // gap rows emit NO <row> element at all
          val xr = r + 2
          sb.append(s"""<row r="$xr">""")
          row.zipWithIndex.foreach {
            case (Some(v), c) =>
              // alternate the two text-cell forms the reader accepts
              if ((r + c) % 2 == 0)
                sb.append(s"""<c r="${Xlsx.colRef(c)}$xr" t="inlineStr"><is><t>$v</t></is></c>""")
              else
                sb.append(s"""<c r="${Xlsx.colRef(c)}$xr" t="str"><v>$v</v></c>""")
            case (None, _) => () // missing cell: alignment rides on refs
          }
          sb.append("</row>")
        }
      }
      sb.append("</sheetData></worksheet>")
      val path = tmp(s"geom$trial.xlsx")
      val zip = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
      def part(n: String, b: String): Unit = {
        zip.putNextEntry(new java.util.zip.ZipEntry(n))
        zip.write(("""<?xml version="1.0"?>""" + b).getBytes("UTF-8"))
        zip.closeEntry()
      }
      part("xl/workbook.xml",
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="g" sheetId="1"/></sheets></workbook>""")
      part("xl/worksheets/sheet1.xml", sb.toString)
      zip.close()
      val back = XlsxWorkbookSource.load(spark, path)("g")
      assert(back.schema.fieldNames.toSeq == (0 until width).map(c => s"h$c"),
        s"trial $trial header")
      assert(back.schema.fields.forall(_.dataType.typeName == "string"),
        s"trial $trial types")
      def key(r: Seq[Any]) = r.map(v => if (v == null) " " else v.toString).mkString("|")
      val expected = anchored.map(row => key(row.map(_.orNull))).sorted
      assert(back.collect().map(r => key(r.toSeq)).sorted.toSeq == expected,
        s"trial $trial matrix")
    }
  }

  test("a crafted huge row index is refused, not allocated") {
    // The blank-row padding loop honors r= indices; without the MaxRows
    // cap a two-row file declaring r="2000000000" would allocate two
    // billion padding entries — the row-index twin of the zip-bomb
    // part-size guards.
    val path = tmp("rowbomb.xlsx")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(("""<?xml version="1.0"?>""" + b).getBytes("UTF-8"))
      zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="b" sheetId="1"/></sheets></workbook>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>""" +
        """<row r="2000000000"><c t="inlineStr"><is><t>x</t></is></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val e = intercept[IllegalArgumentException] {
      XlsxWorkbookSource.load(spark, path)
    }
    assert(e.getMessage.contains("row index"), e.getMessage)
  }

  test("over-Int and non-positive row indices share the loud over-cap contract") {
    // r="9999999999" fails toIntOption; before the toLongOption parse it
    // silently fell back to document-order placement — an even-more-out-
    // of-range index quietly accepted while 2000000000 was refused.
    for (idx <- Seq("9999999999", "0", "-5")) {
      val path = tmp(s"rowidx_$idx.xlsx")
      val zip = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
      def part(n: String, b: String): Unit = {
        zip.putNextEntry(new java.util.zip.ZipEntry(n))
        zip.write(("""<?xml version="1.0"?>""" + b).getBytes("UTF-8"))
        zip.closeEntry()
      }
      part("xl/workbook.xml",
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="b" sheetId="1"/></sheets></workbook>""")
      part("xl/worksheets/sheet1.xml",
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>""" +
          s"""<row r="$idx"><c t="inlineStr"><is><t>x</t></is></c></row>""" +
          """</sheetData></worksheet>""")
      zip.close()
      val e = intercept[IllegalArgumentException] {
        XlsxWorkbookSource.load(spark, path)
      }
      assert(e.getMessage.contains("row index"), s"r=$idx: ${e.getMessage}")
    }
  }

  test("a crafted huge cell column ref is refused, not allocated") {
    // The column-index twin of the row bomb: one cell at r="ZZZZZZ1"
    // (0-based column 321,272,404) would size the row's value array at
    // ~2.5 GB — an OutOfMemoryError no NonFatal wrapper catches — so
    // refCol refuses refs past Excel's XFD (16384-column) cap.
    val path = tmp("colbomb.xlsx")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def part(n: String, b: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(("""<?xml version="1.0"?>""" + b).getBytes("UTF-8"))
      zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="b" sheetId="1"/></sheets></workbook>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>""" +
        """<row r="2"><c r="ZZZZZZ2" t="inlineStr"><is><t>x</t></is></c></row>""" +
        """</sheetData></worksheet>""")
    zip.close()
    val e = intercept[IllegalArgumentException] {
      XlsxWorkbookSource.load(spark, path)
    }
    assert(e.getMessage.contains("column"), e.getMessage)
  }

  test("refCol decodes legal refs and refuses over-cap and Int-wrapping refs") {
    assert(Xlsx.refCol("A1") == 0)
    assert(Xlsx.refCol("D7") == 3)
    assert(Xlsx.refCol("Z1") == 25)
    assert(Xlsx.refCol("AA1") == 26)
    assert(Xlsx.refCol("XFD1") == 16383) // Excel's last legal column
    intercept[IllegalArgumentException](Xlsx.refCol("XFE1")) // first over-cap
    intercept[IllegalArgumentException](Xlsx.refCol("ZZZZZZ1"))
    // long enough to wrap Int many times over — the Long accumulator plus
    // in-loop cap must fire before any overflow-derived index escapes
    intercept[IllegalArgumentException](Xlsx.refCol("Z" * 40 + "1"))
  }

  test("fuzz: corrupted workbook bytes fail loudly with file context, never raw parser errors") {
    // Every failure path out of read() — corrupt zip structure, junk
    // metadata XML, broken worksheet parts — must surface as an
    // IllegalArgumentException (our loud-with-context contract), never a
    // raw ZipException/XMLStreamException/IndexOutOfBounds, and never a
    // hang or unbounded allocation. Seeded single-byte corruptions of the
    // independent-producer fixture probe all of them blind.
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/interop_fixture.xlsx").toURI)
    val bytes = java.nio.file.Files.readAllBytes(fixture)
    val rnd = new scala.util.Random(97)
    var failed = 0
    for (trial <- 1 to 120) {
      val mutated = bytes.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      val path = tmp(s"fuzz$trial.xlsx")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), mutated)
      try { XlsxWorkbookSource.load(spark, path); () }
      catch {
        case _: IllegalArgumentException => failed += 1 // the contract
        case e: Throwable =>
          fail(s"trial $trial (byte $at): leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // truncations exercise the EOF-mid-entry paths byte flips cannot
    // (central-directory loss, parts cut mid-XML)
    for (trial <- 1 to 40) {
      val cut = 1 + rnd.nextInt(bytes.length - 1)
      val path = tmp(s"trunc$trial.xlsx")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes.take(cut))
      try { XlsxWorkbookSource.load(spark, path); () }
      catch {
        case _: IllegalArgumentException => failed += 1
        case e: Throwable =>
          fail(s"truncation $trial (at $cut): leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // sanity: the corpus actually exercised failure paths
    assert(failed > 0, "no corruption produced a failure — fuzz corpus too weak")
  }

  test("fuzz: generated workbooks survive byte, truncation, and zip-record corruption (seeded)") {
    // The fixed interop fixture above has ONE structural shape; this
    // property corrupts the Scala writer's OWN seeded random-schema
    // artifacts (many sheets, date/timestamp styles, wide rows) so the
    // loud-failure contract is probed across structural variety, and
    // adds zip-RECORD-targeted classes the blind byte flips rarely hit:
    // local file headers (PK\3\4), central directory entries (PK\1\2),
    // the end-of-central-directory record (PK\5\6), and data
    // descriptors (PK\7\8, when the writer emits them). Every mutation
    // must parse or throw our contextual IllegalArgumentException —
    // never a raw ZipException/XMLStreamException/ArrayIndexOOB.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(131)
    def sigOffsets(bytes: Array[Byte], c3: Int, c4: Int): Seq[Int] =
      (0 until bytes.length - 3).filter(i =>
        bytes(i) == 0x50 && bytes(i + 1) == 0x4b &&
          bytes(i + 2) == c3 && bytes(i + 3) == c4)
    var failed = 0
    var descriptorSeen = false
    def probe(tag: String, mutated: Array[Byte]): Unit = {
      val path = tmp(s"$tag.xlsx")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), mutated)
      try { XlsxWorkbookSource.load(spark, path); () }
      catch {
        case _: IllegalArgumentException => failed += 1 // the contract
        case e: Throwable =>
          fail(s"$tag: leaked ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    for (wb <- 1 to 3) {
      val nSheets = 1 + rnd.nextInt(4)
      val tables = (1 to nSheets).map { s =>
        val width = 1 + rnd.nextInt(16) // up to 16 cols: wide rows
        val dts: Seq[DataType] = Seq.fill(width)(rnd.nextInt(6) match {
          case 0 => LongType
          case 1 => DoubleType
          case 2 => BooleanType
          case 3 => StringType
          case 4 => DateType      // exercises the date-style parts
          case 5 => TimestampType
        })
        val schema = StructType(dts.zipWithIndex.map { case (t, i) =>
          StructField(s"c$i", t, nullable = true)
        })
        val data: Seq[Row] = Seq.fill(1 + rnd.nextInt(25))(Row.fromSeq(dts.map { t =>
          if (rnd.nextInt(6) == 0) null
          else t match {
            case LongType => rnd.nextLong()
            case DoubleType => rnd.nextDouble() * 1e6 - 5e5
            case BooleanType => rnd.nextBoolean()
            case StringType => "s" + rnd.nextInt(1000) + " <&>\""
            case DateType =>
              java.sql.Date.valueOf(java.time.LocalDate.of(
                1900 + rnd.nextInt(200), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28)))
            case TimestampType =>
              java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(
                1950 + rnd.nextInt(120), 1 + rnd.nextInt(12), 1 + rnd.nextInt(28),
                rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60)))
          }
        }))
        s"sheet$s" -> spark.createDataFrame(
          spark.sparkContext.parallelize(data, 1), schema)
      }.toMap
      val clean = tmp(s"genfuzz$wb.xlsx")
      XlsxWorkbookSink.save(tables, clean, spark)
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(clean))
      // sanity: the uncorrupted artifact parses
      assert(XlsxWorkbookSource.load(spark, clean).size == nSheets)
      // class 1: blind single-byte flips
      for (trial <- 1 to 20) {
        val mutated = bytes.clone()
        val at = rnd.nextInt(mutated.length)
        mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
        probe(s"wb$wb-flip$trial-b$at", mutated)
      }
      // class 2: truncations (EOF mid-entry / central-directory loss)
      for (trial <- 1 to 10) {
        val cut = 1 + rnd.nextInt(bytes.length - 1)
        probe(s"wb$wb-trunc$trial-at$cut", bytes.take(cut))
      }
      // class 3: zip-record-targeted — corrupt bytes INSIDE each record
      // type's header fields (offsets 4..29 past the signature reach
      // flags/method/sizes/CRC/name-length for every record shape)
      val recordClasses = Seq(
        ("local", 0x03, 0x04), ("cdir", 0x01, 0x02),
        ("eocd", 0x05, 0x06), ("descr", 0x07, 0x08))
      for ((tag, c3, c4) <- recordClasses) {
        val offs = sigOffsets(bytes, c3, c4)
        if (tag == "descr" && offs.nonEmpty) descriptorSeen = true
        for ((off, i) <- offs.zipWithIndex; trial <- 1 to 2) {
          val mutated = bytes.clone()
          val at = math.min(off + 4 + rnd.nextInt(26), mutated.length - 1)
          mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
          probe(s"wb$wb-$tag$i-$trial-b$at", mutated)
        }
        // record-signature destruction: the reader must refuse, not scan
        // past, a workbook whose record chain is broken
        for ((off, i) <- offs.take(3).zipWithIndex) {
          val mutated = bytes.clone()
          mutated(off) = 'X'.toByte
          probe(s"wb$wb-${tag}sig$i", mutated)
        }
      }
    }
    assert(failed > 0, "no corruption produced a failure — fuzz corpus too weak")
    // ZipOutputStream emits signatured data descriptors for DEFLATED
    // entries; if the writer ever stops, the class silently vanishing
    // from the corpus should be a conscious choice, not an accident.
    assert(descriptorSeen, "no PK\\7\\8 data descriptors found in writer output")
  }

  test("forbidden sheet-name characters sanitize; post-sanitize collisions stay distinct") {
    import spark.implicits._
    assert(Xlsx.sanitizeSheetName("a:b\\c/d?e*f[g]h") == "a_b_c_d_e_f_g_h")
    assert(Xlsx.sanitizeSheetName("'quoted'") == "_quoted_")
    // "a/b" and "a:b" both sanitize to "a_b" — distinct sheets required
    val path = tmp("sanitize.xlsx")
    XlsxWorkbookSink.save(
      Map("a/b" -> Seq((1L, "x")).toDF("id", "v"),
        "a:b" -> Seq((2L, "y")).toDF("id", "v")), path, spark)
    val back = XlsxWorkbookSource.load(spark, path)
    assert(back.size == 2)
    assert(back.keySet.exists(_.startsWith("a_b")))
    assert(back.values.flatMap(_.collect().map(_.getString(1))).toSet == Set("x", "y"))
  }

  test("malformed worksheets fail with sheet and file context, not raw parser errors") {
    // hand-built workbook whose only sheet references shared string 99
    // (the sst has one entry) — a dangling index a crawler-corrupted or
    // truncated file produces
    val path = tmp("corrupt.xlsx")
    val zip = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path)))
    def part(n: String, body: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(n))
      zip.write(("""<?xml version="1.0"?>""" + body).getBytes("UTF-8"))
      zip.closeEntry()
    }
    part("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="bad" sheetId="1"/></sheets></workbook>""")
    part("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>only</t></si></sst>""")
    part("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="s"><v>99</v></c></row></sheetData></worksheet>""")
    zip.close()
    val e = intercept[IllegalArgumentException] {
      XlsxWorkbookSource.load(spark, path)
    }
    assert(e.getMessage.contains("bad") && e.getMessage.contains("sheet1.xml"))
  }

  test("column reference arithmetic covers the multi-letter range") {
    assert(Xlsx.colRef(0) == "A")
    assert(Xlsx.colRef(25) == "Z")
    assert(Xlsx.colRef(26) == "AA")
    assert(Xlsx.colRef(701) == "ZZ")
    assert(Xlsx.colRef(702) == "AAA")
    for (i <- Seq(0, 25, 26, 701, 702, 16383))
      assert(Xlsx.refCol(Xlsx.colRef(i) + "17") == i)
  }
}
