package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Binary `.xlsx` workbook codec — dependency-free SpreadsheetML over the
  * JDK's `java.util.zip` + StAX, closing the S2/S7 binary halves
  * (reference `preprocess.py:17-20` `pd.read_excel(sheet_name=None)`,
  * `mapper.py:123-136` `pd.ExcelWriter` one-sheet-per-table). Earlier
  * rounds marked the binary codec environment-blocked ("no xlsx library
  * offline"); the block was illusory — an xlsx file is a ZIP of XML
  * parts, both of which the JDK parses natively, so the same
  * dependency-free-parser approach that produced
  * [[graft.operators.MediaCodecs]] (PNM/RIFF-WAVE) applies here.
  *
  * Format notes (ECMA-376 SpreadsheetML, the parts every producer emits):
  *   - `[Content_Types].xml`, `_rels/.rels` → `xl/workbook.xml` →
  *     `xl/_rels/workbook.xml.rels` → `xl/worksheets/sheetN.xml`.
  *   - The WRITER emits inline strings (`<c t="inlineStr"><is><t>`) —
  *     self-contained rows, no shared-strings table to coordinate, valid
  *     per spec and read by Excel/pandas/LibreOffice alike.
  *   - The READER additionally handles the `t="s"` shared-strings
  *     indirection, `t="b"`, `t="str"` (formula caches), `t="e"` error
  *     cells (→ null) and bare numeric cells, plus sparse rows via the
  *     `r="D7"` cell references, plus Excel-native DATE cells: a numeric
  *     cell whose `s=` style resolves to a date/time number format
  *     (builtin ids or the y/m/d/h/s custom-code heuristic) has its
  *     serial decoded to ISO text under the 1900 system — phantom-day
  *     boundary included — or the 1904 system when `workbookPr
  *     date1904` says so. I.e. files produced by Excel itself, not
  *     just by this writer. The
  *     independent-producer contract is pinned by a committed fixture
  *     written by `tools/check_xlsx.py`'s SEPARATE Python-stdlib
  *     implementation (XlsxSpec), the strongest cross-check available
  *     in a zero-egress sandbox.
  *
  * Scale stance (why driver-side I/O is CORRECT here, not a shortcut): a
  * workbook is one non-splittable binary blob with a hard 1,048,576-row
  * sheet cap — Excel's own format makes it a report/control-plane
  * artifact, never a data-scale dataset. The writer streams
  * `toLocalIterator()` (one partition resident at a time) and fails
  * loudly at the Excel cap; the reader caps decompressed part sizes
  * (zip-bomb guard) and materializes via `spark.createDataFrame` with
  * `parallelize`. Data-scale "sheets" belong in [[DirWorkbookSource]]'s
  * directory-of-parquet representation — both implement the same
  * [[WorkbookSource]] seam, so pipelines choose per artifact.
  *
  * Measured soak (100k rows × 4 mixed columns, local[4] test session,
  * probe-0.44-class box, single-shot): write 2.5 s, read 3.1 s, 2.2 MB
  * file, bit-exact aggregate round-trip — ~40k rows/s each way, which
  * prices even a maximum-size 1M-row sheet in well under a minute.
  */
object Xlsx {

  /** Excel's hard per-sheet row capacity (2^20, header row included). */
  val MaxRows: Int = 1048576

  /** Excel's hard per-sheet column capacity (column XFD = 2^14). A cell
    * ref like `ZZZZZZ1` decodes to column 321,272,405 and would size the
    * row's value array at ~2.5 GB — an OutOfMemoryError that no
    * NonFatal wrapper can catch — so over-cap columns are refused at
    * parse, the column twin of the [[MaxRows]] row-index guard.
    */
  val MaxCols: Int = 16384

  /** Zip-bomb / driver-heap guards: decompressed size caps per zip part
    * and across the whole archive. Generous for any real report workbook
    * (a 256 MB sheet XML is ~1M rows of wide text) while bounding a
    * hostile crafted file — per-part alone would still admit a
    * thousand-part bomb.
    */
  val MaxPartBytes: Long = 256L * 1024 * 1024
  val MaxTotalBytes: Long = 1024L * 1024 * 1024

  // ---------------------------------------------------------------- write

  /** Element-text escape. Carriage returns MUST go out as `&#13;`: an
    * XML 1.0 parser normalizes literal `\r` and `\r\n` to `\n` on read
    * (spec §2.11 end-of-line handling), so a bare `\r` in notes/address
    * text would silently mutate through the "lossless" round-trip. `\n`
    * and `\t` are safe literal in element content.
    */
  private def esc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '&' => b.append("&amp;")
      case '<' => b.append("&lt;")
      case '>' => b.append("&gt;")
      case '"' => b.append("&quot;")
      case '\r' => b.append("&#13;")
      case c if c < 0x20 && c != '\t' && c != '\n' =>
        // Bare C0 controls are ill-formed XML 1.0; drop them (the same
        // values are unrepresentable in any spreadsheet UI anyway).
        ()
      case c => b.append(c)
    }
    b.toString
  }

  /** Attribute-value escape: as [[esc]] plus `\n`/`\t` as character
    * references — XML attribute-value normalization (spec §3.3.3)
    * collapses literal tabs and newlines in attributes to spaces, so a
    * sheet name carrying either would mutate on read-back.
    */
  private def escAttr(s: String): String =
    esc(s).flatMap {
      case '\n' => "&#10;"
      case '\t' => "&#9;"
      case c => c.toString
    }

  /** A1-style column letters for 0-based index (0→A, 25→Z, 26→AA). */
  private[graft] def colRef(i: Int): String = {
    var n = i + 1
    val b = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; b.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    b.toString
  }

  private def cellXml(ref: String, v: Any): String = v match {
    case null => ""
    case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
    case n: Byte => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Short => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Int => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Long => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Float => s"""<c r="$ref"><v>$n</v></c>"""
    case n: Double => s"""<c r="$ref"><v>$n</v></c>"""
    case n: java.math.BigDecimal => s"""<c r="$ref"><v>${n.toPlainString}</v></c>"""
    case other =>
      // Strings, dates, timestamps, anything else: inline string of the
      // value's canonical ISO-8601 text — lossless text round-trip
      // without the 1900-epoch serial + styles number-format machinery,
      // a documented divergence from Excel's native date serials.
      // Timestamps are canonicalized explicitly: java.sql.Timestamp's
      // toString appends ".0" for whole seconds, which is neither ISO
      // nor what any reader expects back.
      val s = other match {
        case ts: java.sql.Timestamp =>
          val base = ts.toLocalDateTime.format(
            java.time.format.DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss"))
          val frac = if (ts.getNanos == 0) ""
            else "." + "%09d".format(ts.getNanos).reverse.dropWhile(_ == '0').reverse
          base + frac
        case _ => other.toString
      }
      val sp = if (s != s.trim) """ xml:space="preserve"""" else ""
      s"""<c r="$ref" t="inlineStr"><is><t$sp>${esc(s)}</t></is></c>"""
  }

  /** Stream one sheet's XML straight into the (already-opened) zip entry
    * — never materialized as a whole: at the 1,048,576-row cap a buffered
    * sheet XML would be hundreds of driver-heap MB, while this path holds
    * one `toLocalIterator` partition plus the writer's buffer.
    */
  private def sheetXml(df: DataFrame, table: String, out: java.io.OutputStream): Unit = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, UTF_8), 64 * 1024)
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    val names = df.schema.fieldNames
    val refs = names.indices.map(colRef).toArray
    w.write("<row r=\"1\">")
    names.zipWithIndex.foreach { case (n, i) =>
      w.write(s"""<c r="${refs(i)}1" t="inlineStr"><is><t>${esc(n)}</t></is></c>""")
    }
    w.write("</row>")
    var r = 1 // header consumed row 1
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      r += 1
      if (r > MaxRows) throw new IllegalArgumentException(
        s"Table '$table' exceeds Excel's $MaxRows-row sheet capacity; " +
          "use WorkbookSink's directory-of-parquet representation for data-scale tables")
      w.write(s"""<row r="$r">""")
      var i = 0
      while (i < names.length) {
        w.write(cellXml(s"${refs(i)}$r", if (row.isNullAt(i)) null else row.get(i)))
        i += 1
      }
      w.write("</row>")
    }
    w.write("</sheetData></worksheet>")
    w.flush() // flush the writer, but the zip entry/stream stays open for the caller
  }

  /** Characters Excel rejects in sheet names (plus the apostrophe rule:
    * a leading/trailing `'` breaks workbook-scope references). Mapped to
    * `_` BEFORE the shared truncation/collision pass, so two tables that
    * sanitize to the same name still get distinct `~N` suffixes.
    */
  private[graft] def sanitizeSheetName(table: String): String = {
    val s = table.map(c => if (":\\/?*[]".indexOf(c) >= 0) '_' else c)
    val t = (if (s.startsWith("'")) "_" + s.drop(1) else s)
    if (t.endsWith("'")) t.dropRight(1) + "_" else t
  }

  /** Write `tables` as one `.xlsx` at `path` (any Hadoop-reachable URI).
    * Sheet order and `~N` collision handling follow
    * [[WorkbookSink.sheetNames]] — sorted table name order, same rule as
    * the directory sink, so the two representations never disagree on
    * naming — applied AFTER Excel's forbidden-character sanitation.
    *
    * Atomicity: the zip streams into a sibling `._tmp` path and renames
    * into place only on success. Table rows materialize lazily INSIDE the
    * stream (`toLocalIterator`), so a mid-write failure — the `MaxRows`
    * cap, an executor error surfacing through the iterator — is a
    * realistic event; without the staging step it would leave a
    * truncated, corrupt workbook AT the destination having already
    * clobbered any previous good file there. Failure deletes the partial
    * temp and rethrows; the destination is either the old file or the
    * complete new one, never a torso.
    */
  def write(tables: Map[String, DataFrame], path: String, spark: SparkSession): Unit = {
    require(tables.nonEmpty, "refusing to write an empty workbook (Excel requires >=1 sheet)")
    val names = WorkbookSink.sheetNames(tables.keys.toSeq, sanitizeSheetName)
    val ordered = tables.toSeq.sortBy(_._1)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, "." + p.getName + s"._tmp-${java.util.UUID.randomUUID()}")
    val os = fs.create(tmp, true)
    val zip = new ZipOutputStream(os, UTF_8)
    def part(name: String, bytes: Array[Byte]): Unit = {
      zip.putNextEntry(new ZipEntry(name)); zip.write(bytes); zip.closeEntry()
    }
    try {
      val n = ordered.size
      part("[Content_Types].xml",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
          """</Types>""").getBytes(UTF_8))
      part("_rels/.rels",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          """</Relationships>""").getBytes(UTF_8))
      part("xl/workbook.xml",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          ordered.zipWithIndex.map { case ((t, _), i) =>
            s"""<sheet name="${escAttr(names(t))}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString +
          """</sheets></workbook>""").getBytes(UTF_8))
      part("xl/_rels/workbook.xml.rels",
        ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
          """</Relationships>""").getBytes(UTF_8))
      ordered.zipWithIndex.foreach { case ((t, df), i) =>
        zip.putNextEntry(new ZipEntry(s"xl/worksheets/sheet${i + 1}.xml"))
        sheetXml(df, t, zip)
        zip.closeEntry()
      }
      zip.close()
      // Commit: replace any previous file only after the zip is complete.
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p)) throw new java.io.IOException(
        s"Failed to move completed workbook $tmp into place at $path")
    } catch { case e: Throwable =>
      try { zip.close() } catch { case _: Throwable => () }
      try { fs.delete(tmp, false) } catch { case _: Throwable => () }
      throw e
    }
  }

  // ----------------------------------------------------------------- read

  private def readParts(in: java.io.InputStream): Map[String, Array[Byte]] = {
    val zip = new ZipInputStream(in, UTF_8)
    val parts = mutable.Map.empty[String, Array[Byte]]
    var total = 0L
    try {
      var e = zip.getNextEntry
      while (e != null) {
        if (!e.isDirectory) {
          val buf = new ByteArrayOutputStream(8192)
          val chunk = new Array[Byte](8192)
          var read = zip.read(chunk)
          while (read >= 0) {
            buf.write(chunk, 0, read)
            total += read
            if (buf.size() > MaxPartBytes) throw new IllegalArgumentException(
              s"xlsx part ${e.getName} exceeds the $MaxPartBytes-byte decompressed cap")
            if (total > MaxTotalBytes) throw new IllegalArgumentException(
              s"xlsx archive exceeds the $MaxTotalBytes-byte total decompressed cap")
            read = zip.read(chunk)
          }
          parts(e.getName) = buf.toByteArray
        }
        e = zip.getNextEntry
      }
    } finally { zip.close() }
    parts.toMap
  }

  private def stax(bytes: Array[Byte]): javax.xml.stream.XMLStreamReader = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    // No DTDs / external entities in OOXML parts; disabling both closes
    // the XXE surface of parsing untrusted workbooks.
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes))
  }

  /** Collect the text of the current element subtree (handles `<is>` rich
    * runs: concatenates every nested `<t>`; plain `<v>`/`<t>` fall out as
    * the single-text case).
    */
  private def subtreeText(r: javax.xml.stream.XMLStreamReader): String = {
    val b = new StringBuilder
    var depth = 1
    while (depth > 0 && r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT => depth += 1
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT => depth -= 1
        case javax.xml.stream.XMLStreamConstants.CHARACTERS |
            javax.xml.stream.XMLStreamConstants.CDATA => b.append(r.getText)
        case _ => ()
      }
    }
    b.toString
  }

  private def sharedStrings(parts: Map[String, Array[Byte]]): IndexedSeq[String] = {
    parts.get("xl/sharedStrings.xml").fold(IndexedSeq.empty[String]) { bytes =>
      val r = stax(bytes)
      val out = mutable.ArrayBuffer.empty[String]
      try {
        while (r.hasNext) {
          if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "si") out += subtreeText(r)
        }
      } finally { r.close() }
      out.toIndexedSeq
    }
  }

  // -------------------------------------------------- date-serial decode

  /** Style indices (cellXfs order) whose number format renders as a date
    * or time — the only way Excel marks a date cell, since the stored
    * value is just a serial number. Builtin ids 14–22/27–36/45–47/50–58
    * are date/time formats; a custom format is date-like when its code
    * contains a y/m/d/h/s token outside quoted literals and `[...]`
    * sections (the same heuristic POI's `isADateFormat` uses).
    */
  private def dateStyles(parts: Map[String, Array[Byte]]): IndexedSeq[Boolean] =
    parts.get("xl/styles.xml").fold(IndexedSeq.empty[Boolean]) { bytes =>
      val r = stax(bytes)
      val custom = mutable.Map.empty[Int, String]
      val xfIds = mutable.ArrayBuffer.empty[Int]
      var inCellXfs = false
      try {
        while (r.hasNext) {
          r.next() match {
            case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "numFmt" =>
                  custom(r.getAttributeValue(null, "numFmtId").toInt) =
                    Option(r.getAttributeValue(null, "formatCode")).getOrElse("")
                case "cellXfs" => inCellXfs = true
                case "xf" if inCellXfs =>
                  xfIds += Option(r.getAttributeValue(null, "numFmtId"))
                    .map(_.toInt).getOrElse(0)
                case _ => ()
              }
            case javax.xml.stream.XMLStreamConstants.END_ELEMENT
                if r.getLocalName == "cellXfs" => inCellXfs = false
            case _ => ()
          }
        }
      } finally { r.close() }
      def dateLike(id: Int): Boolean =
        (id >= 14 && id <= 22) || (id >= 27 && id <= 36) ||
          (id >= 45 && id <= 47) || (id >= 50 && id <= 58) ||
          custom.get(id).exists { code =>
            val stripped = code
              .replaceAll("\"[^\"]*\"", "") // quoted literals
              .replaceAll("\\[[^\\]]*\\]", "") // colors/conditions/elapsed
              .replaceAll("\\\\.", "") // escaped chars
            stripped.exists(c => "ymdhsYMDHS".indexOf(c) >= 0)
          }
      xfIds.map(dateLike).toIndexedSeq
    }

  /** Whether `xl/workbook.xml` declares the legacy Mac 1904 date system. */
  private def is1904(wb: Array[Byte]): Boolean = {
    val r = stax(wb)
    try {
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "workbookPr") {
          val v = Option(r.getAttributeValue(null, "date1904")).getOrElse("false")
          return v == "1" || v.equalsIgnoreCase("true")
        }
      }
      false
    } finally { r.close() }
  }

  /** Excel serial → the codec's ISO text convention: date-only when the
    * time-of-day fraction is zero, else `yyyy-MM-dd HH:mm:ss` (rounded to
    * the second — serials carry ~microsecond noise from binary fractions;
    * a fraction that rounds up past midnight carries into the next day).
    * 1900 system epoch is 1899-12-30 for serials ≥ 61; 1..60 sit before
    * Lotus's phantom 1900-02-29 and shift by one (1899-12-31). The 1904
    * system has no phantom day. Pinned edge conventions (XlsxSpec):
    *   - serial 60, Lotus's phantom 1900-02-29 itself, renders as
    *     1900-03-01 — the nonexistent day maps to the real day it
    *     aliases rather than fabricating Feb 29 of a non-leap year;
    *   - time-only serials (< 1, e.g. 0.5 = 12:00) render as
    *     1899-12-31-dated timestamps — the day-zero anchor made
    *     explicit instead of a bare clock time of ambiguous type.
    */
  private[graft] def serialToIso(serial: Double, date1904: Boolean): String = {
    val days = math.floor(serial).toLong
    val secs = math.round((serial - days) * 86400L)
    val epochDays =
      if (date1904) java.time.LocalDate.of(1904, 1, 1).toEpochDay
      else if (days >= 61) java.time.LocalDate.of(1899, 12, 30).toEpochDay
      else java.time.LocalDate.of(1899, 12, 31).toEpochDay
    val carry = secs / 86400 // rounding can tip into the next day
    val d = java.time.LocalDate.ofEpochDay(epochDays + days + carry)
    val s = secs % 86400
    if (s == 0) d.toString
    else "%s %02d:%02d:%02d".format(d, s / 3600, (s % 3600) / 60, s % 60)
  }

  /** `"D7"` → 0-based column index 3. Refuses refs past Excel's `XFD`
    * column cap ([[MaxCols]]) — the accumulator is a Long so arbitrarily
    * long letter runs can't wrap Int before the check fires.
    */
  private[graft] def refCol(ref: String): Int = {
    var i = 0; var n = 0L
    while (i < ref.length && ref.charAt(i).isLetter) {
      n = n * 26 + (ref.charAt(i).toUpper - 'A' + 1); i += 1
      if (n > MaxCols) throw new IllegalArgumentException(
        s"cell ref '$ref' exceeds Excel's $MaxCols-column sheet capacity")
    }
    n.toInt - 1
  }

  /** One parsed cell: 0-based column, raw text, cell type attribute,
    * style index (−1 when absent).
    */
  private case class Cell(col: Int, text: String, t: String, style: Int)

  private def sheetRows(
      bytes: Array[Byte], shared: IndexedSeq[String],
      dateFlags: IndexedSeq[Boolean], date1904: Boolean): Seq[Seq[Any]] = {
    val r = stax(bytes)
    val rows = mutable.ArrayBuffer.empty[Seq[Any]]
    try {
      while (r.hasNext) {
        if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "row") {
          // Excel omits <row> elements for fully blank rows; honoring the
          // 1-based r= index pads the gap with all-null rows so embedded
          // blank rows keep downstream row alignment (pd.read_excel
          // semantics). Rows without r= are taken in document order;
          // trailing blanks have no element at all and stay dropped.
          // The index is capped at Excel's own row capacity BEFORE any
          // padding: without the cap a crafted two-row file declaring
          // r="2000000000" makes this loop allocate two billion entries
          // — the row-index twin of the zip-bomb part-size guards.
          // Parsed as Long so indices past Int.MaxValue share the same
          // loud over-cap contract instead of silently falling back to
          // document order; non-positive indices are equally refused
          // (Excel rows are 1-based, so 0/negative only appear crafted).
          Option(r.getAttributeValue(null, "r")).flatMap(_.toLongOption).foreach { idx =>
            if (idx > MaxRows || idx <= 0) throw new IllegalArgumentException(
              s"row index $idx is outside Excel's 1..$MaxRows sheet capacity")
            while (rows.size + 1 < idx) rows += Seq.empty
          }
          val cells = mutable.ArrayBuffer.empty[Cell]
          var nextCol = 0
          var depth = 1
          while (depth > 0 && r.hasNext) {
            r.next() match {
              case javax.xml.stream.XMLStreamConstants.START_ELEMENT if r.getLocalName == "c" =>
                val ref = Option(r.getAttributeValue(null, "r"))
                val t = Option(r.getAttributeValue(null, "t")).getOrElse("")
                val style = Option(r.getAttributeValue(null, "s"))
                  .flatMap(_.toIntOption).getOrElse(-1)
                val col = ref.map(refCol).getOrElse(nextCol)
                nextCol = col + 1
                // subtreeText over <c> concatenates its <v> (or <is> runs);
                // formula cells contribute their cached <v>, and the <f>
                // formula text is excluded by reading only v/is subtrees.
                var text = ""
                var cdepth = 1
                while (cdepth > 0 && r.hasNext) {
                  r.next() match {
                    case javax.xml.stream.XMLStreamConstants.START_ELEMENT
                        if r.getLocalName == "v" || r.getLocalName == "is" =>
                      text += subtreeText(r)
                    case javax.xml.stream.XMLStreamConstants.START_ELEMENT => cdepth += 1
                    case javax.xml.stream.XMLStreamConstants.END_ELEMENT => cdepth -= 1
                    case _ => ()
                  }
                }
                // the <c> subtree (incl. its END_ELEMENT) is fully consumed
                // above, so row depth is unchanged here
                cells += Cell(col, text, t, style)
              case javax.xml.stream.XMLStreamConstants.START_ELEMENT => depth += 1
              case javax.xml.stream.XMLStreamConstants.END_ELEMENT => depth -= 1
              case _ => ()
            }
          }
          val width = cells.map(_.col).maxOption.fold(0)(_ + 1)
          val arr = Array.fill[Any](width)(null)
          cells.foreach { c =>
            val v: Any = c.t match {
              case "s" => shared(c.text.trim.toInt)
              case "inlineStr" | "str" => c.text
              case "b" => c.text.trim == "1" || c.text.trim.equalsIgnoreCase("true")
              case "e" => null // error cells (#DIV/0!, #N/A, ...) — no value
              case _ =>
                if (c.text.isEmpty) null
                // A numeric cell whose style carries a date/time number
                // format IS a date: decode the serial to the codec's ISO
                // text convention. Everything else stays text; typed later.
                else if (c.style >= 0 && c.style < dateFlags.length &&
                  dateFlags(c.style) && c.text.trim.toDoubleOption.isDefined)
                  serialToIso(c.text.trim.toDouble, date1904)
                else c.text
            }
            if (c.col < width) arr(c.col) = v
          }
          rows += arr.toSeq
        }
      }
    } finally { r.close() }
    rows.toSeq
  }

  /** Decimal-notation guards in front of `toLong`/`toDouble`:
    * `Double.parseDouble` alone also accepts trailing `d`/`f` type
    * suffixes and hex-float forms, so a TEXT column of values like `7f`
    * or `1d` would silently read back as DoubleType 7.0/1.0 — corrupting
    * data, not just retyping it. These admit exactly what csv/pandas
    * inference does: optional sign, decimal digits, optional fraction and
    * exponent.
    */
  private val LongPat = "[+-]?\\d+".r.pattern
  private val DoublePat = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r.pattern

  /** Column typing over the header-stripped body: all-boolean →
    * BooleanType; all numeric-text → LongType when every value is
    * integral in Long range, else DoubleType; anything mixed → StringType
    * (mirrors the csv-source inference family the S1 loader already
    * uses). Null cells are type-transparent.
    */
  private def typed(header: Seq[String], body: Seq[Seq[Any]]): (StructType, Seq[Row]) = {
    val width = header.length
    def at(row: Seq[Any], i: Int): Any = if (i < row.length) row(i) else null
    def longish(s: String) =
      LongPat.matcher(s).matches && s.toLongOption.isDefined
    def doublish(s: String) =
      (DoublePat.matcher(s).matches ||
        // the writer's own Double.toString forms for non-finite values
        s == "NaN" || s == "Infinity" || s == "-Infinity") &&
        s.toDoubleOption.isDefined
    val dts = (0 until width).map { i =>
      val vs = body.map(at(_, i)).filter(_ != null)
      if (vs.isEmpty) StringType
      else if (vs.forall(_.isInstanceOf[Boolean])) BooleanType
      else if (vs.forall { case s: String => doublish(s.trim); case _ => false }) {
        if (vs.forall { case s: String => longish(s.trim); case _ => false }) LongType
        else DoubleType
      } else StringType
    }
    val schema = StructType(header.zip(dts).map { case (n, t) => StructField(n, t, nullable = true) })
    val rows = body.map { row =>
      Row.fromSeq((0 until width).map { i =>
        at(row, i) match {
          case null => null
          case s: String => dts(i) match {
            case LongType => s.trim.toLong
            case DoubleType => s.trim.toDouble
            case _ => s
          }
          case b: Boolean => b
          case other => other.toString
        }
      })
    }
    (schema, rows)
  }

  /** Read every sheet of the workbook at `path` (any Hadoop-reachable
    * URI) as `{sheet name → DataFrame}` — `pd.read_excel(sheet_name=None)`
    * semantics: row 1 is the header, blank header cells get the pandas
    * `Unnamed: N` placeholder, sheets keep workbook order in the returned
    * (insertion-ordered) map.
    */
  def read(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      try readParts(fs.open(p))
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(s"No such workbook: $path")
        case e: IllegalArgumentException => throw e // own caps, already contextual
        case scala.util.control.NonFatal(e) =>
          // Corrupt zip structure (bad local headers, truncated stream)
          // must name the file, not surface a bare ZipException.
          throw new IllegalArgumentException(
            s"Not a readable xlsx archive: $path: ${e.getMessage}", e)
      }
    val wb = parts.getOrElse("xl/workbook.xml",
      throw new IllegalArgumentException(s"Not an xlsx workbook (no xl/workbook.xml): $path"))
    // sheet name → relationship id, in workbook order
    val sheets = try {
      val r = stax(wb)
      val out = mutable.ArrayBuffer.empty[(String, String)]
      try {
        while (r.hasNext) {
          if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "sheet") {
            val name = r.getAttributeValue(null, "name")
            val rid = (0 until r.getAttributeCount)
              .find(i => r.getAttributeLocalName(i) == "id")
              .map(r.getAttributeValue).getOrElse("")
            out += ((name, rid))
          }
        }
      } finally { r.close() }
      out.toSeq
    } catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"Malformed workbook metadata in $path: ${e.getMessage}", e)
    }
    // relationship id → worksheet part path
    val rels = try {
      parts.get("xl/_rels/workbook.xml.rels").fold(Map.empty[String, String]) { bytes =>
        val r = stax(bytes)
        val out = mutable.Map.empty[String, String]
        try {
          while (r.hasNext) {
            if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
              r.getLocalName == "Relationship") {
              val target = r.getAttributeValue(null, "Target")
              val norm = if (target.startsWith("/")) target.drop(1) else "xl/" + target
              out(r.getAttributeValue(null, "Id")) = norm
            }
          }
        } finally { r.close() }
        out.toMap
      }
    } catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalArgumentException(
        s"Malformed workbook metadata in $path: ${e.getMessage}", e)
    }
    // Workbook-level metadata parses (shared strings, styles, date
    // system) get the same loud-with-context contract the per-sheet
    // parse below has: a corrupt styles.xml must name the file, not
    // surface a bare XMLStreamException/NumberFormatException.
    val (shared, dateFlags, date1904) =
      try (sharedStrings(parts), dateStyles(parts), is1904(wb))
      catch { case e: IllegalArgumentException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"Malformed workbook metadata in $path: ${e.getMessage}", e)
      }
    // VectorMap keeps insertion order at ANY size — a plain immutable
    // Map would silently drop the documented workbook order at >=5
    // sheets (the small-map specializations happen to preserve it).
    var result = scala.collection.immutable.VectorMap.empty[String, DataFrame]
    sheets.zipWithIndex.foreach { case ((name, rid), i) =>
      // Fall back to positional naming when rels are absent (some minimal
      // producers omit them and rely on the sheetN convention).
      val partName = rels.getOrElse(rid, s"xl/worksheets/sheet${i + 1}.xml")
      parts.get(partName).foreach { bytes =>
        // A malformed part (dangling shared-string index, junk XML, broken
        // numerics) should name the sheet and file, not surface a bare
        // IndexOutOfBounds from the guts of the parser.
        val all =
          try sheetRows(bytes, shared, dateFlags, date1904)
          catch { case e: IllegalArgumentException => throw e
            case scala.util.control.NonFatal(e) =>
              throw new IllegalArgumentException(
                s"Malformed worksheet '$name' ($partName) in $path: ${e.getMessage}", e)
          }
        // Sheet-width header semantics (pandas parity): the frame is as
        // wide as the WIDEST row, not the header row — openpyxl hands
        // pandas gap rows as empty lists and TextParser runs with
        // skip_blank_lines=False, so a data row wider than the header
        // gets trailing `Unnamed: N` columns (not silent truncation) and
        // a sheet whose first physical row sits at r>=2 reads with an
        // all-`Unnamed` header and the real header text as row one of
        // the body, exactly as pd.read_excel renders it.
        val headerRow = all.headOption.getOrElse(Seq.empty)
        val width = all.map(_.length).maxOption.getOrElse(0)
        val header = (0 until width).map { j =>
          if (j < headerRow.length && headerRow(j) != null) headerRow(j).toString
          else s"Unnamed: $j"
        }
        val (schema, rows) = typed(header, all.drop(1))
        result = result.updated(name, spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size / 10000 + 1, 32))),
          schema))
      }
    }
    result
  }
}

/** S2's binary half: `{sheet → DataFrame}` from one `.xlsx` blob, same
  * [[WorkbookSource]] seam as [[DirWorkbookSource]].
  */
object XlsxWorkbookSource extends WorkbookSource {
  override def load(spark: SparkSession, path: String): Map[String, DataFrame] =
    Xlsx.read(spark, path)
}

/** S7's binary half: one sheet per table into a single `.xlsx` file. */
object XlsxWorkbookSink {
  def save(tables: Map[String, DataFrame], path: String, spark: SparkSession): Unit =
    Xlsx.write(tables, path, spark)
}
