package graft

import graft.convert.{CsvConverter, JsonConverter, SpreadsheetConverter}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

class ConvertSpec extends SparkSpec {

  // ------------------------------------------------------------------ JSON

  test("json: list of records") {
    val out = JsonConverter.toRecords("""[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]""")
    assert(out.get.map(_("a")) == Seq("1", "2"))
  }

  test("json: data/results/rows/items wrappers unwrap") {
    for (k <- Seq("data", "results", "rows", "items")) {
      val out = JsonConverter.toRecords(s"""{"$k": [{"v": 1}], "meta": "ignored"}""")
      assert(out.get == Seq(Map("v" -> "1")), k)
    }
  }

  test("json: columnar dict of equal-length lists transposes") {
    val out = JsonConverter.toRecords("""{"a": [1, 2], "b": ["x", "y"]}""")
    assert(out.get == Seq(Map("a" -> "1", "b" -> "x"), Map("a" -> "2", "b" -> "y")))
  }

  test("json: unequal-length columnar dict falls back to single record") {
    val out = JsonConverter.toRecords("""{"a": [1, 2], "b": ["x"]}""")
    assert(out.get.size == 1)
  }

  test("json: single object is one record; error payload is skipped") {
    assert(JsonConverter.toRecords("""{"a": 1}""").get.size == 1)
    assert(JsonConverter.toRecords("""{"error": {"code": 42}}""").isEmpty)
    assert(JsonConverter.toRecords("""not json""").isEmpty)
  }

  test("json: nested objects flatten dot-joined; arrays serialize to JSON strings") {
    val out = JsonConverter.toRecords(
      """[{"spatialReference": {"wkid": 27700}, "tags": ["a", "b"]}]""").get
    assert(out.head("spatialReference.wkid") == "27700")
    assert(out.head("tags") == """["a","b"]""")
  }

  test("json: convert end-to-end infers types (wkid becomes long)") {
    val df = JsonConverter.convert(spark,
      Seq("""[{"spatialReference": {"wkid": 27700}, "name": "os grid"}]"""))
    assert(df.schema("spatialReference.wkid").dataType == LongType)
    assert(df.schema("name").dataType == StringType)
    assert(df.collect()(0).getLong(df.schema.fieldIndex("spatialReference.wkid")) == 27700L)
  }

  // ------------------------------------------------------------------- CSV

  test("csv: charset sniff — BOMs and UTF-8 validity") {
    assert(CsvConverter.sniffCharset(Array(0xEF, 0xBB, 0xBF, 'a').map(_.toByte)) == "UTF-8")
    assert(CsvConverter.sniffCharset("plain ascii".getBytes) == "UTF-8")
    assert(CsvConverter.sniffCharset(Array(0xFF, 0xFE, 0x41, 0x00).map(_.toByte)) == "UTF-16LE")
    // invalid UTF-8 continuation -> latin-1 fallback
    assert(CsvConverter.sniffCharset(Array(0xE9, 0x20).map(_.toByte)) == "ISO-8859-1")
  }

  test("csv: end-to-end read + inference on a temp file") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv")
    val f = dir.resolve("t.csv")
    java.nio.file.Files.writeString(f,
      "name,count,price,when\nalpha,\"1,000\",£2.50,1 Mar 2023\nbeta,250,£3.00,2023-04-05\n")
    val df = CsvConverter.convert(spark, f.toString)
    assert(df.schema("count").dataType == LongType)
    assert(df.schema("price").dataType == DoubleType)
    assert(df.schema("when").dataType == StringType)
    val rows = df.orderBy("name").collect()
    assert(rows(0).getAs[Long]("count") == 1000L)
    assert(rows(0).getAs[Double]("price") == 2.50)
    assert(rows(0).getAs[String]("when") == "2023-03-01T00:00:00+00:00")
  }

  // ------------------------------------------------------------ spreadsheet

  test("spreadsheet: safe sheet names") {
    assert(SpreadsheetConverter.safeSheetName("My Sheet (2024)!") == "my_sheet_2024")
    assert(SpreadsheetConverter.safeSheetName("__x__") == "x")
    // all-forbidden name falls back to a deterministic uuid
    val u = SpreadsheetConverter.safeSheetName("///")
    assert(u == SpreadsheetConverter.safeSheetName("///"))
    assert(u.length == 36)
  }

  test("spreadsheet: colliding sanitized headers dedupe pandas-style") {
    assert(SpreadsheetConverter.dedupeHeaders(Seq("Col A", "Col_A", "col  a"))
      == Seq("col_a", "col_a.1", "col_a.2"))
    // dots are legal name chars — "Col.A" is distinct, not a collision
    assert(SpreadsheetConverter.dedupeHeaders(Seq("Col A", "Col.A"))
      == Seq("col_a", "col.a"))
    assert(SpreadsheetConverter.dedupeHeaders(Seq("x", "y")) == Seq("x", "y"))
  }

  test("spreadsheet: xlsx decodes to per-sheet typed frames; unrecognised bytes to none") {
    val out = SpreadsheetConverter.convert(spark, fixtureXlsx())
    assert(out.map(_._1) == Seq("employees_2024", "shift_times", "audit_log"))
    assert(out.map(_._2.count()) == Seq(2L, 2L, 2L))
    // neither ZIP nor CFB: no sheets, so the payload is never read as a document
    val junk = Array[Byte](10, 20, 30)
    assert(SpreadsheetConverter.decodeWorkbook(junk).isEmpty)
    assert(SpreadsheetConverter.convert(spark, junk).isEmpty)
  }

  // Minimal real xlsx built with the JDK zip writer: 3 sheets, shared +
  // inline strings, numeric, time-styled and datetime-styled cells —
  // the reference's golden workbook shape
  // (tests/resources/test_spreadsheet_to_parquet.py:35-78).
  private def fixtureXlsx(): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val relNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    put("xl/workbook.xml",
      s"""<workbook xmlns="$mainNs" xmlns:r="$relNs"><sheets>
         |<sheet name="Employees (2024)" sheetId="1" r:id="rId1"/>
         |<sheet name="Shift Times" sheetId="2" r:id="rId2"/>
         |<sheet name="Audit Log" sheetId="3" r:id="rId3"/>
         |</sheets></workbook>""".stripMargin)
    put("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
        |<Relationship Id="rId2" Type="t" Target="worksheets/sheet2.xml"/>
        |<Relationship Id="rId3" Type="t" Target="worksheets/sheet3.xml"/>
        |</Relationships>""".stripMargin)
    put("xl/sharedStrings.xml",
      s"""<sst xmlns="$mainNs"><si><t>Name</t></si><si><t>Age</t></si>
         |<si><t>Alice</t></si><si><t>Bob</t></si><si><t>Time</t></si>
         |<si><t>datetime</t></si><si><t>event</t></si></sst>""".stripMargin)
    // style 1 = builtin 20 (h:mm, time-only); style 2 = builtin 22 (datetime)
    put("xl/styles.xml",
      s"""<styleSheet xmlns="$mainNs"><cellXfs count="3">
         |<xf numFmtId="0"/><xf numFmtId="20"/><xf numFmtId="22"/>
         |</cellXfs></styleSheet>""".stripMargin)
    put("xl/worksheets/sheet1.xml",
      s"""<worksheet xmlns="$mainNs"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
         |<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>34</v></c></row>
         |<row r="3"><c r="A3" t="s"><v>3</v></c><c r="B3"><v>28</v></c></row>
         |</sheetData></worksheet>""".stripMargin)
    put("xl/worksheets/sheet2.xml",
      s"""<worksheet xmlns="$mainNs"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>4</v></c>
         |<c r="B1" t="inlineStr"><is><t>label</t></is></c></row>
         |<row r="2"><c r="A2" s="1"><v>0.6041666666666666</v></c>
         |<c r="B2" t="inlineStr"><is><t>afternoon</t></is></c></row>
         |<row r="3"><c r="A3" s="1"><v>0.25</v></c>
         |<c r="B3" t="inlineStr"><is><t>morning</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin)
    put("xl/worksheets/sheet3.xml",
      s"""<worksheet xmlns="$mainNs"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>5</v></c><c r="B1" t="s"><v>6</v></c></row>
         |<row r="2"><c r="A2" s="2"><v>44256.5</v></c>
         |<c r="B2" t="inlineStr"><is><t>login</t></is></c></row>
         |<row r="3"><c r="A3" s="2"><v>44257.25</v></c>
         |<c r="B3" t="inlineStr"><is><t>logout</t></is></c></row>
         |</sheetData></worksheet>""".stripMargin)
    z.close()
    baos.toByteArray
  }

  test("xlsx: real zip decode — 3 sheets, sanitized names, typed columns") {
    val out = SpreadsheetConverter.convert(spark, fixtureXlsx())
    assert(out.map(_._1) == Seq("employees_2024", "shift_times", "audit_log"))
    val emp = out(0)._2
    assert(emp.columns.toSeq == Seq("name", "age"))
    assert(emp.schema("age").dataType == LongType)
    assert(emp.orderBy("age").collect().map(_.getLong(1)).toSeq == Seq(28L, 34L))
  }

  test("xlsx: time-styled column stays HH:mm:ss strings (NOT ISO-ified)") {
    val shift = SpreadsheetConverter.convert(spark, fixtureXlsx())(1)._2
    assert(shift.schema("time").dataType == StringType)
    assert(shift.orderBy("time").collect().map(_.getString(0)).toSeq
      == Seq("06:00:00", "14:30:00"))
  }

  test("xlsx: datetime-styled column IS ISO-ified by inference") {
    val audit = SpreadsheetConverter.convert(spark, fixtureXlsx())(2)._2
    assert(audit.orderBy("datetime").collect().map(_.getString(0)).toSeq
      == Seq("2021-03-01T12:00:00+00:00", "2021-03-02T06:00:00+00:00"))
  }

  test("xlsx: a shared string nesting 100,000 elements decodes on a default-stack thread") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    put("xl/workbook.xml",
      s"""<workbook xmlns="$mainNs"><sheets><sheet name="S" sheetId="1"/></sheets></workbook>""")
    put("xl/sharedStrings.xml",
      s"""<sst xmlns="$mainNs"><si><t>${nested("r", "deep")}</t></si></sst>""")
    put("xl/worksheets/sheet1.xml",
      s"""<worksheet xmlns="$mainNs"><sheetData>
         |<row r="1"><c r="A1" t="s"><v>0</v></c></row>
         |</sheetData></worksheet>""".stripMargin)
    z.close()
    val out = onDefaultStack(graft.convert.XlsxDecoder.decode(baos.toByteArray).map(_.header))
    assert(out == Right(Seq(Seq("deep"))), out.left.map(_.getClass.getName))
  }

  // ------------------------------------------------------------------- ODS

  test("xlsx: an entry inflating past the zip budget fails with the ods budget error") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    // 257 MiB of zeros deflates to about 0.3 MiB; the budget is 256 MiB
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    z.putNextEntry(new ZipEntry("xl/workbook.xml"))
    val mib = new Array[Byte](1 << 20)
    (0 until 257).foreach(_ => z.write(mib))
    z.closeEntry(); z.close()
    val bomb = baos.toByteArray
    val xlsx = intercept[RuntimeException](graft.convert.XlsxDecoder.decode(bomb))
    val ods = intercept[RuntimeException](graft.convert.OdsDecoder.readZip(bomb))
    assert(xlsx.getClass == ods.getClass && xlsx.getMessage == ods.getMessage)
    assert(xlsx.getMessage.contains("budget exceeded"))
    assert(SpreadsheetConverter.decodeWorkbook(bomb) == Seq.empty)
  }

  // Minimal real ODS built with the JDK zip writer: mimetype + content.xml,
  // three tables with string/float/time/date cells, column-repeat padding —
  // the same golden shape as the xlsx fixture, through the OpenDocument path.
  private def fixtureOds(): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
    def cellStr(s: String) =
      s"""<table:table-cell office:value-type="string"><text:p>$s</text:p></table:table-cell>"""
    def cellNum(v: String) =
      s"""<table:table-cell office:value-type="float" office:value="$v"/>"""
    def cellTime(d: String) =
      s"""<table:table-cell office:value-type="time" office:time-value="$d"/>"""
    def cellDate(d: String) =
      s"""<table:table-cell office:value-type="date" office:date-value="$d"/>"""
    // LibreOffice-style trailing padding: one empty cell repeated 16 thousand times
    val pad = """<table:table-cell table:number-columns-repeated="16322"/>"""
    put("content.xml",
      s"""<office:document-content
         | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
         | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
         | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
         |<office:body><office:spreadsheet>
         |<table:table table:name="Employees (2024)">
         |<table:table-row>${cellStr("Name")}${cellStr("Age")}$pad</table:table-row>
         |<table:table-row>${cellStr("Alice")}${cellNum("34")}$pad</table:table-row>
         |<table:table-row>${cellStr("Bob")}${cellNum("28")}$pad</table:table-row>
         |<table:table-row table:number-rows-repeated="500">$pad</table:table-row>
         |</table:table>
         |<table:table table:name="Shift Times">
         |<table:table-row>${cellStr("Time")}${cellStr("label")}</table:table-row>
         |<table:table-row>${cellTime("PT14H30M0S")}${cellStr("afternoon")}</table:table-row>
         |<table:table-row>${cellTime("PT6H0M0S")}${cellStr("morning")}</table:table-row>
         |</table:table>
         |<table:table table:name="Audit Log">
         |<table:table-row>${cellStr("datetime")}${cellStr("event")}</table:table-row>
         |<table:table-row>${cellDate("2021-03-01T12:00:00")}${cellStr("login")}</table:table-row>
         |<table:table-row>${cellDate("2021-03-02T06:00:00")}${cellStr("logout")}</table:table-row>
         |</table:table>
         |</office:spreadsheet></office:body></office:document-content>""".stripMargin)
    z.close()
    baos.toByteArray
  }

  test("ods: real zip decode — 3 sheets, sanitized names, typed columns, padding dropped") {
    val out = SpreadsheetConverter.convert(spark, fixtureOds())
    assert(out.map(_._1) == Seq("employees_2024", "shift_times", "audit_log"))
    val emp = out(0)._2
    assert(emp.columns.toSeq == Seq("name", "age"))
    assert(emp.schema("age").dataType == LongType)
    assert(emp.count() == 2, "repeated empty padding rows must be dropped")
    assert(emp.orderBy("age").collect().map(_.getLong(1)).toSeq == Seq(28L, 34L))
  }

  test("ods: time cells stay HH:mm:ss strings (NOT ISO-ified)") {
    val shift = SpreadsheetConverter.convert(spark, fixtureOds())(1)._2
    assert(shift.schema("time").dataType == StringType)
    assert(shift.orderBy("time").collect().map(_.getString(0)).toSeq
      == Seq("06:00:00", "14:30:00"))
  }

  test("ods: date-with-time cells ARE ISO-ified by inference") {
    val audit = SpreadsheetConverter.convert(spark, fixtureOds())(2)._2
    assert(audit.orderBy("datetime").collect().map(_.getString(0)).toSeq
      == Seq("2021-03-01T12:00:00+00:00", "2021-03-02T06:00:00+00:00"))
  }

  test("ods: content-bearing column repeats expand; boolean renders TRUE/FALSE") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
    put("content.xml",
      """<office:document-content
        | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
        | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<office:body><office:spreadsheet>
        |<table:table table:name="t">
        |<table:table-row><table:table-cell office:value-type="string" table:number-columns-repeated="3"><text:p>h</text:p></table:table-cell></table:table-row>
        |<table:table-row>
        |<table:table-cell office:value-type="float" office:value="7" table:number-columns-repeated="2"/>
        |<table:table-cell office:value-type="boolean" office:boolean-value="true"/>
        |</table:table-row>
        |</table:table>
        |</office:spreadsheet></office:body></office:document-content>""".stripMargin)
    z.close()
    val sheets = graft.convert.OdsDecoder.decode(baos.toByteArray)
    assert(sheets.size == 1)
    assert(sheets.head.header == Seq("h", "h", "h"))
    assert(sheets.head.rows == Seq(Seq("7", "7", "TRUE")))
  }

  private def odsWithContent(contentXml: String): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    def put(name: String, content: String): Unit = {
      z.putNextEntry(new ZipEntry(name)); z.write(content.getBytes("UTF-8")); z.closeEntry()
    }
    put("mimetype", "application/vnd.oasis.opendocument.spreadsheet")
    put("content.xml",
      s"""<office:document-content
         | xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
         | xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
         | xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
         |<office:body><office:spreadsheet>$contentXml</office:spreadsheet></office:body></office:document-content>""".stripMargin)
    z.close()
    baos.toByteArray
  }

  test("ods: interior empty repeat > 64 expands EXACTLY (no column misalignment)") {
    // 1 value, 100 interior empties, 1 value: the trailing value must land
    // at column index 101, not be shifted left by an empty-repeat cap
    val bytes = odsWithContent(
      """<table:table table:name="t">
        |<table:table-row>
        |<table:table-cell office:value-type="string"><text:p>first</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="100"/>
        |<table:table-cell office:value-type="string"><text:p>last</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        |<table:table-cell office:value-type="string"><text:p>a</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="100"/>
        |<table:table-cell office:value-type="string"><text:p>b</text:p></table:table-cell>
        |</table:table-row>
        |</table:table>""".stripMargin)
    val sheets = graft.convert.OdsDecoder.decode(bytes)
    assert(sheets.size == 1)
    assert(sheets.head.header.length == 102)
    assert(sheets.head.header.head == "first" && sheets.head.header.last == "last")
    val row = sheets.head.rows.head
    assert(row.length == 102 && row.head == "a" && row.last == "b",
      s"interior empties misaligned the trailing cell: len=${row.length}")
  }

  test("ods: trailing padding repeats (16k cols / 1M rows) still cost nothing") {
    val bytes = odsWithContent(
      """<table:table table:name="t">
        |<table:table-row>
        |<table:table-cell office:value-type="string"><text:p>h</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="16383"/>
        |</table:table-row>
        |<table:table-row>
        |<table:table-cell office:value-type="string"><text:p>v</text:p></table:table-cell>
        |<table:table-cell table:number-columns-repeated="16383"/>
        |</table:table-row>
        |<table:table-row table:number-rows-repeated="1048575">
        |<table:table-cell table:number-columns-repeated="16384"/>
        |</table:table-row>
        |</table:table>""".stripMargin)
    val sheets = graft.convert.OdsDecoder.decode(bytes)
    assert(sheets.size == 1)
    assert(sheets.head.header == Seq("h"))
    assert(sheets.head.rows == Seq(Seq("v")))
  }

  test("ods: content-bearing repeat past the cell budget fails to Seq.empty, not OOM") {
    // a single cell asked to repeat 100M times with real content — must be
    // rejected as a parse failure instead of expanding
    val bytes = odsWithContent(
      """<table:table table:name="t">
        |<table:table-row>
        |<table:table-cell office:value-type="float" office:value="1" table:number-columns-repeated="100000000"/>
        |<table:table-cell office:value-type="string"><text:p>end</text:p></table:table-cell>
        |</table:table-row>
        |</table:table>""".stripMargin)
    assert(graft.convert.OdsDecoder.decode(bytes) == Seq.empty)
  }

  test("ods: a text:p nesting 100,000 spans decodes on a default-stack thread") {
    val bytes = odsWithContent(
      s"""<table:table table:name="t"><table:table-row>
         |<table:table-cell office:value-type="string"><text:p>${nested("text:span", "deep")
        }</text:p></table:table-cell>
         |</table:table-row></table:table>""".stripMargin)
    val out = onDefaultStack(graft.convert.OdsDecoder.decode(bytes).map(_.header))
    assert(out == Right(Seq(Seq("deep"))), out.left.map(_.getClass.getName))
  }
}
