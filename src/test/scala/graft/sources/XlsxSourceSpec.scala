package graft.sources.xlsx

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.IO

/** The from-scratch XLSX DataSource V2 (S5) must read the REFERENCE's own
  * HR workbook — the exact file the reference ingests with pandas/openpyxl
  * (`commute_validation.py:187-209`) — and agree with its documented shape
  * (161 employee rows; BASELINE.md). */
class XlsxSourceSpec extends SparkSpec {

  // The reference filename contains é; in a POSIX-locale JVM
  // (sun.jnu.encoding=ASCII) such paths are unresolvable, so stage a copy
  // under an ASCII name via the shell.
  private lazy val refXlsx: String = {
    import scala.sys.process._
    val dst = java.nio.file.Files.createTempDirectory("xlsx_ref").resolve("hr.xlsx")
    val rc = Seq("/bin/sh", "-c",
      s"""cp /root/reference/commute_validation/data/*.xlsx "$dst"""").!
    if (rc == 0) dst.toString else ""
  }

  test("reads the reference HR workbook: 161 rows, header-named columns") {
    assume(refXlsx.nonEmpty && new java.io.File(refXlsx).exists())
    val df = IO.readExcel(spark, refXlsx)
    assert(df.count() === 161)
    val cols = df.schema.fieldNames
    assert(cols.contains("ID salarié"), s"got ${cols.mkString(", ")}")
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    // every employee row carries an id; ids are unique
    val ids = df.select(col("ID salarié")).collect().map(_.getString(0))
    assert(ids.forall(s => s != null && s.nonEmpty))
    assert(ids.distinct.length === 161)
    // typed casts compose downstream (serial-date columns stay raw strings)
    val salaries = df.select(col("Salaire brut").cast("double")).na.drop()
    assert(salaries.count() > 0)
  }

  test("header=false surfaces the raw grid with generated column names") {
    assume(refXlsx.nonEmpty && new java.io.File(refXlsx).exists())
    val df = IO.readExcel(spark, refXlsx, header = false)
    assert(df.count() === 162) // header row + 161 data rows
    assert(df.schema.fieldNames.forall(_.startsWith("c")))
  }

  test("short name registration + one partition per workbook file") {
    assume(refXlsx.nonEmpty && new java.io.File(refXlsx).exists())
    val df = spark.read.format("xlsx").option("header", "true").load(refXlsx)
    assert(df.rdd.getNumPartitions === 1, "a workbook zip is not splittable")
    assert(df.count() === 161)
  }

  test("reference HR workbook flows through the full domain pipeline") {
    assume(refXlsx.nonEmpty && new java.io.File(refXlsx).exists())
    import graft.domain.{Model, Ops}
    import spark.implicits._
    val employees = Ops.fromHrWorkbook(IO.readExcel(spark, refXlsx))
    // typing holds against the canonical Employee model (real ids, serial
    // dates decoded, XML entities like R&D resolved)
    val typed = employees.as[Model.Employee].collect()
    assert(typed.length === 161)
    assert(typed.map(_.id_employee).distinct.length === 161)
    assert(typed.forall(e => e.birthday.toLocalDate.getYear >= 1930 &&
      e.birthday.toLocalDate.getYear <= 2010))
    assert(typed.forall(e => e.hire_date.toLocalDate.getYear >= 2000))
    assert(typed.exists(_.business_unity == "R&D"))
    assert(typed.forall(_.gross_salary > 0))
    // the reference's own transport vocabulary drives the validity rules
    val modes = typed.map(_.transport_mode).toSet
    assert(Model.SportyModes.subsetOf(modes), s"modes: $modes")
    // full pipeline over the real file: validate → join → benefit report
    val validations = Ops.validateCommutes(employees)
    val report = Ops.benefitReport(
      Ops.buildFinal(employees, validations,
        graft.domain.Fixtures.activities(spark, 5, 10)))
    val rows = report.collect()
    assert(rows.length === 161)
    rows.foreach { r =>
      val valid = r.getBoolean(r.fieldIndex("commute_valid"))
      val prime = r.getDouble(r.fieldIndex("commute_prime"))
      assert(if (valid) prime > 0 else prime == 0.0)
    }
  }

  // Minimal SpreadsheetML writer for synthetic-workbook cases: the source
  // only needs the shared-string table + sheet grids, so that's all the
  // zip carries. `shared` entries are one `<t>` each; `richShared`
  // entries follow them in the table, each a rich-text `<si>` of
  // formatted `<r>` runs. Text is XML as written (escape entities).
  private def writeWorkbook(
      name: String,
      sheets: Map[String, String],
      shared: Seq[String] = Nil,
      richShared: Seq[Seq[String]] = Nil,
      phoneticShared: Seq[(String, String)] = Nil): String = {
    val f = java.nio.file.Files.createTempDirectory("xlsx_syn").resolve(name)
    val zos = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(f))
    def put(entry: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(entry))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val si = shared.map(s => s"<si><t>$s</t></si>") ++ richShared.map(runs =>
      runs.map(t => s"<r><rPr><b/></rPr><t>$t</t></r>").mkString("<si>", "", "</si>")) ++
      phoneticShared.map { case (t, reading) => s"<si><t>$t</t>${phonetic(reading)}</si>" }
    if (si.nonEmpty)
      put("xl/sharedStrings.xml", s"""<?xml version="1.0"?><sst>${si.mkString}</sst>""")
    sheets.foreach { case (sheet, rowsXml) =>
      put(s"xl/worksheets/$sheet.xml",
        s"""<?xml version="1.0"?><worksheet><sheetData>$rowsXml</sheetData></worksheet>""")
    }
    zos.close()
    f.toString
  }
  private def inline(ref: String, v: String) =
    s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
  /** An `<rPh>` phonetic run (a furigana reading hint) plus its
    * properties, as Excel writes them after a string's own text. */
  private def phonetic(reading: String) =
    s"""<rPh sb="0" eb="1"><t>$reading</t></rPh><phoneticPr fontId="1"/>"""

  test("synthetic workbook: inline strings and raw numbers") {
    val p = writeWorkbook("inline.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "name")}${inline("B1", "qty")}</row>""" +
        s"""<row>${inline("A2", "ab")}<c r="B2"><v>42</v></c></row>""")))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("name", "qty"))
    val r = df.collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "ab" && r(0).getString(1) === "42")
  }

  test("synthetic workbook: sparse rows keep cell positions, missing cells are null") {
    val p = writeWorkbook("sparse.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "a")}${inline("B1", "b")}${inline("C1", "c")}</row>""" +
        s"""<row>${inline("A2", "x")}${inline("C2", "z")}</row>""" +
        s"""<row>${inline("B3", "y")}</row>""")))
    val rows = spark.read.format("xlsx").load(p).collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "x" && rows(0).isNullAt(1) && rows(0).getString(2) === "z")
    assert(rows(1).isNullAt(0) && rows(1).getString(1) === "y" && rows(1).isNullAt(2))
  }

  test("synthetic workbook: sheet option selects among multiple sheets") {
    val p = writeWorkbook("multi.xlsx", Map(
      "sheet1" -> s"""<row>${inline("A1", "first")}</row><row>${inline("A2", "s1")}</row>""",
      "sheet2" -> s"""<row>${inline("A1", "second")}</row><row>${inline("A2", "s2")}</row>"""))
    val df2 = spark.read.format("xlsx").option("sheet", "2").load(p)
    assert(df2.schema.fieldNames.toSeq === Seq("second"))
    assert(df2.collect().map(_.getString(0)).toSeq === Seq("s2"))
  }

  test("synthetic workbook: empty header cells get generated names") {
    val p = writeWorkbook("emptyhdr.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "x")}${inline("C1", "z")}</row>""" +
        s"""<row>${inline("A2", "1")}${inline("B2", "2")}${inline("C2", "3")}</row>""")))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("x", "c1", "z"))
    assert(df.collect()(0).getString(1) === "2")
  }

  test("schema inference stops at the header row (shared strings aside, no full-sheet scan)") {
    // a poison data row referencing shared-string index 99 (out of bounds):
    // inference must succeed (it never reads past row 1), while a full data
    // read must hit the poison and fail — proving the early exit is real
    val p = writeWorkbook("poison.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "h")}</row>""" +
        s"""<row><c r="A2" t="s"><v>99</v></c></row>""")),
      shared = Seq("only_one"))
    val df = spark.read.format("xlsx").load(p) // triggers inferSchema
    assert(df.schema.fieldNames.toSeq === Seq("h"))
    intercept[Exception] { df.collect() }
  }

  test("IO.readExcel: a shared-strings header keeps its non-ASCII names") {
    // the reference workbook's header shape: shared-string cells with
    // accented French names
    val p = writeWorkbook("shared.xlsx", Map("sheet1" ->
      ("""<row><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row><c r="A2"><v>7</v></c><c r="B2" t="s"><v>2</v></c></row>""")),
      shared = Seq("ID salarié", "Moyen de déplacement", "Vélo/Trottinette"))
    val df = IO.readExcel(spark, p)
    assert(df.schema.fieldNames.toSeq === Seq("ID salarié", "Moyen de déplacement"))
    val r = df.collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "7" && r(0).getString(1) === "Vélo/Trottinette")
  }

  test("synthetic workbook: header=false keeps the first row as data under generated names") {
    val p = writeWorkbook("nohdr.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "name")}${inline("B1", "qty")}</row>""" +
        s"""<row>${inline("A2", "ab")}<c r="B2"><v>42</v></c></row>""")))
    val df = spark.read.format("xlsx").option("header", "false").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("c0", "c1"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("name", "qty"), ("ab", "42")))
  }

  test("synthetic workbook: a rich-text shared string reads as its runs concatenated") {
    val p = writeWorkbook("rich.xlsx", Map("sheet1" ->
      ("""<row><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>""" +
        """<row><c r="A2" t="s"><v>2</v></c><c r="B2" t="s"><v>0</v></c></row>""")),
      shared = Seq("mode"), richShared = Seq(Seq("dé", "placement"), Seq("Vélo", "/", "Trottinette")))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("mode", "déplacement"))
    val r = df.collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "Vélo/Trottinette" && r(0).getString(1) === "mode")
  }

  test("synthetic workbook: XML entities decode in inline and shared strings") {
    val p = writeWorkbook("entities.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "unit")}${inline("B1", "cmp")}</row>""" +
        s"""<row>${inline("A2", "R&amp;D")}<c r="B2" t="s"><v>0</v></c></row>""")),
      shared = Seq("a &lt; b &amp;&amp; c"), richShared = Seq(Seq("x &lt;", " y")))
    val r = spark.read.format("xlsx").load(p).collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "R&D" && r(0).getString(1) === "a < b && c")
    assert(XlsxParse.sharedStrings(
      spark.sparkContext.hadoopConfiguration, p) === IndexedSeq("a < b && c", "x < y"))
  }

  test("synthetic workbook: phonetic runs are not cell text, in inline and shared strings") {
    val p = writeWorkbook("phonetic.xlsx", Map("sheet1" ->
      (s"""<row>${inline("A1", "city")}<c r="B1" t="s"><v>0</v></c></row>""" +
        s"""<row><c r="A2" t="inlineStr"><is><t>東京</t>${phonetic("トウキョウ")}</is></c>""" +
        """<c r="B2" t="s"><v>1</v></c></row>""")),
      shared = Seq("ward"), phoneticShared = Seq("渋谷" -> "シブヤ"))
    val df = spark.read.format("xlsx").load(p)
    assert(df.schema.fieldNames.toSeq === Seq("city", "ward"))
    val r = df.collect()
    assert(r.length === 1)
    assert(r(0).getString(0) === "東京" && r(0).getString(1) === "渋谷")
    assert(XlsxParse.sharedStrings(
      spark.sparkContext.hadoopConfiguration, p) === IndexedSeq("ward", "渋谷"))
  }

  test("cell-reference decoding handles multi-letter columns") {
    assert(XlsxParse.colIndex("A1") === 0)
    assert(XlsxParse.colIndex("B3") === 1)
    assert(XlsxParse.colIndex("Z9") === 25)
    assert(XlsxParse.colIndex("AA7") === 26)
    assert(XlsxParse.colIndex("AZ12") === 51)
  }
}
