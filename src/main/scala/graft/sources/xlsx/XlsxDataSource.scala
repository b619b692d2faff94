package graft.sources.xlsx

import java.io.{BufferedInputStream, InputStream}
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** From-scratch XLSX reader as a DataSource V2 (`spark.read.format("xlsx")`)
  * — replaces the reference's pandas/openpyxl Excel ingest
  * (`commute_validation/commute_validation.py:187-209`, SURVEY §2.1 S5)
  * with a distributed, dependency-free source.
  *
  * An .xlsx file is a ZIP of SpreadsheetML XML parts (ECMA-376:
  * `xl/sharedStrings.xml` string table + `xl/worksheets/sheetN.xml` cell
  * grid). This source streams both parts with the JDK's StAX parser over
  * `ZipInputStream` — no file materialization, so paths resolve through
  * the Hadoop FileSystem API (local/HDFS/S3) like any other source. A
  * workbook zip is not splittable; parallelism is one partition per FILE
  * (the standard arrangement for many-small-workbook ingest — a directory
  * of workbooks fans out across executors).
  *
  * Every cell is surfaced as a nullable string — numbers/dates keep their
  * raw stored form (Excel serial numbers; the domain layer owns the
  * serial→date conversion, `Fixtures.scala` F13) and the caller applies
  * typed casts, mirroring `IO.readCsv`'s explicit-schema philosophy.
  * Options: `header` (default true — first row names the columns),
  * `sheet` (default 1). */
class XlsxDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "xlsx"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = XlsxDataSource.resolvePaths(options)
    require(paths.nonEmpty, s"xlsx: no files match ${options.get("path")}")
    val header = options.getBoolean("header", true)
    val sheet = options.getOrDefault("sheet", "1")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    // header row only — the StAX scan stops after the first row instead of
    // materializing the whole sheet on the driver
    val rows = XlsxParse.readRows(conf, paths.head, sheet, maxRows = 1)
    val first = rows.headOption.getOrElse(Array.empty[String])
    val names =
      if (header) first.zipWithIndex.map { case (n, i) => if (n == null || n.isEmpty) s"c$i" else n }
      else first.indices.map(i => s"c$i").toArray
    StructType(names.map(n => StructField(n, StringType, nullable = true)))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new XlsxTable(schema, new CaseInsensitiveStringMap(properties))
}

private[xlsx] object XlsxDataSource {
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("path")).orElse(Option(options.get("paths")))
      .getOrElse(throw new IllegalArgumentException("xlsx: 'path' option required"))
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(raw)
    val fs = p.getFileSystem(conf)
    val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    val expanded = matches.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
    }
    expanded.map(_.getPath.toString).filter(_.toLowerCase.endsWith(".xlsx")).sorted
  }
}

private[xlsx] class XlsxTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "xlsx:" + options.get("path")
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new XlsxScanBuilder(tableSchema, options)
}

private[xlsx] class XlsxScanBuilder(schema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder {
  override def build(): Scan = new XlsxScan(schema, options)
}

private[xlsx] class XlsxScan(schema: StructType, options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    XlsxDataSource.resolvePaths(options).map(p => XlsxInputPartition(p)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    XlsxReaderFactory(schema, options.getBoolean("header", true),
      options.getOrDefault("sheet", "1"))
}

private[xlsx] case class XlsxInputPartition(path: String) extends InputPartition

private[xlsx] case class XlsxReaderFactory(
    schema: StructType, header: Boolean, sheet: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new XlsxPartitionReader(
      partition.asInstanceOf[XlsxInputPartition].path, schema, header, sheet)
}

private[xlsx] class XlsxPartitionReader(
    path: String, schema: StructType, header: Boolean, sheet: String)
    extends PartitionReader[InternalRow] {

  // executor-side: default Hadoop configuration resolves local/HDFS paths.
  // Pull-based row iterator — memory is bounded by ONE row (+ the
  // shared-string table), not the sheet size.
  private val rows: XlsxParse.RowIterator =
    XlsxParse.rowIterator(new Configuration(), path, sheet)
  if (header && rows.hasNext) rows.next()
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) {
      val cells = rows.next()
      val values = new Array[Any](schema.length)
      var i = 0
      while (i < schema.length) {
        values(i) =
          if (i < cells.length && cells(i) != null) UTF8String.fromString(cells(i))
          else null
        i += 1
      }
      current = new GenericInternalRow(values)
      true
    } else false

  override def get(): InternalRow = current
  override def close(): Unit = rows.close()
}

/** Streaming SpreadsheetML parsing (JDK StAX over ZipInputStream — two
  * sequential passes: one for the shared-string table, one for the sheet). */
private[xlsx] object XlsxParse {

  private def openEntry(
      conf: Configuration, path: String, entry: String): Option[InputStream] = {
    val p = new Path(path)
    val zin = new ZipInputStream(new BufferedInputStream(p.getFileSystem(conf).open(p)))
    var e = zin.getNextEntry
    while (e != null) {
      if (e.getName == entry) return Some(zin)
      e = zin.getNextEntry
    }
    zin.close()
    None
  }

  private def xmlReader(is: InputStream): XMLStreamReader = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.createXMLStreamReader(is)
  }

  /** `xl/sharedStrings.xml`: one entry per `<si>`, concatenating its `<t>`
    * runs (rich-text cells store several). The `<t>` inside an `<rPh>`
    * phonetic run is a reading hint (furigana), not cell text: skipped. */
  def sharedStrings(conf: Configuration, path: String): IndexedSeq[String] =
    openEntry(conf, path, "xl/sharedStrings.xml") match {
      case None => IndexedSeq.empty
      case Some(is) =>
        try {
          val r = xmlReader(is)
          val out = mutable.ArrayBuffer.empty[String]
          val sb = new StringBuilder
          var inT = false
          var inPh = false
          while (r.hasNext) {
            r.next() match {
              case XMLStreamConstants.START_ELEMENT =>
                r.getLocalName match {
                  case "si" => sb.clear()
                  case "t" => inT = true
                  case "rPh" => inPh = true
                  case _ =>
                }
              case XMLStreamConstants.CHARACTERS if inT && !inPh => sb.append(r.getText)
              case XMLStreamConstants.END_ELEMENT =>
                r.getLocalName match {
                  case "si" => out += sb.toString
                  case "t" => inT = false
                  case "rPh" => inPh = false
                  case _ =>
                }
              case _ =>
            }
          }
          out.toIndexedSeq
        } finally is.close()
    }

  /** Column index from a cell reference: "A1"→0, "B3"→1, "AA7"→26. */
  private[xlsx] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** Pull-based sheet scan: parses exactly as far as the consumer asks —
    * memory is one in-flight row plus the shared-string table, never the
    * sheet. `close()` is idempotent and also called automatically at
    * end-of-sheet. */
  final class RowIterator private[XlsxParse] (
      shared: IndexedSeq[String], is: InputStream, r: XMLStreamReader)
      extends Iterator[Array[String]] with AutoCloseable {

    private val cells = mutable.ArrayBuffer.empty[(Int, String)]
    private val sb = new StringBuilder
    private var cellCol = -1
    private var cellType = ""
    private var nextCol = 0
    private var capture = false
    private var inPh = false // inside an inline string's <rPh> phonetic run
    private var pending: Array[String] = _
    private var closed = false

    // LAZY: a row is parsed only when the consumer asks — reading N rows
    // never parses row N+1 (the schema-inference early-exit depends on it)
    override def hasNext: Boolean = {
      if (pending == null && !closed) advance()
      pending != null
    }

    override def next(): Array[String] = {
      if (!hasNext) throw new NoSuchElementException("end of sheet")
      val out = pending
      pending = null
      out
    }

    override def close(): Unit =
      if (!closed) { closed = true; is.close() }

    /** Pull StAX events until one complete non-empty row is assembled. */
    private def advance(): Unit = {
      while (pending == null && r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" =>
                cells.clear(); nextCol = 0
              case "c" =>
                val ref = Option(r.getAttributeValue(null, "r"))
                cellCol = ref.map(colIndex).getOrElse(nextCol)
                nextCol = cellCol + 1
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("")
                sb.clear()
              case "v" | "t" => capture = true
              case "rPh" => inPh = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if capture && !inPh => sb.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" | "t" => capture = false
              case "rPh" => inPh = false
              case "c" =>
                val raw = sb.toString
                val v = cellType match {
                  case "s" => shared(raw.trim.toInt)
                  case _ => raw
                }
                if (v.nonEmpty) cells += ((cellCol, v))
              case "row" =>
                if (cells.nonEmpty) {
                  val width = cells.map(_._1).max + 1
                  val arr = new Array[String](width)
                  cells.foreach { case (i, v) => arr(i) = v }
                  pending = arr
                }
              case _ =>
            }
          case _ =>
        }
      }
      if (pending == null) close() // sheet exhausted
    }
  }

  /** Open a streaming row iterator over `xl/worksheets/sheet<sheet>.xml`.
    * Cell types: `s` shared string, `inlineStr` inline, otherwise the raw
    * `<v>` text (numbers, bools, dates-as-serials). */
  def rowIterator(conf: Configuration, path: String, sheet: String): RowIterator = {
    val shared = sharedStrings(conf, path)
    openEntry(conf, path, s"xl/worksheets/sheet$sheet.xml") match {
      case None => throw new IllegalArgumentException(s"xlsx: sheet $sheet not found in $path")
      case Some(is) => new RowIterator(shared, is, xmlReader(is))
    }
  }

  /** Rows as string arrays (null = missing cell), up to `maxRows` — the
    * scan STOPS there (schema inference reads just the header row). */
  def readRows(
      conf: Configuration, path: String, sheet: String,
      maxRows: Int = Int.MaxValue): Seq[Array[String]] = {
    val it = rowIterator(conf, path, sheet)
    try it.take(maxRows).toVector
    finally it.close()
  }
}
