package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path, StandardCopyOption}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

import scala.jdk.CollectionConverters._

/** Writing generated inputs and measuring what the program wrote. Inputs
  * are written with plain JVM I/O and the parquet-mr writer, never through
  * Spark, so the same seed gives byte-identical files. */
object Files {

  /** Writes `lines` to `dir/name` atomically: a dot-file first (which
    * Spark's file source ignores), then a rename into place. */
  def landLines(dir: Path, name: String, lines: Iterator[String]): Long = {
    val tmp = dir.resolve(s".$name.tmp")
    val w = JFiles.newBufferedWriter(tmp, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    val size = JFiles.size(tmp)
    JFiles.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    size
  }

  private def parquet(path: Path, schema: String) = {
    JFiles.createDirectories(path.getParent)
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(t)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    (new SimpleGroupFactory(t), w)
  }

  val ActivitySchema = """message activity {
    optional int32 id; optional int32 id_employee;
    optional binary first_name (STRING); optional binary last_name (STRING);
    optional int64 start_datetime (TIMESTAMP(MICROS,true));
    optional binary sport_type (STRING); optional int32 distance;
    optional int32 activity_duration; optional binary comment (STRING); }"""

  def writeActivities(path: Path, acts: Iterable[Gen.Activity]): Unit = {
    val (f, w) = parquet(path, ActivitySchema)
    try acts.foreach { a =>
      val g = f.newGroup().append("id", a.id).append("id_employee", a.employee)
        .append("first_name", a.first).append("last_name", a.last)
        .append("start_datetime", a.startMicros).append("sport_type", a.sport)
      a.distance.foreach(d => g.append("distance", d))
      g.append("activity_duration", a.duration)
      a.comment.foreach(c => g.append("comment", c))
      w.write(g)
    } finally w.close()
  }

  def writeEmployees(path: Path, emps: Iterable[Gen.Employee]): Unit = {
    val (f, w) = parquet(path, """message employee {
      optional int32 id_employee; optional binary first_name (STRING);
      optional binary last_name (STRING); optional binary business_unity (STRING);
      optional int32 gross_salary; optional binary constract_type (STRING);
      optional binary address (STRING); optional binary transport_mode (STRING);
      optional int32 commute_m; }""")
    try emps.foreach { e =>
      w.write(f.newGroup().append("id_employee", e.id).append("first_name", e.first)
        .append("last_name", e.last).append("business_unity", e.bu)
        .append("gross_salary", e.gross).append("constract_type", e.contract)
        .append("address", e.address).append("transport_mode", e.transport)
        .append("commute_m", e.commuteM))
    } finally w.close()
  }

  def writeDocs(path: Path, docs: Iterable[Gen.Doc]): Unit = {
    val (f, w) = parquet(path,
      "message doc { optional int64 doc_id; optional binary text (STRING); }")
    try docs.foreach(d => w.write(f.newGroup().append("doc_id", d.id).append("text", d.text)))
    finally w.close()
  }

  def walk(dir: Path): Seq[Path] =
    if (!JFiles.exists(dir)) Seq.empty
    else {
      val s = JFiles.walk(dir)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toVector finally s.close()
    }

  /** Total bytes of the regular files under `dir`. */
  def bytesUnder(dir: Path): Long = walk(dir).map(JFiles.size).sum

  def deleteTree(dir: Path): Unit =
    if (JFiles.exists(dir)) {
      val s = JFiles.walk(dir)
      try s.iterator().asScala.toVector.reverse.foreach(JFiles.deleteIfExists)
      finally s.close()
    }

  /** Modification time in epoch nanoseconds. */
  def mtimeNs(p: Path): Long = {
    val t = JFiles.getLastModifiedTime(p).toInstant
    t.getEpochSecond * 1000000000L + t.getNano
  }
}
