package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path}

import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

/** Joins what the generator landed with when the program made it visible,
  * from the artifacts the streaming query and the Delta log leave on disk:
  *
  *   source file  --file-source log-->  source log offset
  *   source offset --batch end offsets-->  micro-batch id
  *   micro-batch id --`txn` action-->   Delta version, visible at the
  *                                      commit file's modification time.
  *
  * Batch end offsets come from the query's progress reports, which keep
  * every batch; the checkpoint's `offsets/` log, which Spark purges down to
  * its last `minBatchesToRetain` entries, only fills in batches the
  * progress reports miss. Nothing here runs inside the query, so the join
  * costs the timed phase nothing. */
object Freshness {

  private implicit val formats: Formats = DefaultFormats

  private def lines(p: Path): Seq[String] =
    JFiles.readAllLines(p, UTF_8).asScala.toSeq.filter(_.trim.nonEmpty)

  private def children(dir: Path): Seq[Path] =
    if (!JFiles.isDirectory(dir)) Seq.empty
    else { val s = JFiles.list(dir); try s.iterator().asScala.toVector finally s.close() }

  /** Source file name → the file source's log offset that took it. Reads
    * plain and `.compact` log files; both carry each entry's `batchId`. */
  def sourceOffsetOfFile(checkpoint: Path): Map[String, Long] =
    children(checkpoint.resolve("sources").resolve("0"))
      .filter(p => p.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap(p => lines(p).drop(1)) // first line is the log version
      .map { l =>
        val j = JsonMethods.parse(l)
        val path = (j \ "path").extract[String]
        path.substring(path.lastIndexOf('/') + 1) -> (j \ "batchId").extract[Long]
      }.toMap

  /** The file source's log offset in a progress report's `endOffset`. */
  def logOffset(offsetJson: String): Long =
    (JsonMethods.parse(offsetJson) \ "logOffset").extract[Long]

  /** Micro-batch id → the source log offset its plan ended at, for the
    * batches still in the checkpoint's offsets log. */
  def batchEndOffsets(checkpoint: Path): Map[Long, Long] =
    children(checkpoint.resolve("offsets"))
      .filter(p => p.getFileName.toString.matches("""\d+"""))
      .flatMap { p =>
        // version line, batch metadata, then one offset per source
        lines(p).drop(2).headOption.map(l => p.getFileName.toString.toLong -> logOffset(l))
      }.toMap

  /** Micro-batch id → (Delta version whose `txn` carries it for `appId`,
    * epoch ns at which that version's commit file was written). */
  def versionOfBatch(table: Path, appId: String): Map[Long, (Long, Long)] =
    children(table.resolve("_delta_log"))
      .filter(p => p.getFileName.toString.matches("""\d{20}\.json"""))
      .flatMap { p =>
        val v = p.getFileName.toString.stripSuffix(".json").toLong
        lines(p).iterator.map(JsonMethods.parse(_) \ "txn")
          .collectFirst { case t: JObject if (t \ "appId").extract[String] == appId =>
            (t \ "version").extract[Long] -> (v, Files.mtimeNs(p))
          }
      }.toMap

  /** What the join found: source file name → (micro-batch id, Delta
    * version, visible epoch ns) for every file whose batch has committed,
    * and the committed batches whose end offset is known neither from the
    * progress reports nor from the offsets log (their files cannot be
    * placed, so the run's freshness figures are not valid). */
  final case class Joined(files: Map[String, (Long, Long, Long)], unplaced: Seq[Long])

  /** `progressEnds`: micro-batch id → end offset, from the query's progress
    * reports. */
  def join(checkpoint: Path, table: Path, appId: String,
      progressEnds: Map[Long, Long]): Joined = {
    val fileOffset = sourceOffsetOfFile(checkpoint)
    val ends = (batchEndOffsets(checkpoint) ++ progressEnds).toSeq.sortBy(_._1)
    val committed = versionOfBatch(table, appId)
    // batch b takes the source offsets in (end(b - 1), end(b)]
    val batchOfOffset: Long => Option[Long] = off =>
      ends.find(_._2 >= off).map(_._1)
    val known = ends.map(_._1).toSet
    Joined(
      fileOffset.flatMap { case (file, off) =>
        for { b <- batchOfOffset(off); (v, ns) <- committed.get(b) } yield file -> (b, v, ns)
      },
      committed.keys.filterNot(known).toSeq.sorted)
  }
}
