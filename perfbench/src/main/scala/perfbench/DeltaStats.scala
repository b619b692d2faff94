package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.jdk.CollectionConverters._

import graft.sources.delta.DeltaLog

/** The Delta layer's work, read back from the `_delta_log` the timed phase
  * left behind (commit files and checkpoints), plus the probes that time a
  * snapshot and a checkpoint on their own. */
object DeltaStats {

  private implicit val formats: Formats = DefaultFormats

  final case class Add(path: String, size: Long, rows: Long)
  final case class Commit(version: Long, adds: Seq[Add], removes: Seq[String],
      mtimeNs: Long)

  def logDir(table: Path): Path = table.resolve("_delta_log")

  private def logFiles(table: Path): Seq[Path] = Files.walk(logDir(table))

  def headVersion(table: Path): Long =
    logFiles(table).map(_.getFileName.toString)
      .collect { case n if n.matches("""\d{20}\.json""") => n.take(20).toLong }
      .maxOption.getOrElse(-1L)

  /** Commits after `afterVersion`, oldest first. */
  def commits(table: Path, afterVersion: Long): Seq[Commit] =
    logFiles(table).filter(_.getFileName.toString.matches("""\d{20}\.json"""))
      .map(p => p -> p.getFileName.toString.take(20).toLong)
      .filter(_._2 > afterVersion).sortBy(_._2)
      .map { case (p, v) =>
        val actions = JFiles.readAllLines(p, UTF_8).asScala.filter(_.nonEmpty)
          .map(JsonMethods.parse(_))
        Commit(v,
          actions.collect { case a if (a \ "add") != JNothing =>
            val add = a \ "add"
            val rows = (add \ "stats") match {
              case JString(s) => (JsonMethods.parse(s) \ "numRecords").extractOpt[Long].getOrElse(0L)
              case _ => 0L
            }
            Add((add \ "path").extract[String], (add \ "size").extract[Long], rows)
          }.toSeq,
          actions.collect { case a if (a \ "remove") != JNothing =>
            (a \ "remove" \ "path").extract[String] }.toSeq,
          Files.mtimeNs(p))
      }

  /** Checkpoint version → modification time (epoch ns) of its last part. */
  def checkpoints(table: Path): Map[Long, Long] =
    logFiles(table).map(p => p -> p.getFileName.toString)
      .collect { case (p, n) if n.matches("""\d{20}\.checkpoint\..*parquet""") =>
        n.take(20).toLong -> Files.mtimeNs(p) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).max }

  def logBytes(table: Path): Long = Files.bytesUnder(logDir(table))

  /** Sets the Delta layer metrics for the tables the phase wrote, given the
    * head version of each before the phase and the rows the phase changed.
    * `scans` are (files read, root) of every file scan the phase ran. */
  def layer(spark: SparkSession, spans: Spans, m: Metrics, tables: Seq[(Path, Long)],
      rowsChanged: Long, scans: Seq[(Long, String)], probeTable: Path): Unit = {
    val perTable = tables.map { case (t, v0) =>
      // files live before the phase, with their sizes and row counts
      val start = if (v0 < 0) Nil else DeltaLog.snapshot(spark, t.toString, Some(v0)).files
        .map(f => Add(f.path, f.size, f.stats.map(_.numRecords).getOrElse(0L)))
      (t, v0, commits(t, v0), checkpoints(t), start)
    }
    val cs = perTable.flatMap(_._3)
    m.set("delta.commits", cs.size)
    m.set("delta.files_added", cs.map(_.adds.size).sum)
    m.set("delta.files_removed", cs.map(_.removes.size).sum)
    // checkpoint cost: from the commit that triggered it to its last part
    val cpMs = perTable.flatMap { case (_, v0, c, cps, _) =>
      c.flatMap(x => cps.get(x.version).filter(_ => x.version > v0)
        .map(t => (t - x.mtimeNs) / 1e6))
    }
    m.set("delta.checkpoints", cpMs.size)
    m.set("delta.json_tail_max", perTable.flatMap { case (_, _, c, cps, _) =>
      c.map(x => x.version - cps.keys.filter(_ <= x.version).maxOption.getOrElse(-1L))
    }.maxOption.getOrElse(0L).toDouble)
    // a removed file not re-added under the same path (a deletion-vector
    // update keeps it) was rewritten: its rows were read and copied
    val rewritten = perTable.flatMap { case (_, _, c, _, start) =>
      val known = (start ++ c.flatMap(_.adds)).map(a => a.path -> a).toMap
      c.flatMap { x =>
        val readded = x.adds.map(_.path).toSet
        x.removes.filterNot(readded).flatMap(known.get)
      }
    }
    m.set("delta.bytes_rewritten", rewritten.map(_.size).sum)
    m.set("delta.rows_rewritten_per_row_changed",
      if (rowsChanged > 0) rewritten.map(_.rows).sum.toDouble / rowsChanged else 0.0)
    m.set("delta.log_bytes", tables.map(t => logBytes(t._1)).sum)
    val live = tables.map(t => DeltaLog.snapshot(spark, t._1.toString).files)
    m.set("delta.live_files_end", live.map(_.size).sum)
    m.set("delta.live_bytes_end", live.map(_.map(_.size).sum).sum)
    val liveFiles = tables.zip(live).map { case ((t, _), fs) => t.toUri.getPath -> fs.size }
    // data scans of the tables; checkpoint reads under _delta_log are log work
    val ours = scans.filterNot(_._2.contains("/_delta_log/")).flatMap { case (n, root) =>
      liveFiles.find { case (t, _) => root.contains(t.stripSuffix("/")) }.map(l => (n, l._2)) }
    m.set("delta.scan_files_read_ratio",
      if (ours.isEmpty) 0.0 else ours.map(_._1).sum.toDouble / ours.map(_._2).sum)
    // probes: a snapshot on its own, and an explicit checkpoint of the head
    m.set("delta.snapshot_ms", Stats.median((1 to 3).map { _ =>
      val t0 = Clock.nowNs()
      spans.span("delta.snapshot")(DeltaLog.snapshot(spark, probeTable.toString))
      (Clock.nowNs() - t0) / 1e6
    }))
    if (cpMs.isEmpty) {
      val t0 = Clock.nowNs()
      spans.span("delta.checkpoint")(DeltaLog.checkpoint(spark, probeTable.toString))
      m.set("delta.checkpoint_ms", (Clock.nowNs() - t0) / 1e6)
    } else m.set("delta.checkpoint_ms", Stats.median(cpMs))
  }
}
