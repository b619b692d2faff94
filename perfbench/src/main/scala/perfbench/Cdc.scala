package perfbench

import java.nio.file.{Files => JFiles, Path}
import java.util.concurrent.TimeoutException

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException,
  StreamingQueryProgress, Trigger}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.domain.Ops
import graft.sources.delta.DeltaTable
import graft.streaming.CdcIngest

/** cdc_append: a fresh streaming query drains a pre-landed backlog of
  * Debezium insert events (the reference's `earliest` replay), then an
  * open-loop generator lands new events at a fixed rate while the query
  * keeps the Delta table current, through `CdcIngest.startIngestDelta`. A
  * Spark file source over the landing directory stands in for the Kafka
  * topic; the query runs with no trigger interval. */
final class Cdc(ctx: Ctx) extends Workload {
  import ctx._

  // ---- sizing (see perfbench/README.md) ----
  val Employees = 10000
  val BacklogFiles = 20
  val BacklogPerFile = 5000
  /** Offered rate of the open loop, in lines per second. */
  val Rate = 2000
  /** The generator lands one file per tick (a producer's linger). */
  val TickMs = 50
  /** How long the query may take to make everything visible after the
    * generator stops before the rest counts as failed. */
  val DrainWindowS = 20
  /** Event-time origin of the generated `ts_ms` (2026-01-01T00:00:00Z). */
  val EventOriginMs = 1767225600000L
  val AppId = "perfbench-cdc"
  /** Warm-up: micro-batches of creates a day before the event origin, with
    * ids of their own, through a query of its own into the measured table.
    * Ten commits bring the table to its first log checkpoint, the regime it
    * stays in from then on. */
  val WarmAppId = "perfbench-warm"
  val WarmBatches = 10
  val WarmPerFile = 200
  val WarmFirstId = 100000000

  final case class Landed(name: String, bytes: Long, lines: Int,
      valid: IndexedSeq[Gen.Event], dueNs: Array[Long], landNs: Long)

  final class Prepared(val dir: Path, val src: Path, val table: Path,
      val ckpt: Path, val emps: IndexedSeq[Gen.Employee], val stream: Gen.CdcStream,
      val backlog: IndexedSeq[Landed]) {
    var warm: IndexedSeq[Gen.Event] = Vector.empty
  }

  private def land(dir: Path, name: String, events: IndexedSeq[Gen.Event],
      due: Int => Long): Landed = {
    val bytes = Files.landLines(dir, name, events.iterator.map(_.line))
    val landNs = Clock.nowNs()
    val valid = events.indices.filter(events(_).valid)
    Landed(name, bytes, events.size, valid.map(i => events(i).copy(line = null)),
      valid.map(due).toArray, landNs)
  }

  private def start(src: Path, table: Path, ckpt: Path, appId: String): StreamingQuery =
    CdcIngest.startIngestDelta(spark.readStream.schema("value STRING").text(src.toString),
      table.toString, ckpt.toString, appId, Trigger.ProcessingTime(0L))

  /** Blocks until the query has processed everything landed so far, or the
    * window ends; false on timeout or when the query failed (its error is
    * read from the query afterwards). */
  private def drain(q: StreamingQuery, windowS: Int): Boolean = {
    val f = Future(q.processAllAvailable())(ExecutionContext.global)
    try { Await.result(f, windowS.seconds); true }
    catch { case _: TimeoutException | _: StreamingQueryException => false }
  }

  def prepare(dir: Path): Prepared = {
    val src = dir.resolve("src")
    JFiles.createDirectories(src)
    val emps = Gen.employees(seed, Employees)
    val stream = new Gen.CdcStream(seed, emps, EventOriginMs)
    val backlog = (0 until BacklogFiles).map(k =>
      land(src, f"bl-$k%05d.json", stream.file(BacklogPerFile), _ => 0L))
    new Prepared(dir, src, dir.resolve("table"), dir.resolve("ckpt"), emps, stream, backlog)
  }

  def warmUp(p: Prepared): Unit = {
    val dir = p.dir.resolve("warm")
    JFiles.createDirectories(dir.resolve("src"))
    val stream = new Gen.CdcStream(seed + 1, p.emps, EventOriginMs - 86400000L, WarmFirstId)
    val q = start(dir.resolve("src"), p.table, dir.resolve("ckpt"), WarmAppId)
    p.warm = (0 until WarmBatches).flatMap { k =>
      val f = land(dir.resolve("src"), f"w-$k%02d.json", stream.file(WarmPerFile), _ => 0L)
      q.processAllAvailable()
      f.valid
    }
    q.stop()
  }

  def measure(p: Prepared, spans: Spans, m: Metrics, probe: Option[Probe]): Outcome = {
    val v0 = DeltaStats.headVersion(p.table)
    val bytes0 = Files.bytesUnder(p.table)
    probe.foreach(_.begin())
    val tq0 = Clock.nowNs()
    val q = spans.span("streaming.start")(start(p.src, p.table, p.ckpt, AppId))
    val caughtUp = drain(q, DrainWindowS * 3)

    // open loop: one generator thread lands file k when it is due,
    // whatever the query is doing
    val files = mutable.ArrayBuffer.empty[Landed]
    val tickNs = TickMs * 1000000L
    val perFile = Rate * TickMs / 1000
    val nFiles = seconds * 1000 / TickMs
    val tol0 = Clock.nowNs() + tickNs
    val gen = new Thread(() => {
      for (k <- 0 until nFiles) {
        val events = p.stream.file(perFile)
        val fileDue = tol0 + (k + 1) * tickNs
        Clock.sleepUntil(fileDue)
        val n = events.size
        files += land(p.src, f"ol-$k%05d.json", events,
          i => tol0 + k * tickNs + (i + 1) * tickNs / n)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val tolEnd = tol0 + nFiles * tickNs
    val drained = drain(q, DrainWindowS)
    val tEnd = Clock.nowNs()
    q.stop()
    val progress = q.recentProgress.toIndexedSeq
    val queryError = q.exception.map(_.getMessage)
    val t1 = Clock.nowNs()
    probe.foreach(_.end(m, progress.size, t1))

    // ---- freshness join ----
    val joined = Freshness.join(p.ckpt, p.table, AppId, progress.flatMap(b =>
      Option(b.sources.head.endOffset).map(o => b.batchId -> Freshness.logOffset(o))).toMap)
    val seen = joined.files
    def visible(f: Landed) = seen.get(f.name).map(_._3)
    val backlogValid = p.backlog.map(_.valid.size).sum.toLong
    val backlogInvisible = p.backlog.filter(visible(_).isEmpty).map(_.valid.size).sum
    val catchupEnd = p.backlog.flatMap(visible).maxOption.getOrElse(tEnd)
    val catchupS = (catchupEnd - tq0) / 1e9
    m.set("catchup_rows_per_s", (backlogValid - backlogInvisible) / catchupS)

    val fresh = files.toIndexedSeq.flatMap(f => visible(f).toSeq.flatMap(v =>
      f.dueNs.map(d => (d, (v - d) / 1e9))))
    val olValid = files.map(_.valid.size).sum.toLong
    val olInvisible = files.filter(visible(_).isEmpty).map(_.valid.size).sum
    val sorted = fresh.map(_._2).sorted
    if (sorted.nonEmpty) {
      m.set("freshness_p50_s", Stats.percentile(sorted, 50))
      m.set("freshness_p99_s", Stats.percentile(sorted, 99))
    }
    m.set("gen.freshness_samples", sorted.size)

    // micro-batches of the open loop: the ones after those that took the backlog
    val backlogBatches = p.backlog.flatMap(f => seen.get(f.name).map(_._1)).toSet
    val lastBacklogBatch = backlogBatches.maxOption.getOrElse(-1L)
    val olBatches = progress.filter(b => b.batchId > lastBacklogBatch && b.numInputRows > 0)
    def dur(b: StreamingQueryProgress, k: String) =
      Option(b.durationMs.get(k)).map(_.longValue.toDouble).getOrElse(0.0)
    val triggerMs = olBatches.map(dur(_, "triggerExecution"))
    val addMs = olBatches.map(dur(_, "addBatch"))
    if (triggerMs.nonEmpty) m.set("job_p50_s", Stats.median(triggerMs) / 1000)
    m.set("streaming.batches", progress.count(_.numInputRows > 0))
    m.set("streaming.rows_per_batch_p50", Stats.medianOr0(olBatches.map(_.numInputRows.toDouble)))
    m.set("streaming.batch_ms_p50", Stats.medianOr0(triggerMs))
    m.set("streaming.batch_ms_p99", Stats.percentileOr0(triggerMs, 99))
    m.set("streaming.add_batch_ms_p50", Stats.medianOr0(addMs))
    m.set("streaming.overhead_ms_p50",
      Stats.medianOr0(olBatches.map(b => dur(b, "triggerExecution") - dur(b, "addBatch"))))
    def startNs(b: StreamingQueryProgress) = {
      val s = java.time.Instant.parse(b.timestamp)
      s.getEpochSecond * 1000000000L + s.getNano
    }
    // share of the open loop's batches' span that a trigger was running
    m.set("streaming.busy_share", if (olBatches.isEmpty) 0.0 else triggerMs.sum /
      ((startNs(olBatches.last) - startNs(olBatches.head)) / 1e6 + triggerMs.last))
    // spans from Spark's own per-batch breakdown: trigger > addBatch
    progress.foreach { b =>
      val s0 = startNs(b)
      val id = spans.add("streaming.batch", b.batchId, s0,
        s0 + (dur(b, "triggerExecution") * 1e6).toLong)
      val a0 = s0 + ((dur(b, "latestOffset") + dur(b, "walCommit") + dur(b, "getBatch") +
        dur(b, "queryPlanning")) * 1e6).toLong
      spans.add("delta.write", b.batchId, a0, a0 + (dur(b, "addBatch") * 1e6).toLong, id)
    }

    val offeredBytes = (p.backlog ++ files).map(_.bytes).sum
    m.set("bytes_written_per_user_byte", (Files.bytesUnder(p.table) - bytes0).toDouble / offeredBytes)
    val late = files.map(f => (f.landNs - (f.dueNs.lastOption.getOrElse(f.landNs))) / 1e6)
    m.set("gen.late_ms_max", late.maxOption.getOrElse(0.0))
    m.set("gen.offered_rows_per_s", files.map(_.lines).sum / ((tolEnd - tol0) / 1e9))

    // ---- validity of the measurement ----
    val invalid = mutable.ArrayBuffer.empty[String]
    if (late.nonEmpty && late.max > 500)
      invalid += f"generator fell behind its schedule by ${late.max}%.0f ms"
    if (fresh.size >= 8) {
      val byDue = fresh.sortBy(_._1).map(_._2)
      val q1 = Stats.median(byDue.take(byDue.size / 4))
      val q4 = Stats.median(byDue.takeRight(byDue.size / 4))
      if (q4 > 2 * q1 + 1.0)
        invalid += f"backlog grew: freshness rose from $q1%.3f s to $q4%.3f s across the open loop"
    }
    if (sorted.nonEmpty && Stats.highestSupported(sorted.size).forall(_ < 99))
      invalid += s"${sorted.size} freshness samples do not support a 99th percentile"
    if (triggerMs.isEmpty) invalid += "no micro-batch ran during the open loop"
    if (!caughtUp) invalid += s"backlog not drained within ${DrainWindowS * 3} s"
    if (joined.unplaced.nonEmpty)
      invalid += s"no end offset for committed micro-batches ${joined.unplaced.take(5).mkString(", ")}"

    // ---- oracle ----
    val defects = mutable.ArrayBuffer.empty[String]
    queryError.foreach(e => defects += s"streaming query failed: $e")
    if (!drained) defects += s"events still invisible $DrainWindowS s after the generator stopped"
    val events = p.warm ++ (p.backlog ++ files).flatMap(_.valid)
    val expected = events.iterator.map(e => e.key -> e.after.canon).toMap
    val (mismatch, samples) = Oracle.compareTable(spark, p.table, expected)
    if (mismatch > 0) defects += s"table differs from the oracle in $mismatch rows, e.g. ${samples.mkString("; ")}"
    val attempted = backlogValid + olValid
    val failed = math.min(attempted, backlogInvisible + olInvisible + mismatch)
    if (failed > 0 && defects.isEmpty) defects += s"$failed events failed"

    if (probe.isDefined) {
      DeltaStats.layer(spark, spans, m, Seq(p.table -> v0), attempted,
        probe.get.phaseScans, p.table)
      m.set("delta.write_ms", Stats.medianOr0(addMs))
      val t0 = Clock.nowNs()
      spans.span("delta.read")(DeltaTable.read(spark, p.table.toString)
        .write.format("noop").mode("overwrite").save())
      m.set("delta.read_ms", (Clock.nowNs() - t0) / 1e6)
    }
    Outcome(attempted, failed, defects.toSeq, invalid.toSeq,
      s"${progress.count(_.numInputRows > 0)} micro-batches, open-loop trigger ms: " +
        triggerMs.map(_.toLong).mkString(" "))
  }

  def probeLayers(p: Prepared, spans: Spans, m: Metrics): Unit = {
    // the decoder alone over the backlog
    val raw = spark.read.schema("value STRING")
      .text(p.backlog.map(f => p.src.resolve(f.name).toString): _*)
    val lines = p.backlog.map(_.lines).sum
    val rate = Stats.median((1 to 3).map { _ =>
      val t0 = Clock.nowNs()
      spans.span("domain.decode")(Ops.decodeCdc(raw).write.format("noop").mode("overwrite").save())
      lines / ((Clock.nowNs() - t0) / 1e9)
    })
    m.set("domain.decode_rows_per_s", rate)
    m.set("domain.report_plan_ms", 0.0)
    m.set("domain.report_exec_ms", 0.0)
    m.idle("operators")
  }
}
