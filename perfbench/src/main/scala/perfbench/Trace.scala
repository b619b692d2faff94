package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One wall clock for everything the benchmark timestamps: epoch
  * nanoseconds, monotonic within the process, comparable with the file
  * modification times the freshness join reads. */
object Clock {
  private val anchorEpoch = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }
  private val anchorNano = System.nanoTime()
  def nowNs(): Long = anchorEpoch + (System.nanoTime() - anchorNano)
  def sleepUntil(ns: Long): Unit = {
    var left = ns - nowNs()
    while (left > 0) {
      Thread.sleep(left / 1000000L, (left % 1000000L).toInt)
      left = ns - nowNs()
    }
  }
}

/** Spans recorded around the benchmark's calls into each layer, kept in
  * memory and written once at the end. A span's self time is its duration
  * minus the part of it that its child spans cover. When tracing is off,
  * `span` runs the body and records nothing. */
final class Spans(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, op: Long,
      startNs: Long, endNs: Long)

  private val all = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  def add(name: String, op: Long, startNs: Long, endNs: Long, parent: Int = -1): Int =
    if (!enabled) -1 else synchronized {
      all += Span(all.size, parent, name, op, startNs, endNs); all.size - 1
    }

  def span[A](name: String, op: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse(-1)
      val id = synchronized { all += Span(all.size, parent, name, op, 0L, 0L); all.size - 1 }
      stack.set(id :: stack.get)
      val t0 = Clock.nowNs()
      try body
      finally {
        stack.set(stack.get.tail)
        val t1 = Clock.nowNs()
        synchronized { all(id) = all(id).copy(startNs = t0, endNs = t1) }
      }
    }

  def named(name: String): Seq[Span] = synchronized(all.filter(_.name == name).toVector)

  /** Self time in ms of each span called `name`. */
  def selfMs(name: String): Seq[Double] = synchronized {
    val kids = all.groupBy(_.parent)
    all.filter(_.name == name).toVector.map { s =>
      val covered = Spans.union(kids.get(s.id).toSeq.flatten.map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
      (s.endNs - s.startNs - covered) / 1e6
    }
  }

  def write(p: Path): Unit = synchronized {
    JFiles.createDirectories(p.getParent)
    JFiles.write(p, all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "op" -> s.op.toString,
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString))
    }.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
  }
}

object Spans {
  /** Total length covered by a set of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { covered += e - s; end = e }
      else if (e > end) { covered += e - end; end = e }
    }
    covered
  }
}

/** `file:` file system that counts the operations the layers above it
  * issue. Installed only for traced runs; it is the program's own
  * GraftLocalFileSystem with a counter at each entry point. */
class CountingLocalFileSystem extends graft.sources.GraftLocalFileSystem {
  import CountingLocalFileSystem._
  override def create(f: HPath, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable) = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def listStatus(f: HPath): Array[FileStatus] = {
    listStatuses.incrementAndGet(); super.listStatus(f)
  }
  override def delete(f: HPath, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val creates = new AtomicLong
  val renames = new AtomicLong
  val listStatuses = new AtomicLong
  val deletes = new AtomicLong
}

/** Engine-side counters read from Spark's public listener interfaces. */
final class EngineListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobStarts = mutable.ArrayBuffer.empty[Long] // epoch ms
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var planningMs = 0.0
  /** (files read, scan root) per file scan in each successful query. */
  val scans = mutable.ArrayBuffer.empty[(Long, String)]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  var skewMax = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts += e.time
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
    }
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTaskMs.remove(e.stageInfo.stageId).foreach { ds =>
      if (ds.size >= 2) {
        val med = Stats.median(ds.map(_.toDouble))
        if (med > 0) skewMax = math.max(skewMax, ds.max / med)
      }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.tracker.phases.values.map(_.durationMs).sum
    val found = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec =>
        (s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.relation.location.rootPaths.headOption.map(_.toString).getOrElse(""))
    }
    synchronized { planningMs += plan; scans ++= found }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Counter readings at the start and end of a timed phase. */
final case class Counters(gcMs: Long, gcCount: Long, codegenMs: Double,
    fsRead: Long, fsWritten: Long)

object Counters {
  def read(): Counters = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    // the histogram keeps every sample until its 1028-slot reservoir fills;
    // past that, count times the reservoir mean is the estimate
    val ms = if (h.getCount <= 1028) snap.getValues.sum.toDouble else h.getCount * snap.getMean
    val fs = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .filter(_.getScheme == "file").toSeq
    def fsLong(k: String) = fs.map(s => Option(s.getLong(k)).map(_.longValue).getOrElse(0L)).sum
    Counters(gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      ms, fsLong("bytesRead"), fsLong("bytesWritten"))
  }

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    JFiles.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))
}

/** Everything a traced run attaches, and the per-layer metrics it yields
  * from the listeners and counters (the workloads add their own). */
final class Probe(spark: SparkSession) {
  val engine = new EngineListener
  /** (files read, scan root) of the data scans the timed phase ran. */
  var phaseScans: Vector[(Long, String)] = Vector.empty
  private var start: Counters = _
  private var startFs: Seq[Long] = Nil
  private var t0 = 0L

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(engine)
  }

  /** Starts a timed phase: the engine counters restart (once the listener
    * bus has delivered what set-up queued) and the other counters are read. */
  def begin(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    engine.synchronized {
      engine.jobStarts.clear(); engine.stages = 0; engine.tasks = 0
      engine.runMs = 0; engine.cpuNs = 0; engine.gcMs = 0; engine.shuffleBytes = 0
      engine.inputBytes = 0; engine.planningMs = 0; engine.scans.clear(); engine.skewMax = 0
    }
    Counters.resetHeapPeaks()
    start = Counters.read()
    startFs = fsOps()
    t0 = Clock.nowNs()
  }

  private def fsOps(): Seq[Long] = {
    import CountingLocalFileSystem._
    Seq(creates.get, renames.get, listStatuses.get, deletes.get)
  }

  /** Layer metrics of the Spark, file-system and JVM rows. Spark's listener
    * bus is asynchronous, so wait for it to drain before reading. */
  def end(m: Metrics, ops: Long, t1Ns: Long): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val c = Counters.read()
    val jobs = engine.synchronized(engine.jobStarts.count(t => t * 1000000L >= t0 && t * 1000000L <= t1Ns))
    engine.synchronized {
      phaseScans = engine.scans.toVector
      m.set("spark.jobs", jobs)
      m.set("spark.jobs_per_op", if (ops > 0) jobs.toDouble / ops else 0.0)
      m.set("spark.stages", engine.stages)
      m.set("spark.tasks", engine.tasks)
      m.set("spark.planning_ms", engine.planningMs)
      m.set("spark.executor_run_ms", engine.runMs)
      m.set("spark.executor_cpu_ms", engine.cpuNs / 1e6)
      m.set("spark.gc_ms", engine.gcMs)
      m.set("spark.shuffle_bytes", engine.shuffleBytes)
      m.set("spark.input_bytes", engine.inputBytes)
      m.set("spark.task_skew_max", engine.skewMax)
    }
    m.set("spark.codegen_ms", c.codegenMs - start.codegenMs)
    val f = fsOps().zip(startFs).map { case (a, b) => a - b }
    m.set("fs.creates", f(0)); m.set("fs.renames", f(1))
    m.set("fs.list_status", f(2)); m.set("fs.deletes", f(3))
    m.set("fs.bytes_written", c.fsWritten - start.fsWritten)
    m.set("fs.bytes_read", c.fsRead - start.fsRead)
    m.set("jvm.gc_ms", c.gcMs - start.gcMs)
    m.set("jvm.gc_count", c.gcCount - start.gcCount)
    m.set("jvm.heap_peak_mb", Counters.heapPeakMb())
  }
}
