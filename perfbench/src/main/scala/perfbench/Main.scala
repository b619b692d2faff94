package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one timed phase did: operations attempted and failed (failed
  * micro-batches or jobs, events never made visible, oracle mismatches),
  * the defects found, and reasons the measurement itself is not valid. */
final case class Outcome(attempted: Long, failed: Long, defects: Seq[String],
    invalid: Seq[String], ops: String)

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int)

/** One workload: a set-up that can be repeated into fresh directories, a
  * timed phase over one set-up, and (traced runs only) the probes that split
  * its layers after the timed phase. */
trait Workload {
  type Prepared
  /** Generates the inputs and pre-populates the tables into `dir`. */
  def prepare(dir: Path): Prepared
  /** Brings a set-up to the steady state the timed phase measures: every
    * code path has run (JIT and generated-code caches are warm) and the
    * tables the phase writes are past their first log checkpoint. */
  def warmUp(p: Prepared): Unit
  /** Runs the timed phase and sets its end-to-end metrics, plus any layer
    * metric that the phase's own artifacts give for free. */
  def measure(p: Prepared, spans: Spans, m: Metrics, probe: Option[Probe]): Outcome
  /** Traced runs: the probes that split a layer, run after the timed phase. */
  def probeLayers(p: Prepared, spans: Spans, m: Metrics): Unit
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * [--threads <n>] [--work <dir>] [--stamp <k=v,...>]`
  *
  * Prints a human-readable summary, then as its last stdout line one JSON
  * object with `correct`, `attempted`, `failed` and `metrics`: the
  * end-to-end metrics when untraced, the per-layer metrics when traced. */
object Main {

  val SetupRepetitions = 3

  /** Any failure ends the process with a non-zero code and no result line;
    * exiting also ends Spark's non-daemon threads. */
  def main(args: Array[String]): Unit =
    try run(args)
    catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }

  private def run(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(usage("--seed is required"))
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(usage("--seconds is required"))
    val trace = opts.getOrElse("trace", "0") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val nproc = Runtime.getRuntime.availableProcessors
    // one core is left to Spark's scheduling, the load generator, JIT and GC, which
    // otherwise contend with the tasks (measured faster and steadier)
    val threads = opts.get("threads").map(_.toInt).getOrElse(math.max(1, nproc - 1))
    if (threads < 1 || threads > nproc)
      usage(s"--threads $threads: Spark may use 1 to nproc = $nproc threads")
    if (seconds < 1) usage("--seconds must be at least 1")
    val work = Paths.get(opts.getOrElse("work", ".perfbench/work")).toAbsolutePath
      .resolve(s"$workload-s$seed-t${if (trace) 1 else 0}")
    Files.deleteTree(work)
    JFiles.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // the program's own local file system; traced runs count its calls
      .config("spark.hadoop.fs.file.impl",
        if (trace) classOf[CountingLocalFileSystem].getName
        else "graft.sources.GraftLocalFileSystem")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val ctx = Ctx(spark, seed, seconds)
    val w: Workload = workload match {
      case "cdc_append" => new Cdc(ctx)
      case "prime_report" => new PrimeReport(ctx)
      case "corpus_clean" => new CorpusClean(ctx)
      case other => usage(s"unknown workload $other")
    }

    val m = new Metrics
    // set-up time runs from process start to the first timed operation:
    // session, input generation with table pre-population (repeated into
    // fresh directories and counted at its median), and warm-up
    val reps = (0 until SetupRepetitions).map { i =>
      val t0 = Clock.nowNs()
      val p = w.prepare(work.resolve(s"rep$i"))
      (p, (Clock.nowNs() - t0) / 1e9)
    }
    val tw = Clock.nowNs()
    w.warmUp(reps.last._1)
    val warmS = (Clock.nowNs() - tw) / 1e9
    m.set("setup_s", sessionS + Stats.median(reps.map(_._2)) + warmS)

    val tm = Clock.nowNs()
    val outcome =
      if (!trace) w.measure(reps.last._1, new Spans(false), m, None)
      else {
        // the same phase untraced and then traced, each on its own set-up:
        // the gap between the two is what tracing costs
        val plain = new Metrics
        w.warmUp(reps(reps.size - 2)._1)
        w.measure(reps(reps.size - 2)._1, new Spans(false), plain, None)
        val spans = new Spans(true)
        val probe = new Probe(spark)
        probe.attach()
        val o = w.measure(reps.last._1, spans, m, Some(probe))
        w.probeLayers(reps.last._1, spans, m)
        val (u, t) = (plain.get("job_p50_s").get, m.get("job_p50_s").get)
        m.set("trace.untraced_job_p50_s", u)
        m.set("trace.traced_job_p50_s", t)
        m.set("trace.overhead_ratio", t / u)
        spans.write(work.getParent.getParent.resolve("results")
          .resolve(s"spans-$workload-s$seed.json"))
        o
      }
    m.set("rss_peak_mb", Counters.rssPeakMb())
    val timing = f"[perfbench] wall: session $sessionS%.1f s, set-ups " +
      reps.map(r => f"${r._2}%.2f").mkString(" / ") +
      f" s, warm-up $warmS%.1f s, timed phase and checks ${(Clock.nowNs() - tm) / 1e9}%.1f s"

    val stamp = Seq("workload" -> workload, "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"), "seconds" -> seconds.toString,
      "nproc" -> nproc.toString, "master" -> s"local[$threads]",
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version) ++
      opts.get("stamp").toSeq.flatMap(_.split(',').filter(_.contains('=')).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      })
    spark.stop()

    val declared = if (trace) Metrics.PerLayer else Metrics.EndToEnd
    val correct = outcome.defects.isEmpty && outcome.invalid.isEmpty
    val failedRatio = outcome.failed.toDouble / outcome.attempted
    val summary = Seq(s"[perfbench] ${stamp.map { case (k, v) => s"$k=$v" }.mkString(" ")}", timing) ++
      outcome.defects.map(d => s"[perfbench] DEFECT: $d") ++
      outcome.invalid.map(d => s"[perfbench] INVALID RUN: $d") ++
      Seq(s"[perfbench] ${outcome.ops}") ++
      Seq(f"  ${"failed_ratio"}%-38s ${failedRatio}%14.6g ratio" +
        s" (${outcome.failed} of ${outcome.attempted} operations)") ++
      m.table(Metrics.EndToEnd) ++ (if (trace) m.table(Metrics.PerLayer) else Nil)
    summary.foreach(println)
    val result = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> m.render(declared)))
    val results = work.getParent.getParent.resolve("results")
    JFiles.createDirectories(results)
    JFiles.write(results.resolve(s"$workload-s$seed-t${if (trace) 1 else 0}.json"),
      (Json.obj(Seq("stamp" -> Json.obj(stamp.map { case (k, v) => k -> Json.str(v) }),
        "failed_ratio" -> Json.num(failedRatio),
        "defects" -> outcome.defects.map(Json.str).mkString("[", ",", "]"),
        "invalid" -> outcome.invalid.map(Json.str).mkString("[", ",", "]"),
        "result" -> result)) + "\n").getBytes(UTF_8))
    Files.deleteTree(work)
    println(result)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }
}
