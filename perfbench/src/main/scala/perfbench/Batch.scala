package perfbench

import java.nio.file.{Files => JFiles, Path}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.apps.CorpusCleanJob
import graft.domain.Ops
import graft.operators.{ConnectedComponents, Decontaminate, ShardPack, TextDedup}
import graft.sources.delta.DeltaTable

/** A one-client closed loop: the next job is called when the previous one
  * has committed its output. */
object ClosedLoop {

  final case class Job(callNs: Long, endNs: Long, error: Option[String]) {
    def seconds: Double = (endNs - callNs) / 1e9
  }

  /** Interval at which batch freshness is sampled. */
  val SampleNs = 2000000L

  /** Runs jobs for `seconds`, and on until at least `minJobs` have run. */
  def run(seconds: Int, minJobs: Int)(job: Int => Unit): IndexedSeq[Job] = {
    val t0 = Clock.nowNs()
    val jobs = mutable.ArrayBuffer.empty[Job]
    while (Clock.nowNs() < t0 + seconds * 1000000000L || jobs.size < minJobs) {
      val c = Clock.nowNs()
      val err = try { job(jobs.size); None } catch { case NonFatal(e) => Some(e.toString) }
      jobs += Job(c, Clock.nowNs(), err)
    }
    jobs.toIndexedSeq
  }

  /** Freshness of a refresh loop: a change arriving at instant t (sampled
    * every [[SampleNs]] from the first call to the last) is first covered by
    * the next job called at or after t, and is visible when that job
    * commits. */
  def freshness(jobs: Seq[Job]): IndexedSeq[Double] = {
    val ok = jobs.filter(_.error.isEmpty).toIndexedSeq
    if (ok.isEmpty) IndexedSeq.empty
    else {
      val out = mutable.ArrayBuffer.empty[Double]
      var j = 0
      var t = ok.head.callNs
      while (t <= ok.last.callNs) {
        while (ok(j).callNs < t) j += 1
        out += (ok(j).endNs - t) / 1e9
        t += SampleNs
      }
      out.toIndexedSeq
    }
  }

  /** End-to-end metrics every closed-loop workload shares. */
  def report(m: Metrics, jobs: Seq[Job], inputRows: Long, inputBytes: Long,
      bytesWritten: Long): Unit = {
    val ok = jobs.filter(_.error.isEmpty)
    val p50 = Stats.medianOr0(ok.map(_.seconds))
    if (ok.nonEmpty) {
      m.set("job_p50_s", p50)
      m.set("catchup_rows_per_s", inputRows / p50)
      m.set("bytes_written_per_user_byte", bytesWritten.toDouble / ok.size / inputBytes)
    }
    val f = freshness(jobs).sorted
    if (f.nonEmpty) {
      m.set("freshness_p50_s", Stats.percentile(f, 50))
      m.set("freshness_p99_s", Stats.percentile(f, 99))
    }
    m.set("gen.freshness_samples", f.size)
    m.set("gen.late_ms_max", 0.0)
    m.set("gen.offered_rows_per_s", 0.0)
    m.idle("streaming")
  }

  def describe(jobs: Seq[Job]): String =
    s"${jobs.size} jobs (s): " + jobs.map(j => f"${j.seconds}%.3f").mkString(" ")

  def invalid(jobs: Seq[Job], minJobs: Int): Seq[String] = {
    val n = freshness(jobs).size
    (if (jobs.count(_.error.isEmpty) < minJobs) Seq(s"only ${jobs.count(_.error.isEmpty)} jobs succeeded") else Nil) ++
      (if (Stats.highestSupported(n).forall(_ < 99)) Seq(s"$n freshness samples do not support a 99th percentile") else Nil)
  }
}

/** prime_report: the reference's batch job and report. Each job reads the
  * activities Delta table and the HR data, validates commutes, joins and
  * aggregates into `final`, then derives the benefit ("prime") report from
  * the committed `final`; both overwrite Delta tables. The activities table
  * is built in set-up from many small appends and merges through the
  * program's own write paths. */
final class PrimeReport(ctx: Ctx) extends Workload {
  import ctx._

  val Employees = 3000
  val Days = 366
  val Appends = 4
  /** A merge follows every second append: updates of existing activities
    * plus new ones. */
  val MergeEvery = 2
  val MergeUpdates = 3000
  val MergeInserts = 1000
  /** Fewest jobs a run times, whatever `--seconds` says: enough that the
    * job median stays put when one job straddles a log checkpoint. */
  val MinJobs = 10
  /** Warm-up jobs: the outputs commit one version per job, so 11 jobs take
    * them past their first log checkpoint (version 10). */
  val WarmJobs = 11

  final class Prepared(val dir: Path, val emps: IndexedSeq[Gen.Employee],
      val acts: collection.Map[Int, Gen.Activity], val empFile: Path,
      val actsTable: Path)

  private def job(spans: Spans, i: Int, empFile: Path, acts: Path, out: Path): Unit =
    spans.span("job", i) {
      val activities = spans.span("delta.read")(DeltaTable.read(spark, acts.toString))
      val employees = spark.read.parquet(empFile.toString)
      val finalDf = spans.span("domain.build")(Ops.buildFinal(employees,
        Ops.validateCommutes(employees, col("commute_m")), activities))
      spans.span("delta.write")(
        DeltaTable.write(finalDf, out.resolve("final").toString, SaveMode.Overwrite))
      val report = spans.span("domain.report")(
        Ops.benefitReport(DeltaTable.read(spark, out.resolve("final").toString)))
      spans.span("delta.write")(
        DeltaTable.write(report, out.resolve("report").toString, SaveMode.Overwrite))
    }

  /** Builds the activities table from appends and merges of generated
    * batches; returns the oracle's view of its final contents. */
  private def build(dir: Path, seed: Long, emps: IndexedSeq[Gen.Employee],
      days: Int, table: Path): collection.Map[Int, Gen.Activity] = {
    val hist = Gen.history(seed, emps, days)
    val in = dir.resolve("in")
    val state = mutable.LinkedHashMap.empty[Int, Gen.Activity]
    val r = Gen.rng(seed, 6)
    var nextId = hist.last.id + 1
    val chunk = (hist.size + Appends - 1) / Appends
    hist.grouped(chunk).zipWithIndex.foreach { case (part, k) =>
      val f = in.resolve(f"append-$k%02d.parquet")
      Files.writeActivities(f, part)
      DeltaTable.write(spark.read.parquet(f.toString), table.toString, SaveMode.Append)
      part.foreach(a => state(a.id) = a)
      if (k % MergeEvery == MergeEvery - 1) {
        val ids = state.keysIterator.toIndexedSeq
        val updates = (0 until MergeUpdates).map(_ => ids(r.nextInt(ids.size))).distinct
          .map(id => state(id).copy(duration = state(id).duration + 1 + r.nextInt(900)))
        val inserts = (0 until MergeInserts).map { _ =>
          val a = part(r.nextInt(part.size))
          nextId += 1
          Gen.activity(r, nextId - 1, emps(a.employee - emps.head.id), a.startMicros)
        }
        val mf = in.resolve(f"merge-$k%02d.parquet")
        Files.writeActivities(mf, updates ++ inserts)
        DeltaTable.merge(spark.read.parquet(mf.toString), table.toString, "id")
        (updates ++ inserts).foreach(a => state(a.id) = a)
      }
    }
    state
  }

  def prepare(dir: Path): Prepared = {
    val emps = Gen.employees(seed, Employees)
    val empFile = dir.resolve("in").resolve("employees.parquet")
    Files.writeEmployees(empFile, emps)
    val table = dir.resolve("activities")
    val acts = build(dir, seed, emps, Days, table)
    new Prepared(dir, emps, acts, empFile, table)
  }

  /** Jobs into the measured outputs until both tables are past their first
    * log checkpoint, as a long-running report is, and job times have
    * mostly stopped falling. */
  def warmUp(p: Prepared): Unit =
    (0 until WarmJobs).foreach(i => job(new Spans(false), i, p.empFile, p.actsTable, p.dir.resolve("out")))

  def measure(p: Prepared, spans: Spans, m: Metrics, probe: Option[Probe]): Outcome = {
    val out = p.dir.resolve("out")
    val base = DeltaStats.headVersion(out.resolve("final")) + 1
    val bytes0 = Files.bytesUnder(out)
    probe.foreach(_.begin())
    val jobs = ClosedLoop.run(seconds, MinJobs)(i => job(spans, i, p.empFile, p.actsTable, out))
    probe.foreach(_.end(m, jobs.size, Clock.nowNs()))
    val inputBytes = JFiles.size(p.empFile) +
      graft.sources.delta.DeltaLog.snapshot(spark, p.actsTable.toString).files.map(_.size).sum
    ClosedLoop.report(m, jobs, p.acts.size + p.emps.size, inputBytes,
      Files.bytesUnder(out) - bytes0)

    // oracle: every committed version of final and report
    val expected = Oracle.primeReport(p.emps, p.acts.values)
    val defects = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    // each successful job committed one version of each table; read them
    // all back in one pass per table
    val ok = jobs.indices.filter(jobs(_).error.isEmpty)
    def versions(t: String, cols: String*): Map[Long, Seq[Row]] =
      if (ok.isEmpty) Map.empty
      else ok.indices.map(v => DeltaTable.read(spark, out.resolve(t).toString, Some(base + v))
          .select(lit(v.toLong) +: cols.map(col): _*))
        .reduce(_ union _).collect().toSeq
        .groupBy(_.getLong(0)).map { case (v, rs) => v -> rs.map(r => Row.fromSeq(r.toSeq.tail)) }
    val finals = versions("final", "id_employee", "is_valid", "count_activity", "mean_duration")
    val reports = versions("report", "id_employee", "commute_valid", "is_valid_activities",
      "commute_prime", "total_salary")
    jobs.zipWithIndex.foreach { case (j, i) =>
      val problems = j.error.toSeq ++ (if (j.error.nonEmpty) Nil else {
        val v = ok.indexOf(i).toLong
        Oracle.checkPrime(finals.getOrElse(v, Nil), reports.getOrElse(v, Nil), expected)
      })
      if (problems.nonEmpty) { failed += 1; defects += s"job $i: ${problems.take(3).mkString("; ")}" }
    }

    if (probe.isDefined) {
      DeltaStats.layer(spark, spans, m,
        Seq(p.actsTable -> DeltaStats.headVersion(p.actsTable),
          out.resolve("final") -> (base - 1), out.resolve("report") -> (base - 1)),
        0L, probe.get.phaseScans, p.actsTable)
      val perJob = spans.named("job").map { jspan =>
        spans.named("delta.write").filter(w => w.startNs >= jspan.startNs && w.endNs <= jspan.endNs)
          .map(w => (w.endNs - w.startNs) / 1e6).sum
      }
      m.set("delta.write_ms", Stats.medianOr0(perJob))
      val t0 = Clock.nowNs()
      spans.span("delta.read")(DeltaTable.read(spark, p.actsTable.toString)
        .write.format("noop").mode("overwrite").save())
      m.set("delta.read_ms", (Clock.nowNs() - t0) / 1e6)
    }
    Outcome(jobs.size, failed, defects.toSeq, ClosedLoop.invalid(jobs, MinJobs),
      ClosedLoop.describe(jobs))
  }

  def probeLayers(p: Prepared, spans: Spans, m: Metrics): Unit = {
    // the report alone: planned, then executed without a sink
    val samples = (1 to 3).map { _ =>
      val employees = spark.read.parquet(p.empFile.toString)
      val df = Ops.benefitReport(Ops.buildFinal(employees,
        Ops.validateCommutes(employees, col("commute_m")),
        DeltaTable.read(spark, p.actsTable.toString)))
      val qe = df.queryExecution
      val t0 = Clock.nowNs()
      spans.span("domain.report_plan")(qe.executedPlan)
      val t1 = Clock.nowNs()
      spans.span("domain.report_exec")(qe.toRdd.count())
      ((t1 - t0) / 1e6, (Clock.nowNs() - t1) / 1e6)
    }
    m.set("domain.report_plan_ms", Stats.median(samples.map(_._1)))
    m.set("domain.report_exec_ms", Stats.median(samples.map(_._2)))
    m.set("domain.decode_rows_per_s", 0.0)
    m.idle("operators")
  }
}

/** corpus_clean: a one-client closed loop of `CorpusCleanJob.run` (near-dup
  * removal, decontamination against the held-out eval split, token-budget
  * shard packing) over a seeded corpus. */
final class CorpusClean(ctx: Ctx) extends Workload {
  import ctx._

  val Docs = 3000
  val Parts = 4
  val WarmJobs = 2
  val Budget = 100000L
  /** Fewest jobs a run times, whatever `--seconds` says. */
  val MinJobs = 4
  /** CorpusCleanJob's own decontamination threshold. */
  val MinOverlap = 10

  final class Prepared(val dir: Path, val docs: IndexedSeq[Gen.Doc], val corpus: Path)

  private def writeCorpus(dir: Path, docs: IndexedSeq[Gen.Doc]): Path = {
    val per = (docs.size + Parts - 1) / Parts
    docs.grouped(per).zipWithIndex.foreach { case (part, k) =>
      Files.writeDocs(dir.resolve("documents.parquet").resolve(f"part-$k%05d.parquet"), part)
    }
    dir
  }

  def prepare(dir: Path): Prepared = {
    val docs = Gen.corpus(seed, Docs)
    new Prepared(dir, docs, writeCorpus(dir.resolve("corpus"), docs))
  }

  /** Full-size jobs, so that the first, coldest jobs of the process are
    * not timed. */
  def warmUp(p: Prepared): Unit =
    for (i <- 0 until WarmJobs) {
      val out = p.dir.resolve(s"warm-$i")
      CorpusCleanJob.run(spark, p.corpus.toString, out.toString, Budget)
      spark.catalog.clearCache()
      Files.deleteTree(out)
    }

  private def outDir(p: Prepared, i: Int) = p.dir.resolve("out").resolve(s"job-$i")

  def measure(p: Prepared, spans: Spans, m: Metrics, probe: Option[Probe]): Outcome = {
    probe.foreach(_.begin())
    val jobs = ClosedLoop.run(seconds, MinJobs) { i =>
      spans.span("job", i)(spans.span("corpus.run")(
        CorpusCleanJob.run(spark, p.corpus.toString, outDir(p, i).toString, Budget)))
      spark.catalog.clearCache()
    }
    probe.foreach(_.end(m, jobs.size, Clock.nowNs()))
    val inputBytes = Files.bytesUnder(p.corpus.resolve("documents.parquet"))
    ClosedLoop.report(m, jobs, p.docs.size, inputBytes, Files.bytesUnder(p.dir.resolve("out")))

    // oracle: the first job's output in full, the others equal to it
    def kept(i: Int) = spark.read.parquet(outDir(p, i).toString)
      .select(col("doc_id"), col("text"), col("ntok"), col("shard").cast("long"))
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val defects = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    val ok = jobs.indices.filter(jobs(_).error.isEmpty)
    val first = ok.headOption.map(kept)
    jobs.indices.foreach { i =>
      val problems = jobs(i).error.toSeq ++ (if (jobs(i).error.nonEmpty) Nil
        else if (i == ok.head) Oracle.checkCorpus(first.get, p.docs, Budget, MinOverlap)
        else if (kept(i).map(k => (k._1, k._4)).toSet != first.get.map(k => (k._1, k._4)).toSet)
          Seq(s"output differs from job ${ok.head}'s on the same input")
        else Nil)
      if (problems.nonEmpty) { failed += 1; defects += s"job $i: ${problems.mkString("; ")}" }
    }
    m.set("operators.docs_in", p.docs.size)
    m.set("operators.docs_kept", first.map(_.size).getOrElse(0).toDouble)
    Outcome(jobs.size, failed, defects.toSeq, ClosedLoop.invalid(jobs, MinJobs),
      ClosedLoop.describe(jobs))
  }

  def probeLayers(p: Prepared, spans: Spans, m: Metrics): Unit = {
    import graft.Tables
    // each stage materialised alone over its cached input
    def timed[A](name: String)(body: => A): (A, Double) = {
      val t0 = Clock.nowNs()
      val a = spans.span(name)(body)
      (a, (Clock.nowNs() - t0) / 1e6)
    }
    def cached(df: DataFrame, name: String): (DataFrame, Long, Double) = {
      val c = df.persist(StorageLevel.MEMORY_AND_DISK)
      val (n, ms) = timed(name)(c.count())
      (c, n, ms)
    }
    val (docs, _, _) = cached(Tables.table(spark, p.corpus.toString, "documents"), "scan")
    val (sh, _, shMs) = cached(TextDedup.shingles(docs, 3), "operators.shingles")
    val (sig, _, sigMs) = cached(TextDedup.minhashSignaturesSketch(sh, 64), "operators.signatures")
    val (cands, nCands, candMs) = cached(
      TextDedup.lshCandidates(TextDedup.lshBandsFromSig(sig, 16, 4)), "operators.lsh_candidates")
    spark.catalog.clearCache()
    val (docs2, _, _) = cached(Tables.table(spark, p.corpus.toString, "documents"), "scan")
    val (pairs, nPairs, pairsMs) = cached(TextDedup.minhashPairs(docs2, n = 3, minJaccard = 0.5)
      .select(col("a_id"), col("b_id")), "operators.minhash_pairs")
    val (redundant, _, ccMs) = cached(ConnectedComponents.components(pairs)
      .filter(col("id") =!= col("component_id")).select(col("id").as("doc_id")),
      "operators.components")
    val train = docs2.join(redundant, Seq("doc_id"), "left_anti").filter(col("doc_id") % 10 =!= 7)
    val eval = docs2.filter(col("doc_id") % 10 === 7)
    val (contaminated, _, decoMs) = cached(Decontaminate.overlaps(train, eval, n = 3,
      minOverlap = MinOverlap).select(col("train_id").as("doc_id")).distinct(),
      "operators.decontaminate")
    val (clean, _, _) = cached(train.join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("ntok", size(split(col("text"), " ")).cast("long")), "clean")
    val (_, _, packMs) = cached(ShardPack.pack(clean, col("doc_id"), col("ntok"), Budget),
      "operators.shard_pack")
    spark.catalog.clearCache()
    m.set("operators.shingles_ms", shMs)
    m.set("operators.signatures_ms", sigMs)
    m.set("operators.lsh_candidates_ms", candMs)
    m.set("operators.minhash_pairs_ms", pairsMs)
    m.set("operators.components_ms", ccMs)
    m.set("operators.decontaminate_ms", decoMs)
    m.set("operators.shard_pack_ms", packMs)
    m.set("operators.lsh_candidates", nCands)
    m.set("operators.lsh_pairs", nPairs)
    m.set("operators.lsh_precision", if (nCands > 0) nPairs.toDouble / nCands else 0.0)
    m.idle("delta")
    m.idle("domain")
  }
}
