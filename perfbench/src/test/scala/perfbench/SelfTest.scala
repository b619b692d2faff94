package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files => JFiles, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

/** The benchmark's own tests: percentile math, the freshness join on a small
  * synthetic checkpoint and log, generator determinism, and the oracles.
  * Run with `python3 perfbench/build.py --test`; exits non-zero on failure. */
object SelfTest {

  private val failures = mutable.ArrayBuffer.empty[String]
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Throwable => failures += s"$what: $e"; true }
    if (!ok) failures += what
  }

  def main(args: Array[String]): Unit = {
    percentiles()
    freshnessJoin()
    closedLoopFreshness()
    generators()
    oracles()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"${checks - failures.size} of $checks checks passed")
    if (failures.nonEmpty) sys.exit(1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50")(Stats.percentile(xs, 50) == 50.0)
    check("p99 of 1..100 is 99")(Stats.percentile(xs, 99) == 99.0)
    check("p100 is the maximum")(Stats.percentile(xs, 100) == 100.0)
    check("p1 of 1..100 is 1")(Stats.percentile(xs, 1) == 1.0)
    check("nearest rank rounds up")(Stats.percentile(IndexedSeq(1.0, 2.0, 3.0), 50) == 2.0)
    check("median of an even sample averages")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("p99 needs 1000 samples")(Stats.highestSupported(1000).contains(99.0))
    check("999 samples support p95 only")(Stats.highestSupported(999).contains(95.0))
    check("p99.9 needs 10000 samples")(Stats.highestSupported(10000).contains(99.9))
    check("20 samples support the median")(Stats.highestSupported(20).contains(50.0))
    check("19 samples support nothing")(Stats.highestSupported(19).isEmpty)
    check("beyond counts strictly later ranks")(Stats.beyond(1000, 99) == 10)
    check("interval union merges overlaps")(Spans.union(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    check("interval union ignores nested")(Spans.union(Seq((0L, 10L), (2L, 3L))) == 10L)
    val s = new Spans(true)
    s.span("outer") { s.span("inner")(Thread.sleep(20)); Thread.sleep(20) }
    check("self time excludes the child span")(s.selfMs("outer").head < s.named("outer").map(x =>
      (x.endNs - x.startNs) / 1e6).head - 15)
  }

  private def write(p: Path, lines: Seq[String], mtimeMs: Long = 0L): Unit = {
    JFiles.createDirectories(p.getParent)
    JFiles.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    if (mtimeMs > 0) JFiles.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
  }

  def freshnessJoin(): Unit = {
    val dir = JFiles.createTempDirectory(java.nio.file.Paths.get(".").toAbsolutePath, ".selftest")
    try {
      val ck = dir.resolve("ckpt")
      def entry(f: String, b: Int) = s"""{"path":"file:///land/$f","timestamp":1,"batchId":$b}"""
      write(ck.resolve("sources/0/0"), Seq("v1", entry("a.json", 0), entry("b.json", 0)))
      // a compacted log file repeats earlier entries
      write(ck.resolve("sources/0/1.compact"), Seq("v1", entry("a.json", 0), entry("b.json", 0),
        entry("c.json", 1)))
      write(ck.resolve("sources/0/2"), Seq("v1", entry("d.json", 2)))
      write(ck.resolve("sources/0/3"), Seq("v1", entry("e.json", 3)))
      def offsets(b: Int, off: Int) =
        write(ck.resolve(s"offsets/$b"), Seq("v1", """{"batchWatermarkMs":0}""", s"""{"logOffset":$off}"""))
      // batch 0 took source offset 0 (a, b); its offsets entry has been
      // purged, so only the progress reports place it
      offsets(1, 2) // batch 1 took offsets 1 and 2: c, d
      offsets(2, 3) // batch 2 took e but never committed
      val progress = Map(0L -> Freshness.logOffset("""{"logOffset":0}"""), 1L -> 2L)
      val log = dir.resolve("table/_delta_log")
      def commit(v: Int, txn: Option[(String, Int)], ms: Long) =
        write(log.resolve(f"$v%020d.json"), Seq("""{"commitInfo":{"operation":"WRITE"}}""") ++
          txn.map { case (app, b) => s"""{"txn":{"appId":"$app","version":$b}}""" }, ms)
      commit(0, None, 1000000000000L)
      commit(1, Some("app" -> 0), 1000000001000L)
      commit(2, Some("other" -> 5), 1000000002000L)
      commit(3, Some("app" -> 1), 1000000003000L)
      val joined = Freshness.join(ck, dir.resolve("table"), "app", progress)
      val j = joined.files
      check("files of batch 0 map to version 1")(j.get("a.json").contains((0L, 1L, 1000000001000L * 1000000L)) &&
        j.get("b.json").map(_._2).contains(1L))
      check("batch 1 spans two source offsets")(j.get("c.json").map(_._2).contains(3L) &&
        j.get("d.json").map(_._2).contains(3L))
      check("an uncommitted batch is not visible")(!j.contains("e.json"))
      check("another app's txn is ignored")(!j.values.exists(_._2 == 2L))
      check("every committed batch is placed")(joined.unplaced.isEmpty)
      check("a purged offsets entry without a progress report is reported")(
        Freshness.join(ck, dir.resolve("table"), "app", Map.empty).unplaced == Seq(0L))
    } finally Files.deleteTree(dir)
  }

  def closedLoopFreshness(): Unit = {
    val s = 1000000000L
    // jobs called at 0 s, 1 s, 2 s, each taking 1 s
    val jobs = (0 until 3).map(i => ClosedLoop.Job(i * s, (i + 1) * s, None))
    val f = ClosedLoop.freshness(jobs)
    check("a change at a call waits one job")(f.head == 1.0)
    check("a change just after a call waits almost two jobs")(math.abs(f(1) - (2.0 - ClosedLoop.SampleNs / 1e9)) < 1e-9)
    check("samples span first to last call")(f.size == (2 * s / ClosedLoop.SampleNs).toInt + 1)
  }

  def generators(): Unit = {
    val emps = Gen.employees(3, 50)
    check("employees are seeded")(Gen.employees(3, 50) == emps && Gen.employees(4, 50) != emps)
    val hist = Gen.history(3, emps, 60)
    check("history is seeded")(Gen.history(3, emps, 60) == hist)
    def lines(seed: Long) = {
      val st = new Gen.CdcStream(seed, emps, 0L)
      (0 until 5).map(_ => st.file(400).map(_.line))
    }
    val a = lines(9)
    check("same seed, same envelopes")(a == lines(9))
    val b = lines(10)
    check("another seed, other envelopes of the same count")(
      a != b && a.map(_.size) == b.map(_.size) && a.forall(_.size == 400))
    val st = new Gen.CdcStream(5, emps, 0L, firstId = 40)
    val ev = (0 until 20).flatMap(_ => st.file(500))
    val valid = ev.filter(_.valid)
    check("about 1% malformed")(
      math.abs(ev.count(!_.valid).toDouble / ev.size - Gen.MalformedShare) < 0.005)
    check("created ids are distinct and start at firstId")(
      valid.map(_.key).distinct.size == valid.size && valid.map(_.key).min == 40)
    val docs = Gen.corpus(11, 1000)
    check("corpus is seeded")(Gen.corpus(11, 1000) == docs)
    val other = Gen.corpus(12, 1000)
    check("another seed, another corpus of the same size")(other != docs && other.size == docs.size)
    check("corpus has exact duplicates")(docs.groupBy(_.text).count(_._2.size > 1) > 20)
    val tmp = JFiles.createTempDirectory(java.nio.file.Paths.get(".").toAbsolutePath, ".selftest")
    try {
      Files.writeDocs(tmp.resolve("a.parquet"), docs)
      Files.writeDocs(tmp.resolve("b.parquet"), Gen.corpus(11, 1000))
      Files.writeActivities(tmp.resolve("c.parquet"), hist)
      Files.writeActivities(tmp.resolve("d.parquet"), Gen.history(3, emps, 60))
      def bytes(n: String) = JFiles.readAllBytes(tmp.resolve(n)).toSeq
      check("same seed, byte-identical parquet")(bytes("a.parquet") == bytes("b.parquet") &&
        bytes("c.parquet") == bytes("d.parquet"))
      Files.landLines(tmp, "x.json", ev.iterator.map(_.line))
      Files.landLines(tmp, "y.json", {
        val st = new Gen.CdcStream(5, emps, 0L, firstId = 40)
        (0 until 20).iterator.flatMap(_ => st.file(500)).map(_.line)
      })
      check("same seed, byte-identical envelope files")(bytes("x.json") == bytes("y.json"))
    } finally Files.deleteTree(tmp)
  }

  def oracles(): Unit = {
    val emps = Gen.employees(1, 2)
    val r = Gen.rng(1, 99)
    val a1 = Gen.activity(r, 1, emps(0), 0L)
    val a2 = Gen.activity(r, 2, emps(1), 0L)
    val docs = IndexedSeq(Gen.Doc(7, "a b c d e f g h i j k l m n"), Gen.Doc(1, "x y z"))
    check("a clean output passes")(Oracle.checkCorpus(Seq((1L, "x y z", 3L, 0L)), docs, 10, 10).isEmpty)
    check("a leaked eval passage is caught")(Oracle.checkCorpus(
      Seq((3L, "q a b c d e f g h i j k l", 13L, 0L)), docs, 100, 10).nonEmpty)
    check("duplicate texts are caught")(Oracle.checkCorpus(
      Seq((1L, "x y z", 3L, 0L), (2L, "x y z", 3L, 0L)), docs, 100, 10).nonEmpty)
    check("an overfull shard is caught")(Oracle.checkCorpus(
      Seq((1L, "x y z", 6L, 0L), (2L, "x y", 6L, 0L)), docs, 5, 10).nonEmpty)
    val exp = Oracle.primeReport(emps, Seq(a1, a1.copy(id = 3), a2))
    check("prime counts activities per employee")(exp(emps(0).id).count == 2 && exp(emps(1).id).count == 1)
  }
}
