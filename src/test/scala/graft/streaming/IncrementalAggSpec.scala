package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class IncrementalAggSpec extends SparkSpec {

  import spark.implicits._

  /** Debezium-ish envelope with FULL images (REPLICA IDENTITY FULL):
    * inserts carry after, deletes carry before, updates carry both. */
  private def env(
      op: String,
      id: Int,
      before: Option[(String, Int)],
      after: Option[(String, Int)],
      tsMs: Long): String = {
    def img(v: Option[(String, Int)]): String = v.fold("null") { case (sport, dist) =>
      s"""{"id":$id,"id_employee":${id * 10},"first_name":"fn","last_name":"ln",""" +
        s""""start_datetime":1700000000000000,"sport_type":"$sport","distance":$dist,""" +
        s""""activity_duration":30,"comment":null}"""
    }
    s"""{"payload":{"before":${img(before)},"after":${img(after)},""" +
      s""""source":{"table":"sport_activities"},"op":"$op","ts_ms":$tsMs}}"""
  }

  private def readView(path: String): Map[String, (Long, Long)] =
    IncrementalAgg.view(spark, path, "sport_type")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("view tracks inserts, measure updates, group-moving updates, deletes") {
    val dir = java.nio.file.Files.createTempDirectory("incagg").toString
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[String]
    val q = IncrementalAgg.start(s.toDF(), s"$dir/state", s"$dir/chk",
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: three inserts across two groups
      s.addData(
        env("c", 1, None, Some(("run", 5)), 1000),
        env("c", 2, None, Some(("run", 7)), 1001),
        env("c", 3, None, Some(("bike", 20)), 1002))
      q.processAllAvailable()
      assert(readView(s"$dir/state") ===
        Map("run" -> ((12L, 2L)), "bike" -> ((20L, 1L))))
      // batch 2: measure update in place, update that MOVES groups
      // (run→swim), and a delete that empties nothing yet
      s.addData(
        env("u", 1, Some(("run", 5)), Some(("run", 9)), 2000),
        env("u", 2, Some(("run", 7)), Some(("swim", 7)), 2001),
        env("d", 3, Some(("bike", 20)), None, 2002))
      q.processAllAvailable()
      assert(readView(s"$dir/state") ===
        Map("run" -> ((9L, 1L)), "swim" -> ((7L, 1L))))
      // batch 3: delete the last run row — the group must disappear,
      // exactly as a re-aggregate over the remaining table would show
      s.addData(env("d", 1, Some(("run", 9)), None, 3000))
      q.processAllAvailable()
      assert(readView(s"$dir/state") === Map("swim" -> ((7L, 1L))))
    } finally q.stop()
  }

  test("view == batch re-aggregate over the upsert sink's end state") {
    // the same event stream drives BOTH consumers: the keyed Delta merge
    // table (current rows) and the incremental view; the view must equal the
    // groupBy over the table — the MV-consistency contract
    val dir = java.nio.file.Files.createTempDirectory("incagg2").toString
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      env("c", 1, None, Some(("run", 5)), 1000),
      env("c", 2, None, Some(("walk", 3)), 1001),
      env("c", 3, None, Some(("run", 8)), 1002),
      env("u", 2, Some(("walk", 3)), Some(("run", 4)), 2000),
      env("d", 3, Some(("run", 8)), None, 2001),
      env("c", 4, None, Some(("bike", 15)), 2002))
    val s1 = MemoryStream[String]
    s1.addData(events: _*)
    IncrementalAgg.start(s1.toDF(), s"$dir/state", s"$dir/chk_v",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    // two micro-batches on the table side: the inserts bootstrap it, the
    // update / delete / insert tail goes through the MERGE
    val s2 = MemoryStream[String]
    val q = CdcIngest.startIngestDeltaMerge(s2.toDF(), s"$dir/table",
      s"$dir/chk_t", trigger = Trigger.ProcessingTime(0))
    try {
      s2.addData(events.take(3): _*)
      q.processAllAvailable()
      s2.addData(events.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val fromTable = graft.sources.delta.DeltaTable.read(spark, s"$dir/table")
      .groupBy("sport_type")
      .agg(org.apache.spark.sql.functions.sum("distance").as("sum_m"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(readView(s"$dir/state") === fromTable)
    assert(fromTable.keySet === Set("run", "bike"))
  }

  test("streaming heavy hitters across batches == batch freq_items; replay-idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("sfreq").toString
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq("a", "b", "a", "c", "a")
    val b2 = Seq("b", "b", "d", "a")
    val s = MemoryStream[String]
    val q = StreamFreq.start(s.toDF().toDF("item"), "item",
      s"$dir/state", s"$dir/chk", capacity = 100,
      trigger = Trigger.ProcessingTime(0))
    try {
      s.addData(b1: _*); q.processAllAvailable()
      s.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamFreq.topK(spark, s"$dir/state", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // capacity >= distinct per batch → exact == full-stream group-by
    val truth = (b1 ++ b2).groupBy(identity).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (i, c) => (-c, i) }
    assert(got === truth)
    assert(got.head === (("a", 4L)))
    // at-least-once replay: re-applying batch 1's summary converges
    StreamFreq.applyBatch(
      StreamFreq.batchSummary(b2.toDF("item"), "item", 100), s"$dir/state", 1L)
    val replayed = StreamFreq.topK(spark, s"$dir/state", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(replayed === truth)
    // add a third layer, compact: result unchanged, fold width bounded
    StreamFreq.applyBatch(
      StreamFreq.batchSummary(Seq("d", "d").toDF("item"), "item", 100),
      s"$dir/state", 2L)
    StreamFreq.compact(spark, s"$dir/state")
    val layers = new java.io.File(s"$dir/state").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(layers.toSeq === Seq("batch=1", "batch=2"))
    val after = StreamFreq.topK(spark, s"$dir/state", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val truth2 = (b1 ++ b2 ++ Seq("d", "d")).groupBy(identity).view
      .mapValues(_.size.toLong).toSeq.sortBy { case (i, c) => (-c, i) }
    assert(after === truth2)
  }

  test("DLQ ingest: malformed envelopes land in the DLQ, valid rows decode; replay converges") {
    val dir = java.nio.file.Files.createTempDirectory("dlq").toString
    implicit val sqlCtx = spark.sqlContext
    val good = env("c", 1, None, Some(("run", 5)), 1000)
    // a routine delete (before set, after null) is VALID — it must be
    // consumed by the append pipeline, not buried in the DLQ
    val del = env("d", 1, Some(("run", 5)), None, 2000)
    val noKey = """{"payload":{"before":null,"after":{"id":null},"op":"c","ts_ms":1}}"""
    val badOp = env("c", 2, None, Some(("walk", 3)), 1001)
      .replace(""""op":"c"""", """"op":"x"""")
    // valid id but NO op field: isin(null) is SQL NULL, and an un-coalesced
    // well_formed would fail both routes — the silent-drop regression
    // (ADVICE r4). Must be a dead letter, not invisible.
    val noOp = """{"payload":{"before":null,"after":{"id":3,"sport_type":"run","distance":2},"ts_ms":1002}}"""
    val garbage = "not json at all {{{"
    // op-appropriate image rule: an update with NO after-image can
    // neither be applied nor keyed for the append sink — it must be a
    // dead letter, not vanish between both filters (an either-image
    // well_formed blessed it into limbo)
    val uNoAfter = env("u", 4, Some(("run", 5)), None, 3000)
    // and a delete wrongly CARRYING an after-image must not be ingested
    // as an insert: before present = well-formed consumed delete
    val dWithAfter = {
      val img = """{"id":5,"id_employee":50,"first_name":"fn","last_name":"ln",""" +
        """"start_datetime":1700000000000000,"sport_type":"run","distance":5,""" +
        """"activity_duration":30,"comment":null}"""
      s"""{"payload":{"before":$img,"after":$img,""" +
        s""""source":{"table":"sport_activities"},"op":"d","ts_ms":3001}}"""
    }
    val s = MemoryStream[String]
    s.addData(good, del, noKey, badOp, noOp, garbage, uNoAfter, dWithAfter)
    val q = CdcIngest.startIngestWithDlq(s.toDF(), s"$dir/data", s"$dir/dlq",
      s"$dir/chk", trigger = Trigger.ProcessingTime(0))
    try { q.processAllAvailable() } finally q.stop()
    val rows = spark.read.parquet(s"$dir/data")
      .select("id", "sport_type").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq === Seq((1, "run")),
      "neither the after-less update nor the after-carrying delete may be ingested")
    val dead = spark.read.parquet(s"$dir/dlq").select("raw")
      .collect().map(_.getString(0)).toSet
    assert(dead === Set(noKey, badOp, noOp, garbage, uNoAfter),
      s"DLQ contents: $dead")
  }

  test("batchDelta: NULL group values aggregate in the NULL group, like GROUP BY") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      env("c", 1, None, Some(("run", 5)), 1000),
      // null sport_type: image present, group value null
      """{"payload":{"before":null,"after":{"id":2,"sport_type":null,"distance":7},""" +
        """"op":"c","ts_ms":1001}}""").toDF("value")
    val delta = IncrementalAgg
      .batchDelta(IncrementalAgg.decodeImages(events), "sport_type", "distance")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(delta === Set((Some("run"), 5L, 1L), (None, 7L, 1L)))
  }

  test("windowed trending across batches == batch truth, late events included") {
    val dir = java.nio.file.Files.createTempDirectory("trend").toString
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    // batch 1: window 10:00 gets a×2, b×1; window 11:00 gets c×1
    val b1 = Seq((t(5), "a"), (t(10), "a"), (t(20), "b"), (t(59), "c"))
    // batch 2: a LATE event for window 10:00 (b), plus 11:00 traffic —
    // the late row must fold into its own window, not the arrival batch's
    val b2 = Seq((t(30), "b"), (t(59), "c"))
    val s = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamFreq.startWindowed(
      s.toDF().toDF("ts", "item"), "ts", "item",
      s"$dir/state", s"$dir/chk", windowDuration = "50 minutes",
      capacity = 100, trigger = Trigger.ProcessingTime(0))
    try {
      s.addData(b1: _*); q.processAllAvailable()
      s.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = StreamFreq.trending(spark, s"$dir/state", k = 2)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // batch truth over the full stream with the same 50-min windows
    val truth = (b1 ++ b2).toDF("ts", "item")
      .groupBy(window(col("ts"), "50 minutes").as("w"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("w"))
          .orderBy(col("cnt").desc, col("item").asc)))
      .filter(col("rnk") <= 2)
      .select(col("w.start"), col("item"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === truth)
    assert(got.map(_._1).size > 1, "stream must span multiple windows")
    // a third layer makes the store compactable (newest layer is never
    // folded); the windowed compact folds WITHIN windows → same trending
    StreamFreq.applyBatch(
      StreamFreq.windowedSummary(Seq((t(7), "a")).toDF("ts", "item"),
        "ts", "item", "50 minutes", 100), s"$dir/state", 2L)
    val want = StreamFreq.trending(spark, s"$dir/state", k = 2)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // the UNWINDOWED compact would sum counts across windows and mix
    // schemas with the remaining layers — the schema guard must refuse
    val ex = intercept[IllegalArgumentException] {
      StreamFreq.compact(spark, s"$dir/state")
    }
    assert(ex.getMessage.contains("schema"), ex.getMessage)
    StreamFreq.compactWindowed(spark, s"$dir/state")
    val layers = new java.io.File(s"$dir/state").listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(layers.toSeq === Seq("batch=1", "batch=2"))
    val after = StreamFreq.trending(spark, s"$dir/state", k = 2)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(after === want)
  }

  test("topK on a store with no layers yet is empty, not an error") {
    assert(StreamFreq.topK(spark,
      java.nio.file.Files.createTempDirectory("nofreq").toString + "/never",
      5).count() === 0L)
  }

  test("compaction interrupted mid-swap recovers losslessly at the next read") {
    val dir = java.nio.file.Files.createTempDirectory("crash").toString
    val path = s"$dir/state"
    def delta(rows: Seq[(String, Long, Long)]) =
      rows.toDF("sport_type", "d_sum", "d_cnt")
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), path, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("bike", 9L, 1L))), path, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L))), path, 2L)
    val want = readView(path)
    // simulate a compaction that crashed right after the point of no
    // return: staged fold durable + pending marker written, swap not run
    delta(Seq(("run", 10L, 2L), ("bike", 9L, 1L)))
      .withColumnRenamed("d_sum", "d_sum").write.mode("overwrite")
      .parquet(s"$path.compact.staged")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path.compact.pending"), true)
    out.write("0,1".getBytes("UTF-8")); out.close()
    // the next reader completes the swap: same view, folded layout
    assert(readView(path) === want)
    val layers = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(layers.toSeq === Seq("batch=1", "batch=2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path.compact.pending")))
  }

  test("a u-event with a null after-image is a no-op, not a phantom delete") {
    val dir = java.nio.file.Files.createTempDirectory("incagg_nullafter").toString
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[String]
    val q = IncrementalAgg.start(s.toDF(), s"$dir/state", s"$dir/chk",
      trigger = Trigger.ProcessingTime(0))
    try {
      s.addData(env("c", 1, None, Some(("run", 5)), 1000))
      q.processAllAvailable()
      // producer bug / partial envelope: an update carrying only the
      // before-image. Subtracting it would drift the view's count below
      // the base table (the row still exists in the source).
      s.addData(env("u", 1, Some(("run", 5)), None, 2000))
      q.processAllAvailable()
      assert(readView(s"$dir/state") === Map("run" -> ((5L, 1L))))
    } finally q.stop()
  }

  test("compaction swap states with the destination moved aside recover losslessly") {
    def delta(rows: Seq[(String, Long, Long)]) =
      rows.toDF("sport_type", "d_sum", "d_cnt")
    val fsOf = (p: String) => new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marker(path: String): Unit = {
      val out = fsOf(path).create(
        new org.apache.hadoop.fs.Path(s"$path.compact.pending"), true)
      out.write("0,1".getBytes("UTF-8")); out.close()
    }
    // state A: crash between the two atomic renames — destination moved
    // aside, staged fold not yet installed
    val pathA = java.nio.file.Files.createTempDirectory("crashA").toString + "/state"
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), pathA, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("bike", 9L, 1L))), pathA, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L))), pathA, 2L)
    val want = readView(pathA)
    delta(Seq(("run", 10L, 2L), ("bike", 9L, 1L)))
      .write.mode("overwrite").parquet(s"$pathA.compact.staged")
    val fsA = fsOf(pathA)
    assert(fsA.rename(new org.apache.hadoop.fs.Path(s"$pathA/batch=1"),
      new org.apache.hadoop.fs.Path(s"$pathA.compact.replaced")))
    fsA.delete(new org.apache.hadoop.fs.Path(s"$pathA/batch=0"), true)
    marker(pathA)
    assert(readView(pathA) === want)
    assert(!fsA.exists(new org.apache.hadoop.fs.Path(s"$pathA.compact.replaced")))
    assert(!fsA.exists(new org.apache.hadoop.fs.Path(s"$pathA.compact.pending")))
    // state B: crash during cleanup — fold installed, aside + marker
    // linger; recovery must NOT destroy the installed fold
    val pathB = java.nio.file.Files.createTempDirectory("crashB").toString + "/state"
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), pathB, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("bike", 9L, 1L))), pathB, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L))), pathB, 2L)
    val wantB = readView(pathB)
    val fsB = fsOf(pathB)
    assert(fsB.rename(new org.apache.hadoop.fs.Path(s"$pathB/batch=1"),
      new org.apache.hadoop.fs.Path(s"$pathB.compact.replaced")))
    delta(Seq(("run", 10L, 2L), ("bike", 9L, 1L)))
      .write.mode("overwrite").parquet(s"$pathB/batch=1") // the installed fold
    fsB.delete(new org.apache.hadoop.fs.Path(s"$pathB/batch=0"), true)
    marker(pathB)
    assert(readView(pathB) === wantB)
    assert(!fsB.exists(new org.apache.hadoop.fs.Path(s"$pathB.compact.replaced")))
    assert(!fsB.exists(new org.apache.hadoop.fs.Path(s"$pathB.compact.pending")))
    // state C: a STALLED second completer moved the already-installed fold
    // aside after the fast completer finished (its own staged-rename then
    // failed — staged was gone): destination missing, fold stranded in the
    // aside, staged absent, marker still pending. The restore step must
    // put the fold back rather than leave every reader folding nothing.
    val pathC = java.nio.file.Files.createTempDirectory("crashC").toString + "/state"
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), pathC, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("bike", 9L, 1L))), pathC, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L))), pathC, 2L)
    val wantC = readView(pathC)
    val fsC = fsOf(pathC)
    delta(Seq(("run", 10L, 2L), ("bike", 9L, 1L)))
      .write.mode("overwrite").parquet(s"$pathC/batch=1") // the installed fold
    fsC.delete(new org.apache.hadoop.fs.Path(s"$pathC/batch=0"), true)
    // the stalled loser's destructive rename: installed fold → aside
    assert(fsC.rename(new org.apache.hadoop.fs.Path(s"$pathC/batch=1"),
      new org.apache.hadoop.fs.Path(s"$pathC.compact.replaced")))
    marker(pathC)
    assert(readView(pathC) === wantC)
    assert(!fsC.exists(new org.apache.hadoop.fs.Path(s"$pathC.compact.replaced")))
    assert(!fsC.exists(new org.apache.hadoop.fs.Path(s"$pathC.compact.pending")))
  }

  test("replaying a batch layer is idempotent; compaction preserves the view") {
    val dir = java.nio.file.Files.createTempDirectory("incagg3").toString
    val path = s"$dir/state"
    def delta(rows: Seq[(String, Long, Long)]) =
      rows.toDF("sport_type", "d_sum", "d_cnt")
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), path, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L), ("bike", 9L, 1L))), path, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("bike", -9L, -1L))), path, 2L)
    val want = Map("run" -> ((15L, 3L)))
    assert(readView(path) === want)
    // at-least-once replay: the same batch id re-applies its own layer
    IncrementalAgg.applyBatch(delta(Seq(("bike", -9L, -1L))), path, 2L)
    assert(readView(path) === want)
    // compaction folds committed layers; the newest stays replayable
    IncrementalAgg.compact(spark, path, "sport_type")
    assert(readView(path) === want)
    val layers = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).sorted
    assert(layers.toSeq === Seq("batch=1", "batch=2"))
    // replaying the newest AFTER compaction still converges
    IncrementalAgg.applyBatch(delta(Seq(("bike", -9L, -1L))), path, 2L)
    assert(readView(path) === want)
  }

  test("viewAt time-travels to any committed batch; degrades to the compaction horizon") {
    val dir = java.nio.file.Files.createTempDirectory("incagg4").toString
    val path = s"$dir/state"
    def delta(rows: Seq[(String, Long, Long)]) =
      rows.toDF("sport_type", "d_sum", "d_cnt")
    def at(b: Long) = IncrementalAgg.viewAt(spark, path, "sport_type", b)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    IncrementalAgg.applyBatch(delta(Seq(("run", 10L, 2L))), path, 0L)
    IncrementalAgg.applyBatch(delta(Seq(("run", 5L, 1L), ("bike", 9L, 1L))), path, 1L)
    IncrementalAgg.applyBatch(delta(Seq(("run", -15L, -3L))), path, 2L)
    assert(at(0L) === Map("run" -> ((10L, 2L))))
    assert(at(1L) === Map("run" -> ((15L, 3L)), "bike" -> ((9L, 1L))))
    assert(at(2L) === Map("bike" -> ((9L, 1L))))
    assert(at(2L) === readView(path))
    // below the compaction horizon, history folds to the horizon
    IncrementalAgg.compact(spark, path, "sport_type")
    assert(at(1L) === Map("run" -> ((15L, 3L)), "bike" -> ((9L, 1L))))
    assert(at(2L) === readView(path))
  }
}
