package graft.sources.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.SparkSpec

/** [[DeltaLog.metaSnapshot]] — the metadata-only head APPEND-shaped
  * commits read (round 13: removes the last routine O(#files) driver
  * replay from the write path). Pinned: field-identity with the full
  * [[DeltaLog.snapshot]] on every non-file field, across plain logs,
  * checkpointed logs with tails, feature-bearing (DV) tables, and
  * cleaned histories; and the append paths actually ride it (the
  * existing write/sink suites exercise the route on every append). */
class MetaSnapshotSpec extends SparkSpec {

  import spark.implicits._

  private def metaFields(s: DeltaLog.Snapshot) = (
    s.version, s.schemaJson, s.txns, s.partitionColumns, s.metaDataId,
    s.configuration, s.minReaderVersion, s.minWriterVersion,
    s.readerFeatures, s.writerFeatures)

  /** Spark jobs `body` starts. They run under a fresh job group; a
    * marker job in a second group follows, and the listener bus delivers
    * in order, so once the marker's start arrives every start of `body`
    * has too. */
  private def jobsStarted(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == group => counted.incrementAndGet()
          case Some(g) if g == s"$group-marker" => markerSeen.set(true)
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(30.seconds), interval(10.millis))(assert(markerSeen.get))
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def assertSameState(got: DeltaLog.Snapshot,
                              want: DeltaLog.Snapshot): Unit = {
    assert(metaFields(got) === metaFields(want))
    // AddFile equality covers stats, partition values, modificationTime
    // and the deletion-vector descriptor
    assert(got.files === want.files)
    assert(got.tombstones === want.tombstones)
  }

  /** Parity of metaSnapshot with snapshot, and of each cached read with
    * the first, uncached decode of the same checkpoint. */
  private def assertParity(t: String): Unit = {
    DeltaLog.CheckpointCache.clear()
    val full = DeltaLog.snapshot(spark, t)
    val meta = DeltaLog.metaSnapshot(spark, t)
    assert(metaFields(meta) === metaFields(full))
    assert(meta.files.isEmpty && meta.tombstones.isEmpty)
    assertSameState(DeltaLog.snapshot(spark, t), full)
    DeltaLog.CheckpointCache.clear()
    val metaFirst = DeltaLog.metaSnapshot(spark, t)
    assertSameState(metaFirst, meta)
    assertSameState(DeltaLog.metaSnapshot(spark, t), meta)
    assertSameState(DeltaLog.snapshot(spark, t), full)
  }

  test("metaSnapshot equals snapshot on every non-file field") {
    val t = java.nio.file.Files.createTempDirectory("graft_ms1").toString + "/t"
    // plain JSON log
    DeltaTable.write((0L until 100L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(4L))), t, SaveMode.Append,
      partitionBy = Seq("k"))
    assertParity(t)
    // txn marks + configuration + protocol features (DV bump) + a DV
    // delete + checkpoint + tail commits
    DeltaTable.appendWithTxn((100L until 120L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(4L))), t, "app-x", 3L)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true",
        "delta.enableChangeDataFeed" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(7L)) === 1)
    assertParity(t)
    DeltaLog.checkpoint(spark, t)
    assertParity(t) // checkpoint-seeded, empty tail
    assert(DeltaLog.snapshot(spark, t).files.exists(_.dv.nonEmpty),
      "the checkpoint under test must carry deletion vectors")
    DeltaTable.appendWithTxn((120L until 140L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(4L))), t, "app-x", 5L)
    DeltaTable.setProperties(spark, t, Map("graft.custom" -> "v"))
    assertParity(t) // checkpoint + tail with metadata/txn overrides
    // cleaned history: reconstruct from the checkpoint alone
    DeltaTable.write(Seq((150L, 2L)).toDF("id", "k"), t, SaveMode.Overwrite,
      partitionBy = Seq("k"))
    DeltaLog.checkpoint(spark, t)
    assert(DeltaLog.snapshot(spark, t).tombstones.nonEmpty,
      "the checkpoint under test must carry tombstones")
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    assertParity(t)
    // and appends keep working on the metadata-only route (the write
    // path reads metaSnapshot for mode=Append)
    DeltaTable.appendWithTxn((140L until 150L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(4L))), t, "app-x", 7L)
    assert(DeltaLog.snapshot(spark, t).txns("app-x") === 7L)
    assertParity(t)
  }

  test("auto-checkpoint fires every Nth commit; property coarsens; conf disables") {
    val dir = java.nio.file.Files.createTempDirectory("graft_acp").toString
    val t = s"$dir/t"
    spark.conf.set("spark.graft.delta.checkpointInterval", "4")
    try {
      (0 until 4).foreach(i =>
        DeltaTable.write(Seq(i.toLong).toDF("id"), t, SaveMode.Append))
      // commits v0..v3: the 4th commit (v3) is not a multiple — no
      // checkpoint yet; v4 lands one from the WRITE path itself
      assert(DeltaLog.lastCheckpointVersion(spark, t).isEmpty)
      DeltaTable.write(Seq(4L).toDF("id"), t, SaveMode.Append) // v4
      assert(DeltaLog.lastCheckpointVersion(spark, t).contains(4L),
        "the interval commit must auto-checkpoint")
      // the table property coarsens the cadence: v8 skips (8 % 16 != 0)
      DeltaTable.setProperties(spark, t,
        Map("delta.checkpointInterval" -> "16")) // v5
      (6 to 9).foreach(i =>
        DeltaTable.write(Seq(i.toLong).toDF("id"), t, SaveMode.Append))
      assert(DeltaLog.lastCheckpointVersion(spark, t).contains(4L),
        "a coarser table interval must suppress the session cadence")
      assert(DeltaTable.read(spark, t).count() === 9L)
    } finally spark.conf.unset("spark.graft.delta.checkpointInterval")
    // conf 0 disables entirely
    val t2 = s"$dir/t2"
    spark.conf.set("spark.graft.delta.checkpointInterval", "0")
    try {
      (0 until 12).foreach(i =>
        DeltaTable.write(Seq(i.toLong).toDF("id"), t2, SaveMode.Append))
      assert(DeltaLog.lastCheckpointVersion(spark, t2).isEmpty)
    } finally spark.conf.unset("spark.graft.delta.checkpointInterval")
  }

  test("table checkpointInterval property directly governs cadence (finer and non-multiple)") {
    // upstream semantics: the table property, when present, IS the
    // cadence — not an lcm with the session default (round-14 fix; the
    // property used to be consulted only on session-interval boundaries)
    val dir = java.nio.file.Files.createTempDirectory("graft_acp2").toString
    spark.conf.set("spark.graft.delta.checkpointInterval", "4")
    try {
      // FINER than the session default: property 2 fires at v2, where
      // the session cadence alone would wait for v4
      val t = s"$dir/fine"
      DeltaTable.write(Seq(0L).toDF("id"), t, SaveMode.Append) // v0
      DeltaTable.setProperties(spark, t,
        Map("delta.checkpointInterval" -> "2")) // v1
      DeltaTable.write(Seq(1L).toDF("id"), t, SaveMode.Append) // v2
      assert(DeltaLog.lastCheckpointVersion(spark, t).contains(2L),
        "a finer table interval must fire at its own cadence")
      // NON-MULTIPLE of the session default: property 3 fires at v3
      // (the old lcm effect would have postponed to v12)
      val t2 = s"$dir/coarse"
      DeltaTable.write(Seq(0L).toDF("id"), t2, SaveMode.Append) // v0
      DeltaTable.setProperties(spark, t2,
        Map("delta.checkpointInterval" -> "3")) // v1
      DeltaTable.write(Seq(1L).toDF("id"), t2, SaveMode.Append) // v2
      assert(DeltaLog.lastCheckpointVersion(spark, t2).isEmpty)
      DeltaTable.write(Seq(2L).toDF("id"), t2, SaveMode.Append) // v3
      assert(DeltaLog.lastCheckpointVersion(spark, t2).contains(3L),
        "a non-multiple table interval must not degrade to the lcm")
      // property 0 disables the table even with the session cadence on
      val t3 = s"$dir/off"
      DeltaTable.write(Seq(0L).toDF("id"), t3, SaveMode.Append) // v0
      DeltaTable.setProperties(spark, t3,
        Map("delta.checkpointInterval" -> "0")) // v1
      (2 to 8).foreach(i =>
        DeltaTable.write(Seq(i.toLong).toDF("id"), t3, SaveMode.Append))
      assert(DeltaLog.lastCheckpointVersion(spark, t3).isEmpty,
        "property 0 must disable auto-checkpointing for the table")
    } finally spark.conf.unset("spark.graft.delta.checkpointInterval")
  }

  test("metaSnapshot refuses the same partial states snapshot refuses") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ms2").toString
    val t = s"$dir/t"
    DeltaTable.write(Seq(1L).toDF("id"), t, SaveMode.Append) // v0
    DeltaTable.write(Seq(2L).toDF("id"), t, SaveMode.Append) // v1
    DeltaTable.write(Seq(3L).toDF("id"), t, SaveMode.Append) // v2
    // simulate a partial clean: v0 gone, no covering checkpoint
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(DeltaLog.logFile(new org.apache.hadoop.fs.Path(t), 0L), false)
    val e1 = intercept[IllegalArgumentException] {
      DeltaLog.metaSnapshot(spark, t)
    }
    assert(e1.getMessage.contains("no covering checkpoint"))
    val e2 = intercept[IllegalArgumentException] { DeltaLog.snapshot(spark, t) }
    assert(e2.getMessage.contains("no covering checkpoint"))
  }

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("after a first read, a checkpointed table's log reads start no Spark job") {
    val t = tmpTable("graft_ms_jobs")
    def batch(from: Long) = (from until from + 20L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(4L)))
    DeltaTable.write(batch(0L), t, SaveMode.Append, partitionBy = Seq("k"))
    DeltaTable.appendWithTxn(batch(20L), t, "app-j", 1L)
    DeltaLog.checkpoint(spark, t)
    DeltaTable.appendWithTxn(batch(40L), t, "app-j", 2L) // a JSON tail
    val first = DeltaLog.snapshot(spark, t) // decodes the checkpoint
    assert(jobsStarted(DeltaLog.snapshot(spark, t)) === 0)
    assert(jobsStarted(DeltaLog.metaSnapshot(spark, t)) === 0)
    assert(jobsStarted(DeltaLog.metaSnapshot(spark, t, Some(2L))) === 0)
    assert(DeltaLog.snapshot(spark, t) === first)
    // an append's one job is its staging write
    val next = batch(60L)
    assert(jobsStarted(DeltaTable.appendWithTxn(next, t, "app-j", 3L)) === 1)
    assert(DeltaLog.snapshot(spark, t).txns("app-j") === 3L)
    assert(DeltaTable.read(spark, t).count() === 80L)
  }

  test("a table recreated at the same path reads its own checkpoint, not the cached one") {
    val t = tmpTable("graft_ms_recreate")
    def build(ids: Seq[Long]): DeltaLog.Snapshot = {
      DeltaTable.write(ids.take(5).toDF("id"), t, SaveMode.Append) // v0
      DeltaTable.write(ids.drop(5).toDF("id"), t, SaveMode.Append) // v1
      assert(DeltaLog.checkpoint(spark, t) === 1L)
      DeltaLog.snapshot(spark, t)
    }
    val old = build(0L until 10L)
    assert(DeltaLog.metaSnapshot(spark, t).metaDataId === old.metaDataId)
    val tbl = new Path(t)
    tbl.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(tbl, true)
    val fresh = build(100L until 110L)
    assert(fresh.metaDataId !== old.metaDataId)
    assert(fresh.files.map(_.path).intersect(old.files.map(_.path)).isEmpty)
    assert(DeltaLog.metaSnapshot(spark, t).metaDataId === fresh.metaDataId)
    assert(DeltaTable.read(spark, t).as[Long].collect().toSet ===
      (100L until 110L).toSet)
    DeltaLog.CheckpointCache.clear()
    assertSameState(fresh, DeltaLog.snapshot(spark, t))
  }

  test("a multi-part checkpoint is cached whole; a deleted part fails as an uncached read does") {
    val t = tmpTable("graft_ms_parts")
    (0 until 4).foreach(i =>
      DeltaTable.write((i * 10L until i * 10L + 10L).toDF("id"), t,
        SaveMode.Append))
    val json = DeltaLog.snapshot(spark, t) // no checkpoint yet
    spark.conf.set("spark.graft.delta.checkpointPartRows", "2")
    try DeltaLog.checkpoint(spark, t)
    finally spark.conf.unset("spark.graft.delta.checkpointPartRows")
    val cp = DeltaLog.lastCheckpoint(spark, t).get
    assert(cp.parts.exists(_ > 1), s"expected a multi-part checkpoint: $cp")
    DeltaLog.CheckpointCache.clear()
    val first = DeltaLog.snapshot(spark, t)
    // which part holds which row is unspecified, so compare as sets
    assert(first.files.map(f => (f.path, f.size, f.modificationTime)).toSet ===
      json.files.map(f => (f.path, f.size, f.modificationTime)).toSet)
    assert(jobsStarted(assertSameState(DeltaLog.snapshot(spark, t), first)) === 0)
    assert(DeltaTable.read(spark, t).count() === 40L)
    // a part deleted after it was cached: the read must not be served
    // from the cache, and fails with the uncached read's error
    val part = DeltaLog.checkpointPaths(new Path(t), cp.version, cp.parts)(1)
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(part, false)
    Seq[() => Any](() => DeltaLog.snapshot(spark, t),
        () => DeltaLog.metaSnapshot(spark, t)).foreach { read =>
      val e = intercept[AnalysisException](read())
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
      assert(e.getMessage.contains(part.getName), e.getMessage)
    }
  }

  test("a checkpoint past the replay threshold caches only its metadata rows") {
    val t = tmpTable("graft_ms_bound")
    (0 until 3).foreach(i =>
      DeltaTable.write(Seq(i.toLong).toDF("id"), t, SaveMode.Append))
    DeltaLog.checkpoint(spark, t) // 3 add rows
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", "2")
    try {
      DeltaLog.CheckpointCache.clear()
      val first = DeltaLog.snapshot(spark, t)
      // the add rows are not held, so each snapshot decodes them again
      assert(jobsStarted(assertSameState(DeltaLog.snapshot(spark, t), first)) > 0)
      // the protocol/metaData/txn rows are
      DeltaLog.metaSnapshot(spark, t)
      assert(jobsStarted(DeltaLog.metaSnapshot(spark, t)) === 0)
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  test("past the replay threshold, a warm prunedSnapshot starts only its checkpoint read and add collect") {
    val t = tmpTable("graft_ms_pruned")
    (0 until 3).foreach(i =>
      DeltaTable.write(Seq(i.toLong).toDF("id"), t, SaveMode.Append))
    DeltaLog.checkpoint(spark, t) // 3 add rows
    // a JSON tail that removes a checkpointed file and adds one
    DeltaTable.delete(spark, t, col("id") === 0L)
    DeltaTable.write(Seq(3L).toDF("id"), t, SaveMode.Append)
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", "2")
    try {
      DeltaLog.CheckpointCache.clear()
      val first = DeltaLog.prunedSnapshot(spark, t, Map.empty)
      assert(first.files.size === 3)
      // the protocol and metaData rows come from the cached checkpoint
      // state: what is left is the parquet schema read and the pruned
      // add collect
      assert(jobsStarted(assert(
        DeltaLog.prunedSnapshot(spark, t, Map.empty) === first)) === 2)
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  test("re-checkpointing after a lost _last_checkpoint restores its row count from the footer") {
    val t = tmpTable("graft_ms_pointer")
    DeltaTable.write(Seq(1L, 2L).toDF("id"), t, SaveMode.Append) // v0
    DeltaTable.write(Seq(3L).toDF("id"), t, SaveMode.Overwrite) // v1
    assert(DeltaLog.checkpoint(spark, t) === 1L)
    val written = DeltaLog.lastCheckpoint(spark, t).get
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(DeltaLog.logDir(tbl), "_last_checkpoint"), false))
    assert(DeltaLog.lastCheckpoint(spark, t).isEmpty)
    // the checkpoint file for the head exists, so only the pointer is
    // rewritten — its size read from the parquet footer, with no job
    assert(jobsStarted(assert(DeltaLog.checkpoint(spark, t) === 1L)) === 0)
    val restored = DeltaLog.lastCheckpoint(spark, t).get
    assert(restored === written)
    val head = DeltaLog.snapshot(spark, t)
    // protocol + metaData + the live add + the overwrite's tombstones
    assert(restored.size === 2L + head.files.size + head.tombstones.size)
    assert(restored.size === spark.read.parquet(
      DeltaLog.checkpointFile(tbl, 1L).toString).count())
  }
}
