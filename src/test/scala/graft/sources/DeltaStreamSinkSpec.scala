package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec

/** The DSv2 STREAMING SINK half of the graft-delta connector:
  * `writeStream.format("graft-delta")` appends per-epoch atomic commits
  * with txn-based exactly-once — the reference's
  * `writeStream.format("delta")` surface (`SaveDelta.scala:157-163`),
  * with no foreachBatch in user code. */
class DeltaStreamSinkSpec extends SparkSpec {

  import spark.implicits._

  private def root() =
    java.nio.file.Files.createTempDirectory("dsink").toString

  test("sink appends epochs atomically; restart replays are refused via txn") {
    val r = root(); val t = s"$r/t"; val chk = s"$r/chk"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    def start() = mem.toDF().toDF("id", "s")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime(0)).start()
    def rows() = DeltaTable.read(spark, t).collect()
      .map(x => (x.getInt(0), x.getString(1))).toSet
    val q = start()
    try {
      mem.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      assert(rows() === Set((1, "a"), (2, "b")))
      mem.addData((3, "c"))
      q.processAllAvailable()
      assert(rows() === Set((1, "a"), (2, "b"), (3, "c")))
    } finally q.stop()
    val head = DeltaLog.snapshot(spark, t)
    // every streamed file carries footer stats — data skipping works on
    // sink-written files like any others
    assert(head.files.nonEmpty && head.files.forall(_.stats.isDefined))
    // the query's txn high-water mark is in the log (exactly-once seam)
    assert(head.txns.nonEmpty, "sink commits must carry txn actions")
    // restart from the checkpoint: nothing re-delivered, new data lands
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(rows().size === 3, "restart must not duplicate epochs")
      mem.addData((4, "d"))
      q2.processAllAvailable()
      assert(rows() === Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    } finally q2.stop()
  }

  test("partitioned sink: partitionBy creates hive dirs; a second stream adopts them") {
    val r = root(); val t = s"$r/t"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("id", "lang")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk")
      .option("partitionBy", "lang")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1, "fr"), (2, "de"), (3, "fr"))
      q.processAllAvailable()
    } finally q.stop()
    val head = DeltaLog.snapshot(spark, t)
    assert(head.partitionColumns === Seq("lang"))
    assert(head.files.forall(f => f.path.startsWith("lang=")
      && f.partitionValues.contains("lang")))
    assert(DeltaTable.readWhere(spark, t, col("lang") === "fr")
      .collect().map(_.getInt(0)).toSet === Set(1, 3))
    // a second stream with NO partitionBy adopts the table's partitioning
    val mem2 = MemoryStream[(Int, String)]
    val q2 = mem2.toDF().toDF("id", "lang")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem2.addData((4, "es"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(DeltaLog.snapshot(spark, t).files.forall(_.path.startsWith("lang=")))
    assert(DeltaTable.read(spark, t).count() === 4L)
  }

  test("sink refuses schema drift against an existing table") {
    val r = root(); val t = s"$r/t"
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Int]
    val q = mem.toDF().toDF("id")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    val e = intercept[StreamingQueryException] {
      mem.addData(7)
      q.processAllAvailable()
    }
    def chain(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + chain(x.getCause)
    assert(chain(e).contains("does not match"), chain(e))
    q.stop()
    assert(DeltaTable.read(spark, t).count() === 1L, "no partial epoch may land")
  }

  test("delta-to-delta with NO user foreachBatch: graft-delta source into graft-delta sink") {
    import org.apache.spark.sql.functions.col
    val r = root(); val src = s"$r/src"; val dst = s"$r/dst"
    DeltaTable.write(Seq((1L, 5L), (2L, 4L)).toDF("k", "v"), src, SaveMode.Append)
    def start() = spark.readStream.format("graft-delta").load(src)
      .filter(col("v") % 2 === 1)
      .select(col("k"), (col("v") * 2).as("v2"))
      .writeStream.format("graft-delta")
      .option("path", dst).option("checkpointLocation", s"$r/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    def dstRows() = DeltaTable.read(spark, dst).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val q = start()
    try {
      q.processAllAvailable()
      assert(dstRows() === Set((1L, 10L)))
      DeltaTable.write(Seq((3L, 7L), (4L, 8L)).toDF("k", "v"), src, SaveMode.Append)
      q.processAllAvailable()
      assert(dstRows() === Set((1L, 10L), (3L, 14L)))
    } finally q.stop()
    // restart: source offsets + sink txn marks both hold exactly-once
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(dstRows() === Set((1L, 10L), (3L, 14L)), "restart duplicated rows")
      DeltaTable.write(Seq((5L, 9L)).toDF("k", "v"), src, SaveMode.Append)
      q2.processAllAvailable()
      assert(dstRows() === Set((1L, 10L), (3L, 14L), (5L, 18L)))
    } finally q2.stop()
  }

  test("DSv2 BATCH write: append and overwrite through df.write.format(graft-delta)") {
    val r = root(); val t = s"$r/t"
    // append creates the table (with partitionBy option)
    Seq((1, "fr"), (2, "de")).toDF("id", "lang")
      .write.format("graft-delta").option("partitionBy", "lang")
      .mode(SaveMode.Append).save(t)
    def rows() = DeltaTable.read(spark, t).collect()
      .map(x => (x.getInt(0), x.getString(1))).toSet
    assert(rows() === Set((1, "fr"), (2, "de")))
    assert(DeltaLog.snapshot(spark, t).partitionColumns === Seq("lang"))
    // second append adopts partitioning, enforces schema
    Seq((3, "fr")).toDF("id", "lang")
      .write.format("graft-delta").mode(SaveMode.Append).save(t)
    assert(rows() === Set((1, "fr"), (2, "de"), (3, "fr")))
    val e = intercept[Exception] {
      Seq(7).toDF("id").write.format("graft-delta")
        .mode(SaveMode.Append).save(t)
    }
    def chain(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + chain(x.getCause)
    // refused either as a partition-column or a schema mismatch — both
    // guard the same invariant, whichever fires first
    assert(chain(e).contains("does not match") || chain(e).contains("missing"),
      chain(e))
    // overwrite = one atomic remove+add REPLACE commit; time travel holds
    Seq((9, "es")).toDF("id", "lang")
      .write.format("graft-delta").mode(SaveMode.Overwrite).save(t)
    assert(rows() === Set((9, "es")))
    assert(DeltaTable.read(spark, t, versionAsOf = Some(1L)).count() === 3L)
    // streamed-style files carry stats; readable through every path
    assert(DeltaLog.snapshot(spark, t).files.forall(_.stats.isDefined))
    assert(spark.read.format("graft-delta").load(t).count() === 1L)
  }

  test("sink round-trips the typed CDC shape: timestamp, date, decimal, binary") {
    val r = root(); val t = s"$r/t"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = mem.toDF().selectExpr(
        "value AS id",
        "timestamp_micros(value * 1000000) AS ts",
        "date_add(DATE'2024-01-01', CAST(value AS int)) AS d",
        "CAST(value AS DECIMAL(10,2)) / 4 AS amount",
        "CAST(concat('b', value) AS binary) AS payload")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(1L, 2L)
      q.processAllAvailable()
    } finally q.stop()
    val got = DeltaTable.read(spark, t)
      .selectExpr("id", "unix_micros(ts)", "CAST(d AS STRING)",
        "CAST(amount AS STRING)", "CAST(payload AS STRING)")
      .collect().map(_.toSeq).toSet
    assert(got === Set(
      Seq(1L, 1000000L, "2024-01-02", "0.250000", "b1"),
      Seq(2L, 2000000L, "2024-01-03", "0.500000", "b2")),
      s"got $got")
  }

  test("sink reports per-epoch metrics through StreamingQueryProgress") {
    val r = root(); val t = s"$r/t"
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, String)]
    val q = mem.toDF().toDF("id", "s")
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1, "a"), (2, "b"), (3, "c"))
      q.processAllAvailable()
      mem.addData((4, "d"))
      q.processAllAvailable()
      // the LAST data-carrying progress entry has the epoch's counts
      val withRows = q.recentProgress.filter(_.sink.numOutputRows > 0)
      assert(withRows.nonEmpty, "no data-carrying progress recorded")
      val m = withRows.last.sink.metrics
      assert(m.get("numOutputRows") === "1", s"metrics: $m")
      assert(m.get("numAddedFiles").toLong >= 1L, s"metrics: $m")
      assert(m.get("totalOutputRows") === "4", s"metrics: $m")
      assert(m.get("numCommits").toLong >= 2L, s"metrics: $m")
      assert(m.get("numSkippedReplays") === "0", s"metrics: $m")
      assert(m.get("epochId").toLong >= 1L, s"metrics: $m")
    } finally q.stop()
  }
}
