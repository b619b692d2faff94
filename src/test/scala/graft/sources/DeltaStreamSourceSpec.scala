package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.SparkSpec
import graft.sources.delta.DeltaTable

class DeltaStreamSourceSpec extends SparkSpec {

  import spark.implicits._

  test("graft-delta source: incremental tail, maintenance-transparent, exactly-once restart") {
    val root = java.nio.file.Files.createTempDirectory("dstream").toString
    val t = s"$root/t"; val outp = s"$root/out"; val chk = s"$root/chk"
    DeltaTable.write(Seq((1L, "a")).toDF("k", "p"), t, SaveMode.Append,
      partitionBy = Seq("p"))
    def readOut() = spark.read.parquet(outp)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("p"))).toSet
    def start() = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime(0)).start()
    val q = start()
    try {
      // initial offset -1: the existing table arrives as the first batch,
      // partition column restored from the add-action's partitionValues
      q.processAllAvailable()
      assert(readOut() === Set((1L, "a")))
      // appends stream in incrementally
      DeltaTable.write(Seq((2L, "a"), (3L, "b")).toDF("k", "p"), t, SaveMode.Append)
      q.processAllAvailable()
      assert(readOut() === Set((1L, "a"), (2L, "a"), (3L, "b")))
      // a dataChange=false compaction advances the offset but re-delivers
      // NOTHING — its rows already arrived from the files it rearranged
      DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue)
      q.processAllAvailable()
      assert(readOut().size === 3, "maintenance rewrite must not re-deliver rows")
    } finally q.stop()
    // restart from the checkpoint: offsets resume, nothing re-delivered
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(readOut().size === 3, "restart must not re-deliver")
      DeltaTable.write(Seq((4L, "b")).toDF("k", "p"), t, SaveMode.Append)
      q2.processAllAvailable()
      assert(readOut() === Set((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b")))
    } finally q2.stop()
  }

  test("graft-delta source refuses a data-changing overwrite mid-stream") {
    val root = java.nio.file.Files.createTempDirectory("dstream2").toString
    val t = s"$root/t"
    DeltaTable.write(Seq((1L, 10L)).toDF("k", "v"), t, SaveMode.Append)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      DeltaTable.write(Seq((2L, 20L)).toDF("k", "v"), t, SaveMode.Overwrite)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert(e.getMessage.contains("overwritten") || e.getCause.getMessage.contains("overwritten"),
        s"must fail the append-only contract loudly: ${e.getMessage}")
    } finally q.stop()
  }

  test("startingVersion=latest tails only NEW commits — the overwritten-history escape hatch") {
    val root = java.nio.file.Files.createTempDirectory("dstream4").toString
    val t = s"$root/t"
    DeltaTable.write(Seq((1L, 10L)).toDF("k", "v"), t, SaveMode.Append)
    DeltaTable.write(Seq((2L, 20L)).toDF("k", "v"), t, SaveMode.Overwrite)
    // history contains a data-changing remove → earliest would fail; a
    // latest-anchored stream skips history and tails cleanly
    val q = spark.readStream.format("graft-delta")
      .option("startingVersion", "latest").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      DeltaTable.write(Seq((3L, 30L)).toDF("k", "v"), t, SaveMode.Append)
      q.processAllAvailable()
      val got = spark.read.parquet(s"$root/out")
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
      assert(got === Set((3L, 30L)), s"latest must skip history, got $got")
    } finally q.stop()
  }

  test("delta-to-delta pipeline: source offsets + txn sink compose end-to-end exactly-once") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("d2d").toString
    val src = s"$root/src"; val dst = s"$root/dst"; val chk = s"$root/chk"
    DeltaTable.write(Seq((1L, 5L), (2L, 4L)).toDF("k", "v"), src, SaveMode.Append)
    def start() = spark.readStream.format("graft-delta").load(src)
      .filter(col("v") % 2 === 1)
      .select(col("k"), (col("v") * 2).as("v2"))
      .writeStream.option("checkpointLocation", chk)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        DeltaTable.appendWithTxn(df, dst, appId = "d2d", txnVersion = id); ()
      }
      .trigger(Trigger.ProcessingTime(0)).start()
    def readDst() = DeltaTable.read(spark, dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = start()
    try {
      q.processAllAvailable()
      assert(readDst() === Set((1L, 10L)))
      DeltaTable.write(Seq((3L, 7L), (4L, 8L)).toDF("k", "v"), src, SaveMode.Append)
      q.processAllAvailable()
      assert(readDst() === Set((1L, 10L), (3L, 14L)))
    } finally q.stop()
    // restart: the source resumes from the checkpointed offset AND the
    // sink's txn high-water mark refuses any replayed batch — two
    // independent exactly-once layers, both exercised
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(readDst() === Set((1L, 10L), (3L, 14L)), "restart duplicated rows")
      DeltaTable.write(Seq((5L, 9L)).toDF("k", "v"), src, SaveMode.Append)
      q2.processAllAvailable()
      assert(readDst() === Set((1L, 10L), (3L, 14L), (5L, 18L)))
    } finally q2.stop()
  }

  test("graft-delta source runs under Trigger.AvailableNow (drain-and-stop)") {
    val root = java.nio.file.Files.createTempDirectory("dstream5").toString
    val t = s"$root/t"
    DeltaTable.write(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), t, SaveMode.Append)
    DeltaTable.write(Seq((3L, 30L)).toDF("k", "v"), t, SaveMode.Append)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(s"$root/out")
      .collect().map(_.getAs[Long]("k")).toSet === Set(1L, 2L, 3L))
  }

  test("maxFilesPerTrigger bounds each batch; the backlog drains across batches") {
    val root = java.nio.file.Files.createTempDirectory("dstream8").toString
    val t = s"$root/t"
    // three separate commits = three add-files of backlog
    (1 to 3).foreach(i =>
      DeltaTable.write(Seq((i.toLong, i * 10L)).toDF("k", "v"), t, SaveMode.Append))
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/out")
        .collect().map(_.getAs[Long]("k")).toSet === Set(1L, 2L, 3L),
        "rate-limited drain must still deliver everything")
      // the backlog was segmented: >1 batch carried rows (one unbounded
      // catch-up batch is exactly what admission control forbids)
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3, s"expected >=3 rate-limited batches, got $dataBatches")
    } finally q.stop()
  }

  test("Trigger.AvailableNow honors the rate limit: bounded batches, then a clean stop") {
    val root = java.nio.file.Files.createTempDirectory("dstream9").toString
    val t = s"$root/t"
    (1 to 3).foreach(i =>
      DeltaTable.write(Seq((i.toLong, i * 10L)).toDF("k", "v"), t, SaveMode.Append))
    val q = spark.readStream.format("graft-delta")
      .option("maxFilesPerTrigger", "1").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "available-now query must terminate")
    assert(spark.read.parquet(s"$root/out")
      .collect().map(_.getAs[Long]("k")).toSet === Set(1L, 2L, 3L))
    // with SupportsTriggerAvailableNow the drain is SEGMENTED (the old
    // fallback collapsed it into one unbounded batch)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3, s"expected segmented available-now drain, got $dataBatches")
  }

  test("binary columns (multimodal payloads) stream byte-identical") {
    val root = java.nio.file.Files.createTempDirectory("dstream10").toString
    val t = s"$root/t"
    val payload = Array[Byte](0, 1, -1, 127, -128, 42)
    DeltaTable.write(Seq((1L, payload), (2L, Array.emptyByteArray))
      .toDF("k", "media"), t, SaveMode.Append)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(s"$root/out").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Array[Byte]]("media").toSeq).toMap
    assert(got === Map(1L -> payload.toSeq, 2L -> Seq.empty))
  }

  test("graft-delta streams the engine's own CDC-sink types: timestamp, decimal, date") {
    // the shape Ops.decodeCdc/commuteValid write (TimestampType,
    // DecimalType(10,2)) — round 6's reader refused these at plan time,
    // so the Delta-to-Delta pipeline could not tail its own CDC sink
    val root = java.nio.file.Files.createTempDirectory("dstream6").toString
    val t = s"$root/t"; val outp = s"$root/out"; val chk = s"$root/chk"
    def batch(fromId: Long, n: Long) = spark.range(fromId, fromId + n).selectExpr(
      "id AS k",
      "timestamp_micros(1700000000000000 + id * 1000001) AS ts",
      "CAST(id * 12.57 AS DECIMAL(10,2)) AS amount",
      "DATE_ADD(DATE'2024-03-01', CAST(id AS INT)) AS d",
      "CAST(id * 99999999999.123 AS DECIMAL(38,6)) AS big")
    DeltaTable.write(batch(0, 3), t, SaveMode.Append)
    def start() = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime(0)).start()
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("k", "CAST(ts AS STRING)", "CAST(amount AS STRING)",
        "CAST(d AS STRING)", "CAST(big AS STRING)")
        .collect().map(_.toSeq).toSet
    val q = start()
    try {
      q.processAllAvailable()
      assert(normalize(spark.read.parquet(outp)) ===
        normalize(DeltaTable.read(spark, t)))
      assert(spark.read.parquet(outp).schema("amount").dataType ===
        org.apache.spark.sql.types.DecimalType(10, 2))
      assert(spark.read.parquet(outp).schema("ts").dataType ===
        org.apache.spark.sql.types.TimestampType)
    } finally q.stop()
    // restart: appended typed rows stream in, values bit-identical to batch
    DeltaTable.write(batch(3, 2), t, SaveMode.Append)
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(normalize(spark.read.parquet(outp)) ===
        normalize(DeltaTable.read(spark, t)))
      assert(spark.read.parquet(outp).count() === 5)
    } finally q2.stop()
  }

  test("timestamp/date/decimal PARTITION columns restore through the stream (path-escaped)") {
    val root = java.nio.file.Files.createTempDirectory("dstream7").toString
    val t = s"$root/t"; val outp = s"$root/out"
    val df = spark.range(4).selectExpr(
      "id AS k",
      "timestamp_micros(1700000000000000 + (id % 2) * 3661000000) AS ts",
      "DATE_ADD(DATE'2024-03-01', CAST(id % 2 AS INT)) AS d",
      "CAST((id % 2) * 10.25 AS DECIMAL(10,2)) AS amt")
    DeltaTable.write(df, t, SaveMode.Append, partitionBy = Seq("ts", "d", "amt"))
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def normalize(dfx: org.apache.spark.sql.DataFrame) =
      dfx.selectExpr("k", "CAST(ts AS STRING)", "CAST(d AS STRING)",
        "CAST(amt AS STRING)").collect().map(_.toSeq).toSet
    assert(normalize(spark.read.parquet(outp)) === normalize(DeltaTable.read(spark, t)))
  }

  test("partition-path type matrix: parse round-trips, null sentinel, unescape; parquet type gate") {
    import graft.sources.delta.PartitionPath
    import org.apache.spark.sql.types._
    val utc = java.time.ZoneOffset.UTC
    // parsePartition takes LOGICAL values (the form actions store per
    // the protocol); Hive-path escaping is undone once, at the
    // path→logical boundary (partValuesFromPath)
    assert(PartitionPath.partValuesFromPath(
      "ts=2024-01-02 03%3A04%3A05/part-x.parquet")
      === Map("ts" -> "2024-01-02 03:04:05"))
    assert(PartitionPath.parsePartition("2024-01-02 03:04:05", TimestampType, utc)
      === java.time.Instant.parse("2024-01-02T03:04:05Z").getEpochSecond * 1000000L)
    // a value that legitimately contains a %XX sequence must survive
    // parsePartition verbatim (no double-unescape)
    assert(PartitionPath.parsePartition("a%3Ab", StringType, utc)
      === org.apache.spark.unsafe.types.UTF8String.fromString("a%3Ab"))
    // session-zone semantics: the same wall-clock string in Paris is 1h earlier UTC
    val paris = java.time.ZoneId.of("Europe/Paris")
    assert(PartitionPath.parsePartition("2024-01-02 03:04:05", TimestampType, paris)
      === java.time.Instant.parse("2024-01-02T02:04:05Z").getEpochSecond * 1000000L)
    // NTZ is zoneless: same micros whatever the session zone
    assert(PartitionPath.parsePartition("2024-01-02 03:04:05", TimestampNTZType, paris)
      === PartitionPath.parsePartition("2024-01-02 03:04:05", TimestampNTZType, utc))
    assert(PartitionPath.parsePartition("7", ByteType, utc) === 7.toByte)
    assert(PartitionPath.parsePartition("300", ShortType, utc) === 300.toShort)
    assert(PartitionPath.parsePartition("2024-03-05", DateType, utc)
      === java.time.LocalDate.of(2024, 3, 5).toEpochDay.toInt)
    assert(PartitionPath.parsePartition("12.50", DecimalType(10, 2), utc)
      === org.apache.spark.sql.types.Decimal("12.50"))
    assert(PartitionPath.parsePartition("__HIVE_DEFAULT_PARTITION__", TimestampType, utc) === null)
    assert(PartitionPath.parsePartition(null, DateType, utc) === null)
    // the type gate asks what the shared parquet reader reads: a log
    // whose schema carries an interval column refuses at schema
    // resolution, before any file is planned
    val t = java.nio.file.Files.createTempDirectory("dstream_gate").toString + "/t"
    DeltaTable.write(Seq((1L, "a")).toDF("k", "iv"), t, SaveMode.Append)
    val v0 = java.nio.file.Paths.get(s"$t/_delta_log/00000000000000000000.json")
    val log = new String(java.nio.file.Files.readAllBytes(v0), "UTF-8")
    val stringIv = "\\\"name\\\":\\\"iv\\\",\\\"type\\\":\\\"string\\\""
    assert(log.contains(stringIv), log)
    java.nio.file.Files.write(v0,
      log.replace(stringIv, stringIv.replace("string", "interval")).getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-delta").load(t)
    }
    assert(e.getMessage.contains("unsupported column type interval for iv"),
      e.getMessage)
  }

  test("mid-stream mergeSchema evolution refuses loudly; restart adopts the new schema exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("dstream11").toString
    val t = s"$root/t"; val outp = s"$root/out"; val chk = s"$root/chk"
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", chk)
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      // a mergeSchema append lands a column this stream's pinned schema
      // lacks — delivering it would silently DROP the new column's data
      DeltaTable.write(Seq((2L, "b", 10L)).toDF("k", "s", "extra"), t,
        SaveMode.Append, mergeSchema = true)
      val e = intercept[StreamingQueryException] { q.processAllAvailable() }
      assert((e.getMessage + e.getCause.getMessage).contains("schema evolved"),
        s"must refuse mid-stream evolution loudly: ${e.getMessage}")
    } finally q.stop()
    // restart against the SAME sink+checkpoint: the re-inferred schema
    // carries the new column; offsets resume from the checkpoint so v0's
    // row is NOT re-delivered, only the unread evolved commit lands
    val q2 = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val got = spark.read.option("mergeSchema", "true").parquet(outp).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"),
        Option(r.getAs[Any]("extra")))).toSet
    assert(got === Set((1L, "a", None), (2L, "b", Some(10L))),
      s"restart must deliver exactly the unread evolved commit, got $got")
  }

  test("nested columns stream: array<float> vectors, array null/empty, map, struct, array<array>") {
    val root = java.nio.file.Files.createTempDirectory("dstream3").toString
    val t = s"$root/t"; val outp = s"$root/out"
    // the embeddings-table shape (array<float> vec) plus every nested
    // edge: empty array, NULL array, null element, map, struct with a
    // null field, array-of-array
    val df = spark.range(4).selectExpr(
      "id AS k",
      """CASE WHEN id = 1 THEN array()
              WHEN id = 2 THEN CAST(NULL AS array<float>)
              WHEN id = 3 THEN array(CAST(0.5 AS float), CAST(NULL AS float))
              ELSE array(CAST(id AS float), CAST(id * 2 AS float)) END AS vec""",
      "map(concat('k', id), id * 10, 'z', CAST(NULL AS bigint)) AS m",
      "named_struct('a', id + 1, 'b', IF(id = 0, CAST(NULL AS string), concat('s', id))) AS st",
      "array(array(id), array(id, id + 1)) AS aa")
    DeltaTable.write(df, t, SaveMode.Append)
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    def normalize(dfx: org.apache.spark.sql.DataFrame) =
      dfx.selectExpr("k", "to_json(named_struct('vec', vec, 'm', m, 'st', st, 'aa', aa))")
        .collect().map(_.toSeq).toSet
    assert(normalize(spark.read.parquet(outp)) === normalize(DeltaTable.read(spark, t)))
    assert(spark.read.parquet(outp).schema("vec").dataType ===
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))
  }

  test("readChangeFeed stream tails DML commits: derived inserts, precise delete/merge changes") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("dstream_cdf").toString
    val t = s"$root/t"; val outp = s"$root/out"
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, SaveMode.Append) // v0
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))                                // v1
    DeltaTable.delete(spark, t, col("id") === 1)                                  // v2 precise
    DeltaTable.merge(Seq((2, "b2"), (3, "c")).toDF("id", "s"), t, "id")           // v3 precise
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(outp)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(got === Set(
      (1, "a", "insert", 0L), (2, "b", "insert", 0L),   // v0 derived
      (1, "a", "delete", 2L),                           // v2 precise cdc
      (2, "b", "update_preimage", 3L), (2, "b2", "update_postimage", 3L),
      (3, "c", "insert", 3L)),                          // v3 precise cdc
      s"got $got")
    // timestamps are real commit times, never 1970
    assert(spark.read.parquet(outp)
      .selectExpr("min(unix_millis(_commit_timestamp))").head().getLong(0)
      > 1577836800000L)
    // the PLAIN stream on the same history refuses the DML commit and
    // points at the CDF escape hatch
    val e = intercept[StreamingQueryException] {
      val q2 = spark.readStream.format("graft-delta").load(t)
        .writeStream.format("parquet").option("path", s"$root/out2")
        .option("checkpointLocation", s"$root/chk2")
        .trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination(60000)
      throw q2.exception.getOrElse(new RuntimeException("expected failure"))
    }
    def msg(x: Throwable): String =
      Option(x.getMessage).getOrElse("") +
        Option(x.getCause).map(c => Option(c.getMessage).getOrElse("")).getOrElse("")
    assert(msg(e).contains("readChangeFeed") || msg(e).contains("overwritten"),
      s"plain mode must refuse with a pointer to CDF: ${msg(e)}")
  }

  test("readChangeFeed stream on a partitioned table restores partition columns from cdc actions") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("dstream_cdfp").toString
    val t = s"$root/t"; val outp = s"$root/out"
    DeltaTable.write(Seq((1, "fr"), (2, "de"), (3, "fr")).toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))                              // v0
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))                                // v1
    DeltaTable.delete(spark, t, col("lang") === "fr")                             // v2 precise, partitioned cdc
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.read.parquet(outp)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("lang"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(got === Set(
      (1, "fr", "insert", 0L), (2, "de", "insert", 0L), (3, "fr", "insert", 0L),
      (1, "fr", "delete", 2L), (3, "fr", "delete", 2L)),
      s"partition columns must restore through the cdc actions: $got")
  }

  test("a micro-batch bin-packs many small files and reads them columnar") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val root = java.nio.file.Files.createTempDirectory("dstream_pack").toString
    val t = s"$root/t"; val outp = s"$root/out"
    DeltaTable.write(spark.range(0, 12, 1, 12)
      .selectExpr("id AS k", "concat('s', id) AS s"), t, SaveMode.Append)
    val files = DeltaTable.read(spark, t).inputFiles.length
    assert(files === 12, "one data file per write task")
    val q = spark.readStream.format("graft-delta").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val scans = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan.collect { case s: MicroBatchScanExec => s }
      assert(scans.size === 1)
      // the batch scan's planning: small files share input partitions
      // instead of one partition per file
      assert(scans.head.inputPartitions.size < files,
        s"${scans.head.inputPartitions.size} partitions for $files files")
      assert(scans.head.supportsColumnar, "the stream must read vectorized")
    } finally q.stop()
    assert(spark.read.parquet(outp).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("s"))).toSet ===
      (0L until 12L).map(i => (i, s"s$i")).toSet)
  }

  test("readChangeFeed stream derives deletes of an overwritten partitioned table from the removed files' paths") {
    val root = java.nio.file.Files.createTempDirectory("dstream_cdfd").toString
    val t = s"$root/t"; val outp = s"$root/out"
    // `a:b` lands in a path-escaped `lang=a%3Ab/` directory
    DeltaTable.write(Seq((1, "fr"), (2, "a:b"), (3, "fr")).toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))                              // v0
    // no change data feed on this table: the overwrite commits no cdc
    // files, so its changes derive from its add and remove actions
    DeltaTable.write(Seq((4, "de")).toDF("id", "lang"), t, SaveMode.Overwrite,
      partitionBy = Seq("lang"))                                                 // v1
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true").load(t)
      .writeStream.format("parquet").option("path", outp)
      .option("checkpointLocation", s"$root/chk")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "available-now query must terminate")
    assert(q.exception.isEmpty, s"${q.exception}")
    val got = spark.read.parquet(outp)
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("lang"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet
    assert(got === Set(
      (1, "fr", "insert", 0L), (2, "a:b", "insert", 0L), (3, "fr", "insert", 0L),
      (4, "de", "insert", 1L),
      (1, "fr", "delete", 1L), (2, "a:b", "delete", 1L), (3, "fr", "delete", 1L)),
      s"derived deletes must restore their partition values from the path: $got")
  }
}
