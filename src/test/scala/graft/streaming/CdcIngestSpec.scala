package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.domain.Fixtures

/** Executor-visible delivery probe: a singleton survives closure
  * serialization (module refs resolve to the same instance in local mode),
  * unlike a captured local buffer. */
object NotifierProbe {
  private val delivered = scala.collection.mutable.ArrayBuffer.empty[Row]
  private val groups = scala.collection.mutable.ArrayBuffer.empty[Int]
  def add(rows: Seq[Row]): Unit = delivered.synchronized {
    delivered ++= rows
    groups += rows.size
  }
  def size: Int = delivered.synchronized(delivered.size)
  def snapshot: Seq[Row] = delivered.synchronized(delivered.toList)
  def groupSizes: Seq[Int] = delivered.synchronized(groups.toList)
  def reset(): Unit = delivered.synchronized { delivered.clear(); groups.clear() }
}

class CdcIngestSpec extends SparkSpec {

  private def envelopeStrings: Seq[String] =
    Fixtures.cdcEnvelopes(spark, nEmployees = 5, days = 20)
      .collect().map(_.getString(0)).toSeq

  test("streaming ingest: MemoryStream envelopes → decoded rows in memory sink") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val source = MemoryStream[String]
    val data = envelopeStrings
    source.addData(data: _*)
    val q = CdcIngest.pipeline(source.toDF().withColumnRenamed("value", "value"))
      .writeStream.format("memory").queryName("cdc_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("cdc_sink")
    val goodCount = data.size - 3 // fixtures append 3 malformed rows
    assert(out.count() === goodCount)
    assert(out.filter(col("id").isNull).count() === 0)
  }

  test("streaming ingest: parquet sink with checkpoint, restart-safe replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_ingest").toString
    val source = MemoryStream[String]
    source.addData(envelopeStrings: _*)
    val q = CdcIngest.startIngest(
      source.toDF(), s"$dir/data", s"$dir/chk", trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val n1 = spark.read.parquet(s"$dir/data").count()
    assert(n1 === envelopeStrings.size - 3)
    // restart against the same checkpoint: the replayed batch is already in
    // the file-sink commit log, so exactly-once holds — no duplicates
    val source2 = MemoryStream[String]
    source2.addData(envelopeStrings: _*)
    val q2 = CdcIngest.startIngest(
      source2.toDF(), s"$dir/data", s"$dir/chk", trigger = Trigger.AvailableNow())
    q2.awaitTermination(60000)
    val n2 = spark.read.parquet(s"$dir/data").count()
    assert(n2 === n1)
  }

  test("notifier: only commented activities delivered to the callback") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the callback runs on EXECUTORS (foreachPartition), so the probe must
    // be a singleton object — a captured local buffer would be a
    // serialized copy and never observed here
    NotifierProbe.reset()
    val source = MemoryStream[String]
    source.addData(envelopeStrings: _*)
    val q = CdcIngest.startNotifier(
      source.toDF(),
      rows => NotifierProbe.add(rows),
      trigger = Trigger.AvailableNow())
    q.awaitTermination(60000)
    val expected = graft.domain.Ops.decodeCdc(
      Fixtures.cdcEnvelopes(spark, 5, 20))
      .filter(col("comment").isNotNull).count()
    assert(NotifierProbe.size.toLong === expected)
    assert(NotifierProbe.snapshot.forall(r => !r.isNullAt(r.fieldIndex("comment"))))
  }

  test("notifier: partition iterators are delivered in bounded chunks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    NotifierProbe.reset()
    val source = MemoryStream[String]
    source.addData(envelopeStrings: _*)
    val q = CdcIngest.startNotifier(
      source.toDF(),
      rows => NotifierProbe.add(rows),
      trigger = Trigger.AvailableNow(),
      chunkSize = 3)
    q.awaitTermination(60000)
    val expected = graft.domain.Ops.decodeCdc(
      Fixtures.cdcEnvelopes(spark, 5, 20))
      .filter(col("comment").isNotNull).count()
    // nothing lost to chunking, and no callback ever sees more than the
    // chunk bound — a huge partition can't materialize in executor memory
    assert(NotifierProbe.size.toLong === expected)
    assert(NotifierProbe.groupSizes.nonEmpty)
    assert(NotifierProbe.groupSizes.forall(s => s > 0 && s <= 3))
  }

  test("deduped pipeline: duplicated envelope delivery collapses to one row per id") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val data = envelopeStrings
    val source = MemoryStream[String]
    source.addData(data ++ data: _*) // simulate at-least-once double delivery
    val q = CdcIngest.dedupedPipeline(source.toDF())
      .writeStream.format("memory").queryName("dedup_sink")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("dedup_sink")
    assert(out.count() === (data.size - 3).toLong) // unique ids only
    assert(out.groupBy(col("id")).count().filter(col("count") > 1).count() === 0)
  }

  test("delta merge ingest: CDC ops apply transactionally through the log") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_dmerge").toString
    val t = s"$dir/t"
    // batch 1 (bootstrap): three inserts, plus a delete for a key the
    // table never saw — a no-op, not an error
    val s1 = MemoryStream[String]
    s1.addData(env("c", 1, "run", 1000), env("c", 2, "walk", 1001),
      env("c", 3, "bike", 1002), env("d", 99, "ghost", 1003))
    CdcIngest.startIngestDeltaMerge(s1.toDF(), t, s"$dir/chk1",
      appId = "dm1", trigger = Trigger.AvailableNow()).awaitTermination(60000)
    assert(graft.sources.delta.DeltaTable.read(spark, t).count() === 3)
    // batch 2: stale-then-newer update (newest wins), delete, insert
    val s2 = MemoryStream[String]
    s2.addData(env("u", 2, "stale", 1500), env("u", 2, "swim", 2000),
      env("d", 3, "bike", 2001), env("c", 4, "hike", 2002))
    CdcIngest.startIngestDeltaMerge(s2.toDF(), t, s"$dir/chk2",
      appId = "dm2", trigger = Trigger.AvailableNow()).awaitTermination(60000)
    val out = graft.sources.delta.DeltaTable.read(spark, t)
    assert(out.select("id").collect().map(_.getInt(0)).toSet === Set(1, 2, 4))
    assert(out.filter(col("id") === 2).select("sport_type").head().getString(0)
      === "swim")
    // the batch landed as ONE atomic MERGE commit carrying the txn mark
    val head = graft.sources.delta.DeltaLog.snapshot(spark, t)
    val last = graft.sources.delta.DeltaTable
      .describeHistory(spark, t).maxBy(_.version)
    assert(last.operation.contains("MERGE"), s"got ${last.operation}")
    assert(head.txns.get("dm2").contains(0L))
  }

  test("delta merge ingest over deletion vectors: same rows, no rewrites") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_dvmerge").toString
    val t = s"$dir/t"
    val s1 = MemoryStream[String]
    s1.addData(env("c", 1, "run", 1000), env("c", 2, "walk", 1001),
      env("c", 3, "bike", 1002))
    CdcIngest.startIngestDeltaMerge(s1.toDF(), t, s"$dir/chk1",
      appId = "dvm1", trigger = Trigger.AvailableNow()).awaitTermination(60000)
    graft.sources.delta.DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    val before = graft.sources.delta.DeltaLog.snapshot(spark, t)
      .files.map(_.path).toSet
    val s2 = MemoryStream[String]
    s2.addData(env("u", 2, "swim", 2000), env("d", 3, "bike", 2001),
      env("c", 4, "hike", 2002))
    CdcIngest.startIngestDeltaMerge(s2.toDF(), t, s"$dir/chk2",
      appId = "dvm2", trigger = Trigger.AvailableNow()).awaitTermination(60000)
    val out = graft.sources.delta.DeltaTable.read(spark, t)
    assert(out.select("id").collect().map(_.getInt(0)).toSet === Set(1, 2, 4))
    assert(out.filter(col("id") === 2).select("sport_type").head().getString(0)
      === "swim")
    // the merge marked the old incarnations behind a vector — the
    // bootstrap file survives by path — and carried the txn mark
    val head = graft.sources.delta.DeltaLog.snapshot(spark, t)
    assert(before.subsetOf(head.files.map(_.path).toSet),
      "DV merge must not rewrite the bootstrap file")
    assert(head.files.exists(_.dv.exists(_.cardinality == 2L)),
      s"update+delete = 2 marked rows, got ${head.files.flatMap(_.dv)}")
    assert(head.txns.get("dvm2").contains(0L))
  }

  private def env(op: String, id: Int, sport: String, tsMs: Long): String = {
    val row = s"""{"id":$id,"id_employee":${id * 10},"first_name":"fn","last_name":"ln",""" +
      s""""start_datetime":1700000000000000,"sport_type":"$sport","distance":5,""" +
      s""""activity_duration":30,"comment":null}"""
    val (before, after) = if (op == "d") (row, "null") else ("null", row)
    s"""{"payload":{"before":$before,"after":$after,""" +
      s""""source":{"table":"sport_activities"},"op":"$op","ts_ms":$tsMs}}"""
  }

  private def envLsn(op: String, id: Int, sport: String, tsMs: Long,
                     lsn: Long): String = {
    val row = s"""{"id":$id,"id_employee":${id * 10},"first_name":"fn","last_name":"ln",""" +
      s""""start_datetime":1700000000000000,"sport_type":"$sport","distance":5,""" +
      s""""activity_duration":30,"comment":null}"""
    val (before, after) = if (op == "d") (row, "null") else ("null", row)
    s"""{"payload":{"before":$before,"after":$after,""" +
      s""""source":{"table":"sport_activities","lsn":$lsn},"op":"$op","ts_ms":$tsMs}}"""
  }

  test("upsert ingest: connector sequence orders same-millisecond events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_lsn").toString
    val t = s"$dir/t"
    // batch 1 bootstraps ids 1 and 2; batch 2 is MERGED, so the lsn tie
    // must order events for the matched-update and matched-delete clauses
    val s1 = MemoryStream[String]
    s1.addData(envLsn("c", 1, "run", 1000, 1), envLsn("c", 2, "walk", 1000, 1))
    CdcIngest.startIngestDeltaMerge(s1.toDF(), t, s"$dir/chk1", appId = "lsn1",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    val s2 = MemoryStream[String]
    s2.addData(
      // id 1: delete then RE-CREATE inside one millisecond — only the
      // lsn orders them; an op-letter tiebreak would pick the delete
      // and lose a row that exists in the source
      envLsn("d", 1, "run", 2000, 2), envLsn("c", 1, "swim", 2000, 3),
      // id 2: update then delete at one ts — newest-by-lsn is the delete
      envLsn("u", 2, "hike", 2000, 4), envLsn("d", 2, "hike", 2000, 5))
    CdcIngest.startIngestDeltaMerge(s2.toDF(), t, s"$dir/chk2", appId = "lsn2",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    val out = graft.sources.delta.DeltaTable.read(spark, t)
    assert(out.select("id").collect().map(_.getInt(0)).toSet === Set(1))
    assert(out.filter(col("id") === 1).select("sport_type").head().getString(0)
      === "swim", "the re-created row must win the same-ms tie via lsn")
  }

  test("upsert ingest: replayed updates + deletes converge to the source end-state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cdc_upsert").toString
    val t = s"$dir/t"
    def read() = graft.sources.delta.DeltaTable.read(spark, t)
    // batch 1: three inserts
    val s1 = MemoryStream[String]
    s1.addData(env("c", 1, "run", 1000), env("c", 2, "walk", 1001), env("c", 3, "bike", 1002))
    CdcIngest.startIngestDeltaMerge(s1.toDF(), t, s"$dir/chk1", appId = "up1",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    assert(read().count() === 3)
    // batch 2: update id 2 (with an older stale image that must lose to the
    // newer one inside the same batch), delete id 3, insert id 4
    val batch2 = Seq(env("u", 2, "stale", 1500), env("u", 2, "swim", 2000),
      env("d", 3, "bike", 2001), env("c", 4, "hike", 2002))
    val s2 = MemoryStream[String]
    s2.addData(batch2: _*)
    CdcIngest.startIngestDeltaMerge(s2.toDF(), t, s"$dir/chk2", appId = "up2",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    // the same events delivered again under a fresh checkpoint (an
    // at-least-once redelivery the txn mark cannot recognise) re-apply
    // to the same end state: the merge is keyed and newest-wins
    val s3 = MemoryStream[String]
    s3.addData(batch2: _*)
    CdcIngest.startIngestDeltaMerge(s3.toDF(), t, s"$dir/chk3", appId = "up3",
      trigger = Trigger.AvailableNow()).awaitTermination(60000)
    val out = read()
    assert(out.select("id").collect().map(_.getInt(0)).toSet === Set(1, 2, 4))
    assert(out.filter(col("id") === 2).select("sport_type").head().getString(0) === "swim")
    assert(out.filter(col("id") === 2).select("id_employee").head().getInt(0) === 20)
  }

  test("metrics listener accumulates progress") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val listener = CdcIngest.attachMetricsListener(spark)
    try {
      val source = MemoryStream[String]
      source.addData(envelopeStrings: _*)
      val q = CdcIngest.pipeline(source.toDF())
        .writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      // listener events are async; allow a grace period
      val deadline = System.currentTimeMillis() + 10000
      while (listener.totalInputRows == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.totalInputRows === envelopeStrings.size.toLong)
      assert(listener.batches >= 1)
      // A5 reconciliation (ref SaveDelta.scala:208-220): source rows minus
      // the malformed drops must equal what a sink would commit
      val sinkRows = graft.domain.Ops.decodeCdc(
        graft.domain.Fixtures.cdcEnvelopes(spark, 5, 20)).count()
      assert(listener.totalInputRows - 3 === sinkRows)
    } finally spark.streams.removeListener(listener)
  }
}
