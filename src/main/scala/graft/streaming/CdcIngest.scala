package graft.streaming

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.domain.Ops

/** The reference's always-on CDC ingest pipeline (SURVEY §3.1), source- and
  * sink-agnostic: Kafka in production, MemoryStream/rate in tests — the
  * transform in the middle is identical (`Ops.decodeCdc`).
  *
  * Reference behavior preserved (SURVEY §2.8): append output mode, 30 s
  * processing-time trigger, checkpointed exactly-once sink, no watermark
  * (stateless map/filter pipeline).
  */
object CdcIngest {

  /** Kafka source identical to ref `SaveDelta.scala:104-112`. */
  def kafkaSource(
      spark: SparkSession,
      bootstrap: String,
      topic: String = "sport.sport_advantages.sport_activities"): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .option("kafka.group.id", "spark-delta-lake-group")
      .load()

  /** Rate-source fallback (ref `SaveDelta.scala:123-127`) — wraps the rate
    * stream into an empty-envelope value column for harness testing. */
  def rateSource(spark: SparkSession): DataFrame =
    spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .select(to_json(struct(col("value").as("id"))).as("value"))

  /** The transform: raw (key,value) stream → typed activity rows. */
  def pipeline(raw: DataFrame): DataFrame = Ops.decodeCdc(raw)

  /** Pipeline + streaming dedup on the CDC primary key: replays / at-least-
    * once upstream deliveries collapse to one row per id. State is bounded
    * by the watermark (ids older than the horizon are evicted — SURVEY
    * §2.8 extension; the reference appends duplicates unconditionally). */
  def dedupedPipeline(raw: DataFrame, watermark: String = "1 day"): DataFrame =
    pipeline(raw)
      .withWatermark("start_datetime", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** K1 (ref `SaveDelta.scala:157-163`): append sink with checkpoint +
    * 30 s trigger. Delta jars are absent in this environment, so the
    * default format is parquet — swap `format` for "delta" on a cluster
    * with delta-spark on the classpath; the API surface is identical. */
  def startIngest(
      raw: DataFrame,
      path: String,
      checkpoint: String,
      format: String = "parquet",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    pipeline(raw).writeStream
      .format(format)
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** K1 on the from-scratch Delta log ([[graft.sources.delta.DeltaTable]]):
    * the reference's actual sink semantics — `writeStream.format("delta")
    * .outputMode("append")` (`SaveDelta.scala:157-163`) — executed against
    * the protocol implementation instead of the absent jars. Each
    * micro-batch appends in ONE atomic log commit carrying a `txn`
    * (appId, batchId) action, so an at-least-once replay of a committed
    * batch is SKIPPED — exactly-once table contents from the log itself,
    * the same mechanism delta-spark's streaming sink uses. */
  def startIngestDelta(
      raw: DataFrame,
      table: String,
      checkpoint: String,
      appId: String = "graft-cdc-ingest",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        graft.sources.delta.DeltaTable.appendWithTxn(
          Ops.decodeCdc(batch.toDF()), table, appId, batchId)
        ()
      }
      .start()

  /** VALIDATED ingest: the reference's Great-Expectations check
    * (`data_validation_dag.py:306-319`) moved from Airflow cadence to
    * INGEST cadence. Each micro-batch decodes, runs the declarative
    * [[graft.operators.Expectations]] suite (one aggregate pass), and
    * routes atomically: a batch whose suite PASSES commits to the main
    * Delta table; a failing batch lands WHOLE in the quarantine table,
    * stamped with the failed report as JSON — bad upstream data stops
    * propagating at the door without stalling the stream, and both
    * routes are exactly-once (txn per batch id per table). Batch-level
    * routing is deliberate: a failing check means the BATCH is suspect
    * (schema drift, upstream misconfig) and humans replay it after the
    * fix — the row-level variant is [[startIngestWithDlq]]. */
  def startValidatedIngest(
      raw: DataFrame,
      table: String,
      quarantine: String,
      checkpoint: String,
      suite: Seq[graft.operators.Expectations.Expectation],
      appId: String = "graft-validated-ingest",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val decoded = Ops.decodeCdc(batch.toDF())
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val report = graft.operators.Expectations.validate(decoded, suite)
            .collect() // |suite| rows
          if (report.forall(_.getBoolean(4))) {
            graft.sources.delta.DeltaTable.appendWithTxn(
              decoded, table, appId, batchId)
          } else {
            import org.json4s._
            import org.json4s.jackson.JsonMethods
            // build through json4s, not string splicing — a column named
            // `o"brien` must not produce malformed report JSON
            val json = JsonMethods.compact(JsonMethods.render(JArray(
              report.toList.map(r => JObject(
                "expectation" -> JString(r.getString(0)),
                "column" -> JString(r.getString(1)),
                "n_evaluated" -> JLong(r.getLong(2)),
                "n_violations" -> JLong(r.getLong(3)),
                "passed" -> JBool(r.getBoolean(4)))))))
            graft.sources.delta.DeltaTable.appendWithTxn(
              decoded.withColumn("failed_expectations", lit(json)),
              quarantine, appId, batchId)
          }
          ()
        } finally decoded.unpersist()
      }
      .start()

  /** K5 notifier port (ref `slack_notification.py:37-132`): per-batch
    * filter of commented activities, delivered to an injected (mockable,
    * Serializable) callback instead of a hard-wired Slack webhook.
    * Delivery runs `foreachPartition` on the EXECUTORS — the commented
    * subset is never collected to the driver, so a high-comment-rate batch
    * can't blow the driver heap at scale — and each partition iterator is
    * streamed to the callback in groups of `chunkSize`, so even a single
    * huge partition never materializes in executor memory; callbacks see
    * bounded groups they can rate-limit individually. */
  def startNotifier(
      raw: DataFrame,
      notify: Seq[Row] => Unit,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
      chunkSize: Int = 500): StreamingQuery = {
    require(chunkSize > 0, s"chunkSize=$chunkSize must be positive")
    pipeline(raw)
      .filter(col("comment").isNotNull)
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batch.foreachPartition { (it: Iterator[Row]) =>
          it.grouped(chunkSize).foreach { rows =>
            if (rows.nonEmpty) notify(rows)
          }
        }
      }
      .start()
  }

  /** [[startIngest]] with a DEAD-LETTER QUEUE: rows whose envelope fails
    * to parse or lacks a usable key are not silently dropped (what
    * `decodeCdc`'s filter — and the reference pipeline — does) but land
    * at `dlqPath` with their RAW payload and batch id, so a poisoned
    * producer is observable and replayable instead of invisible. Both
    * sinks write `batch=<id>` layers (overwrite → at-least-once replays
    * idempotent), the decoded side partitioned the same way so exactly-
    * once composes without the file-sink commit log.
    *
    * Three-way routing, matching [[graft.domain.Ops.decodeCdcOps]]'s
    * acceptance rule: a WELL-FORMED envelope resolves a key from after
    * (c/r/u) or before (d) and carries a known op. Well-formed c/r/u
    * rows decode to the data sink; well-formed DELETES are consumed
    * (this is the reference-parity append pipeline — an upsert sink is
    * [[startIngestDeltaMerge]]) but are NOT dead letters; only envelopes
    * that parse to nothing usable reach the DLQ. */
  def startIngestWithDlq(
      raw: DataFrame,
      path: String,
      dlqPath: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        val parsed = batch.toDF()
          .selectExpr("CAST(value AS STRING) AS value")
          .withColumn("env", from_json(col("value"), Ops.cdcEnvelopeSchema))
          // null-proof: isin is SQL NULL when op is NULL/missing, and
          // TRUE && NULL = NULL fails BOTH the data filter and the
          // !well_formed DLQ filter — the one silent-drop path this sink
          // exists to close. coalesce pins the tri-state to false.
          // Well-formed = the OP-APPROPRIATE image resolves a key:
          // after.id for c/r/u, before.id for d — an either-image rule
          // would bless a u-with-null-after (vanishes from both sinks)
          // and ingest a d-with-after as an insert.
          .withColumn("well_formed",
            coalesce(
              (col("env.payload.op").isin("c", "r", "u")
                && col("env.payload.after.id").isNotNull)
                || (col("env.payload.op") === "d"
                  && col("env.payload.before.id").isNotNull),
              lit(false)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          parsed
            .filter(col("well_formed") && col("env.payload.op").isin("c", "r", "u"))
            .select(col("env.payload.after.*"))
            .withColumn("start_datetime", timestamp_micros(col("start_datetime")))
            .write.mode("overwrite").parquet(s"$path/batch=$batchId")
          parsed.filter(!col("well_formed"))
            .select(col("value").as("raw"))
            .write.mode("overwrite").parquet(s"$dlqPath/batch=$batchId")
        } finally parsed.unpersist()
      }
      .start()

  /** CDC MERGE into the from-scratch Delta LOG — the upsert sink SURVEY
    * §7.1 names as the extension of the reference's append-only pipeline
    * (`SaveDelta.scala:160` appends the after-image for every op, piling
    * updates and all-null deletes into the table). Per micro-batch:
    * decode ops, keep the NEWEST event per key — ts_ms, then the
    * connector SEQUENCE (Debezium lsn, the only intra-millisecond order
    * signal: a same-ms delete + re-create is unordered by ts_ms alone),
    * then op as the deterministic last resort for sequence-less
    * envelopes — then ONE multi-clause [[graft.sources.delta.DeltaTable
    * .mergeInto]] — matched `d` rows DELETE, other matched ops UPDATE
    * from the after-image, unmatched non-`d` ops INSERT (a delete for a
    * key the table never saw is a no-op, matching upsert semantics).
    * The commit carries a (appId, batchId) `txn` action, so a replayed
    * batch after restart is SKIPPED inside the engine — exactly-once
    * table contents, merge edition. Candidate selection stays
    * O(files containing a batch key) via the merge's stats probe; the
    * table bootstraps from the first batch's non-delete rows. */
  def startIngestDeltaMerge(
      raw: DataFrame,
      table: String,
      checkpoint: String,
      appId: String = "graft-cdc-merge",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    Ops.decodeCdcOps(raw).writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        import graft.sources.delta.{DeltaLog, DeltaTable, MergeClause}
        import graft.sources.delta.DeltaTable.src
        val spark = batch.sparkSession
        val seqOrd =
          if (batch.columns.contains("seq")) col("seq").desc_nulls_last
          else lit(0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key_id"))
          .orderBy(col("ts_ms").desc, seqOrd, col("op").desc)
        val latest = batch.toDF()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
        val rowCols = batch.columns
          .filterNot(Set("key_id", "op", "ts_ms", "seq")).toSeq
        if (DeltaLog.snapshot(spark, table).isEmpty) {
          // bootstrap: the first batch's surviving non-delete rows ARE
          // the table; the txn mark still lands so a replay is skipped
          DeltaTable.appendWithTxn(
            latest.filter(col("op") =!= "d").select(rowCols.map(col): _*),
            table, appId, batchId)
        } else {
          DeltaTable.mergeInto(latest, table,
            targetKey = "id", sourceKey = "key_id",
            matched = Seq(
              MergeClause.Delete(Some(src("op") === "d")),
              MergeClause.Update(None,
                rowCols.map(c => c -> src(c)).toMap)),
            notMatched = Seq(
              MergeClause.Insert(Some(src("op") =!= "d"),
                rowCols.map(c => c -> src(c)).toMap)),
            txn = Some((appId, batchId)))
        }
        ()
      }
      .start()

  /** A4 (ref `SaveDelta.scala:171-203`): streaming throughput metrics via
    * a StreamingQueryListener instead of the reference's driver-side
    * polling loop. Returns the listener for inspection/removal. */
  def attachMetricsListener(spark: SparkSession): IngestMetricsListener = {
    val l = new IngestMetricsListener
    spark.streams.addListener(l)
    l
  }
}

/** Accumulates rows/batch and rows/sec from query progress events. */
class IngestMetricsListener
    extends org.apache.spark.sql.streaming.StreamingQueryListener {
  @volatile var totalInputRows: Long = 0L
  @volatile var lastInputRowsPerSecond: Double = 0.0
  @volatile var lastProcessedRowsPerSecond: Double = 0.0
  @volatile var batches: Long = 0L

  override def onQueryStarted(
      e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(
      e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
    totalInputRows += e.progress.numInputRows
    lastInputRowsPerSecond = e.progress.inputRowsPerSecond
    lastProcessedRowsPerSecond = e.progress.processedRowsPerSecond
    batches += 1
  }
  override def onQueryTerminated(
      e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
