package graft.sources.delta

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._

import DeltaLog._

/** STREAMING SINK half of the graft-delta connector
  * (`df.writeStream.format("graft-delta").option("path", t).start()`) —
  * the surface the reference's pipeline actually uses
  * (`SaveDelta.scala:157-163` is `writeStream.format("delta")`), until
  * now only reachable here through `foreachBatch` + `appendWithTxn`.
  *
  * Architecture is the Delta writer protocol, executed on DSv2's
  * streaming-write seam: each TASK writes its rows as parquet files
  * directly under the table root (fresh UUID names — invisible to every
  * reader until a commit references them; a crashed epoch leaves
  * orphans that [[DeltaTable.vacuumOrphans]] reclaims), rows routed to
  * Hive partition dirs when the table is partitioned; the DRIVER then
  * turns the tasks' commit messages into add actions (footer stats
  * attached — data skipping works on streamed files like any others)
  * and performs ONE atomic log commit per epoch carrying a `txn`
  * action, so a replayed epoch after restart is SKIPPED — the same
  * exactly-once contract `appendWithTxn` gives foreachBatch, without
  * the user writing any of it.
  *
  * Append output mode only (the log is an append-only stream of
  * commits; complete/update modes would need overwrite-per-epoch —
  * that is `foreachBatch` + `DeltaTable.write(Overwrite)` territory).
  * Supported column types: the scalar lattice the stream READER
  * handles minus nested (boolean/byte/short/int/long/float/double/
  * string/binary/date/timestamp/timestamp_ntz/decimal); an unsupported
  * type refuses at plan time. */
private[delta] class DeltaStreamingWrite(
    table: String, writeSchema: StructType, appId: String,
    partitionByOption: Seq[String],
    metricsHolder: Option[DeltaSinkMetricsHolder] = None)
    extends StreamingWrite {

  private def spark = SparkSession.active

  // ONE pre-commit snapshot shared by every START-time check and the
  // writer factory (the commit loop re-reads per epoch, as it must):
  // METADATA-ONLY — the streaming sink is append-shaped and never
  // consumes the file list, so neither START nor any epoch pays the
  // O(#files) replay on a checkpointed table
  private val initHead = DeltaLog.metaSnapshot(spark, table)

  // the table's partitioning binds at START: existing tables impose
  // theirs (a conflicting partitionBy option refuses), a table created
  // by this stream's first epoch uses the option
  private val partCols: Seq[String] = {
    if (initHead.isEmpty) partitionByOption
    else {
      require(partitionByOption.isEmpty || partitionByOption == initHead.partitionColumns,
        s"graft-delta sink: table is partitioned by ${initHead.partitionColumns}, " +
          s"not $partitionByOption")
      initHead.partitionColumns
    }
  }
  partCols.foreach(c => require(writeSchema.fieldNames.contains(c),
    s"graft-delta sink: partition column `$c` missing from the stream schema"))
  writeSchema.fields.foreach { f =>
    require(DeltaGroupWriter.supported(f.dataType),
      s"graft-delta sink: unsupported column type ${f.dataType.catalogString} " +
        s"for ${f.name}")
  }
  // GENERATED columns compute per row inside the stream's writers
  // (deterministic — epoch-safe); IDENTITY tables refuse, matching
  // upstream delta-spark: the factory binds ONCE at START, so every
  // epoch would allocate from the same frozen high-water mark and
  // collide — foreachBatch + DeltaTable.appendWithTxn re-reads the
  // mark per batch and is the supported path
  private val streamGenTransforms: Option[GeneratedColumns.RowTransforms] =
    initHead.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .filter(GeneratedColumns.hasAny) match {
      case None => None
      case Some(raw) =>
        require(GeneratedColumns.identityOf(raw).isEmpty,
          s"graft-delta sink: $table has identity columns — streaming " +
            "allocation would reuse the START-time high-water mark every " +
            "epoch; stream via foreachBatch + DeltaTable.appendWithTxn, " +
            "whose write re-reads the mark per batch")
        GeneratedColumns.bindRowTransforms(spark, writeSchema, raw)
    }
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    // column mapping: tasks write files + Hive dirs under the table's
    // PHYSICAL names (rows are positional; constraints bind logically)
    val tableSchema = initHead.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    DeltaSinkWriterFactory(table,
      ColumnMapping.physicalWriteSchema(writeSchema, tableSchema),
      ColumnMapping.physicalCols(partCols, tableSchema).toArray,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      spark.sessionState.conf.sessionLocalTimeZone,
      SinkConstraints.bind(spark, writeSchema, initHead),
      insertExprs = streamGenTransforms.map(_.insert))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val tbl = new Path(table)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = messages.collect { case m: DeltaSinkCommitMessage => m }
      .flatMap(_.files)
    def dropStaged(): Unit =
      staged.foreach(f => fs.delete(new Path(tbl, f.relPath), false))
    val now = System.currentTimeMillis()
    val withStats = staged.map(f =>
      (f, DeltaTable.statsOf(new Path(tbl, f.relPath), conf)))
    val adds = withStats.map { case (f, st) =>
      addAction(f.relPath, f.size, now, st, f.partitionValues)
    }.toSeq
    val rowsWritten = withStats.flatMap(_._2.map(_.numRecords)).sum
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 50,
        s"graft-delta sink: gave up after $attempts commit conflicts")
      // metadata-only head: the append-shaped epoch commit never
      // consumes the file list
      val head = DeltaLog.metaSnapshot(spark, table)
      if (!head.isEmpty) DeltaLog.checkWritable(table, head)
      // exactly-once: a restarted query replays its last epoch — the
      // recorded txn high-water mark rejects it and the staged files drop
      if (head.txns.get(appId).exists(_ >= epochId)) {
        dropStaged()
        metricsHolder.foreach(_.recordSkippedReplay(epochId))
        return
      }
      require(head.isEmpty || head.partitionColumns == partCols,
        s"graft-delta sink: concurrent writer changed partitioning to " +
          s"${head.partitionColumns}")
      val sameSchema = head.schemaJson.forall(existing =>
        DataType.fromJson(existing).asInstanceOf[StructType].catalogString ==
          writeSchema.catalogString)
      if (!head.isEmpty) require(sameSchema,
        s"graft-delta sink: stream schema ${writeSchema.catalogString} does " +
          "not match the table schema — appends enforce schema")
      val meta =
        if (head.isEmpty) Seq(
          DeltaTable.creationProtocol(writeSchema, Map.empty),
          metaDataAction(writeSchema.json, partCols))
        else Seq.empty
      done = DeltaLog.commit(spark, table, head.version + 1,
        commitInfoAction("STREAMING UPDATE", now) +:
          (meta ++ Seq(txnAction(appId, epochId)) ++ adds),
        Some(head.configuration))
    }
    metricsHolder.foreach(_.recordCommit(epochId, rowsWritten, adds.size.toLong))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val tbl = new Path(table)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: DeltaSinkCommitMessage => m }
      .flatMap(_.files)
      .foreach(f => fs.delete(new Path(tbl, f.relPath), false))
  }
}

/** Per-query sink metrics, surfaced to `StreamingQueryProgress.sink
  * .metrics` through the table's `ReportsSinkMetrics` — the numbers the
  * reference's monitoring loop polls from its sink
  * (`SaveDelta.scala:171-203` reads per-batch row counts). One holder
  * lives on each [[DeltaStreamTable]] instance (one per started query:
  * `DataStreamWriter.start` resolves a fresh table and uses it as both
  * the sink and the write-builder source), updated by the driver-side
  * epoch commit — no task-side plumbing, no contention. */
private[delta] class DeltaSinkMetricsHolder {
  @volatile private var lastEpochId = -1L
  @volatile private var lastRows = 0L
  @volatile private var lastFiles = 0L
  @volatile private var totalRows = 0L
  @volatile private var totalFiles = 0L
  @volatile private var numCommits = 0L
  @volatile private var numSkippedReplays = 0L

  def recordCommit(epochId: Long, rows: Long, files: Long): Unit =
    synchronized {
      lastEpochId = epochId; lastRows = rows; lastFiles = files
      totalRows += rows; totalFiles += files; numCommits += 1
    }

  def recordSkippedReplay(epochId: Long): Unit =
    synchronized { numSkippedReplays += 1 }

  def snapshot: Map[String, String] = Map(
    "epochId" -> lastEpochId.toString,
    "numOutputRows" -> lastRows.toString,
    "numAddedFiles" -> lastFiles.toString,
    "totalOutputRows" -> totalRows.toString,
    "totalAddedFiles" -> totalFiles.toString,
    "numCommits" -> numCommits.toString,
    "numSkippedReplays" -> numSkippedReplays.toString)
}

/** BATCH WRITE on the same task-side writer machinery
  * (`df.write.format("graft-delta").mode("append"|"overwrite").save(t)`):
  * append is one atomic add commit; overwrite (DSv2 truncate) is the
  * protocol's REPLACE — remove(every live file) + add(new files) in ONE
  * commit, exactly [[DeltaTable.write]]'s semantics arriving through
  * the connector. Schema: append enforces the log's, overwrite may
  * change it (metaData re-emitted with the table's stable id). */
private[delta] class DeltaBatchWrite(
    table: String, writeSchema: StructType, partitionByOption: Seq[String],
    truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  private def spark = SparkSession.active

  // ONE pre-commit snapshot for the planning-time checks and schemas
  // (the commit re-reads per attempt, as it must)
  private val initHead = DeltaLog.snapshot(spark, table)

  private val partCols: Seq[String] = {
    if (initHead.isEmpty) partitionByOption
    else {
      require(partitionByOption.isEmpty || partitionByOption == initHead.partitionColumns,
        s"graft-delta sink: table is partitioned by ${initHead.partitionColumns}, " +
          s"not $partitionByOption")
      initHead.partitionColumns
    }
  }
  partCols.foreach(c => require(writeSchema.fieldNames.contains(c),
    s"graft-delta sink: partition column `$c` missing from the write schema"))
  writeSchema.fields.foreach { f =>
    require(DeltaGroupWriter.supported(f.dataType),
      s"graft-delta sink: unsupported column type ${f.dataType.catalogString} " +
        s"for ${f.name}")
  }
  // generated/identity tables take the APPEND path natively: the same
  // per-row NULL-driven contract as the engine's [[GeneratedColumns
  // .prepareWrite]] (NULL generated → computed, non-NULL must equal the
  // expression; NULL identity → allocated, non-NULL refused unless BY
  // DEFAULT), bound once here and evaluated task-side — by sink time
  // Spark has NULL-filled omitted columns, so NULL IS the omitted form.
  // This is what every SQL `INSERT INTO` and insert-only MERGE (which
  // Spark plans as AppendData, not WriteDelta) runs on, in any session.
  // Schema-replacing OVERWRITEs still refuse: whether the replaced
  // schema's generation metadata survives is a statement-level decision
  // the engine path owns.
  private val rawLogSchema: Option[StructType] = initHead.schemaJson
    .map(j => DataType.fromJson(j).asInstanceOf[StructType])
  private val genTransforms: Option[GeneratedColumns.RowTransforms] =
    rawLogSchema.filter(GeneratedColumns.hasAny) match {
      case None => None
      case Some(raw) =>
        // same-schema overwrites (INSERT OVERWRITE) compute/allocate
        // like appends — the identity mark stays monotonic through the
        // truncation; a SCHEMA-REPLACING overwrite refuses, because
        // whether the replaced schema's generation/identity metadata
        // survives is a statement-level decision the engine path owns
        require(!truncate || raw.catalogString == writeSchema.catalogString,
          s"graft-delta sink: $table has generated/identity columns — a " +
            "schema-changing OVERWRITE must route through the engine's " +
            "write path; use DeltaTable.write")
        GeneratedColumns.bindRowTransforms(spark, writeSchema, raw)
    }

  /** Effective TARGET schema: what the staged files' physical names and
    * a truncate's re-emitted metaData must agree on. Appends write under
    * the table's (possibly mapped) schema; a schema-changing overwrite
    * on a mapped table carries surviving columns' stamps forward and
    * stamps genuinely-new columns fresh. */
  private lazy val effSchema: StructType = {
    val head = initHead
    head.schemaJson.map(j =>
        DataType.fromJson(j).asInstanceOf[StructType]) match {
      case None => writeSchema
      case Some(existing) =>
        if (existing.catalogString == writeSchema.catalogString) existing
        else if (truncate)
          ColumnMapping.stampNewFields(
            ColumnMapping.carryForward(writeSchema, existing),
            head.configuration)
        else writeSchema // append schema mismatch: refused at commit
    }
  }

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    DeltaSinkWriterFactory(table,
      ColumnMapping.physicalWriteSchema(writeSchema, Some(effSchema)),
      ColumnMapping.physicalCols(partCols, Some(effSchema)).toArray,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      spark.sessionState.conf.sessionLocalTimeZone,
      // overwrite replaces content wholesale, but the constraint set
      // rides the metaData that carries FORWARD — new rows still honor it
      SinkConstraints.bind(spark, writeSchema, initHead),
      insertExprs = genTransforms.map(_.insert))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val tbl = new Path(table)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val staged = messages.collect { case m: DeltaSinkCommitMessage => m }
      .flatMap(_.files)
    val now = System.currentTimeMillis()
    val adds = staged.map { f =>
      addAction(f.relPath, f.size, now,
        DeltaTable.statsOf(new Path(tbl, f.relPath), conf), f.partitionValues)
    }.toSeq
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 50,
        s"graft-delta sink: gave up after $attempts commit conflicts")
      // appends read the metadata-only head (no file list consumed);
      // an overwrite needs the files for its remove actions
      val head =
        if (truncate) DeltaLog.snapshot(spark, table)
        else DeltaLog.metaSnapshot(spark, table)
      if (!head.isEmpty) DeltaLog.checkWritable(table, head)
      if (truncate && !head.isEmpty)
        DeltaTable.checkAppendOnly(table, head, "WRITE OVERWRITE")
      require(head.isEmpty || head.partitionColumns == partCols,
        s"graft-delta sink: concurrent writer changed partitioning to " +
          s"${head.partitionColumns}")
      val sameSchema = head.schemaJson.forall(existing =>
        DataType.fromJson(existing).asInstanceOf[StructType].catalogString ==
          writeSchema.catalogString)
      if (!head.isEmpty && !truncate) require(sameSchema,
        s"graft-delta sink: write schema ${writeSchema.catalogString} does " +
          "not match the table schema — append enforces schema (overwrite " +
          "may change it)")
      val headRaw = head.schemaJson
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      // identity-allocation conflict: the staged ids were computed from
      // the PLANNING-time marks — any concurrent movement means possible
      // collision; refuse loudly (a rerun re-allocates from the new mark)
      genTransforms.foreach { t =>
        val cur = headRaw.map(r => GeneratedColumns.identityOf(r)
          .map(s => s.name -> s.base).toMap).getOrElse(Map.empty)
        t.allocates.foreach(s => require(cur.get(s.name).contains(s.base),
          s"graft-delta sink: concurrent writer advanced identity " +
            s"`${s.name}`'s high-water mark — this write's allocated ids " +
            "may collide; re-run the statement"))
      }
      // advanced identity marks commit WITH the data (footer stats of
      // the staged files, explicit BY DEFAULT values included)
      val hwmMeta = (genTransforms, headRaw) match {
        case (Some(_), Some(raw)) =>
          val upd = GeneratedColumns.hwmFromAdds(adds, raw,
            ColumnMapping.physMap(raw))
          if (upd.isEmpty) Seq.empty
          else Seq(metaDataAction(GeneratedColumns.withHwm(raw, upd).json,
            partCols, head.metaDataId, head.configuration))
        case _ => Seq.empty
      }
      val meta =
        if (head.isEmpty) Seq(
          DeltaTable.creationProtocol(writeSchema, Map.empty),
          metaDataAction(writeSchema.json, partCols))
        else if (truncate && !sameSchema)
          // effSchema, not writeSchema: the staged files were written
          // under its (carried-forward/fresh) physical stamps
          Seq(metaDataAction(effSchema.json, partCols, head.metaDataId,
            head.configuration))
        else hwmMeta
      // truncate removes carry the removed incarnation's deletion
      // vector + sidecar retention tombstones (the codebase-wide remove
      // convention — derived CDF pre-images and vacuumRemoved need them)
      val removes =
        if (truncate)
          head.files.map(f => removeAction(f.path, now, dv = f.dv)) ++
            head.files.flatMap(_.dv).flatMap(DeletionVectors.tombstonePath)
              .distinct.map(p => removeAction(p, now, dataChange = false))
        else Seq.empty
      done = DeltaLog.commit(spark, table, head.version + 1,
        commitInfoAction(if (truncate) "WRITE OVERWRITE" else "WRITE APPEND",
          now) +: (meta ++ removes ++ adds), Some(head.configuration))
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val tbl = new Path(table)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: DeltaSinkCommitMessage => m }
      .flatMap(_.files)
      .foreach(f => fs.delete(new Path(tbl, f.relPath), false))
  }
}

private[delta] case class StagedSinkFile(
    relPath: String, size: Long, partitionValues: Map[String, String])

private[delta] case class DeltaSinkCommitMessage(files: Seq[StagedSinkFile])
    extends WriterCommitMessage

/** Driver-side resolution of the table's CHECK constraints against the
  * write schema: each `delta.constraints.<name>` SQL text parses,
  * analyzes (type-checked like a WHERE clause), wraps in the SQL CHECK
  * null-pass rule (NULL satisfies), and binds to row ordinals — the
  * bound expressions serialize to tasks, where a compiled predicate
  * evaluates per row with no session access. */
private[delta] object SinkConstraints {
  import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, Expression, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}

  def bind(spark: SparkSession, schema: StructType,
           head: DeltaLog.Snapshot): Seq[(String, String, Expression)] = {
    import org.apache.spark.sql.types.DataType
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val checks = DeltaTable.constraintsOf(head.configuration).map { case (name, sql) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(sql)
      val analyzed = spark.sessionState.analyzer
        .execute(Filter(parsed, LocalRelation(attrs)))
      val cond = analyzed.collectFirst { case f: Filter => f.condition }
        .getOrElse(throw new IllegalStateException(
          s"graft-delta sink: constraint `$name` ($sql) did not analyze"))
      val nullPasses = Coalesce(Seq(cond, Literal(true)))
      (s"CHECK constraint `$name`", sql, nullPasses)
    } ++
      // column invariants: log-schema NOT NULL fields refuse null rows
      head.schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .toSeq.flatMap(_.fields)
        .filter(f => !f.nullable && schema.fieldNames.contains(f.name))
        .map { f =>
          val a = attrs.find(_.name == f.name).get
          (s"NOT NULL constraint on `${f.name}`", s"${f.name} IS NOT NULL",
            org.apache.spark.sql.catalyst.expressions.IsNotNull(a)
              : Expression)
        }
    checks.map { case (what, sql, e) =>
      (what, sql, BindReferences.bindReference(e, attrs))
    }
  }
}

private[delta] case class DeltaSinkWriterFactory(
    table: String, schema: StructType, partCols: Array[String],
    conf: SerializableHadoopConf, sessionTimeZone: String,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    insertExprs: Option[Seq[
      org.apache.spark.sql.catalyst.expressions.Expression]] = None)
    extends StreamingDataWriterFactory with DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DeltaSinkDataWriter(table, schema, partCols, conf.value,
      java.time.ZoneId.of(sessionTimeZone), constraints,
      insertExprs, partitionId)
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, 0L)
}

/** Task-side writer: routes each row to its Hive partition dir (one
  * open parquet writer per partition value seen by this task) and
  * reports the written files; nothing becomes visible until the
  * driver's log commit. */
private[delta] class DeltaSinkDataWriter(
    table: String, schema: StructType, partCols: Array[String],
    hadoopConf: org.apache.hadoop.conf.Configuration,
    zone: java.time.ZoneId,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty,
    insertExprs: Option[Seq[
      org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    partitionId: Int = 0)
    extends DataWriter[InternalRow] {

  // generated/identity transform (plain tables carry None and pay
  // nothing): applied BEFORE the constraint checks, so CHECK/NOT NULL
  // see the computed/allocated values, not the incoming NULLs
  private lazy val insertProj = insertExprs.map { es =>
    val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(es.toArray)
    p.initialize(partitionId)
    p
  }

  private val dataFields: Array[(StructField, Int)] =
    schema.fields.zipWithIndex.filterNot { case (f, _) => partCols.contains(f.name) }
  private val partFields: Array[(StructField, Int)] =
    partCols.map(c => (schema(c), schema.fieldIndex(c)))
  private val groupWriter =
    new DeltaGroupWriter(StructType(dataFields.map(_._1)))

  // CHECK enforcement: compiled once per task from the driver-bound
  // expressions (null already folded to pass), evaluated per row
  private lazy val checkPreds = constraints.map { case (n, s, e) =>
    (n, s, org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }

  private val open = mutable.Map.empty[String, DeltaGroupWriter.OpenFile]

  private def partitionRel(row: InternalRow): String =
    partFields.map { case (f, i) =>
      val rendered =
        if (row.isNullAt(i)) "__HIVE_DEFAULT_PARTITION__"
        else DeltaGroupWriter.escapePathName(
          DeltaGroupWriter.renderPartitionValue(row.get(i, f.dataType), f.dataType, zone))
      s"${f.name}=$rendered"
    }.mkString("/")

  override def write(row0: InternalRow): Unit = {
    val row = insertProj.map(p => p(row0): InternalRow).getOrElse(row0)
    checkPreds.foreach { case (what, sql, p) =>
      if (!p.eval(row)) throw new IllegalArgumentException(
        s"graft-delta sink: $what ($sql) violated")
    }
    val rel = partitionRel(row)
    val of = open.getOrElseUpdate(rel, {
      val name = s"part-${java.util.UUID.randomUUID()}.snappy.parquet"
      val relPath = if (rel.isEmpty) name else s"$rel/$name"
      groupWriter.open(new Path(table, relPath), relPath, hadoopConf)
    })
    of.writer.write(groupWriter.toGroup(row, dataFields))
  }

  override def commit(): WriterCommitMessage = {
    val files = open.values.map { of =>
      of.writer.close()
      val st = of.path.getFileSystem(hadoopConf).getFileStatus(of.path)
      StagedSinkFile(of.relPath, st.getLen,
        DeltaMicroBatchStream.partValuesFromPath(of.relPath))
    }.toSeq
    open.clear()
    DeltaSinkCommitMessage(files)
  }

  override def abort(): Unit = {
    open.values.foreach { of =>
      try of.writer.close() catch { case _: Exception => () }
      of.path.getFileSystem(hadoopConf).delete(of.path, false)
    }
    open.clear()
  }

  override def close(): Unit = ()
}

/** Catalyst row → parquet Group conversion for the scalar lattice, and
  * the schema translation that drives it. Types mirror what Spark's own
  * parquet writer emits (INT64-micros timestamps, annotated decimals),
  * so files written here read identically through the batch path. */
private[delta] class DeltaGroupWriter(dataSchema: StructType) extends Serializable {
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.io.api.Binary

  @transient private lazy val messageType = DeltaGroupWriter.messageType(dataSchema)
  @transient private lazy val factory = new SimpleGroupFactory(messageType)

  def open(path: Path, relPath: String,
           conf: org.apache.hadoop.conf.Configuration): DeltaGroupWriter.OpenFile = {
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(path, conf))
      .withConf(conf)
      .withType(messageType)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    DeltaGroupWriter.OpenFile(w, path, relPath)
  }

  def toGroup(row: InternalRow, fields: Array[(StructField, Int)]): Group = {
    val g = factory.newGroup()
    fields.foreach { case (f, i) =>
      if (!row.isNullAt(i)) f.dataType match {
        case BooleanType => g.add(f.name, row.getBoolean(i))
        case ByteType => g.add(f.name, row.getByte(i).toInt)
        case ShortType => g.add(f.name, row.getShort(i).toInt)
        case IntegerType | DateType => g.add(f.name, row.getInt(i))
        case LongType | TimestampType | TimestampNTZType => g.add(f.name, row.getLong(i))
        case FloatType => g.add(f.name, row.getFloat(i))
        case DoubleType => g.add(f.name, row.getDouble(i))
        case StringType =>
          g.add(f.name, Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
        case BinaryType =>
          g.add(f.name, Binary.fromConstantByteArray(row.getBinary(i)))
        case d: DecimalType if d.precision <= 18 =>
          g.add(f.name, row.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType =>
          g.add(f.name, Binary.fromConstantByteArray(
            row.getDecimal(i, d.precision, d.scale)
              .toJavaBigDecimal.unscaledValue().toByteArray))
        case other =>
          throw new IllegalStateException(s"graft-delta sink: $other")
      }
    }
    g
  }
}

private[delta] object DeltaGroupWriter {
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  final case class OpenFile(
      writer: org.apache.parquet.hadoop.ParquetWriter[org.apache.parquet.example.data.Group],
      path: Path, relPath: String)

  def supported(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(fieldType(f)))
    b.named("spark_schema")
  }

  private def fieldType(f: StructField): Type = {
    import LogicalTypeAnnotation._
    val t = f.dataType match {
      case BooleanType => Types.optional(BOOLEAN)
      case ByteType => Types.optional(INT32).as(intType(8, true))
      case ShortType => Types.optional(INT32).as(intType(16, true))
      case IntegerType => Types.optional(INT32)
      case LongType => Types.optional(INT64)
      case FloatType => Types.optional(FLOAT)
      case DoubleType => Types.optional(DOUBLE)
      case StringType => Types.optional(BINARY).as(stringType())
      case BinaryType => Types.optional(BINARY)
      case DateType => Types.optional(INT32).as(dateType())
      case TimestampType =>
        Types.optional(INT64).as(timestampType(true, TimeUnit.MICROS))
      case TimestampNTZType =>
        Types.optional(INT64).as(timestampType(false, TimeUnit.MICROS))
      case d: DecimalType if d.precision <= 18 =>
        Types.optional(INT64).as(decimalType(d.scale, d.precision))
      case d: DecimalType =>
        Types.optional(BINARY).as(decimalType(d.scale, d.precision))
      case other =>
        throw new IllegalArgumentException(s"graft-delta sink: $other")
    }
    t.named(f.name)
  }

  /** Internal value → Hive partition-dir string, the inverse of
    * [[DeltaRowReader.parsePartition]]. */
  def renderPartitionValue(v: Any, t: DataType, zone: java.time.ZoneId): String =
    t match {
      case StringType => v.toString
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           FloatType | DoubleType => v.toString
      case DateType => java.time.LocalDate.ofEpochDay(
        v.asInstanceOf[Int].toLong).toString
      case TimestampType =>
        val micros = v.asInstanceOf[Long]
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        java.time.LocalDateTime.ofInstant(inst, zone).toString.replace('T', ' ')
      case TimestampNTZType =>
        // zoneless wall-clock: render the stored micros as-is (UTC
        // frame), NOT through the session zone — NTZ has no zone
        val micros = v.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC).toString.replace('T', ' ')
      case d: DecimalType =>
        v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal.toPlainString
      case other =>
        throw new IllegalArgumentException(
          s"graft-delta sink: partition column type $other")
    }

  /** Hive path escaping (the char set Spark/Hive escape), inverse of
    * [[DeltaRowReader.unescapePathName]]. */
  def escapePathName(s: String): String = {
    def unsafe(c: Char): Boolean =
      c < ' ' || c == '\u007F' || "\"#%'*/:=?\\{[]^".indexOf(c.toInt) >= 0
    val sb = new java.lang.StringBuilder(s.length)
    s.foreach { c =>
      if (unsafe(c)) sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }
}
