package graft.sources.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming SOURCE over the from-scratch Delta log
  * (`spark.readStream.format("graft-delta").load(table)`) — the
  * consuming half of a Delta-to-Delta pipeline as a first-class
  * streaming source: the refusing counterpart of the pull API
  * [[DeltaTable.changesOrRebase]], which rebases where this refuses.
  * delta-spark's streaming source has the same contract
  * (`spark/SaveDelta.scala:157-163` writes the table this would tail).
  *
  * Offsets ARE log versions: `latestOffset` lists the log (a few KB of
  * metadata — no data IO), and a micro-batch (start, end] reads the
  * files ADDED in those commits with `dataChange=true`. Maintenance
  * commits (OPTIMIZE/compaction) are skipped exactly like
  * `changesOrRebase`; a data-changing REMOVE
  * (overwrite/merge) fails the batch loudly — an append-only tailer
  * cannot represent it (upstream's ignoreChanges contract). Offsets
  * live in the query's checkpoint, so restarts resume exactly-once:
  * the log is immutable per version, which makes every replanned batch
  * bit-identical.
  *
  * A stream differs from a batch scan only in WHICH files it plans: a
  * micro-batch's files bin-pack and read through the same Spark
  * vectorized parquet reader [[DeltaBatchScan]] builds, so every column
  * type Spark's parquet source reads streams too. Hive-partition
  * columns restore from the add-action's `partitionValues` (logical
  * values per the protocol, session-timezone timestamps); a column type
  * that reader cannot read refuses at schema resolution rather than
  * corrupting silently.
  *
  * Backlog admission: `maxFilesPerTrigger` bounds each batch's planned
  * files, and Trigger.AvailableNow is first-class (end offset pinned at
  * start, rate limit honored, clean stop) — see
  * [[DeltaMicroBatchStream]]. */
class DeltaStreamDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = DeltaStreamDataSource.tablePath(options)
    val base = DeltaStreamDataSource.logSchema(path,
      DeltaStreamDataSource.asOfVersion(options, path))
    if (DeltaStreamDataSource.cdfMode(options))
      DeltaStreamDataSource.cdfSchema(base)
    else base
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    DeltaStreamDataSource.makeTable(schema,
      new CaseInsensitiveStringMap(properties))
}

private[delta] object DeltaStreamDataSource {
  def tablePath(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-delta: 'path' option required"))

  /** `option("readChangeFeed", "true")` — delta-spark's streaming CDF
    * mode: the stream delivers row-level CHANGES instead of appended
    * rows, which is how a pipeline tails a table that undergoes
    * DELETE/UPDATE/MERGE (the plain mode refuses data-changing removes). */
  def cdfMode(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("readChangeFeed")).exists(_.toBoolean)

  val CdfMetaColumns: Seq[String] =
    Seq("_change_type", "_commit_version", "_commit_timestamp")

  def cdfSchema(base: StructType): StructType = base
    .add("_change_type", StringType)
    .add("_commit_version", LongType)
    .add("_commit_timestamp", TimestampType)

  /** `option("versionAsOf", N)` / `option("timestampAsOf", ts)` — batch
    * time travel through the connector, delta-spark's options of the
    * same names. Timestamps accept epoch millis or an ISO-ish
    * `yyyy-MM-dd HH:mm:ss`, interpreted UTC (the engine's pinned
    * session zone), resolved to the latest version committed at or
    * before that instant. */
  def versionAsOf(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("versionAsOf")).map(_.toLong)

  def asOfVersion(options: CaseInsensitiveStringMap,
                  table: String): Option[Long] =
    versionAsOf(options).orElse(
      Option(options.get("timestampAsOf")).map { s =>
        val ms = scala.util.Try(s.trim.toLong).getOrElse(
          java.time.LocalDateTime.parse(s.trim.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
        DeltaTable.versionAtTimestamp(SparkSession.active, table, ms)
      })

  /** The table's user-facing log schema — EMPTY when the table has no
    * commits yet: the write path must be able to get a Table for a
    * not-yet-created sink target (its first epoch creates the log); the
    * READ paths refuse an empty schema loudly at scan-build time. Time
    * travel resolves the schema AS OF that version (evolution-correct). */
  def logSchema(table: String, asOf: Option[Long] = None): StructType = {
    val snap = DeltaLog.snapshot(SparkSession.active, table, asOf)
    if (snap.isEmpty) return new StructType()
    val schema = snap.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"graft-delta: $table missing metaData"))
    val parquet =
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    schema.fields.foreach { f =>
      require(parquet.supportDataType(f.dataType),
        s"graft-delta: unsupported column type ${f.dataType.catalogString} " +
          s"for ${f.name} — Spark's parquet reader cannot read it")
    }
    // user-facing: logical names without the column-mapping bookkeeping
    // metadata (the scan re-reads the stamped schema from its own
    // snapshot — delta-spark hides the stamps from reads identically)
    ColumnMapping.stripped(schema)
  }

  /** The table binding: the [[DeltaStreamTableRlo]] variant (native
    * row-level DML + `_file`/`_pos` metadata columns) for current-head
    * tables — COLUMN-MAPPED and generated/identity ones included (the
    * scan and write translate logical→physical; the row-level write
    * recomputes generated columns, allocates identity values and
    * advances the high-water mark per row,
    * [[GeneratedColumns.bindRowTransforms]]); the base class for
    * CDF-mode and time-travel bindings (read-only views) and
    * not-yet-created sink targets. Every session gets the same class:
    * SQL DML has one route. */
  def makeTable(schema: StructType,
                options: CaseInsensitiveStringMap): DeltaStreamTable = {
    val eligible = schema.fields.nonEmpty &&
      !cdfMode(options) && versionAsOf(options).isEmpty &&
      options.get("timestampAsOf") == null
    if (eligible) new DeltaStreamTableRlo(schema, options)
    else new DeltaStreamTable(schema, options)
  }
}

private[delta] class DeltaStreamTable(
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics {
  override def name(): String = "graft-delta:" + options.get("path")

  /** Per-epoch sink counters for `StreamingQueryProgress.sink.metrics`
    * — this table instance IS the query's sink object (resolved once by
    * `DataStreamWriter.start`), so the holder's lifetime matches the
    * query's. */
  private val sinkMetricsHolder = new DeltaSinkMetricsHolder
  override def metrics(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    sinkMetricsHolder.snapshot.asJava
  }

  /** Filesystem path of this table — the log every read, write and DML
    * binding of this table resolves against. */
  private[delta] def path: String = DeltaStreamDataSource.tablePath(options)

  /** Table properties = the log's metaData configuration (e.g.
    * `delta.enableChangeDataFeed`), so `SHOW TBLPROPERTIES` surfaces
    * what ALTER TABLE / setProperties committed. */
  override def properties(): java.util.Map[String, String] = {
    import scala.jdk.CollectionConverters._
    DeltaLog.snapshot(SparkSession.active, path).configuration.asJava
  }

  /** The table's CHECK constraints (stored as `delta.constraints.*`
    * properties), surfaced through Spark 4's connector constraint API so
    * the ANSI grammar's duplicate checks and DESCRIBE see them. */
  override def constraints()
    : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    DeltaTable
      .constraintsOf(DeltaLog.snapshot(SparkSession.active, path).configuration)
      .map { case (n, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint.check(n)
          .predicateSql(sql).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  /** `DELETE FROM` in SQL (and `TRUNCATE TABLE` via the inherited
    * default) routes into the log-native row-level DELETE —
    * stats+partition candidate pruning, per-file match probe,
    * metadata-only partition drops, CDF capture, the lot. Only filters
    * with an EXACT Catalyst translation are accepted: an over-matching
    * fallback would delete rows the SQL didn't name. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => DeltaBatchScan.convertExact(f).isDefined)
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"graft-delta: cannot translate ${filters.mkString(", ")} exactly")
    DeltaTable.delete(SparkSession.active,
      DeltaStreamDataSource.tablePath(options),
      org.apache.spark.sql.graft.ColumnBridge.column(
        DeltaBatchScan.filtersToPredicate(filters)))
  }
  override def schema(): StructType = tableSchema
  // ACCEPT_ANY_SCHEMA only while the table DOESN'T EXIST yet (empty
  // bootstrap schema): the first write creates it and the sink derives
  // the log schema from the data. An EXISTING table must NOT advertise
  // it — Spark's output resolution is what renames/casts `INSERT INTO
  // ... VALUES` columns (col1, col2, …) onto the table's schema; the
  // sink's own log-schema check remains as the commit-time backstop.
  override def capabilities(): java.util.Set[TableCapability] = {
    // AUTOMATIC_SCHEMA_EVOLUTION gates MERGE WITH SCHEMA EVOLUTION:
    // Spark's ResolveMergeIntoSchemaEvolution only fires for tables
    // advertising it, then drives the widening through the catalog's
    // alterTable(AddColumn) → [[DeltaTable.addColumns]]
    val caps = java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    if (tableSchema.fields.isEmpty) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    require(tableSchema.fields.nonEmpty,
      s"graft-delta: ${DeltaStreamDataSource.tablePath(options)} has no commits")
    new DeltaScanBuilder(tableSchema, options)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a time-travel binding is a read-only view of that snapshot:
    // writing "to the past" would silently land on the current head
    require(DeltaStreamDataSource.versionAsOf(options).isEmpty &&
        options.get("timestampAsOf") == null,
      "graft-delta: cannot write to a VERSION AS OF / TIMESTAMP AS OF " +
        "table binding — writes go to the current table")
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var doTruncate = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        doTruncate = true; this
      }
      private def partBy: Seq[String] =
        Option(info.options().get("partitionBy"))
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq.empty)
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toBatch
            : org.apache.spark.sql.connector.write.BatchWrite =
            new DeltaBatchWrite(DeltaStreamDataSource.tablePath(options),
              info.schema(), partBy, doTruncate)
          override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            require(!doTruncate, "graft-delta sink: streaming supports " +
              "append output mode only")
            // txn appId: the QUERY id by default — stable across restarts
            // via the checkpoint, the upstream delta sink's choice
            val appId = Option(info.options().get("txnAppId"))
              .getOrElse(info.queryId())
            new DeltaStreamingWrite(DeltaStreamDataSource.tablePath(options),
              info.schema(), appId, partBy, Some(sinkMetricsHolder))
          }
        }
    }
  }
}

/** The plain table plus Spark-native row-level DML: advertises
  * [[GraftMeta]] `_file`/`_pos` metadata columns and
  * `SupportsRowLevelOperations`, so SQL DELETE/UPDATE/MERGE rewrite
  * into `WriteDelta` plans against [[GraftRowLevelOperation]], with or
  * without [[graft.GraftExtensions]] registered. Every current-head
  * table gets this class ([[DeltaStreamDataSource.makeTable]]):
  * column-mapped ones (scan and write translate logical→physical) and
  * generated/identity ones (per-row guards, computation and
  * allocation in the write) included. */
private[delta] class DeltaStreamTableRlo(
    rloSchema: StructType, rloOptions: CaseInsensitiveStringMap)
    extends DeltaStreamTable(rloSchema, rloOptions)
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def metadataColumns()
    : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    // identity/generated tables additionally expose per-column
    // pre-image values (`__graft_old__<col>`) so the native row-level
    // write can refuse per-row identity changes and explicit generated
    // assignments; plain tables stay exactly `_file`/`_pos`
    GraftMeta.columns ++ GraftMeta.oldIdentityColumns(rloSchema) ++
      GraftMeta.oldGeneratedColumns(rloSchema)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(rloSchema, rloOptions, info.command())
}

/** DSv2 scan builder: Spark pushes its column requirements and data
  * filters through the standard seams, and the scan turns them into
  * LOG-level file skipping ([[DataSkipping.mayMatchWithPartitions]]) —
  * the same pruning `DeltaTable.readWhere` does, arriving through the
  * engine-native plan path so `spark.read.format("graft-delta")` +
  * `.filter(...)` skips files with no user API at all. Every filter is
  * kept as a RESIDUAL (returned back to Spark for row-level
  * re-evaluation): pushdown here only shrinks IO, never decides rows —
  * stats may be absent, unparseable, or conservative. */
private[delta] class DeltaScanBuilder(
    tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = tableSchema
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters // all residual: skipping-only pushdown is sound by construction
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new DeltaStreamScan(tableSchema, required, pushed, options)
}

private[delta] class DeltaStreamScan(
    tableSchema: StructType, readSchemaPruned: StructType,
    filters: Array[sources.Filter],
    options: CaseInsensitiveStringMap) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  override def readSchema(): StructType = readSchemaPruned

  /** Runtime (DPP-style) filtering: Spark hands predicates computed at
    * EXECUTION time (e.g. the build side's join keys) and re-plans;
    * they join the pushed set for log-level file skipping — a
    * partitioned fact scan joined to a filtered dimension then opens
    * only the partitions the dimension actually references. All columns
    * are fair game because the skipping engine prunes on stats AND
    * partitionValues; unconvertible predicates drop (pruning-only,
    * Spark re-applies everything row-level). */
  override def filterAttributes()
    : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns of the PRUNED read schema: Spark resolves these
    // against the scan's output, which column pruning already shrank
    readSchemaPruned.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Unit =
    batchScan.addRuntimeFilters(
      org.apache.spark.sql.graft.ColumnBridge.predicatesToV1(predicates))
  override def description(): String =
    s"graft-delta ${DeltaStreamDataSource.tablePath(options)} " +
      s"PushedFilters: ${filters.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${readSchemaPruned.catalogString}"
  // ONE batch scan instance: statistics and execution must describe the
  // same pinned snapshot (and pay one log replay, not two)
  private lazy val batchScan: DeltaBatchScan = {
    // batch CDF is DeltaTable.readChangeFeed(spark, table, from, to) —
    // the DSv2 batch path reads the CURRENT snapshot and would silently
    // NULL the meta columns if allowed through
    require(!DeltaStreamDataSource.cdfMode(options),
      "graft-delta: readChangeFeed is a STREAMING option here; for batch " +
        "change feeds use DeltaTable.readChangeFeed(spark, table, from, to)")
    val path = DeltaStreamDataSource.tablePath(options)
    new DeltaBatchScan(path, tableSchema, readSchemaPruned, filters,
      DeltaStreamDataSource.asOfVersion(options, path))
  }
  override def toBatch: Batch = batchScan

  /** Log-derived statistics over the FILTER-PRUNED live set: bytes from
    * add-action sizes, rows from add-action numRecords minus deletion-
    * vector cardinalities — what makes Spark's broadcast-join threshold
    * and AQE work on graft-delta relations without an ANALYZE pass (a
    * DSv2 scan without stats reports defaultSizeInBytes = "huge", so a
    * KB-sized dimension table would shuffle-join forever). Streaming
    * (CDF-mode) bindings report unknown. */
  override def estimateStatistics()
    : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private lazy val est: (Long, Option[Long]) =
        if (DeltaStreamDataSource.cdfMode(options)) (Long.MaxValue, None)
        else batchScan.estimate
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(est._1)
      override def numRows(): java.util.OptionalLong =
        est._2.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
    }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(DeltaStreamDataSource.versionAsOf(options).isEmpty &&
        options.get("timestampAsOf") == null,
      "graft-delta: versionAsOf/timestampAsOf are BATCH options; streams " +
        "position with startingVersion")
    // column mapping: a RENAMED/DROPPED column makes historic file names
    // diverge from the stream's pinned schema — delta-spark's default is
    // the same refusal (streaming past read-incompatible schema changes
    // needs schema tracking). Tables merely UPGRADED (no rename yet, all
    // physical == logical) stream fine.
    locally {
      val p = DeltaStreamDataSource.tablePath(options)
      val snap = DeltaLog.snapshot(SparkSession.active, p)
      snap.schemaJson.foreach { j =>
        val s = DataType.fromJson(j).asInstanceOf[StructType]
        require(!ColumnMapping.hasMapping(s),
          s"graft-delta: $p has renamed/dropped columns (column mapping); " +
            "streaming reads across rename boundaries are not supported — " +
            "read the current snapshot via batch (DeltaTable.read / " +
            "spark.read.format(\"graft-delta\")) and restart the pipeline")
      }
    }
    new DeltaMicroBatchStream(DeltaStreamDataSource.tablePath(options),
      readSchemaPruned,
      Option(options.get("startingVersion")).getOrElse("earliest"),
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      DeltaStreamDataSource.cdfMode(options),
      tableSchema)
  }
}

/** `{"version":N}` — the committed log version this cursor has fully
  * delivered. */
private[delta] case class DeltaOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Micro-batch planner with ADMISSION CONTROL: `maxFilesPerTrigger`
  * caps how many add-files a single batch plans (a 100 TB backlog table
  * must drain as bounded batches, not one giant catch-up batch — the
  * upstream `maxFilesPerTrigger` contract; versions are atomic units,
  * so a single over-cap commit still delivers whole), and
  * Trigger.AvailableNow is first-class: the end offset is pinned at
  * stream start ([[prepareForTriggerAvailableNow]]), batches respect the
  * rate limit, and the query stops at the pinned end instead of falling
  * back to one unbounded batch. */
private[delta] class DeltaMicroBatchStream(table: String, schema: StructType,
                                           startingVersion: String = "earliest",
                                           maxFilesPerTrigger: Option[Int] = None,
                                           cdf: Boolean = false,
                                           tableSchemaOrNull: StructType = null)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // the TABLE's full schema for the evolution guard — `schema` may be a
  // COLUMN-PRUNED subset (DSv2 pruning applies to streams too), and a
  // guard against the pruned set would flag every un-selected column as
  // an evolution
  private val tableSchema: StructType =
    Option(tableSchemaOrNull).getOrElse(schema)

  private def spark = SparkSession.active

  // Trigger.AvailableNow: versions committed after this pin arrive in a
  // LATER run of the query, exactly like upstream's available-now sources
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(DeltaLog.versions(spark, table).lastOption.getOrElse(-1L))

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  /** Admission-controlled head: admit whole versions in order until the
    * file cap is met — always at least one version (progress), a
    * single over-cap commit delivers whole (versions are atomic). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val sv = start.asInstanceOf[DeltaOffset].version
    val head = cappedHead()
    limit match {
      case mf: ReadMaxFiles if head > sv =>
        val vs = DeltaLog.versions(spark, table).filter(v => v > sv && v <= head)
        var end = sv
        var files = 0
        for (v <- vs if end == sv || files < mf.maxFiles()) {
          val c = DeltaLog.readCommit(spark, table, v)
          files +=
            (if (!cdf) c.adds.count(_.dataChange)
             else if (c.cdcFiles.nonEmpty) c.cdcFiles.size
             else c.adds.count(_.dataChange) + c.removes.count(_.dataChange))
          end = v
        }
        DeltaOffset(end)
      case _ => DeltaOffset(head)
    }
  }

  private def cappedHead(): Long = {
    val head = DeltaLog.versions(spark, table).lastOption.getOrElse(-1L)
    availableNowCap.fold(head)(math.min(head, _))
  }

  // fixed for the stream's lifetime (writeInternal refuses a partitioning
  // change), so one metadata read instead of a snapshot replay per batch
  private lazy val partCols: Set[String] =
    DeltaLog.snapshot(spark, table).partitionColumns.toSet

  private def isCdfMeta(name: String): Boolean =
    cdf && DeltaStreamDataSource.CdfMetaColumns.contains(name)

  /** The read layout planning and the reader factory share. Requested
    * data columns come from the files; partition columns and, in CDF
    * mode, `_commit_version`/`_commit_timestamp` are per-file constants
    * in each `PartitionedFile`'s partition-values row. `_change_type`
    * is data in a cdc file but a constant LEADING that row in a derived
    * insert/delete file, so both emit `data ++ _change_type ++ consts`. */
  private lazy val dataRequested: StructType =
    StructType(schema.fields.filterNot(f => partCols(f.name) || isCdfMeta(f.name)))
  private lazy val constFields: Array[StructField] = schema.fields.filter(f =>
    partCols(f.name) || (isCdfMeta(f.name) && f.name != "_change_type"))
  private lazy val changeType: Option[StructField] =
    schema.fields.find(f => cdf && f.name == "_change_type")

  /** One file's constant row: `ct` first when the file supplies its
    * change type as a constant (null: a cdc file reads it from its
    * data), then partition values and the commit's version/timestamp. */
  private def constRow(pv: Map[String, String], ct: String, v: Long,
                       tsMs: Long, zone: java.time.ZoneId): InternalRow =
    InternalRow.fromSeq(
      (if (ct != null && changeType.isDefined) Seq(UTF8String.fromString(ct))
       else Nil) ++
        constFields.toSeq.map { f =>
          if (partCols(f.name))
            PartitionPath.parsePartition(pv.get(f.name).orNull, f.dataType, zone)
          else if (f.name == "_commit_version") v
          else Math.multiplyExact(tsMs, 1000L) // _commit_timestamp
        })

  /** `earliest` (default) delivers the whole table as the first batch
    * (requires an append-only history); `latest` tails only commits after
    * stream creation — the escape hatch for tables whose history carries
    * overwrites; a number starts after that version. */
  override def initialOffset(): Offset = startingVersion match {
    case "earliest" => DeltaOffset(-1L)
    case "latest" => latestOffset().asInstanceOf[DeltaOffset]
    case v => DeltaOffset(v.toLong)
  }

  override def latestOffset(): Offset = DeltaOffset(cappedHead())

  override def deserializeOffset(json: String): Offset = {
    import org.json4s._
    (org.json4s.jackson.JsonMethods.parse(json) \ "version") match {
      case JInt(v) => DeltaOffset(v.toLong)
      case JLong(v) => DeltaOffset(v)
      case other => throw new IllegalArgumentException(
        s"graft-delta: bad offset $json ($other)")
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (sv, ev) = (start.asInstanceOf[DeltaOffset].version,
      end.asInstanceOf[DeltaOffset].version)
    if (ev <= sv) return Array.empty
    val vs = DeltaLog.versions(spark, table).filter(v => v > sv && v <= ev)
    // same reconstruction contract as changesOrRebase: the batch's range
    // must be dense, and (plain mode) data-changing removes cannot be
    // tailed — CDF mode is exactly how those become representable
    require(vs == (sv + 1 to ev),
      s"graft-delta: $table's log is missing commits in ($sv, $ev] " +
        s"(retained: $vs) — this cursor's unread commits are gone")
    val fs = new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    DeltaBatchScan.filePartitions(spark, vs.flatMap { v =>
      val c = DeltaLog.readCommit(spark, table, v)
      require(cdf || c.dataChangingRemoves == 0,
        s"graft-delta: $table was overwritten/merged at version $v — " +
          "append-only tailing cannot represent removes; restart the " +
          "stream from the current snapshot, or tail the change feed " +
          "(option readChangeFeed=true)")
      // schema-evolution guard: a commit whose metaData carries a column
      // this stream's PINNED schema lacks (mergeSchema append landed
      // mid-stream) would have that column silently DROPPED from every
      // row we deliver — refuse loudly instead. Historic schemas that
      // are subsets of the pinned one (evolution before stream start)
      // read fine: the parquet reader NULL-fills missing columns.
      c.schemaJson.foreach { sj =>
        val cs = DataType.fromJson(sj).asInstanceOf[StructType]
        cs.fields.foreach { f =>
          val compatible = tableSchema.fields.find(_.name == f.name)
            .exists(_.dataType.catalogString == f.dataType.catalogString)
          require(compatible,
            s"graft-delta: $table's schema evolved at version $v " +
              s"(column `${f.name}`: ${f.dataType.catalogString} is not in " +
              "this stream's schema) — restart the stream to adopt it; " +
              "offsets resume from the checkpoint, nothing is re-delivered")
        }
      }
      if (!cdf)
        c.adds.filter(_.dataChange).map { a =>
          // a DV-bearing add (cloned-in, or a DV DELETE's re-add) is NOT
          // an append of the whole file — tailing it would deliver
          // deleted rows
          require(a.dv.forall(_.cardinality == 0L),
            s"graft-delta: ${a.path} carries a deletion vector at " +
              s"version $v — appends-only tailing would deliver deleted " +
              "rows; tail the change feed (readChangeFeed=true) or " +
              "re-read the snapshot")
          (new Path(table, a.path), a.size,
            constRow(a.partitionValues, null, v, 0L, zone))
        }
      else {
        val ts = DeltaLog.commitTimestamp(spark, table, v, c)
        if (c.cdcFiles.nonEmpty)
          // precise row changes: _change_type is IN the file; partition
          // columns ride the cdc action's partitionValues
          c.cdcFiles.map { f =>
            val p = new Path(table, f.path)
            require(fs.exists(p),
              s"graft-delta: change file $p vacuumed — feed no longer " +
                s"readable at v$v")
            (p, f.size, constRow(f.partitionValues, null, v, ts, zone))
          }
        else {
          // derived file-level changes, exactly readChangeFeed's fallback:
          // dataChange adds as inserts, dataChange removes as deletes
          // (read from the still-retained removed file — its partition
          // values parse from the Hive path, removes don't carry them)
          val dRems = c.removes.filter(_.dataChange)
          dRems.foreach(r => require(fs.exists(new Path(table, r.path)),
            s"graft-delta: file ${r.path} vacuumed — derived change feed " +
              s"no longer readable at v$v"))
          // derived files read without a DV filter: a derived feed over
          // DV'd files would replay deleted rows. Enable CDF on the
          // table (precise cdc files) before DV DELETEs land.
          (c.adds ++ dRems.map(r => DeltaLog.AddFile(r.path, 0L, dv = r.dv)))
            .foreach(a => require(a.dv.forall(_.cardinality == 0L),
              s"graft-delta: ${a.path} carries a deletion vector at " +
                s"version $v and this commit has no cdc files — enable " +
                "delta.enableChangeDataFeed for precise feeds over " +
                "DV-deleted tables"))
          c.adds.filter(_.dataChange).map(a =>
            (new Path(table, a.path), a.size,
              constRow(a.partitionValues, "insert", v, ts, zone))) ++
            dRems.map { r =>
              // removes carry no size: the file's own length
              val p = new Path(table, r.path)
              (p, fs.getFileStatus(p).getLen,
                constRow(PartitionPath.partValuesFromPath(r.path), "delete",
                  v, ts, zone))
            }
        }
      }
    })
  }

  /** The batch scan's reader over this stream's layout: one parquet
    * delegate, plus — when `_change_type` is requested — a second one
    * that reads it from cdc files' data, chosen per file
    * ([[CdcRoutingReaderFactory]]). */
  override def createReaderFactory(): PartitionReaderFactory = {
    val fileSchema = StructType(
      tableSchema.fields.filterNot(f => partCols(f.name) || isCdfMeta(f.name)))
    val (plain, _) = DeltaBatchScan.parquetReader(spark, fileSchema,
      dataRequested, StructType(changeType.toSeq ++ constFields), Array.empty)
    val base = changeType.fold(plain) { ct =>
      val (cdc, _) = DeltaBatchScan.parquetReader(spark, fileSchema.add(ct),
        dataRequested.add(ct), StructType(constFields), Array.empty)
      CdcRoutingReaderFactory(plain, cdc, derivedArity = constFields.length + 1)
    }
    DeltaBatchScan.inRequestedOrder(base,
      (dataRequested.fields ++ changeType ++ constFields).map(_.name), schema)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** BATCH side of the DSv2 connector: one planning pass over the
  * snapshot, files pruned by the PUSHED filters against add-action
  * stats + partitionValues — the log is the index, no directory
  * listing, no footer reads at plan time. Spark re-applies every
  * filter row-level (all filters are residual), so pruning only
  * shrinks IO.
  *
  * READING delegates to the engine's own vectorized DSv2 parquet
  * machinery: the pruned file list becomes size-split
  * `PartitionedFile`s bin-packed by `FilePartition.getFilePartitions`
  * (maxPartitionBytes/openCostInBytes semantics, identical to
  * `FileSourceScanExec`), and `ParquetPartitionReaderFactory` reads
  * them — columnar `ColumnarBatch` output under whole-stage codegen,
  * row-group-aligned splits of large files, parquet row-group/page
  * filter pushdown, and typed partition-value append, exactly what
  * `spark.read.parquet` plans. The log supplies WHICH bytes to read;
  * Spark's reader supplies HOW. */
private[delta] class DeltaBatchScan(table: String, tableSchema: StructType,
                                    schema: StructType,
                                    filters: Array[sources.Filter],
                                    versionAsOf: Option[Long] = None) extends Batch {

  private def spark = SparkSession.active

  /** ONE snapshot per scan, shared by planning and the reader factory —
    * both must describe the SAME version (a commit landing between the
    * two calls must not split them), and the second log replay was
    * measurable overhead on sub-second scans.
    *
    * Manifests past `spark.graft.delta.distributedReplayThreshold` plan
    * from the DISTRIBUTED checkpoint replay instead of the driver-side
    * one: partition-equality pushed filters prune ON the checkpoint
    * DataFrame ([[DeltaLog.prunedSnapshot]]) and stats stay unparsed, so
    * the driver materializes only the pruned list's (path, size,
    * partitionValues) — the slim form planning actually needs (splits +
    * partition rows). Residual skipping on that list is
    * partition-value-only (stats-less files are conservative); Spark
    * re-applies every filter row-level either way. Time travel rides
    * the distributed replay too (round 14 — the row-level operation's
    * scan pins the head version, which the newest checkpoint always
    * covers): an asOf BELOW the newest checkpoint degrades to the full
    * driver replay inside [[DeltaLog.prunedSnapshot]] — correct at any
    * scale, and the only form that can reconstruct pre-checkpoint
    * state. */
  @transient private lazy val snap: DeltaLog.Snapshot = {
    val s =
      if (!DeltaTable.chooseDistributedReplay(spark, table))
        DeltaLog.snapshot(spark, table, versionAsOf)
      else DeltaLog.prunedSnapshot(spark, table,
        DeltaBatchScan.partitionEqualities(filters),
        parseAddStats = false, onlyPartitionKeys = true, asOf = versionAsOf)
    require(!s.isEmpty, s"graft-delta: $table has no commits")
    s
  }

  /** Deletion-vector descriptors of the PRUNED live set, keyed by the
    * EXACT url-encoded path [[planInputPartitions]] stamps on each
    * `PartitionedFile` — the reader factory routes matching partitions
    * through the row-index filter. Keying on the pruned set (not the
    * whole snapshot) keeps a query whose filters exclude every
    * DV-bearing file fully VECTORIZED: one DELETE in last month's
    * partition must not de-vectorize this month's scans. Runtime
    * filters only shrink the planned set further, so a partition this
    * factory ever receives is covered either way. */
  @transient private def dvByPath: Map[String, DvDescriptor] =
    livePruned.iterator
      .filter(_.dv.exists(_.cardinality > 0))
      .map { f =>
        org.apache.spark.paths.SparkPath.fromPath(new Path(table, f.path))
          .urlEncoded -> f.dv.get
      }.toMap

  private def logSchemaOf(head: DeltaLog.Snapshot): StructType =
    head.schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"graft-delta: $table missing metaData"))

  /** logical → physical for this scan's snapshot (identity when the
    * table was never renamed/dropped — column mapping off). */
  @transient private lazy val physOf: Map[String, String] =
    ColumnMapping.physMap(logSchemaOf(snap))

  /** The requested METADATA columns ([[GraftMeta]] `_file`/`_pos`) —
    * present when a row-level operation's scan (or an explicit
    * `SELECT _file, _pos`) asked for row provenance. A data column that
    * happens to share the name shadows the metadata column (Spark's
    * metadata-column conflict rule), so only names ABSENT from the
    * table schema count. */
  private val metaFieldNames: Set[String] =
    (Set(GraftMeta.FileCol, GraftMeta.PosCol) ++
      // identity pre-image columns (`__graft_old__<col>`): requested by
      // the row-level UPDATE/MERGE scan; the reader copies the stored
      // column value under the metadata name
      schema.fieldNames.filter(_.startsWith(GraftMeta.OldIdPrefix)))
      .filter(n =>
        schema.fieldNames.contains(n) && !tableSchema.fieldNames.contains(n))

  /** [[schema]] minus the metadata columns: what the parquet delegate
    * actually reads from the files. */
  private val dataRequested: StructType =
    if (metaFieldNames.isEmpty) schema
    else StructType(schema.fields.filterNot(f => metaFieldNames.contains(f.name)))

  /** Requested partition fields, in their [[schema]] (requested) order.
    * The delegate parquet factory emits readDataSchema ++ partSchema;
    * [[DeltaPermutingReaderFactory]] restores the requested interleaved
    * order, so `readSchema()` never lies to Spark (the streaming side
    * shares it and its output schema is fixed at analysis). */
  private def partFields(head: DeltaLog.Snapshot): Array[StructField] = {
    val partCols = head.partitionColumns.toSet
    dataRequested.fields.filter(f => partCols.contains(f.name))
  }

  /** Runtime filters land after planning starts ([[DeltaStreamScan
    * .filter]]) and re-prune on the NEXT [[planInputPartitions]] call —
    * which is why [[livePruned]] is a def over the cached snapshot, not
    * a cached list. */
  @volatile private var runtimeFilters: Array[sources.Filter] = Array.empty
  private[delta] def addRuntimeFilters(fs: Array[sources.Filter]): Unit =
    runtimeFilters = runtimeFilters ++ fs

  /** Pushed-filter-pruned live file set — shared by partition planning
    * and the statistics estimate (same pinned snapshot, same pruning). */
  @transient private def livePruned: Seq[DeltaLog.AddFile] = {
    val head = snap
    val logSchema = logSchemaOf(head)
    // column mapping: stats + partitionValues are keyed physically
    val pred = ColumnMapping.physicalExpr(
      DeltaBatchScan.filtersToPredicate(filters ++ runtimeFilters), logSchema)
    val skipSchema = if (ColumnMapping.hasMapping(logSchema))
      ColumnMapping.physicalSchema(logSchema) else logSchema
    head.files
      .filter(f => DataSkipping.mayMatchWithPartitions(f, pred, skipSchema))
  }

  /** (bytes, rows) of the pruned set, from the log alone: add-action
    * sizes; numRecords minus DV cardinalities (rows None when any file
    * lacks stats — a wrong row count misleads the optimizer harder than
    * an absent one). */
  private[delta] def estimate: (Long, Option[Long]) = {
    val lp = livePruned // ONE skipping pass — livePruned is a def
    val bytes = lp.map(_.size).sum
    val rows =
      if (lp.nonEmpty && lp.forall(_.stats.isDefined))
        Some(lp.map(f => f.stats.get.numRecords -
          f.dv.map(_.cardinality).getOrElse(0L)).sum)
      else if (lp.isEmpty) Some(0L)
      else None
    (math.max(bytes, 1L), rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val pf = partFields(snap)
    val zone = java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    // EVERY file bin-packs — DV-bearing files and metadata-column scans
    // included: the routing factories build PER-FILE readers
    // ([[FilePartitionReaderFactory.buildReader]]), so each
    // PartitionedFile resolves its own vector and relative path and a
    // DML whose predicate doesn't prune on a many-small-files table
    // plans O(bytes/maxSplit) partitions, not O(#files).
    DeltaBatchScan.filePartitions(spark, livePruned.map { a =>
      (new Path(table, a.path), a.size, InternalRow.fromSeq(pf.toSeq.map(f =>
        PartitionPath.parsePartition(
          a.partitionValues.get(physOf.getOrElse(f.name, f.name)).orNull,
          f.dataType, zone))))
    })
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val head = snap
    val partCols = head.partitionColumns.toSet
    val logSchema = logSchemaOf(head)
    // the parquet factory must see the PHYSICAL names the files were
    // written under (column mapping); Spark only consumes positions —
    // readSchema() keeps reporting the logical names
    def phys(f: StructField): StructField =
      StructField(physOf.getOrElse(f.name, f.name), f.dataType, f.nullable)
    // Hive layout: partition columns live in the path, not the files
    val dataSchema = StructType(
      logSchema.fields.filterNot(f => partCols.contains(f.name)).map(phys))
    val readDataSchema = StructType(
      dataRequested.fields.filterNot(f => partCols.contains(f.name)).map(phys))
    val partSchema = StructType(partFields(head).map(phys))
    val physFilters = DeltaBatchScan.filtersToPhysical(filters, physOf)
    def reader(readData: StructType) = DeltaBatchScan.parquetReader(
      spark, dataSchema, readData, partSchema, physFilters)
    // the ROW-INDEX-augmented read (the DV routing and metadata-column
    // paths both read through one): the TEMPORARY name is what
    // ParquetRowIndexUtil matches; it must be nullable or the reader
    // refuses it as a required-but-missing file column instead of
    // generating it
    val readDataSchemaIdx = readDataSchema.add(StructField(
      org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        .ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType, nullable = true))
    val dvs = dvByPath // one pruning pass — dvByPath is a def
    // metadata-column scans: every partition is one file; the reader
    // appends `_file` (the add-action relative path, a per-partition
    // constant) and `_pos` (the parquet row index the temp column
    // populates), applies the file's deletion vector, and emits rows in
    // the REQUESTED order directly (no permuting wrapper, and no plain
    // delegate built — this branch never uses one).
    if (metaFieldNames.nonEmpty) {
      val (metaInner, bcMeta) = reader(readDataSchemaIdx)
      val relByPath = livePruned.map { f =>
        org.apache.spark.paths.SparkPath.fromPath(new Path(table, f.path))
          .urlEncoded -> f.path
      }.toMap
      return MetaColReaderFactory(metaInner, dvs, relByPath, table, bcMeta,
        rowIdxPos = readDataSchema.fields.length,
        innerFields = readDataSchemaIdx.fields ++ partSchema.fields,
        outSchema = schema, metaNames = metaFieldNames, physOf = physOf)
    }
    val (inner, _) = reader(readDataSchema)
    // deletion vectors: DV partitions read through a second delegate
    // whose readDataSchema appends the row-index column; the routing
    // factory drops recorded rows and the extra column. The scan stays
    // COLUMNAR either way: DV batches filter through selection-vector
    // column views ([[SelectedColumnVector]] — one int[] gather map per
    // batch), clean partitions' batches pass through untouched, so one
    // DELETE in one file no longer de-vectorizes the other 10k files'
    // scan.
    val base =
      if (dvs.isEmpty) inner
      else {
        val (dvInner, bcDv) = reader(readDataSchemaIdx)
        DvRoutingReaderFactory(inner, dvInner, dvs, table, bcDv,
          rowIdxPos = readDataSchema.fields.length,
          innerFields = readDataSchemaIdx.fields ++ partSchema.fields)
      }
    DeltaBatchScan.inRequestedOrder(base,
      (readDataSchema.fields ++ partSchema.fields).map(_.name), schema, physOf)
  }
}

/** Restores the REQUESTED column order over a delegate factory that
  * emits `readDataSchema ++ partitionSchema` (the layout Spark's
  * parquet factory produces). Columnar path: O(#cols) pointer shuffle
  * per batch — the vectors themselves are untouched, vectorization and
  * whole-stage codegen are preserved. Row fallback: one codegen'd
  * projection. */
private[delta] case class DeltaPermutingReaderFactory(
    inner: PartitionReaderFactory, perm: Array[Int], schema: StructType)
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    inner.supportColumnarReads(partition)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val d = inner.createReader(partition)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      perm.zipWithIndex.map { case (p, i) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(
          p, schema.fields(i).dataType, nullable = true)
          : org.apache.spark.sql.catalyst.expressions.Expression
      }.toSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = d.next()
      override def get(): InternalRow = proj(d.get())
      override def close(): Unit = d.close()
    }
  }

  override def createColumnarReader(partition: InputPartition)
    : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val d = inner.createColumnarReader(partition)
    new PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
      override def next(): Boolean = d.next()
      override def get(): org.apache.spark.sql.vectorized.ColumnarBatch = {
        val b = d.get()
        val cols = perm.map(b.column)
        new org.apache.spark.sql.vectorized.ColumnarBatch(cols, b.numRows())
      }
      override def close(): Unit = d.close()
    }
  }
}

/** A per-`PartitionedFile` factory over parquet delegates (Spark's
  * `FilePartitionReaderFactory` iterates a bin-packed partition's files
  * and asks for one reader each). */
private[delta] abstract class DeltaFileReaderFactory
    extends org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory {
  // built at DRIVER construction (SQLConf.get = the planning session, the
  // same fallback the parquet delegate's own options use); the delegate's
  // options field is Scala-protected, so it cannot be forwarded
  private val fileOptions = new org.apache.spark.sql.catalyst.FileSourceOptions(
    org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(Map.empty[String, String]))
  override protected def options: org.apache.spark.sql.catalyst.FileSourceOptions =
    fileOptions
}

/** Routes each change-feed file of a stream to the delegate that reads
  * its `_change_type`: a cdc file carries the column in its data; a
  * derived insert/delete file carries it as the leading constant of its
  * partition-values row, which is therefore `derivedArity` wide. Both
  * delegates emit the same column layout ([[DeltaMicroBatchStream]]). */
private[delta] case class CdcRoutingReaderFactory(
    derived: PartitionReaderFactory, cdc: PartitionReaderFactory,
    derivedArity: Int) extends DeltaFileReaderFactory {
  import org.apache.spark.sql.execution.datasources.PartitionedFile
  import org.apache.spark.sql.execution.datasources.v2.{FilePartitionReaderFactory => FPRF}

  private def route(file: PartitionedFile): FPRF =
    (if (file.partitionValues.numFields == derivedArity) derived else cdc)
      .asInstanceOf[FPRF]

  // uniform for every partition (Spark refuses mixed scans)
  override def supportColumnarReads(partition: InputPartition): Boolean =
    derived.supportColumnarReads(partition) && cdc.supportColumnarReads(partition)

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] =
    route(file).buildReader(file)

  override def buildColumnarReader(file: PartitionedFile)
    : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    route(file).buildColumnarReader(file)
}

/** Routes each deletion-vector FILE through a filtered reader: the
  * file's vector loads in the task that reads it (from the
  * descriptor — bitmap bytes never visit the driver), each row
  * binary-searches its populated row index, survivors project the
  * temporary column away.
  *
  * A [[org.apache.spark.sql.execution.datasources.v2
  * .FilePartitionReaderFactory]]: routing happens PER
  * `PartitionedFile`, not per partition, so DV-bearing files BIN-PACK
  * with clean ones instead of each claiming a whole partition — after
  * a wide DELETE marks every file, a scan still plans
  * O(bytes/maxSplit) tasks, not O(#files).
  *
  * The scan stays COLUMNAR: Spark requires a scan's partitions to be
  * uniformly columnar, so instead of flipping everything row-based for
  * one DV file, DV files' batches filter through
  * [[SelectedColumnVector]] views — an int[] gather map per batch
  * (computed in one pass over the row-index vector), each surviving
  * column a position-translating view over the delegate's vector. The
  * 10k clean files of a snapshot with one DELETE keep their untouched
  * vectorized batches; the DV file pays one extra indirection per
  * access, bytes-proportional to ITS rows only. */
private[delta] case class DvRoutingReaderFactory(
    clean: PartitionReaderFactory,
    dvInner: PartitionReaderFactory,
    dvByPath: Map[String, DvDescriptor],
    table: String,
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    rowIdxPos: Int,
    innerFields: Array[StructField])
    extends DeltaFileReaderFactory {
  import org.apache.spark.sql.execution.datasources.PartitionedFile
  import org.apache.spark.sql.execution.datasources.v2.{FilePartitionReaderFactory => FPRF}
  import org.apache.spark.sql.vectorized.ColumnarBatch

  private def cleanF = clean.asInstanceOf[FPRF]
  private def dvF = dvInner.asInstanceOf[FPRF]

  /** Uniform answer for EVERY partition (Spark refuses mixed scans):
    * columnar only when both delegates are — the dv delegate differs
    * just by the appended long column, so they agree except at the
    * codegen field-count cliff, where both routes fall back to rows. */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    clean.supportColumnarReads(partition) &&
      dvInner.supportColumnarReads(partition)

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] =
    dvByPath.get(file.filePath.urlEncoded) match {
      case None => cleanF.buildReader(file)
      case Some(desc) =>
        val deleted = DeletionVectors.loadCached(conf.value.value, table, desc)
        val inner = dvF.buildReader(file)
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
          innerFields.zipWithIndex.collect { case (f, i) if i != rowIdxPos =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i, f.dataType, nullable = true)
              : org.apache.spark.sql.catalyst.expressions.Expression
          }.toSeq)
        new PartitionReader[InternalRow] {
          private var current: InternalRow = _
          override def next(): Boolean = {
            while (inner.next()) {
              val r = inner.get()
              if (java.util.Arrays.binarySearch(deleted,
                  r.getLong(rowIdxPos)) < 0) {
                current = proj(r)
                return true
              }
            }
            false
          }
          override def get(): InternalRow = current
          override def close(): Unit = inner.close()
        }
    }

  override def buildColumnarReader(file: PartitionedFile)
    : PartitionReader[ColumnarBatch] =
    dvByPath.get(file.filePath.urlEncoded) match {
      case None => cleanF.buildColumnarReader(file)
      case Some(desc) =>
        val deleted = DeletionVectors.loadCached(conf.value.value, table, desc)
        val inner = dvF.buildColumnarReader(file)
        new PartitionReader[ColumnarBatch] {
          override def next(): Boolean = inner.next()
          override def get(): ColumnarBatch = {
            val b = inner.get()
            val n = b.numRows()
            val rowIdx = b.column(rowIdxPos)
            // one pass: gather map of surviving positions
            val sel = new Array[Int](n)
            var i = 0; var k = 0
            while (i < n) {
              if (java.util.Arrays.binarySearch(deleted, rowIdx.getLong(i)) < 0) {
                sel(k) = i; k += 1
              }
              i += 1
            }
            val kept = Array.tabulate(b.numCols() - 1) { c =>
              val src = b.column(if (c < rowIdxPos) c else c + 1)
              // untouched batch (no deletes in range): pass the vector
              if (k == n) src
              else new SelectedColumnVector(src,
                java.util.Arrays.copyOf(sel, k))
                : org.apache.spark.sql.vectorized.ColumnVector
            }
            new ColumnarBatch(kept, k)
          }
          override def close(): Unit = inner.close()
        }
    }
}

/** Reader for metadata-column scans (`_file`/`_pos` requested — the
  * row-provenance surface [[GraftRowLevelOperation]]'s scans and
  * explicit SELECTs use): a per-FILE factory
  * ([[org.apache.spark.sql.execution.datasources.v2
  * .FilePartitionReaderFactory]], so files bin-pack normally), where
  * `_file` is each file's add-action relative path as a per-reader
  * constant, `_pos` copies the parquet row-index temp column, the
  * file's deletion vector (if any) filters rows, and one projection
  * emits the REQUESTED column order. Row-based: provenance scans feed
  * row-level writes. */
private[delta] case class MetaColReaderFactory(
    inner: PartitionReaderFactory,
    dvByPath: Map[String, DvDescriptor],
    relByPath: Map[String, String],
    table: String,
    conf: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration],
    rowIdxPos: Int,
    innerFields: Array[StructField],
    outSchema: StructType,
    metaNames: Set[String],
    physOf: Map[String, String])
    extends DeltaFileReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, UnsafeProjection}
  import org.apache.spark.sql.execution.datasources.PartitionedFile

  private def fileInner = inner.asInstanceOf[
    org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory]

  override def supportColumnarReads(partition: InputPartition): Boolean = false

  override def buildReader(file: PartitionedFile): PartitionReader[InternalRow] = {
    val key = file.filePath.urlEncoded
    val rel = relByPath.getOrElse(key,
      throw new IllegalStateException(s"graft-delta: unplanned file $key"))
    val deleted = dvByPath.get(key)
      .map(d => DeletionVectors.loadCached(conf.value.value, table, d))
      .getOrElse(Array.empty[Long])
    val d = fileInner.buildReader(file)
    val exprs: Seq[Expression] = outSchema.fields.toSeq.map { f =>
      if (metaNames.contains(f.name) && f.name == GraftMeta.FileCol)
        Literal(UTF8String.fromString(rel), StringType)
      else if (metaNames.contains(f.name) && f.name == GraftMeta.PosCol)
        BoundReference(rowIdxPos, LongType, nullable = false)
      else if (metaNames.contains(f.name) &&
          f.name.startsWith(GraftMeta.OldIdPrefix)) {
        // identity pre-image: the stored value of the underlying
        // column, under its physical name in the delegate's output
        val base = f.name.stripPrefix(GraftMeta.OldIdPrefix)
        val phys = physOf.getOrElse(base, base)
        val i = innerFields.indexWhere(_.name == phys)
        // pre-images are only requested by row-level UPDATE/MERGE scans,
        // and those prune the base column exactly when the SET list
        // assigned it a value not derived from it — so a missing base IS
        // the direct-assignment case, refused here (identity values never
        // change after allocation; generated columns compute from their
        // expression)
        require(i >= 0, s"graft-delta: cannot UPDATE column `$base` — " +
          "GENERATED ALWAYS (identity/generated) columns compute from " +
          "their definition; direct assignment is refused (the scan " +
          s"pruned `$base`, so its pre-image `${f.name}` cannot be read)")
        BoundReference(i, f.dataType, nullable = true)
      } else {
        val phys = physOf.getOrElse(f.name, f.name)
        val i = innerFields.indexWhere(_.name == phys)
        require(i >= 0, s"graft-delta: column `${f.name}` missing from the scan")
        BoundReference(i, f.dataType, nullable = true)
      }
    }
    val proj = UnsafeProjection.create(exprs)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (d.next()) {
          val r = d.get()
          if (deleted.length == 0 ||
              java.util.Arrays.binarySearch(deleted, r.getLong(rowIdxPos)) < 0) {
            current = proj(r)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = d.close()
    }
  }
}

/** A position-translating view over a delegate `ColumnVector`: row `i`
  * of the view is row `sel(i)` of the delegate — the classic selection
  * vector, as a vector wrapper so a deletion-vector filter can drop
  * rows from a `ColumnarBatch` without copying any data and without
  * leaving the columnar protocol. Struct children wrap with the SAME
  * map (they share the parent's row space); array/map/variant getters
  * delegate whole (their returns carry raw child offsets). Never owns
  * memory: `close()` is a no-op, the delegate reader's own close frees
  * its reused vectors. */
private[delta] final class SelectedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {

  override def close(): Unit = ()
  // hasNull stays the delegate's answer: an over-approximation is sound
  // (consumers only use `false` to skip null checks) and it keeps the
  // hot codegen path allocation- and scan-free
  override def hasNull: Boolean = base.hasNull
  // numNulls is a concrete count, so answer for the SELECTED rows —
  // computed lazily (stats-style callers only; never per-row)
  private lazy val selNulls: Int = sel.count(base.isNullAt)
  override def numNulls: Int = selNulls
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
    base.getArray(sel(i))
  override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
    base.getMap(sel(i))
  override def getDecimal(i: Int, precision: Int, scale: Int)
    : org.apache.spark.sql.types.Decimal = base.getDecimal(sel(i), precision, scale)
  override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
    base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
    new SelectedColumnVector(base.getChild(ordinal), sel)
}

private[delta] object DeltaBatchScan {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
  import org.apache.spark.sql.internal.SQLConf

  /** Size-split `PartitionedFile`s of (file, byte size, constant row)
    * bin-packed largest-first, as `FileSourceScanExec` plans them: the
    * engine's own split size, min(maxPartitionBytes, max(openCost,
    * totalBytes / defaultParallelism)), and `FilePartition`'s packing.
    * The row is the file's partition-values row — typed partition
    * values, plus any per-file constants the reader appends. */
  def filePartitions(spark: SparkSession,
                     files: Seq[(Path, Long, InternalRow)]): Array[InputPartition] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(classic,
      files.map(_._2 + openCost).sum)
    val splits = files.flatMap { case (path, size, row) =>
      val abs = org.apache.spark.paths.SparkPath.fromPath(path)
      (0L until math.max(size, 1L) by maxSplit).map { off =>
        PartitionedFile(row, abs, off, math.min(maxSplit, size - off),
          Array.empty, 0L, size)
      }
    }
    FilePartition.getFilePartitions(classic, splits.sortBy(-_.length),
      maxSplit).toArray
  }

  /** Spark's vectorized DSv2 parquet reader over graft-delta data files
    * — the one place it is built, for batch scans and streams alike. It
    * emits `readDataSchema ++ partSchema`; the returned broadcast is
    * the Hadoop conf it reads with (deletion-vector loads reuse it). */
  def parquetReader(spark: SparkSession, dataSchema: StructType,
                    readDataSchema: StructType, partSchema: StructType,
                    filters: Array[sources.Filter])
    : (PartitionReaderFactory, org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.SerializableConfiguration]) = {
    val conf = spark.sessionState.newHadoopConf()
    // the conf contract ParquetScan.createReaderFactory sets for
    // ParquetReadSupport (string keys — the support objects are
    // package-private; the keys are the stable wire contract)
    conf.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema", readDataSchema.json)
    conf.set("org.apache.spark.sql.parquet.row.attributes", readDataSchema.json)
    val sqlConf = spark.sessionState.conf
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    val bc = org.apache.spark.sql.graft.ColumnBridge.broadcastHadoopConf(spark, conf)
    (org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory(
      sqlConf, bc, dataSchema, readDataSchema, partSchema, filters, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetOptions(
        Map.empty[String, String], sqlConf)), bc)
  }

  /** `base` emits the columns named `emitted` (physical names); restore
    * the `requested` order, matching each requested (logical) name
    * through `physOf`. Identity order returns `base` untouched. */
  def inRequestedOrder(base: PartitionReaderFactory, emitted: Seq[String],
                       requested: StructType,
                       physOf: Map[String, String] = Map.empty): PartitionReaderFactory = {
    val perm = requested.fields.map(f =>
      emitted.indexOf(physOf.getOrElse(f.name, f.name)))
    if (perm.zipWithIndex.forall { case (p, i) => p == i }) base
    else DeltaPermutingReaderFactory(base, perm, requested)
  }

  /** DSv2 `sources.Filter`s → the Catalyst shape [[DataSkipping]]
    * evaluates. Unknown filter classes map to TRUE (never skip on
    * them) — sound for SKIPPING only; row-deciding callers
    * ([[GraftCatalog]]'s deleteWhere) must use [[convertExact]]. The
    * whole set conjoins. `Literal(v)` converts external values
    * (String/Date/…) to Catalyst internal form. */
  def filtersToPredicate(filters: Array[sources.Filter]): Expression =
    filters.map(f => convertExact(f).getOrElse(Literal.TrueLiteral))
      .reduceOption(And.apply).getOrElse(Literal.TrueLiteral)

  private def attr(name: String): Expression =
    UnresolvedAttribute.quotedString(s"`$name`")

  /** Exact translation — None when the filter class has no Catalyst
    * counterpart here, so callers that DECIDE rows on the result can
    * refuse instead of silently over-matching. */
  def convertExact(f: sources.Filter): Option[Expression] = f match {
    case sources.EqualTo(a, v) => Some(EqualTo(attr(a), Literal(v)))
    case sources.EqualNullSafe(a, v) => Some(EqualNullSafe(attr(a), Literal(v)))
    case sources.GreaterThan(a, v) => Some(GreaterThan(attr(a), Literal(v)))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(GreaterThanOrEqual(attr(a), Literal(v)))
    case sources.LessThan(a, v) => Some(LessThan(attr(a), Literal(v)))
    case sources.LessThanOrEqual(a, v) =>
      Some(LessThanOrEqual(attr(a), Literal(v)))
    case sources.In(a, vs) => Some(In(attr(a), vs.toSeq.map(Literal(_))))
    case sources.IsNull(a) => Some(IsNull(attr(a)))
    case sources.IsNotNull(a) => Some(IsNotNull(attr(a)))
    case sources.StringStartsWith(a, p) => Some(StartsWith(attr(a), Literal(p)))
    case sources.StringEndsWith(a, p) => Some(EndsWith(attr(a), Literal(p)))
    case sources.StringContains(a, p) => Some(Contains(attr(a), Literal(p)))
    case sources.AlwaysTrue() => Some(Literal.TrueLiteral)
    case sources.AlwaysFalse() => Some(Literal.FalseLiteral)
    case sources.And(l, r) =>
      for { cl <- convertExact(l); cr <- convertExact(r) } yield And(cl, cr)
    case sources.Or(l, r) =>
      for { cl <- convertExact(l); cr <- convertExact(r) } yield Or(cl, cr)
    case sources.Not(c) => convertExact(c).map(Not.apply)
    case _ => None
  }

  /** Top-level partition-equality candidates from the pushed (conjoined)
    * filters, for distributed checkpoint pruning. Values must render
    * exactly as the log's stringly partitionValues do, so only String
    * and integral equalities qualify — anything else simply doesn't
    * pre-prune (residual skipping and Spark's row-level filters still
    * apply). */
  def partitionEqualities(filters: Array[sources.Filter]): Map[String, String] =
    filters.collect {
      case sources.EqualTo(a, v: String) => a -> v
      case sources.EqualTo(a, v @ (_: java.lang.Integer | _: java.lang.Long |
          _: java.lang.Short | _: java.lang.Byte)) => a -> v.toString
    }.toMap

  /** Rewrite pushed filters' attribute names logical → physical for the
    * delegate parquet factory (column mapping). A filter shape the
    * rewrite doesn't know is DROPPED, not passed through — all filters
    * are residual (Spark re-applies them row-level), so dropping only
    * loses row-group pushdown, never correctness. Identity map → as-is. */
  def filtersToPhysical(filters: Array[sources.Filter],
                        phys: Map[String, String]): Array[sources.Filter] =
    if (phys.forall { case (l, p) => l == p }) filters
    else filters.flatMap(rewriteFilter(_, phys))

  private def rewriteFilter(f: sources.Filter,
                            phys: Map[String, String]): Option[sources.Filter] = {
    def p(a: String): String = phys.getOrElse(a, a)
    f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(p(a), v))
      case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(p(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(p(a), v))
      case sources.GreaterThanOrEqual(a, v) =>
        Some(sources.GreaterThanOrEqual(p(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(p(a), v))
      case sources.LessThanOrEqual(a, v) =>
        Some(sources.LessThanOrEqual(p(a), v))
      case sources.In(a, vs) => Some(sources.In(p(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(p(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(p(a)))
      case sources.StringStartsWith(a, v) =>
        Some(sources.StringStartsWith(p(a), v))
      case sources.StringEndsWith(a, v) => Some(sources.StringEndsWith(p(a), v))
      case sources.StringContains(a, v) => Some(sources.StringContains(p(a), v))
      case sources.AlwaysTrue() => Some(f)
      case sources.AlwaysFalse() => Some(f)
      case sources.And(l, r) =>
        for { cl <- rewriteFilter(l, phys); cr <- rewriteFilter(r, phys) }
          yield sources.And(cl, cr)
      case sources.Or(l, r) =>
        for { cl <- rewriteFilter(l, phys); cr <- rewriteFilter(r, phys) }
          yield sources.Or(cl, cr)
      case sources.Not(c) => rewriteFilter(c, phys).map(sources.Not)
      case _ => None
    }
  }
}
