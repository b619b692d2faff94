package graft.sources.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark-native row-level DML (SPARK-35801's `SupportsRowLevelOperations`
  * framework): SQL DELETE / UPDATE / MERGE work WITHOUT
  * [[graft.GraftExtensions]] registered — Spark's own
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` analyzer rules rewrite the command into a
  * `WriteDelta` plan against this connector, because the table
  * advertises the operation (the reference drives the same DML through
  * delta-spark's jars, `airflow/dags/save_to_delta.py`; here the
  * framework itself is the integration point).
  *
  * The DELTA (position) flavor is implemented, not the group
  * (copy-on-write) one, because positions are exactly what this engine
  * already keys row-level changes on: the operation's scan exposes
  * [[GraftMeta]] `_file`/`_pos` row ids, Spark streams back
  * operation-tagged rows, and the write turns
  *   - delete/update marks into per-file position sets (→ deletion-
  *     vector sidecars on DV tables via [[DeltaTable.stageDvMarks]], or
  *     an O(straddled files) copy-on-write rewrite otherwise),
  *   - update post-images and merge inserts into staged parquet
  *     ([[DeltaSinkDataWriter]] — the DSv2 sink's writer),
  * then stages precise CDF rows (delete / update_preimage /
  * update_postimage / insert) when the table captures a change feed,
  * and lands everything as ONE atomic log commit.
  *
  * Scale shape: the write declares `ClusteredDistribution(_file)` +
  * `(_file, _pos)` ordering, so ONE task owns a file's marks and writes
  * its position set (descriptor-sized commit messages — position BYTES
  * never visit the driver); the scan reads only files the pushed
  * condition may match (log skipping), and the CDF derivation reads
  * O(marked files), not O(table).
  *
  * COLUMN-MAPPED (renamed/dropped-column) tables take this path too:
  * the scan already resolves logical→physical, and the write stages
  * post-images under physical names — the same translation the DSv2
  * sink applies. So do GENERATED/IDENTITY tables: the writer
  * recomputes generated columns, allocates identity values, and
  * refuses a changed generated or identity value per row from
  * scan-provided pre-image metadata
  * ([[GeneratedColumns.bindRowTransforms]]).
  *
  * This is the ONE planning route for SQL DML on graft-delta tables:
  * sessions with [[graft.GraftExtensions]] registered plan it exactly
  * as extension-less ones do. The DataFrame API ([[DeltaTable.update]],
  * [[DeltaTable.mergeInto]], …) is the engine's separate entry. */
private[delta] object GraftMeta {
  val FileCol = "_file"
  val PosCol = "_pos"

  /** Metadata-column prefix for a row's PRE-IMAGE identity value
    * (`__graft_old__<col>`): the scan copies the identity column's
    * stored value under this name, so the row-level writer can refuse
    * an UPDATE that changes it — identity values never change after
    * allocation (delta's rule), and by write time the assignment list
    * is gone, so the pre/post comparison is the only per-row check
    * left that can enforce it. */
  val OldIdPrefix = "__graft_old__"
  def oldIdentityName(col: String): String = OldIdPrefix + col

  /** One pre-image metadata column per identity column of `schema`
    * (empty for tables without identity columns — the metadata surface
    * stays exactly `_file`/`_pos` for them). */
  def oldIdentityColumns(schema: StructType): Array[MetadataColumn] =
    GeneratedColumns.identityOf(schema).map { s =>
      new MetadataColumn {
        override def name(): String = oldIdentityName(s.name)
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = true
        override def comment(): String =
          s"pre-image value of identity column `${s.name}`"
      }: MetadataColumn
    }.toArray

  /** One pre-image metadata column per GENERATED ALWAYS AS column of
    * `schema` (the column's own type): post-image != pre-image is
    * exactly "the SET list assigned this column" (an untouched column
    * carries its stored value into the post-image, stale or not), so
    * the writer can refuse explicit assignment per row — the closest
    * the row-level API gets to the engine path's statement-level
    * `SET gen = …` refusal — while still recomputing untouched
    * columns whose dependencies changed. */
  def oldGeneratedColumns(schema: StructType): Array[MetadataColumn] =
    GeneratedColumns.generatedOf(schema).map { case (f, _) =>
      new MetadataColumn {
        override def name(): String = oldIdentityName(f.name)
        override def dataType(): DataType = f.dataType
        override def isNullable: Boolean = true
        override def comment(): String =
          s"pre-image value of generated column `${f.name}`"
      }: MetadataColumn
    }.toArray

  def columns: Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "add-action relative path of the row's data file"
    },
    new MetadataColumn {
      override def name(): String = PosCol
      override def dataType(): DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "physical row index of the row within its file"
    })
}

/** One DELETE/UPDATE/MERGE binding: Spark calls [[newScanBuilder]] for
  * the reading side (the standard scan, plus the [[GraftMeta]] row-id
  * columns it requests) and [[newWriteBuilder]] for the writing side;
  * `rowId` names the position key. `representUpdateAsDeleteAndInsert`
  * stays false so updates arrive AS updates — that is what precise
  * update_preimage/update_postimage CDF needs. */
private[delta] class GraftRowLevelOperation(
    tableSchema: StructType, options: CaseInsensitiveStringMap,
    cmd: Command) extends RowLevelOperation with SupportsDelta {

  private def table: String = DeltaStreamDataSource.tablePath(options)

  /** ONE snapshot for the whole operation, pinned at construction: the
    * scan reads AS OF it (versionAsOf injected below) and the commit
    * refuses if the table moved past it — otherwise the scan and the
    * write could silently pin DIFFERENT versions (they bind at
    * different planning phases) and the staleness guard would compare
    * the wrong pair. METADATA-ONLY (round 14): the operation needs its
    * version and partitioning, never its file list — the scan plans the
    * files itself (distributed past the replay threshold) and the
    * commit looks up only the TOUCHED rels. */
  private val pinnedHead: DeltaLog.Snapshot =
    DeltaLog.metaSnapshot(SparkSession.active, table)

  private[delta] def pinnedVersion: Long = pinnedHead.version

  override def command(): Command = cmd
  override def description(): String = s"graft-delta row-level $cmd ($table)"

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
    m.put("versionAsOf", pinnedHead.version.toString)
    new DeltaScanBuilder(tableSchema, new CaseInsensitiveStringMap(m))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new GraftRowLevelWrite(table, cmd, info, pinnedHead.version,
          pinnedHead.partitionColumns)
    }

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(GraftMeta.FileCol), Expressions.column(GraftMeta.PosCol))

  /** Identity AND generated pre-images ride along as metadata for
    * UPDATE-capable commands, so the writer can refuse per-row identity
    * changes and explicit generated-column assignments. DELETE never
    * changes values — nothing extra to read. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    if (cmd == Command.DELETE) Array.empty
    else (GeneratedColumns.identityOf(tableSchema).map(_.name) ++
      GeneratedColumns.generatedOf(tableSchema).map(_._1.name))
      .map(n => Expressions.column(GraftMeta.oldIdentityName(n))
        : NamedReference).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = false
}

/** The delta write: clustering by `_file` puts each file's marks in ONE
  * task (its position set serializes once, executor-side) and the
  * `(_file, _pos)` sort makes those sets arrive in index order. A
  * MERGE's insert rows carry NULL `_file`, so for commands that write
  * rows the cluster key extends with the table's PARTITION columns —
  * a file's rows share their partition values (files are partition-
  * scoped), so marks still land whole, while inserts spread across
  * partition values instead of funnelling into the one NULL-key task.
  * (Unpartitioned insert-heavy merges still serialize their inserts —
  * the same single-key shape Iceberg's position-delta writes have.) */
private[delta] class GraftRowLevelWrite(
    table: String, cmd: Command, info: LogicalWriteInfo,
    pinnedVersion: Long, partCols: Seq[String])
    extends DeltaWrite with RequiresDistributionAndOrdering {

  override def description(): String = s"graft-delta row-level $cmd write"

  override def requiredDistribution(): Distribution = {
    // DELETE's query projects no data columns, so partition columns are
    // not in its output — and it has no inserts to spread either
    val cols =
      if (cmd == Command.DELETE) Seq(GraftMeta.FileCol)
      else GraftMeta.FileCol +: partCols
    Distributions.clustered(
      cols.map(c => Expressions.column(c)
        : org.apache.spark.sql.connector.expressions.Expression).toArray)
  }

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column(GraftMeta.FileCol),
      SortDirection.ASCENDING),
    Expressions.sort(Expressions.column(GraftMeta.PosCol),
      SortDirection.ASCENDING))

  override def toBatch: DeltaBatchWrite =
    new GraftRowLevelBatchWrite(table, cmd, info, pinnedVersion)
}

/** Per-task result: staged insert / update-post-image files (the sink
  * writer's form) and per-file mark descriptors (position sets in the
  * deletion-vector wire encoding — inline when small, scratch sidecars
  * otherwise; either way metadata-sized here). */
private[delta] case class RowLevelCommitMessage(
    inserts: Seq[StagedSinkFile], updates: Seq[StagedSinkFile],
    deleteMarks: Seq[(String, String)], updateMarks: Seq[(String, String)])
    extends WriterCommitMessage

private[delta] class GraftRowLevelBatchWrite(
    table: String, cmd: Command, info: LogicalWriteInfo,
    pinnedVersion: Long)
    extends DeltaBatchWrite {

  import org.json4s.JValue

  private def spark = SparkSession.active

  // the OPERATION's pinned snapshot (the one the scan read AS OF); the
  // commit refuses if the table moved past it — a row-level op's staged
  // data is bound to the snapshot it scanned, so unlike the append sink
  // there is no safe retry without re-scanning
  // metadata-only, pinned at the scan's version: schema, partitioning,
  // constraints and the staleness baseline — never the file list
  private val initHead =
    DeltaLog.metaSnapshot(spark, table, Some(pinnedVersion))
  require(!initHead.isEmpty, s"graft-delta: $table has no commits")
  DeltaLog.checkWritable(table, initHead)
  // the DSv2 row-level path exists only for SQL DELETE/UPDATE/MERGE —
  // all of which remove or rewrite rows
  DeltaTable.checkAppendOnly(table, initHead, "row-level DML")

  private val logSchema: StructType = initHead.schemaJson
    .map(j => DataType.fromJson(j).asInstanceOf[StructType])
    .getOrElse(throw new IllegalStateException(
      s"graft-delta: $table missing metaData"))
  private val partCols: Seq[String] = initHead.partitionColumns
  private val rowSchema: StructType = info.schema()
  private val rowIdSchema: StructType = {
    val o = info.rowIdSchema()
    require(o.isPresent, "graft-delta: delta write without a rowId schema")
    o.get()
  }
  rowSchema.fields.foreach { f =>
    require(DeltaGroupWriter.supported(f.dataType),
      s"graft-delta: unsupported column type ${f.dataType.catalogString} " +
        s"for ${f.name} in a row-level write")
  }

  /** Generated-column recompute + identity allocation for this write
    * (None for plain tables): built once here, evaluated task-side.
    * The analyzer's rewrite has no knowledge of the generation
    * expressions, so the post-image rows it produces carry STALE
    * generated values whenever a dependency changed — the writer's
    * projection recomputes them, and MERGE-insert rows allocate their
    * identity values from the pinned high-water mark. */
  private val rowTransforms: Option[GeneratedColumns.RowTransforms] =
    GeneratedColumns.bindRowTransforms(spark, rowSchema, logSchema)

  /** (row ordinal, metadata ordinal, column name) per identity column:
    * the writer refuses an UPDATE whose post-image changes the value
    * (identity never changes after allocation). The metadata ordinal
    * points at the scan-provided pre-image
    * ([[GraftMeta.oldIdentityName]]). */
  private val identityGuards: Seq[(Int, Int, String)] = {
    val metaSchema = info.metadataSchema()
    if (!metaSchema.isPresent) Seq.empty
    else GeneratedColumns.identityOf(logSchema).flatMap { s =>
      val old = GraftMeta.oldIdentityName(s.name)
      if (!metaSchema.get().fieldNames.contains(old) ||
          !rowSchema.fieldNames.contains(s.name)) None
      else Some((rowSchema.fieldIndex(s.name),
        metaSchema.get().fieldIndex(old), s.name))
    }
  }

  /** (row ordinal, metadata ordinal, column name, type) per generated
    * column: the writer refuses an UPDATE whose post-image DIFFERS from
    * the scan-provided pre-image on a GENERATED ALWAYS AS column. By
    * write time the assignment list is gone, and post != pre is exactly
    * "the SET assigned this column" (an untouched column carries its
    * stored — possibly stale — value, post == pre, and recomputes
    * silently via [[rowTransforms]].update). Mirrors the engine path's
    * statement-level refusal of `SET gen = …`. */
  private val generatedGuards
    : Seq[(Int, Int, String, org.apache.spark.sql.types.DataType)] = {
    val metaSchema = info.metadataSchema()
    if (!metaSchema.isPresent) Seq.empty
    else GeneratedColumns.generatedOf(logSchema).toSeq.flatMap { case (f, _) =>
      val old = GraftMeta.oldIdentityName(f.name)
      if (!metaSchema.get().fieldNames.contains(old) ||
          !rowSchema.fieldNames.contains(f.name)) None
      else Some((rowSchema.fieldIndex(f.name),
        metaSchema.get().fieldIndex(old), f.name, f.dataType))
    }
  }

  private val metaArity: Int =
    if (info.metadataSchema().isPresent) info.metadataSchema().get().size
    else 0

  /** Scratch dir for oversized mark descriptors — `.staging-` prefix
    * keeps vacuum away; deleted when the commit lands or aborts. */
  private val marksDir =
    s"$table/.staging-rlo-${java.util.UUID.randomUUID()}"

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory =
    // column mapping: staged post-image/insert files and their Hive
    // dirs carry the table's PHYSICAL names (rows are positional;
    // constraints bind over the LOGICAL row schema) — the same
    // translation the DSv2 sink factory applies
    GraftRowLevelWriterFactory(table, marksDir,
      ColumnMapping.physicalWriteSchema(rowSchema, Some(logSchema)),
      ColumnMapping.physicalCols(partCols, Some(logSchema)).toArray,
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
      spark.sessionState.conf.sessionLocalTimeZone,
      if (rowSchema.fields.isEmpty) Seq.empty
      else SinkConstraints.bind(spark, rowSchema, initHead),
      fileIdx = rowIdSchema.fieldIndex(GraftMeta.FileCol),
      posIdx = rowIdSchema.fieldIndex(GraftMeta.PosCol),
      updateExprs = rowTransforms.map(_.update),
      insertExprs = rowTransforms.map(_.insert),
      identityGuards = identityGuards,
      generatedGuards = generatedGuards,
      metaArity = metaArity)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    import org.apache.spark.sql.functions.{col, lit, not}
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    import DeltaLog.{addAction, commitInfoAction, removeAction}
    val sp = spark
    val msgs = messages.collect { case m: RowLevelCommitMessage => m }.toSeq
    val tbl = new Path(table)
    val hconf = sp.sparkContext.hadoopConfiguration
    val fs = tbl.getFileSystem(hconf)
    val now = System.currentTimeMillis()
    // metadata-only head + TOUCHED-rel file lookup (round 14): the
    // commit needs version/protocol/config plus the AddFiles of exactly
    // the files the tasks marked — below the replay threshold those come
    // off the driver replay, past it off the checkpoint frame
    // ([[DeltaTable.selectCandidates]]) — never the full manifest
    val distributed = DeltaTable.chooseDistributedReplay(sp, table)
    val head =
      if (distributed) DeltaLog.metaSnapshot(sp, table)
      else DeltaLog.snapshot(sp, table)
    DeltaLog.checkWritable(table, head)
    def cleanupStaged(): Unit = {
      msgs.flatMap(m => m.inserts ++ m.updates)
        .foreach(f => fs.delete(new Path(tbl, f.relPath), false))
      fs.delete(new Path(marksDir), true)
    }
    if (head.version != initHead.version) {
      cleanupStaged()
      throw new java.util.ConcurrentModificationException(
        s"graft-delta: $table moved from version ${initHead.version} to " +
          s"${head.version} during the row-level $cmd — the scanned rows " +
          "may be stale; rerun the statement")
    }
    // an unparseable mark descriptor is a HARD error: silently dropping
    // it would commit the DML while skipping those rows — a wrong
    // answer, strictly worse than failing the statement
    def descsOf(sel: RowLevelCommitMessage => Seq[(String, String)])
      : Map[String, Seq[DvDescriptor]] =
      msgs.flatMap(sel).groupBy(_._1).view
        .mapValues(_.map(p => DeletionVectors.fromJsonString(p._2).getOrElse(
          throw new IllegalStateException(
            s"graft-delta: unparseable row-level mark descriptor for " +
              s"${p._1}: '${p._2}' — refusing to commit a $cmd that would " +
              "skip its rows"))).toSeq)
        .toMap
    val delM = descsOf(_.deleteMarks)
    val updM = descsOf(_.updateMarks)
    val touchedRels = (delM.keySet ++ updM.keySet).toSeq.sorted
    val touchedSet = touchedRels.toSet
    val byRel: Map[String, DeltaLog.AddFile] =
      if (touchedRels.isEmpty) Map.empty // pure-insert MERGE: no lookup
      else DeltaTable.selectCandidates(sp, table, head, distributed,
        _ => true, s"row-level $cmd", pathsOnly = Some(touchedSet))
        .map(f => f.path -> f).toMap
    touchedRels.foreach(r => require(byRel.contains(r),
      s"graft-delta: marked file $r is not live at v${head.version}"))
    val touched = touchedRels.map(byRel)
    def qualified(rel: String): String = {
      val p = new Path(table, rel)
      p.getFileSystem(hconf).makeQualified(p).toString
    }
    val bconf = CB.broadcastHadoopConf(sp, hconf)
    val tableStr = table
    // one descriptor per file for driver-built lookups (a file's marks
    // land in one task under the declared clustering; merge defensively
    // if an override split them)
    def combine(ds: Seq[DvDescriptor]): DvDescriptor =
      if (ds.size == 1) ds.head
      else DeletionVectors.writeAt(hconf, marksDir,
        ds.map(d => DeletionVectors.load(hconf, tableStr, d))
          .reduce(DeletionVectors.union))
    val delC = delM.view.mapValues(combine).toMap
    val updC = updM.view.mapValues(combine).toMap

    // ---- precise CDF (before the commit: reads want the OLD snapshot's
    // bytes and vectors, which are untouched until the commit lands)
    val cdfOn = DeltaTable.changeFeedEnabled(sp, head)
    val cdc: Seq[JValue] = if (!cdfOn) Seq.empty else {
      def marked(marks: Map[String, DvDescriptor], ct: String): Option[DataFrame] =
        if (marks.isEmpty) None
        else {
          val files = marks.keys.toSeq.sorted.map(byRel)
          val lk = new DvLookup(table,
            marks.map { case (r, d) => qualified(r) -> d }, bconf)
          Some(DeltaTable.readFilesMeta(sp, table, logSchema, partCols, files)
            .filter(CB.column(DvDeleted(
              CB.expression(col(DeltaTable.DvFileCol)),
              CB.expression(col(DeltaTable.DvRowCol)), lk)))
            .drop(DeltaTable.DvFileCol, DeltaTable.DvRowCol)
            .withColumn("_change_type", lit(ct)))
        }
      def stagedRows(files: Seq[StagedSinkFile], ct: String): Option[DataFrame] =
        if (files.isEmpty) None
        else {
          val adds = files.map(f =>
            DeltaLog.AddFile(f.relPath, f.size,
              partitionValues = f.partitionValues))
          Some(DeltaTable.readFiles(sp, table, logSchema, partCols, adds)
            .withColumn("_change_type", lit(ct)))
        }
      val parts = Seq(
        marked(delC, "delete"),
        marked(updC, "update_preimage"),
        stagedRows(msgs.flatMap(_.updates), "update_postimage"),
        stagedRows(msgs.flatMap(_.inserts), "insert")).flatten
      if (parts.isEmpty) Seq.empty
      else DeltaTable.stageChangeData(parts.reduce(_ unionByName _),
        logSchema, tbl, fs, partCols, rebalance = true)
    }

    // ---- the marked files: vectors on DV tables, rewrite otherwise
    val (rmAdd, freshDvs): (Seq[JValue], Seq[DvDescriptor]) =
      if (touched.isEmpty) (Seq.empty, Seq.empty)
      else if (DeltaTable.dvEnabled(head)) {
        // expand descriptors to (file, row) rows EXECUTOR-side and feed
        // the shared DV DML machinery — position bytes never visit the
        // driver, and merge/full-cover/tombstone logic stays in one place
        import sp.implicits._
        val marksSeq: Seq[(String, Seq[String])] = touchedRels.map { r =>
          qualified(r) ->
            (delM.getOrElse(r, Seq.empty) ++ updM.getOrElse(r, Seq.empty))
              .map(DeletionVectors.toJsonString)
        }
        val affected = sp.createDataset(marksSeq).flatMap { case (q, ds) =>
          ds.flatMap(s => DeletionVectors.fromJsonString(s))
            .map(d => DeletionVectors.load(bconf.value.value, tableStr, d))
            .reduce(DeletionVectors.union)
            .map(p => (q, p))
        }.toDF(DeltaTable.DvFileCol, DeltaTable.DvRowCol)
        DeltaTable.stageDvMarks(sp, table, touched, affected, now)
      } else {
        // copy-on-write: each straddled file rewrites minus its marks —
        // O(straddled files), the engine DML's own rewrite shape
        val allC: Map[String, DvDescriptor] = touchedRels.map { r =>
          r -> combine(delM.getOrElse(r, Seq.empty) ++
            updM.getOrElse(r, Seq.empty))
        }.toMap
        val lk = new DvLookup(table,
          allC.map { case (r, d) => qualified(r) -> d }, bconf)
        val survivors =
          DeltaTable.readFilesMeta(sp, table, logSchema, partCols, touched)
            .filter(not(CB.column(DvDeleted(
              CB.expression(col(DeltaTable.DvFileCol)),
              CB.expression(col(DeltaTable.DvRowCol)), lk))))
            .drop(DeltaTable.DvFileCol, DeltaTable.DvRowCol)
        val adds = DeltaTable.stageData(survivors, logSchema, tbl, fs,
          partitionBy = partCols, rebalance = true)
        // a rewrite retires its inputs' vectors (a table can carry DVs
        // with the property later turned off): removes keep them for
        // CDF pre-image exactness, retired sidecars get retention
        // tombstones — the same shape as every other rewrite path
        (touched.map(f => removeAction(f.path, now, dv = f.dv)) ++
          touched.flatMap(_.dv)
            .flatMap(d => DeletionVectors.tombstonePath(d))
            .map(p => removeAction(p, now, dataChange = false)) ++ adds,
          Seq.empty)
      }

    val stagedAdds = msgs.flatMap(m => m.inserts ++ m.updates).map { f =>
      addAction(f.relPath, f.size, now,
        DeltaTable.statsOf(new Path(tbl, f.relPath), hconf),
        f.partitionValues)
    }
    if (rmAdd.isEmpty && stagedAdds.isEmpty && cdc.isEmpty) {
      fs.delete(new Path(marksDir), true)
      return // nothing matched, nothing to commit — DML no-op
    }
    // identity high-water marks: MERGE-insert allocations (and explicit
    // BY DEFAULT values) advance the mark from the STAGED files' footer
    // stats, exactly like the engine's append path — the version check
    // above already refused any concurrent movement of the mark this
    // write allocated from (the whole table is version-pinned, a
    // stricter gate than the engine's per-mark comparison)
    val hwmMeta: Seq[JValue] =
      if (rowTransforms.isEmpty || stagedAdds.isEmpty) Seq.empty
      else {
        val upd = GeneratedColumns.hwmFromAdds(stagedAdds, logSchema,
          ColumnMapping.physMap(logSchema))
        if (upd.isEmpty) Seq.empty
        else Seq(DeltaLog.metaDataAction(
          GeneratedColumns.withHwm(logSchema, upd).json, partCols,
          head.metaDataId, head.configuration))
      }
    val opName = cmd match {
      case Command.DELETE => "DELETE"
      case Command.UPDATE => "UPDATE"
      case _ => "MERGE"
    }
    val ok = DeltaLog.commit(sp, table, head.version + 1,
      commitInfoAction(opName, now) +: (hwmMeta ++ cdc ++ rmAdd ++ stagedAdds),
      Some(head.configuration))
    if (!ok) {
      cdc.foreach(a =>
        fs.delete(new Path(tbl, DeltaTable.actionPath(a)), false))
      freshDvs.foreach(d => DeletionVectors.deleteFile(hconf, table, d))
      // replacement files a rewrite staged
      rmAdd.foreach { a =>
        val add = a \ "add"
        if (add != org.json4s.JNothing)
          fs.delete(new Path(tbl, DeltaTable.actionPath(a)), false)
      }
      cleanupStaged()
      throw new java.util.ConcurrentModificationException(
        s"graft-delta: concurrent writer won version ${head.version + 1} " +
          s"of $table during the row-level $cmd — rerun the statement")
    }
    fs.delete(new Path(marksDir), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val tbl = new Path(table)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: RowLevelCommitMessage => m }
      .flatMap(m => m.inserts ++ m.updates)
      .foreach(f => fs.delete(new Path(tbl, f.relPath), false))
    fs.delete(new Path(marksDir), true)
  }
}

private[delta] case class GraftRowLevelWriterFactory(
    table: String, marksDir: String, rowSchema: StructType,
    partCols: Array[String], conf: SerializableHadoopConf, zone: String,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    fileIdx: Int, posIdx: Int,
    updateExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    insertExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    identityGuards: Seq[(Int, Int, String)] = Seq.empty,
    generatedGuards: Seq[(Int, Int, String,
      org.apache.spark.sql.types.DataType)] = Seq.empty,
    metaArity: Int = 0)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DeltaWriter[InternalRow] =
    new GraftRowLevelWriter(table, marksDir, rowSchema, partCols,
      conf.value, zone, constraints, fileIdx, posIdx,
      updateExprs, insertExprs, identityGuards, generatedGuards, metaArity,
      partitionId)
}

/** Task-side delta writer: marks buffer per file (arriving sorted under
  * the declared ordering), post-image/insert rows stream into the sink
  * writer's partitioned parquet staging; `commit()` serializes each
  * file's positions in the DV wire encoding (inline or a scratch
  * sidecar — never row-sized on the driver). */
private[delta] class GraftRowLevelWriter(
    table: String, marksDir: String, rowSchema: StructType,
    partCols: Array[String],
    hadoopConf: org.apache.hadoop.conf.Configuration, zone: String,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    fileIdx: Int, posIdx: Int,
    updateExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    insertExprs: Option[Seq[org.apache.spark.sql.catalyst.expressions.Expression]] = None,
    identityGuards: Seq[(Int, Int, String)] = Seq.empty,
    generatedGuards: Seq[(Int, Int, String,
      org.apache.spark.sql.types.DataType)] = Seq.empty,
    metaArity: Int = 0,
    partitionId: Int = 0) extends DeltaWriter[InternalRow] {

  import scala.collection.mutable

  // generated/identity transforms (plain tables carry None and pay
  // nothing): codegen'd projections, initialized with the partition id
  // so identity allocation strides per partition (the
  // monotonically_increasing_id contract)
  private lazy val updateProj = updateExprs.map { es =>
    val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(es.toArray)
    p.initialize(partitionId)
    p
  }
  private lazy val insertProj = insertExprs.map { es =>
    val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(es.toArray)
    p.initialize(partitionId)
    p
  }

  private lazy val insertW = new DeltaSinkDataWriter(table, rowSchema,
    partCols, hadoopConf, java.time.ZoneId.of(zone), constraints)
  private lazy val updateW = new DeltaSinkDataWriter(table, rowSchema,
    partCols, hadoopConf, java.time.ZoneId.of(zone), constraints)
  private var insertUsed = false
  private var updateUsed = false
  private val delMarks = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val updMarks = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]

  private def mark(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]],
                   id: InternalRow): Unit =
    m.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
      mutable.ArrayBuffer.empty) += id.getLong(posIdx)

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    mark(delMarks, id)

  // null-safe post-image == pre-image, per generated column, codegen'd
  // once per task: evaluated over JoinedRow(meta, row), so the meta
  // ordinal binds as-is and the row ordinal shifts by the meta arity
  private lazy val genGuardPreds = generatedGuards.map { case (ri, mi, name, dt) =>
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, EqualNullSafe, Predicate}
    (Predicate.create(EqualNullSafe(
      BoundReference(mi, dt, nullable = true),
      BoundReference(metaArity + ri, dt, nullable = true))), name)
  }
  private lazy val genGuardRow =
    new org.apache.spark.sql.catalyst.expressions.JoinedRow

  override def update(meta: InternalRow, id: InternalRow,
                      row: InternalRow): Unit = {
    // identity never changes after allocation: the post-image must
    // carry the pre-image value (scan-provided metadata), per row
    identityGuards.foreach { case (ri, mi, name) =>
      val oldNull = meta.isNullAt(mi)
      if (oldNull != row.isNullAt(ri) ||
          (!oldNull && meta.getLong(mi) != row.getLong(ri)))
        throw new IllegalArgumentException(
          s"graft-delta: cannot UPDATE identity column `$name` — its value " +
            "is allocated once and never changes")
    }
    // GENERATED ALWAYS AS columns compute from their expression, never
    // from an assignment: a post-image that differs from the stored
    // pre-image means the SET list assigned the column — refused, like
    // the engine path's statement-level check (an untouched column
    // arrives pre == post and recomputes below)
    genGuardPreds.foreach { case (pred, name) =>
      if (!pred.eval(genGuardRow.withLeft(meta).withRight(row)))
        throw new IllegalArgumentException(
          s"graft-delta: cannot UPDATE generated column `$name` — " +
            "GENERATED ALWAYS AS columns compute from their expression; " +
            "direct assignment is refused")
    }
    mark(updMarks, id)
    updateUsed = true
    updateW.write(updateProj.map(p => p(row): InternalRow).getOrElse(row))
  }

  override def insert(row: InternalRow): Unit = {
    insertUsed = true
    insertW.write(insertProj.map(p => p(row): InternalRow).getOrElse(row))
  }

  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    insert(row)

  override def commit(): WriterCommitMessage = {
    val ins =
      if (insertUsed)
        insertW.commit().asInstanceOf[DeltaSinkCommitMessage].files
      else Seq.empty
    val upd =
      if (updateUsed)
        updateW.commit().asInstanceOf[DeltaSinkCommitMessage].files
      else Seq.empty
    // ONE scratch sidecar for ALL this task's oversized mark vectors
    // (delete and update alike) — descriptors carry distinct offsets
    // into it, so a task marking thousands of files writes one object
    val dvw = new DvSidecarWriter(hadoopConf, marksDir, atTableRoot = false)
    try {
      def descs(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Long]])
        : Seq[(String, String)] =
        m.toSeq.map { case (rel, buf) =>
          val arr = buf.toArray
          java.util.Arrays.sort(arr) // declared ordering makes this a no-op
          rel -> DeletionVectors.toJsonString(dvw.write(arr))
        }
      RowLevelCommitMessage(ins, upd, descs(delMarks), descs(updMarks))
    } catch {
      case e: Throwable => dvw.abort(); throw e
    } finally dvw.close()
  }

  override def abort(): Unit = {
    if (insertUsed) insertW.abort()
    if (updateUsed) updateW.abort()
  }

  override def close(): Unit = ()
}
