package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Batch sources & sinks (SURVEY §2.1/§2.2) behind one small façade so
  * pipelines stay storage-agnostic and tests can swap parquet/CSV for the
  * production JDBC/Delta endpoints.
  *
  * Scale notes: `readJdbc` *requires* a partition column spec at real data
  * sizes — the reference read Postgres in a single partition
  * (`read_delta.py:101`, SURVEY §7.3 risk), which serializes the whole
  * table through one task; `JdbcPartitioning` makes the parallel form the
  * easy default.
  */
object IO {

  /** S3 batch scan (Delta in the reference, `read_delta.py:51`; parquet
    * here — the Delta format string drops in unchanged when delta-spark is
    * on the classpath). */
  def readTable(spark: SparkSession, path: String, format: String = "parquet"): DataFrame =
    spark.read.format(format).load(path)

  /** S5 Excel source (`commute_validation.py:187-209`): graft's own
    * DataSource V2 ([[graft.sources.xlsx.XlsxDataSource]]) — every cell a
    * nullable string (Excel serials stay raw; the domain layer owns
    * typing), one partition per workbook file. */
  def readExcel(spark: SparkSession, path: String, sheet: Int = 1,
      header: Boolean = true): DataFrame =
    spark.read.format("xlsx")
      .option("sheet", sheet.toString)
      .option("header", header.toString)
      .load(path)

  /** S5 CSV alternative to the Excel ingest: explicit schema, header,
    * UTF-8 — no schema inference at scale. */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("encoding", "UTF-8")
      .schema(schema)
      .csv(path)

  /** Partitioned-read spec for JDBC: ~one partition per `stride` keys. */
  final case class JdbcPartitioning(
      column: String, lowerBound: Long, upperBound: Long, numPartitions: Int)

  /** S4 JDBC scan (`read_delta.py:87-103`) — parallel by default. */
  def readJdbc(
      spark: SparkSession,
      url: String,
      table: String,
      props: Properties,
      partitioning: Option[JdbcPartitioning]): DataFrame =
    partitioning match {
      case Some(p) =>
        spark.read.jdbc(url, table, p.column, p.lowerBound, p.upperBound,
          p.numPartitions, props)
      case None => spark.read.jdbc(url, table, props)
    }

  /** K2 batch overwrite (`read_delta.py:219-222`), schema evolution
    * allowed like the reference's overwriteSchema. `format = "delta"`
    * routes to the from-scratch protocol implementation
    * ([[graft.sources.delta.DeltaTable]]) — an atomic remove+add commit,
    * exactly the reference's `mode("overwrite")` Delta hop — since the
    * delta-spark provider jars are absent here. */
  def writeTable(
      df: DataFrame, path: String, format: String = "parquet",
      mode: SaveMode = SaveMode.Overwrite): Unit =
    if (format == "delta") graft.sources.delta.DeltaTable.write(df, path, mode)
    else df.write.format(format).mode(mode).save(path)

  /** S3 batch scan of a Delta table (`read_delta.py:87-103`), optional
    * `VERSION AS OF` time travel — served by the from-scratch log
    * reader. */
  def readDelta(spark: org.apache.spark.sql.SparkSession, path: String,
                versionAsOf: Option[Long] = None): DataFrame =
    graft.sources.delta.DeltaTable.read(spark, path, versionAsOf)

  /** K3 JDBC bulk append (`sql_manipulation.py:119-124`). */
  def writeJdbc(df: DataFrame, url: String, table: String, props: Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** K3 upsert variant: exactly-once JDBC MERGE. The batch lands in a
    * staging table (distributed append, overwritten per call), then ONE
    * driver-side `MERGE INTO` applies it transactionally — matched keys
    * update, new keys insert — so re-running the same batch converges
    * instead of duplicating rows (the property [[writeJdbc]]'s plain
    * append lacks, and what a foreachBatch sink needs under at-least-once
    * delivery). Works on any MERGE-capable target (Derby 10.11+,
    * Postgres 15+); the data path stays distributed — only the MERGE
    * statement, not the rows, goes through the driver connection.
    *
    * The staging table is uniquely named per call and dropped afterwards,
    * so concurrent upserts to one target serialize at the database's
    * MERGE transaction instead of clobbering each other's staging rows.
    *
    * String KEY columns on Derby need `createTableColumnTypes` (e.g.
    * `"name VARCHAR(255)"`): Spark's Derby dialect maps StringType to
    * CLOB, and Derby cannot compare CLOBs in a MERGE ON clause. */
  def upsertJdbc(
      df: DataFrame,
      url: String,
      table: String,
      keyCols: Seq[String],
      props: Properties,
      createTableColumnTypes: Option[String] = None): Unit = {
    require(keyCols.nonEmpty, "upsertJdbc: need at least one key column")
    val cols = df.columns.toSeq
    keyCols.foreach(k => require(cols.contains(k), s"upsertJdbc: no key column `$k`"))
    val staging = table + "_staging_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val writer = df.write.mode(SaveMode.Overwrite)
    createTableColumnTypes.foreach(t => writer.option("createTableColumnTypes", t))
    writer.jdbc(url, staging, props)
    // Spark's JDBC writer quotes COLUMN identifiers (case-exact) but
    // leaves TABLE names to the database's case folding; the MERGE must
    // match both conventions or Derby/Postgres resolve non-existent names
    def q(id: String) = "\"" + id + "\""
    val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val setCols = cols.filterNot(keyCols.contains)
    val merge = s"MERGE INTO $table t USING $staging s ON $on " +
      (if (setCols.nonEmpty)
        s"WHEN MATCHED THEN UPDATE SET ${setCols.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")} "
      else "") +
      s"WHEN NOT MATCHED THEN INSERT (${cols.map(q).mkString(", ")}) " +
      s"VALUES (${cols.map(c => s"s.${q(c)}").mkString(", ")})"
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      try conn.createStatement().executeUpdate(merge)
      finally {
        // drop staging even when the MERGE throws — otherwise every failed
        // call leaks one uniquely-named orphan table in the target DB; a
        // failed drop must not mask the MERGE's own exception
        try conn.createStatement().executeUpdate(s"DROP TABLE $staging")
        catch { case _: java.sql.SQLException => () }
      }
    } finally conn.close()
  }

  /** K4 CSV write (the reference's storage smoke probe,
    * `SaveDelta.scala:64-66`). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.option("header", "true").mode(SaveMode.Overwrite).csv(path)

  /** Bucketed catalog table: rows hash-partitioned AND sorted by `key`
    * into `numBuckets` files at WRITE time. Two tables bucketed the same
    * way equi-join on the key with NO exchange and NO sort — the
    * co-location that turns the one unavoidable fact⋈fact shuffle
    * (SCALE.md, q17's lineitem⋈orders) into a zero-movement merge join
    * at 100 TB. Requires the session catalog (`saveAsTable`); plain
    * `.parquet(path)` writes carry no bucket metadata. */
  def writeBucketed(
      df: DataFrame, table: String, key: String, numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction — the `OPTIMIZE` maintenance pass in plain
    * parquet. Streaming appends (every micro-batch is ≥1 file) and
    * per-batch layer writes accrete small files until scans drown in per-file
    * open costs; this rewrites `path` into `ceil(bytes / targetFileBytes)`
    * files, optionally z-order-clustered ([[graft.operators.ZOrder]]) so
    * the rewrite also buys statistics locality. Rewrite goes to a staging
    * directory first and swaps in only after it is fully written; Delta's
    * `OPTIMIZE` is the transactional form. Returns the output file count. */
  def compact(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20,
      zorderBy: Option[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)] = None): Int = {
    require(targetFileBytes > 0, s"targetFileBytes=$targetFileBytes must be > 0")
    import org.apache.hadoop.fs.Path
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a hive-partitioned root would be read WITH its partition columns and
    // rewritten flat — silently changing the layout; compact the partition
    // directories individually instead
    require(!fs.listStatus(target).exists(st =>
        st.isDirectory && st.getPath.getName.contains("=")),
      s"$path is hive-partitioned; compact each partition directory instead")
    val bytes = fs.getContentSummary(target).getLength
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = spark.read.parquet(path)
    val out = zorderBy match {
      case Some((a, b)) => graft.operators.ZOrder.layout(df, a, b, n)
      case None => df.repartition(n)
    }
    val staging = new Path(path + "__compact_staging")
    val old = new Path(path + "__compact_old")
    fs.delete(staging, true)
    fs.delete(old, true)
    out.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    // aside-then-install: the live dataset is never deleted before its
    // replacement is one rename away — a crash leaves either the
    // original (possibly under the __compact_old name, recoverable by a
    // rename) or the compacted result, never nothing
    require(fs.rename(target, old), s"compaction aside-rename failed for $path")
    require(fs.rename(staging, target), s"compaction swap failed for $path")
    fs.delete(old, true)
    n
  }
}
