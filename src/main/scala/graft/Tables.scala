package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md). */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts is TIMESTAMP(NANOS) parquet. Every consumer in the engine
      // expects BIGINT epoch-nanoseconds and derives seconds/hours with
      // integer division (`ts div 1000…`). Two runtime behaviors exist:
      //   * older Spark 4 honors spark.sql.legacy.parquet.nanosAsLong and
      //     resolves the column as BIGINT nanos directly (exact);
      //   * newer runtimes ignore the conf and resolve TIMESTAMP_NTZ with
      //     sub-µs truncated — the same truncation DuckDB applies on
      //     CAST(ts AS TIMESTAMP), and invisible to consumers because all
      //     of them divide by ≥1000 (nanos → µs or coarser).
      // Attempt the conf (no per-read option; session is driver-owned, so
      // the guarded set keeps the side effect one-time and idempotent)…
      if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTs(spark, df) else df
  }

  /** …then adapt to whatever schema the runtime actually produced: if `ts`
    * resolved as a timestamp type, rebuild BIGINT nanos from its µs value.
    * NTZ→LTZ interpretation uses the session time zone, so UTC is ensured
    * first (every engine entrypoint already pins it; this guards sessions
    * we don't build). Spark `div` truncates toward zero vs DuckDB's floor
    * `//` — equivalent for the non-negative epochs in this corpus. */
  private def normalizeEventTs(spark: SparkSession, df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        if (!spark.conf.getOption("spark.sql.session.timeZone").contains("UTC"))
          spark.conf.set("spark.sql.session.timeZone", "UTC")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }

  /** [[table]] with a row-group-aware scan SPREAD (optimization guide
    * §2.5, "input skew: one huge unsplittable file"): a parquet ROW
    * GROUP is Spark's minimum split unit, so a table whose files carry
    * fewer row groups than the session has cores runs its scan stage —
    * and everything Catalyst fuses into it: filters, projections,
    * partial aggregates, shingle kernels — on that few threads no
    * matter how small `spark.sql.files.maxPartitionBytes` is set. When
    * the file layout offers LESS than half the session's default
    * parallelism in row groups, redistribute right after the read by a
    * deterministic hash of `keys` (hash partitioning is a pure function
    * of the row — reproducible under retries, unlike round-robin, and
    * it skips round-robin's sortBeforeRepartition local sort) so the
    * per-row work downstream engages every core. Deterministic filters
    * and column pruning push through a RepartitionByExpression, so
    * PushedFilters/ReadSchema at the scan are unchanged.
    *
    * On a properly-laid-out table (row groups >= cores/2 — any real
    * cluster dataset, where files are split-sized to begin with) this
    * is the IDENTITY: no extra exchange is inserted. The gate reads
    * only footer metadata (O(files) driver work, bounded by the same
    * listing the scan itself performs); a layout it cannot inspect
    * falls back to the plain read. Callers opt in per query where the
    * scan stage's fused work is the measured bottleneck — for
    * shuffle-bound queries whose first stage is already cheap, the
    * extra exchange would only add cost, so [[table]] stays the
    * default. */
  def tableSpread(spark: SparkSession, dir: String, name: String,
                  keys: Column*): DataFrame = {
    require(keys.nonEmpty, "tableSpread needs at least one hash key column")
    val df = table(spark, dir, name)
    val p = spark.sparkContext.defaultParallelism
    // `None` means "could not inspect OR enough row groups": skip the
    // spread either way — never fail or shuffle a read the gate cannot
    // justify (round-19 advice: a nested/partition-discovered layout
    // must fall back to the plain read, not shuffle unconditionally)
    rowGroupsUnder(spark, s"$dir/$name.parquet", p) match {
      case Some(g) if g * 2 < p => df.repartition(p, keys: _*)
      case _ => df
    }
  }

  /** Parquet row groups under `path` (a file or a directory tree of
    * `*.parquet`, nested Hive-style dirs included), from footer
    * metadata only — but bounded by the gate it serves: footers stop
    * being opened (and None is returned, meaning "spread not
    * justified") as soon as the count reaches `enough`, so a
    * well-laid-out table pays at most ⌈cores/2⌉ footer opens, not
    * O(files) (round-19 advice). None also covers an uninspectable
    * layout and a directory with no parquet files at all. */
  private def rowGroupsUnder(spark: SparkSession, path: String,
                             enough: Int): Option[Int] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[org.apache.hadoop.fs.FileStatus] =
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
        else if (st.isFile && st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      val files = walk(fs.getFileStatus(p))
      if (files.isEmpty) return None
      // file count alone can decide: every parquet file holds >= 1 row
      // group, so enough files means enough splits without any footer IO
      if (files.size * 2 >= enough) return None
      var n = 0
      val it = files.iterator
      while (it.hasNext && n * 2 < enough) {
        val st = it.next()
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try n += r.getRowGroups.size finally r.close()
      }
      if (n * 2 >= enough) None else Some(n)
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** Engine-portable numeric aggregation patterns.
  *
  * The driver hash-compares our parquet output against a DuckDB oracle, so
  * float aggregates must be bit-identical across engines. Plain SUM/AVG over
  * doubles is summation-order-dependent; instead we cast each row to a
  * decimal (round-to-nearest, identical in Spark and DuckDB), sum exactly in
  * decimal (associative), and cast the final value to double (again exactly
  * rounded the same way). Division of two identical doubles/longs is a single
  * IEEE-754 op and therefore also identical.
  */
object Num {
  /** SUM(double) with deterministic result: oracle form
    * `CAST(SUM(CAST(x AS DECIMAL(18,s))) AS DOUBLE)`. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** AVG(double) with deterministic result: oracle form
    * `CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double") / count(c)

  /** Per-row money rounding: `CAST(CAST(x AS DECIMAL(18,2)) AS DOUBLE)`. */
  def money(c: Column): Column = c.cast(DecimalType(18, 2)).cast("double")
}
