package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The one place a `main` builds its SparkSession: Bench, Verify, PlanDump
  * and the reference-app jobs all get the same driver session, differing
  * only in core count, master and (for Bench's A/B knob) extensions. */
object GraftSession {

  /** Every setting the session gets, as one immutable value.
    *
    * - `local[cpus]` and `cpus` shuffle partitions: the thread budget a
    *   cluster deployment would set per executor count (`master` replaces
    *   the local master, e.g. from `SPARK_MASTER`).
    * - AQE on.
    * - 2 MB splits, 512 KB open cost: testdata ships one parquet file per
    *   table (~10 MB at sf0.1); the 128 MB default would scan it in ONE
    *   task. With properly sized files on a cluster these are no-ops.
    * - `GraftLocalFileSystem` for `file:`: the stock LocalFileSystem forks
    *   /bin/chmod per created file when libhadoop is absent and doubles
    *   every staged file with a .crc sidecar (~10 % of the DML write path,
    *   OPTIMIZATION_r19.md). HDFS/object-store schemes never touch it.
    * - `GraftExtensions`: SQL UPDATE / MERGE INTO on graft-delta tables
    *   resolve through its rules. `extensions = false` drops only that.
    * - UTC session time zone, UI off, log level WARN.
    */
  def conf(cpus: Int, master: Option[String] = None,
      extensions: Boolean = true): ListMap[String, String] = {
    val base = ListMap(
      "spark.master" -> master.getOrElse(s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "2m",
      "spark.sql.files.openCostInBytes" -> "512k",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
      "spark.log.level" -> "WARN")
    if (extensions) base + ("spark.sql.extensions" -> "graft.GraftExtensions")
    else base
  }

  /** Build (or return the running) session with [[conf]]'s settings. */
  def apply(cpus: Int, master: Option[String] = None,
      extensions: Boolean = true): SparkSession =
    conf(cpus, master, extensions)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** `SPARK_GRAFT_CPUS`, else the calling main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
