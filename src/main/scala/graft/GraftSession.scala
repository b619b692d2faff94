package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The one place a `main` builds its SparkSession: Bench, Verify, PlanDump
  * and the reference-app jobs all get the same driver session, differing
  * only in core count and master. */
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
    * - `GraftExtensions`: graft's SQL functions (`rolling_hash`,
    *   `minhash_signature`, …) and the PII-masking rule. SQL DML on
    *   graft-delta tables does not need it.
    * - UTC session time zone, UI off, log level WARN.
    */
  def conf(cpus: Int, master: Option[String] = None): ListMap[String, String] =
    ListMap(
      "spark.master" -> master.getOrElse(s"local[$cpus]"),
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "2m",
      "spark.sql.files.openCostInBytes" -> "512k",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.sources.GraftLocalFileSystem",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.log.level" -> "WARN")

  /** Build (or return the running) session with [[conf]]'s settings. */
  def apply(cpus: Int, master: Option[String] = None): SparkSession =
    conf(cpus, master)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()

  /** `SPARK_GRAFT_CPUS`, else the calling main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
