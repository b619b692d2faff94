package perfbench

import scala.collection.mutable

/** The metrics the benchmark defines, with their units, and the values one
  * run measured. BENCHMARK.json at the repository root lists the same
  * names; a run refuses to print a result with any of them unset. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "catchup_rows_per_s" -> "rows/s",
    "freshness_p50_s" -> "s",
    "freshness_p99_s" -> "s",
    "job_p50_s" -> "s",
    "bytes_written_per_user_byte" -> "ratio",
    "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.rows_per_batch_p50" -> "rows",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.batch_ms_p99" -> "ms",
    "streaming.add_batch_ms_p50" -> "ms",
    "streaming.overhead_ms_p50" -> "ms",
    "streaming.busy_share" -> "ratio",
    "domain.decode_rows_per_s" -> "rows/s",
    "domain.report_plan_ms" -> "ms",
    "domain.report_exec_ms" -> "ms",
    "delta.commits" -> "count",
    "delta.checkpoints" -> "count",
    "delta.checkpoint_ms" -> "ms",
    "delta.snapshot_ms" -> "ms",
    "delta.read_ms" -> "ms",
    "delta.write_ms" -> "ms",
    "delta.log_bytes" -> "bytes",
    "delta.json_tail_max" -> "count",
    "delta.files_added" -> "count",
    "delta.files_removed" -> "count",
    "delta.live_files_end" -> "count",
    "delta.live_bytes_end" -> "bytes",
    "delta.bytes_rewritten" -> "bytes",
    "delta.rows_rewritten_per_row_changed" -> "ratio",
    "delta.scan_files_read_ratio" -> "ratio",
    "spark.jobs" -> "count",
    "spark.jobs_per_op" -> "ratio",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms",
    "spark.codegen_ms" -> "ms",
    "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes",
    "spark.task_skew_max" -> "ratio",
    "operators.shingles_ms" -> "ms",
    "operators.signatures_ms" -> "ms",
    "operators.lsh_candidates_ms" -> "ms",
    "operators.minhash_pairs_ms" -> "ms",
    "operators.components_ms" -> "ms",
    "operators.decontaminate_ms" -> "ms",
    "operators.shard_pack_ms" -> "ms",
    "operators.lsh_candidates" -> "count",
    "operators.lsh_pairs" -> "count",
    "operators.lsh_precision" -> "ratio",
    "operators.docs_in" -> "count",
    "operators.docs_kept" -> "count",
    "fs.creates" -> "count",
    "fs.renames" -> "count",
    "fs.list_status" -> "count",
    "fs.deletes" -> "count",
    "fs.bytes_written" -> "bytes",
    "fs.bytes_read" -> "bytes",
    "jvm.gc_ms" -> "ms",
    "jvm.gc_count" -> "count",
    "jvm.heap_peak_mb" -> "MB",
    "gen.late_ms_max" -> "ms",
    "gen.offered_rows_per_s" -> "rows/s",
    "gen.freshness_samples" -> "count",
    "trace.untraced_job_p50_s" -> "s",
    "trace.traced_job_p50_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** Layer prefixes whose metrics are all zero on a workload that never
    * calls into that layer. */
  def layer(prefix: String): Seq[String] =
    PerLayer.map(_._1).filter(_.startsWith(prefix + "."))
}

final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, Double]

  def set(name: String, v: Double): Unit = {
    require(Metrics.EndToEnd.exists(_._1 == name) || Metrics.PerLayer.exists(_._1 == name),
      s"undeclared metric $name")
    require(!v.isNaN && !v.isInfinite, s"metric $name is $v")
    values(name) = v
  }

  def get(name: String): Option[Double] = values.get(name)

  /** This workload does no work in the layer: its counters read 0. */
  def idle(prefix: String): Unit = Metrics.layer(prefix).foreach(set(_, 0.0))

  def render(declared: Seq[(String, String)]): String = {
    val missing = declared.map(_._1).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    Json.obj(declared.map { case (n, u) =>
      n -> Json.obj(Seq("value" -> Json.num(values(n)), "unit" -> Json.str(u)))
    })
  }

  def table(declared: Seq[(String, String)]): Seq[String] =
    declared.map { case (n, u) => f"  $n%-38s ${values.get(n).fold("-")(v => f"$v%.6g")}%14s $u" }
}
