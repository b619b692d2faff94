package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shared mechanics of the `batch=<id>` layer stores ([[IncrementalAgg]],
  * [[StreamFreq]]): each micro-batch overwrites its own layer directory
  * (idempotent under at-least-once replay, no transaction log), readers
  * fold layers, and compaction bounds the fold width.
  */
object LayerStore {

  private def markerPath(path: String) = new Path(path + ".compact.pending")
  private def stagedPath(path: String) = new Path(path + ".compact.staged")

  /** Torn-proof marker write (the DeltaLog.writePointer pattern): the body
    * lands in a temp sibling first, then renames in atomically. A bare
    * create+write can crash mid-body and leave a half-written plan that
    * wedges every recovery parse until manual repair; with the rename the
    * marker is either absent (recovery no-ops, the staged dir is orphan)
    * or complete. */
  private def writeMarkerAtomic(
      fs: org.apache.hadoop.fs.FileSystem, marker: Path, body: String): Unit = {
    val tmp = new Path(marker.getParent,
      s".${marker.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    fs.delete(marker, false)
    require(fs.rename(tmp, marker), s"marker write failed: $marker")
  }

  /** Fold all layers STRICTLY BELOW the newest into one by summing
    * `sumCols` per `groupCol` — additive summaries (grouped deltas, MG
    * counters) compose by exactly this fold, so compaction is invisible
    * to readers. The newest layer stays untouched: it is the only one
    * the streaming checkpoint can replay (an uncommitted batch re-fires,
    * committed ones never do), and folding it would let a replay
    * overwrite merged history.
    *
    * Crash safety: the swap (delete folded layers, rename the staged
    * fold into place) is guarded by a pending-marker written AFTER the
    * staged fold is durable and listing exactly the folded ids. A crash
    * anywhere inside the swap leaves marker + staged fold on disk, and
    * [[recover]] — invoked by every reader entry point — completes the
    * swap deterministically; a crash before the marker exists leaves the
    * store untouched (the orphan staged dir is overwritten next run).
    */
  def compact(
      spark: SparkSession,
      path: String,
      groupCols: Seq[String],
      sumCols: Seq[String]): Unit = {
    require(groupCols.nonEmpty, "compact: need at least one group column")
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target)) return
    recover(spark, path)
    val layers = fs.listStatus(target).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).sorted
    if (layers.length <= 2) return
    val folded = layers.init
    val combined = spark.read.parquet(folded.map(b => s"$path/batch=$b"): _*)
    // refuse to fold with a group column missing (e.g. an "item"-only
    // compact of a windowed (win_start, item, cnt) store): it would merge
    // counts across the dropped dimension AND mix schemas with the
    // untouched newest layer — silent corruption, not compaction
    require(combined.columns.toSet == (groupCols ++ sumCols).toSet,
      s"compact: layer schema ${combined.columns.mkString("(", ",", ")")} does not " +
        s"match groupCols=$groupCols + sumCols=$sumCols")
    val compacted = combined
      .groupBy(groupCols.map(col): _*)
      .agg(sum(col(sumCols.head)).as(sumCols.head),
        sumCols.tail.map(c => sum(col(c)).as(c)): _*)
    val staged = stagedPath(path)
    fs.delete(staged, true)
    compacted.write.mode("overwrite").parquet(staged.toString)
    // point of no return: marker names the folded ids; from here recover()
    // can always finish the swap
    writeMarkerAtomic(fs, markerPath(path), folded.mkString(","))
    finishSwap(fs, path, folded)
  }

  /** Single-group-column form (the common ungrouped-by-window stores). */
  def compact(
      spark: SparkSession,
      path: String,
      groupCol: String,
      sumCols: Seq[String]): Unit =
    compact(spark, path, Seq(groupCol), sumCols)

  /** Complete an interrupted [[compact]] swap, if one is pending. Cheap
    * (one existence check) when nothing is pending; every reader calls
    * this before listing layers. */
  def recover(spark: SparkSession, path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = markerPath(path)
    if (!fs.exists(marker)) return
    val in = fs.open(marker)
    val folded = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      .split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    finally in.close()
    finishSwap(fs, path, folded)
  }

  /** Swap order matters for crash-safe re-entry AND for concurrent
    * completion (the compactor and any reader's [[recover]] may finish
    * the same swap at once — recover runs on every reader entry, so a
    * query during a live compaction is in-contract): the non-destination
    * folded layers go first (idempotent deletes); then the destination
    * `batch=<folded.max>` is moved ASIDE (an atomic rename only one
    * completer can win) and the staged fold renamed into place (atomic,
    * single winner again) — there is no delete-then-rename window in
    * which a second completer can destroy the just-installed fold, which
    * the previous delete(dst)+rename shape allowed (the loser deleted
    * the winner's installed fold and then failed its own rename, losing
    * all folded history). Cleanup (aside dir + marker) runs only once
    * the fold is verifiably in place. Every interleaving of crash,
    * recover, and concurrent completion of ONE generation converges to
    * the compacted state; the single-compactor contract (one streaming
    * query owns the store) is what rules out a reader completing a
    * STALE marker against a newer compaction's stage — the standing
    * assumption of every layer-store maintenance op. */
  private def finishSwap(
      fs: org.apache.hadoop.fs.FileSystem, path: String, folded: Seq[Long]): Unit = {
    val target = new Path(path)
    val staged = stagedPath(path)
    val dst = new Path(target, s"batch=${folded.max}")
    val aside = new Path(path + ".compact.replaced")
    folded.filter(_ != folded.max)
      .foreach(b => fs.delete(new Path(target, s"batch=$b"), true))
    if (fs.exists(staged)) {
      // move the pre-fold destination aside (atomic; losers no-op) so the
      // staged fold can rename in without any destructive delete
      if (fs.exists(dst) && !fs.exists(aside)) fs.rename(dst, aside)
      fs.rename(staged, dst) // atomic: exactly one completer wins
    }
    // restore step: a completer that stalled between its exists(dst)
    // check and its aside-rename can strand the just-INSTALLED fold
    // aside after a faster completer already finished (its own
    // rename(staged, dst) then fails — staged is gone). Whoever reaches
    // here with dst missing and the aside present puts the fold back, so
    // that interleaving converges instead of silently dropping the
    // folded layers from every reader's fold.
    if (!fs.exists(dst) && fs.exists(aside))
      require(fs.rename(aside, dst),
        s"layer-store: failed to restore stranded fold $aside -> $dst")
    // cleanup only once the fold is verifiably in place
    if (fs.exists(dst)) {
      fs.delete(aside, true)
      fs.delete(markerPath(path), true)
    }
  }
}
