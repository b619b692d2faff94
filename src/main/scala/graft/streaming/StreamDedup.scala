package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{ConnectedComponents, TextDedup}

/** Ingest-time near-duplicate filtering: the streaming form of MinHash-LSH
  * dedup (q19/q54). Documents arrive as a stream; a doc is dropped if it
  * is a near-dup of an earlier-accepted doc — across batches — or a
  * non-canonical member of a near-dup cluster within its own batch.
  *
  * Unlike decontamination ([[StreamClean]]), dedup has REAL cross-batch
  * state: what was accepted before decides what survives now. The state
  * kept is the accepted docs' MinHash signatures (64 longs/doc — bounded,
  * NOT the corpus text), stored as a parquet relation:
  *
  *   - within a batch: the full batch operator — LSH candidates, EXACT
  *     Jaccard verify, [[ConnectedComponents]] clustering, keep the
  *     min-id canonical per cluster;
  *   - across batches: new signatures band-join the store (same (band,
  *     band_hash) bucketing as batch LSH), and candidates verify by
  *     signature agreement — the unbiased MinHash estimate of Jaccard —
  *     because the earlier docs' shingle sets are gone by design. That
  *     estimate-verify is the standard streaming-dedup tradeoff; with 64
  *     permutations the estimator's σ ≈ 0.06, so thresholds sitting in a
  *     wide corpus margin (planted dups ≫ threshold ≫ background, as the
  *     specs pin) decide identically to exact verification.
  *
  * Replay-idempotent by construction: each micro-batch writes BOTH its
  * accepted docs and their signatures under `batch=<id>` directories with
  * overwrite — a replayed batch overwrites its own outputs instead of
  * appending duplicates (the [[LayerStore]] pattern; on Delta both writes
  * become one transaction).
  *
  * Scale shape: per batch, one band-bucket join of |batch| × bands rows
  * against the store's band relation — linear in batch size; the store
  * re-derives bands from signatures (array slice + hash, map-side) so it
  * never materializes a second copy of anything.
  */
object StreamDedup {

  /** Start deduplicating `docsStream` (doc_id, text); accepted docs land
    * under `outDir/batch=<id>/`, their signatures under
    * `sigStoreDir/batch=<id>/`. */
  def start(
      docsStream: DataFrame,
      outDir: String,
      sigStoreDir: String,
      checkpoint: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, id, outDir, sigStoreDir, n, minJaccard, bands, rowsPerBand)
      }
      .start()

  /** One micro-batch end-to-end: dedup, write docs, write signatures.
    * Public so the replay spec can re-drive a batch id directly. */
  def processBatch(
      batch: DataFrame,
      id: Long,
      outDir: String,
      sigStoreDir: String,
      n: Int = 3,
      minJaccard: Double = 0.5,
      bands: Int = 16,
      rowsPerBand: Int = 4): Unit = {
    val spark = batch.sparkSession
    val (accepted0, sigs, sh) = cleanBatchWithSigs(batch,
      readStore(spark, sigStoreDir, excludeBatch = id),
      n, minJaccard, bands, rowsPerBand)
    val accepted = accepted0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    accepted.write.mode("overwrite").parquet(s"$outDir/batch=$id")
    // accepted docs' signatures come from the SAME sketch pass the dedup
    // used (signatures are doc-local, so a semi-join restriction IS the
    // sketch of the accepted subset) — no re-shingle, no re-sketch
    sigs.join(accepted.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .write.mode("overwrite").parquet(s"$sigStoreDir/batch=$id")
    accepted.unpersist(); sigs.unpersist(); sh.unpersist()
    ()
  }

  /** The accepted-doc signature store, empty-schema-safe before the first
    * batch commits. `excludeBatch` removes the CURRENT batch's own layer:
    * a replayed batch may have written its signatures before the failed
    * attempt's checkpoint committed, and reading them back would make
    * every replayed doc a "duplicate" of itself — the replay would then
    * overwrite the batch output with an empty set. */
  def readStore(spark: SparkSession, sigStoreDir: String,
      excludeBatch: Long = -1L): Option[DataFrame] =
    try {
      val df = spark.read.parquet(sigStoreDir)
      if (df.columns.contains("sig"))
        Some(df.filter(col("batch") =!= excludeBatch).select("doc_id", "sig"))
      else None
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** One micro-batch deduplicated within itself (exact verify + cluster
    * canonicalization) and against the store (signature-estimate verify).
    * Also the unit the spec pins against the batch operator. */
  def cleanBatch(
      batch: DataFrame,
      store: Option[DataFrame],
      n: Int = 3,
      minJaccard: Double = 0.5,
      bands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    cleanBatchWithSigs(batch, store, n, minJaccard, bands, rowsPerBand)._1

  /** [[cleanBatch]] plus the batch's signature and shingle relations
    * (both persisted) so the caller can write the store layer without
    * re-shingling — ONE shingle + sketch pass serves intra-dedup,
    * cross-batch compare, and the store — and release the cache entries
    * once the batch's writes land (the imperative loop in
    * [[processBatch]] unpersists both; a lazy caller may leave them to
    * LRU, the [[graft.operators.TextDedup]] materialize convention). */
  def cleanBatchWithSigs(
      batch: DataFrame,
      store: Option[DataFrame],
      n: Int = 3,
      minJaccard: Double = 0.5,
      bands: Int = 16,
      rowsPerBand: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    val numPerms = bands * rowsPerBand
    val sh = TextDedup.shingles(batch, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // within-batch: pairs → clusters → keep the canonical (min-id) member
    val pairs = TextDedup
      .minhashPairsFromShingles(sh, minJaccard, bands, rowsPerBand)
      .select(col("a_id"), col("b_id"))
    val redundant = ConnectedComponents.components(pairs)
      .filter(col("id") =!= col("component_id"))
      .select(col("id").as("doc_id"))
    val intra = batch.join(redundant, Seq("doc_id"), "left_anti")
    // signatures are doc-local: sketching the shingle relation restricted
    // to surviving ids IS the sketch of the surviving docs
    val intraSigs = TextDedup.minhashSignaturesSketch(
        sh.join(intra.select(col("doc_id")), Seq("doc_id"), "left_semi"), numPerms)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val accepted = store match {
      case None => intra
      case Some(old) =>
        val newBands = TextDedup
          .lshBandsFromSig(intraSigs, bands, rowsPerBand)
          .select(col("doc_id").as("new_id"), col("band"), col("band_hash"))
        val oldBands = TextDedup
          .lshBandsFromSig(old, bands, rowsPerBand)
          .select(col("doc_id").as("old_id"), col("band"), col("band_hash"))
        // candidates as bare id pairs (the q38 lesson), signatures re-join
        val cands = newBands.join(oldBands, Seq("band", "band_hash"))
          .select(col("new_id"), col("old_id")).distinct()
        val dupOfOld = cands
          .join(intraSigs.select(col("doc_id").as("new_id"), col("sig").as("ns")), "new_id")
          .join(old.select(col("doc_id").as("old_id"), col("sig").as("os")), "old_id")
          .filter(
            size(filter(zip_with(col("ns"), col("os"), (x, y) => x === y),
              b => b)) >= ceil(lit(minJaccard) * numPerms))
          .select(col("new_id").as("doc_id")).distinct()
        intra.join(dupOfOld, Seq("doc_id"), "left_anti")
    }
    (accepted, intraSigs, sh)
  }
}
