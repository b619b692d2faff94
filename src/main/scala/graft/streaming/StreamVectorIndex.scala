package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => CB}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.VectorSearch
import graft.sources.delta.{DeltaLog, DeltaTable}

/** Incrementally-maintained ANN index over an embedding STREAM — the
  * ingest-time form of [[graft.operators.IvfSearch]]: each micro-batch
  * assigns its vectors to their nearest IVF cell map-side (the codegen
  * [[graft.functions.NearestCentroids]] kernel, centroid model a plan
  * constant) and appends them to a Delta table HIVE-PARTITIONED BY CELL
  * in one atomic `txn` commit — so at-least-once replays are refused by
  * the log and a crash never tears the index.
  *
  * Search never scans the corpus: the query's `nProbe` nearest cells are
  * computed on the driver (k × dim flops), ONLY those cell partitions
  * are read — the Delta log is the partition index, pruned cells are
  * never listed — and candidates re-rank by exact integer-cosine. At
  * 100 TB of vectors a search touches nProbe/k of the data; freshness
  * is one micro-batch behind the stream, with no index rebuild ever.
  *
  * The centroid model is fixed at index-build time (train on a bootstrap
  * sample via [[graft.operators.IvfSearch]]; FAISS's contract) — retrain
  * = write a new index table alongside and swap readers.
  */
object StreamVectorIndex {

  private def cellOf(cents: Array[Array[Double]]) = (v: org.apache.spark.sql.Column) =>
    element_at(CB.column(graft.functions.NearestCentroids(
      CB.expression(v), cents, 1)), 1)

  /** The quarantine cell for vectors whose assignment is NULL (wrong
    * dimension, NaN element): they stay IN the index table — countable,
    * auditable, never silently dropped — but no search probes them
    * (searches probe integer cell names only). Without this they would
    * land in Hive's default partition and silently diverge index
    * contents from search coverage. */
  val InvalidCell = "__invalid"

  /** Start indexing `vectors` (streaming, `vec_id` + `embedding`).
    *
    * `appId` and `checkpoint` live and die TOGETHER (delta-spark's
    * streaming-sink contract): the log's txn mark for `appId` is what
    * makes checkpoint-replayed batches exactly-once, so deleting the
    * checkpoint while keeping the appId makes the restarted stream's
    * batchIds (0, 1, …) look like replays and they will be refused —
    * reset BOTH (fresh checkpoint + fresh appId) or neither. Two
    * independent streams writing one index path must use distinct
    * appIds for the same reason. */
  def start(
      vectors: DataFrame,
      indexPath: String,
      checkpoint: String,
      centroids: Array[Array[Double]],
      appId: String = "graft-vector-index",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        // NearestCentroids accepts the long-quantized vector directly;
        // `centroids` live in the same scaled-integer space (IvfSearch's
        // training convention)
        val assigned = VectorSearch.quantized(batch.toDF())
          .withColumn("cell",
            coalesce(cellOf(centroids)(col("v")).cast("string"),
              lit(InvalidCell)))
          .select(col("cell"), col("vec_id"), col("embedding"))
        DeltaTable.appendWithTxn(assigned, indexPath, appId, batchId,
          partitionBy = Seq("cell"))
        ()
      }
      .start()

  /** Top-k exact-cosine neighbors of `query` among the vectors indexed
    * so far, reading only the `nProbe` nearest cell partitions (ONE log
    * snapshot for the whole probe set). The query is scored as a plan
    * constant — no sentinel id, so a corpus vector with ANY `vec_id`
    * (including negatives) can be returned. */
  def search(
      spark: SparkSession,
      indexPath: String,
      query: Array[Float],
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int = 4): DataFrame = {
    // nProbe nearest cells: k × dim driver-side flops on the tiny model
    val qv = query.map(x => math.floor(x.toDouble * 16777216.0).toLong)
    val cells = centroids.zipWithIndex.map { case (c, i) =>
      var s = 0.0
      var j = 0
      while (j < c.length) { val d = qv(j).toDouble - c(j); s += d * d; j += 1 }
      (s, i)
    }.sortBy { case (d, i) => (d, i) }.take(nProbe).map(_._2)
    // an index with no commits yet (stream started, first batch pending)
    // has zero vectors indexed so far — an empty top-k, not a crash (the
    // contract every other reader in this package already keeps)
    if (DeltaLog.snapshot(spark, indexPath).isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Double)].toDF("nid", "rnk", "cosine")
    }
    // only the probed cell partitions are opened (log-indexed pruning)
    val candidates = DeltaTable.readWhere(
      spark, indexPath, col("cell").isin(cells.map(_.toString).toSeq: _*))
      .select(col("vec_id"), col("embedding"))
    val qn2 = qv.map(x => x * x).sum // 64 elems < 2^52: exact in a long
    val scored = VectorSearch.withNorm(candidates)
      .withColumn("dot", CB.column(graft.functions.DotProductI64(
        CB.expression(col("v")), CB.expression(typedLit(qv.toSeq)))))
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(lit(qn2).cast("double")) * sqrt(col("n2").cast("double"))))
    scored
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cosine").desc, col("vec_id").asc)))
      .select(col("vec_id").as("nid"), col("rnk"), col("cosine"))
  }
}
