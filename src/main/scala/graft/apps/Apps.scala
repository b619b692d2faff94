package graft.apps

import graft.GraftSession
import graft.domain.{Fixtures, Ops}
import graft.sources.IO

/** Entry-point mains mirroring the reference's three pipelines (SURVEY §3).
  * Each is a thin wiring of the library ops — the logic lives in
  * graft.domain / graft.streaming. */
object BatchJoinJob {
  /** §3.2 batch join job (`read_delta.py:234-294`): sources → aggregate →
    * joins → overwrite `final`. Args: outDir [employeesPath validationsPath
    * activitiesPath] — with no paths, runs on the deterministic fixtures. */
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_final")
    val spark = GraftSession(GraftSession.cpus(8), sys.env.get("SPARK_MASTER"))
    val (emp, vals, acts) = args.toSeq match {
      case Seq(_, e, v, a) =>
        (IO.readTable(spark, e), IO.readTable(spark, v), IO.readTable(spark, a))
      case Seq(_) | Seq() =>
        val e = Fixtures.employees(spark)
        (e, Ops.validateCommutes(e), Fixtures.activities(spark))
      case other =>
        sys.error(s"usage: BatchJoinJob [outDir [employees validations activities]]; got ${other.size} args")
    }
    val finalDf = Ops.buildFinal(emp, vals, acts)
    IO.writeTable(finalDf, s"$outDir/final")
    IO.writeTable(Ops.benefitReport(finalDf), s"$outDir/benefit_report")
    println(s"[batch-join] wrote ${finalDf.count()} rows to $outDir/final")
    spark.stop()
  }
}

/** §3.1 CDC ingest main — wire a Kafka (or fixture-file) source into the
  * checkpointed streaming pipeline. Args: sourceKind(kafka|fixture)
  * sinkPath checkpointPath [bootstrapServers]. */
object CdcIngestJob {
  def main(args: Array[String]): Unit = {
    if (args.length < 3 || (args(0) == "kafka" && args.length < 4))
      sys.error("usage: CdcIngestJob <kafka|fixture> <sinkPath> <checkpointPath> [bootstrapServers]")
    val Array(kind, sink, checkpoint) = args.take(3)
    val spark = GraftSession(GraftSession.cpus(8), sys.env.get("SPARK_MASTER"))
    val source = kind match {
      case "kafka" =>
        graft.streaming.CdcIngest.kafkaSource(spark, args(3))
      case _ =>
        // fixture mode: re-serve the deterministic envelopes via a file
        // stream so the full checkpointed path runs without Kafka
        val dir = java.nio.file.Files.createTempDirectory("cdc_fixture").toString
        Fixtures.cdcEnvelopes(spark).write.mode("overwrite").text(dir)
        spark.readStream.schema("value STRING").text(dir)
    }
    // fixture mode drains what's there and exits; kafka mode runs forever
    val trigger =
      if (kind == "kafka") org.apache.spark.sql.streaming.Trigger.ProcessingTime("30 seconds")
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    val q = graft.streaming.CdcIngest.startIngest(source, sink, checkpoint, trigger = trigger)
    q.awaitTermination()
    println(s"[cdc-ingest] sink rows: " + spark.read.parquet(sink).count())
    spark.stop()
  }
}

/** §7.1-extension corpus-hygiene main: near-dup dedup applied →
  * benchmark decontamination → token-budget shard packing (the q56
  * pipeline), written as shard-partitioned parquet — the layout a
  * training loader consumes (one directory per shard, deterministic
  * membership). Args: sfDir outDir [budget]. */
object CorpusCleanJob {
  import org.apache.spark.sql.SparkSession

  def run(spark: SparkSession, sfDir: String, outDir: String,
      budget: Long = 10000L): Long = {
    import org.apache.spark.sql.functions._
    import graft.Tables.table
    import graft.operators.{ConnectedComponents, Decontaminate, ShardPack, TextDedup}
    val docs = table(spark, sfDir, "documents")
    val edges = TextDedup.minhashPairs(docs, n = 3, minJaccard = 0.5)
      .select(col("a_id"), col("b_id"))
    val redundant = ConnectedComponents.components(edges)
      .filter(col("id") =!= col("component_id"))
      .select(col("id").as("doc_id"))
    val train = docs.join(redundant, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % 10 =!= 7)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    val contaminated = Decontaminate.overlaps(train, eval, n = 3, minOverlap = 10)
      .select(col("train_id").as("doc_id")).distinct()
    val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
    val packed = ShardPack.pack(
      clean.withColumn("ntok", size(split(col("text"), " ")).cast("long")),
      col("doc_id"), col("ntok"), budget)
    packed.select(col("doc_id"), col("text"), col("ntok"), col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    spark.read.parquet(outDir).count()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) sys.error("usage: CorpusCleanJob <sfDir> <outDir> [budget]")
    val spark = GraftSession(GraftSession.cpus(8), sys.env.get("SPARK_MASTER"))
    val n = run(spark, args(0), args(1),
      args.lift(2).map(_.toLong).getOrElse(10000L))
    println(s"[corpus-clean] wrote $n docs to ${args(1)}")
    spark.stop()
  }
}
