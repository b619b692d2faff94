package graft.sources.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.SparkSpec

/** The DISTRIBUTED checkpoint path ([[DeltaLog.checkpoint]] routed by
  * `spark.graft.delta.distributedReplayThreshold`): add rows build from
  * the previous checkpoint's DataFrame + the JSON tail instead of a
  * driver-side snapshot — the round-13 closure of the "checkpoint row
  * construction is O(#files) on the driver" ceiling. Pinned here:
  * result-identity with the driver path (full snapshot equality across
  * JSON replay / fresh-checkpoint read / post-cleanLog read), deletion
  * vectors carried as protocol structs, tombstone retention with
  * executor-side existence probes, and the multi-part form with a
  * footer-derived pointer size. */
class DistributedCheckpointSpec extends SparkSpec {

  import spark.implicits._

  private def withThreshold[A](n: Long)(body: => A): A = {
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", n.toString)
    try body
    finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  /** Everything a checkpoint must preserve, in comparable form. */
  private def fingerprint(s: DeltaLog.Snapshot) = (
    s.version,
    s.files.map(f => f.path -> (f.size, f.modificationTime, f.partitionValues,
      f.dv.map(d => (d.storageType, d.pathOrInlineDv, d.offset, d.sizeInBytes,
        d.cardinality)), f.stats)).sortBy(_._1),
    s.tombstones.toSeq.sorted,
    s.txns.toSeq.sorted,
    s.schemaJson, s.partitionColumns, s.metaDataId, s.configuration,
    (s.minReaderVersion, s.minWriterVersion, s.readerFeatures, s.writerFeatures))

  test("distributed checkpoint is snapshot-identical to the JSON replay") {
    val t = java.nio.file.Files.createTempDirectory("graft_dcp1").toString + "/t"
    // a log with every action kind: multi-file adds, a DV delete (struct
    // DVs must survive), a txn mark, a configuration change, a rewrite
    // (remove tombstones), and a post-checkpoint tail doing more of each
    val df = (0L until 400L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(8L)))
      .repartition(4)
    DeltaTable.write(df, t, SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 3)
    DeltaTable.appendWithTxn((400L until 420L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(8L))), t, "app-a", 7L)
    // checkpoint #1 (driver path: no prior checkpoint to route by)
    val v1 = DeltaLog.checkpoint(spark, t)
    // tail past the checkpoint: another DV delete (merges vectors), an
    // append, a second txn high-water mark
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 7)
    DeltaTable.appendWithTxn((420L until 440L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(8L))), t, "app-a", 9L)
    val before = fingerprint(DeltaLog.snapshot(spark, t))
    // checkpoint #2 through the DISTRIBUTED path (threshold 0: any
    // prior checkpoint routes it)
    val v2 = withThreshold(0L) { DeltaLog.checkpoint(spark, t) }
    assert(v2 > v1)
    assert(fingerprint(DeltaLog.snapshot(spark, t)) === before,
      "checkpoint-seeded snapshot must equal the JSON replay")
    // retire the JSON history: the state must now reconstruct from the
    // distributed checkpoint ALONE
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    assert(fingerprint(DeltaLog.snapshot(spark, t)) === before,
      "post-cleanLog snapshot must reconstruct from the checkpoint alone")
    // and the DATA reads back exactly (DV rows stay deleted)
    val got = DeltaTable.read(spark, t).agg(
      org.apache.spark.sql.functions.count(lit(1)),
      org.apache.spark.sql.functions.sum(col("id"))).head()
    // each DELETE only touches rows present at its time: %3 ran before
    // the 400.. appends, %7 before the 420.. append
    val ids = (0L until 400L).filter(i => i % 10 != 3 && i % 10 != 7) ++
      (400L until 420L).filter(_ % 10 != 7) ++ (420L until 440L)
    assert(got.getLong(0) === ids.size.toLong)
    assert(got.getLong(1) === ids.sum)
  }

  test("distributed checkpoint carries expired tombstones only while the file exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dcp2").toString
    val t = s"$dir/t"
    DeltaTable.write((0L until 50L).toDF("id"), t, SaveMode.Append)
    // an overwrite tombstones the original files
    val origPaths = DeltaLog.snapshot(spark, t).files.map(_.path)
    DeltaTable.write((50L until 60L).toDF("id"), t, SaveMode.Overwrite)
    DeltaLog.checkpoint(spark, t)
    DeltaTable.write((60L until 70L).toDF("id"), t, SaveMode.Append)
    // retention 0: every tombstone is expired — kept ONLY because its
    // data file still exists (the probe runs executor-side here)
    val v = withThreshold(0L) {
      DeltaLog.checkpoint(spark, t, tombstoneRetainMs = 0L)
    }
    val withFiles = DeltaLog.snapshot(spark, t)
    assert(origPaths.forall(withFiles.tombstones.contains),
      "expired tombstones with live files must persist through the " +
        "distributed checkpoint")
    // delete the files; ANOTHER tail commit moves the head so the next
    // checkpoint re-evaluates — now the expired tombstones drop
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    origPaths.foreach(p => fs.delete(new Path(tbl, p), false))
    DeltaTable.write((70L until 80L).toDF("id"), t, SaveMode.Append)
    withThreshold(0L) { DeltaLog.checkpoint(spark, t, tombstoneRetainMs = 0L) }
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    val after = DeltaLog.snapshot(spark, t)
    assert(origPaths.forall(p => !after.tombstones.contains(p)),
      "expired tombstones whose files are gone must drop")
    assert(DeltaTable.read(spark, t).count() === 30L)
  }

  test("distributed vacuumOrphans reclaims exactly what the driver walk does") {
    val t = java.nio.file.Files.createTempDirectory("graft_dvac").toString + "/t"
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaTable.write((1L to 30000L).toDF("id").repartition(4), t,
      SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(3L)) === 0)
    val liveSidecar = DeletionVectors.relativePath(
      DeltaLog.snapshot(spark, t).files
        .flatMap(_.dv).find(_.storageType == "u")
        .getOrElse(fail("expected at least one file-backed ('u') vector")))
    // a rewrite-path upsert retires ONE file's vector: the removed data
    // file and its retired sidecar are tombstone-referenced — the
    // orphan walk must keep both (they belong to vacuumRemoved's clock).
    // With the property on, the upsert would take the DV path, so it is
    // unset first.
    DeltaTable.unsetProperties(spark, t, Set("delta.enableDeletionVectors"))
    DeltaTable.merge(Seq(2L).toDF("id"), t, "id")
    val lastCommit = DeltaLog.readCommit(spark, t,
      DeltaLog.snapshot(spark, t).version)
    val tombstonedData = lastCommit.removes.filter(_.dataChange).map(_.path)
    val retiredSidecars = lastCommit.removes.filterNot(_.dataChange).map(_.path)
    assert(tombstonedData.nonEmpty && retiredSidecars.nonEmpty)
    DeltaLog.checkpoint(spark, t) // routing needs a checkpoint
    // plant true crash orphans: a data file and a sidecar no artifact
    // references
    val orphanData = new Path(tbl, "part-orphan.snappy.parquet")
    val o1 = fs.create(orphanData, false); o1.write(1); o1.close()
    val orphanDv = new Path(tbl,
      s"deletion_vector_${java.util.UUID.randomUUID()}.bin")
    val o2 = fs.create(orphanDv, false)
    o2.write(DeletionVectors.serialize(Array(1L))); o2.close()
    val n = withThreshold(0L) {
      DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L)
    }
    assert(n === 2, s"exactly the two planted orphans reclaim, got $n")
    assert(!fs.exists(orphanData) && !fs.exists(orphanDv))
    assert(fs.exists(new Path(tbl, liveSidecar)),
      "live sidecar must survive the distributed walk")
    tombstonedData.foreach(p => assert(fs.exists(new Path(tbl, p)),
      "tombstoned data file belongs to vacuumRemoved, not the orphan walk"))
    retiredSidecars.foreach(p => assert(fs.exists(new Path(tbl, p)),
      "retired sidecar is tombstone-referenced and must survive"))
    // fixed point: the DRIVER walk on the same state reclaims nothing
    // more (decision-identity from both sides)
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) === 0)
    // and on a CLEANED log the distributed walk still runs off retained
    // artifacts; reads stay exact
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    assert(withThreshold(0L) {
      DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L)
    } === 0)
    val got = DeltaTable.read(spark, t).agg(
      org.apache.spark.sql.functions.count(lit(1))).head().getLong(0)
    assert(got === (1L to 30000L).count(_ % 3 != 0).toLong)
  }

  test("distributed vacuumRemoved reclaims exactly what the driver walk does") {
    val t = java.nio.file.Files.createTempDirectory("graft_dvr").toString + "/t"
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaTable.write((1L to 30000L).toDF("id").repartition(4), t,
      SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(3L)) === 0)
    val liveSidecar = DeletionVectors.relativePath(
      DeltaLog.snapshot(spark, t).files
        .flatMap(_.dv).find(_.storageType == "u")
        .getOrElse(fail("expected a file-backed vector")))
    // a rewrite-path upsert tombstones ONE data file AND retires its
    // sidecar reference (dataChange=false remove) — the retention walk
    // may reclaim both once expired, but must never touch live state.
    // With the property on, the upsert would take the DV path, so it is
    // unset first.
    DeltaTable.unsetProperties(spark, t, Set("delta.enableDeletionVectors"))
    DeltaTable.merge(Seq(2L).toDF("id"), t, "id")
    val lastCommit = DeltaLog.readCommit(spark, t,
      DeltaLog.snapshot(spark, t).version)
    val tombstonedData = lastCommit.removes.filter(_.dataChange).map(_.path)
    assert(tombstonedData.nonEmpty)
    DeltaLog.checkpoint(spark, t) // routing needs a checkpoint
    val liveBefore = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    val n = withThreshold(0L) {
      DeltaTable.vacuumRemoved(spark, t, retainMs = 0L)
    }
    assert(n >= tombstonedData.size,
      s"expired tombstones must reclaim through the distributed walk ($n)")
    tombstonedData.foreach(p => assert(!fs.exists(new Path(tbl, p)),
      s"tombstoned data file $p must be reclaimed"))
    assert(fs.exists(new Path(tbl, liveSidecar)),
      "a sidecar still referenced by LIVE vectors must survive")
    liveBefore.foreach(p => assert(fs.exists(new Path(tbl, p)),
      "live data files must survive the retention walk"))
    // fixed point: the DRIVER walk reclaims nothing more
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) === 0)
    val got = DeltaTable.read(spark, t).agg(
      org.apache.spark.sql.functions.count(lit(1))).head().getLong(0)
    assert(got === (1L to 30000L).count(_ % 3 != 0).toLong)
  }

  test("distributed checkpoint refuses a metadata-less log instead of minting an id") {
    // round 14: fabricating a fresh metaData id (or an empty schema)
    // would silently rewrite the table's identity for every
    // checkpoint-seeded reader — refuse, like the replay guards do
    val t = java.nio.file.Files.createTempDirectory("graft_dcp5").toString + "/t"
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    DeltaTable.write((0L until 40L).toDF("id"), t, SaveMode.Append) // v0
    val v1 = DeltaLog.checkpoint(spark, t)
    DeltaTable.write((40L until 50L).toDF("id"), t, SaveMode.Append) // tail
    // strip the metaData row from the checkpoint parquet (the tail is a
    // plain append, so it carries no metaData either)
    val cp = DeltaLog.lastCheckpoint(spark, t).get
    val cpFile = DeltaLog.checkpointPaths(tbl, cp.version, cp.parts).head
    val kept = spark.read.parquet(cpFile.toString)
      .where(col("metaData").isNull)
    val tmp = new Path(tbl, ".cp-rewrite-tmp")
    kept.coalesce(1).write.parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    fs.delete(cpFile, false)
    org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, cpFile, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    val e = intercept[IllegalStateException] {
      withThreshold(0L) { DeltaLog.checkpoint(spark, t) }
    }
    assert(e.getMessage.contains("refusing to checkpoint"),
      s"expected the metadata-less refusal, got: ${e.getMessage}")
  }

  test("distributed vacuumOrphans refuses on a malformed DV descriptor in a commit") {
    // a present-but-unparseable descriptor could be referencing a LIVE
    // sidecar — treating it as "no DV" and reclaiming would be data
    // loss; both the commit-JSON and checkpoint branches must refuse
    // (round 14 closes the commit-JSON side)
    import org.json4s.JsonDSL._
    val t = java.nio.file.Files.createTempDirectory("graft_dvac2").toString + "/t"
    DeltaTable.write((1L to 100L).toDF("id"), t, SaveMode.Append) // v0
    DeltaLog.checkpoint(spark, t) // routing needs a checkpoint
    val head = DeltaLog.snapshot(spark, t)
    val bad: org.json4s.JValue =
      "add" -> (("path" -> "planted.parquet") ~
        ("partitionValues" -> org.json4s.JObject()) ~ ("size" -> 1L) ~
        ("modificationTime" -> 1L) ~ ("dataChange" -> true) ~
        ("deletionVector" -> ("pathOrInlineDv" -> "corrupt")))
    assert(DeltaLog.commit(spark, t, head.version + 1, Seq(bad)))
    def messages(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    val e = intercept[Exception] {
      withThreshold(0L) { DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) }
    }
    assert(messages(e).exists(_.contains("deletionVector")),
      s"expected the malformed-descriptor refusal, got: ${messages(e)}")
  }

  test("distributed checkpoint writes the multi-part form with a footer-exact pointer") {
    val t = java.nio.file.Files.createTempDirectory("graft_dcp3").toString + "/t"
    DeltaTable.write((0L until 100L).toDF("id").repartition(6), t,
      SaveMode.Append)
    DeltaLog.checkpoint(spark, t)
    DeltaTable.write((100L until 120L).toDF("id"), t, SaveMode.Append)
    spark.conf.set("spark.graft.delta.checkpointPartRows", "3")
    val v = try withThreshold(0L) { DeltaLog.checkpoint(spark, t) }
    finally spark.conf.unset("spark.graft.delta.checkpointPartRows")
    val tbl = new Path(t)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(DeltaLog.logDir(tbl)).map(_.getPath.getName)
      .filter(n => n.startsWith(f"$v%020d.checkpoint.") &&
        n.endsWith(".parquet") && n.split('.').length == 5)
    assert(parts.length > 1, s"expected a multi-part checkpoint, got $parts")
    // the pointer's size is derived from the written footers (the
    // distributed path never counts rows driver-side): it must equal
    // the actual row count of the checkpoint
    val meta = DeltaLog.lastCheckpoint(spark, t).get
    assert(meta.version === v)
    assert(meta.parts.contains(parts.length))
    val actual = spark.read.parquet(
      DeltaLog.checkpointPaths(tbl, v, meta.parts).map(_.toString): _*).count()
    assert(meta.size === actual,
      s"pointer size ${meta.size} must equal checkpoint rows $actual")
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    assert(DeltaTable.read(spark, t).count() === 120L)
  }
}
