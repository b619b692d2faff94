package graft.sources.delta

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit, pmod}

import graft.SparkSpec
import graft.sources.delta.DeltaTable.src

/** Distributed row-level DML candidate selection
  * ([[DeltaTable]]`.candidatesDistributed`, round-13 verdict ask #3):
  * past `spark.graft.delta.distributedReplayThreshold` the DML head is
  * metadata-only and candidate files come from an executor-side
  * stats/partition-skipper over the checkpoint add frame + the JSON
  * tail — O(candidates) driver memory, where round 13 REFUSED outright.
  *
  * Decision identity is pinned by construction: the same staged table
  * directory is COPIED byte-for-byte, one copy runs each DML through
  * the driver path (default threshold) and the other through the
  * distributed path (lowered threshold), and the specs compare the
  * committed remove sets (file paths are identical across copies),
  * commit shapes, and final contents. */
class DistributedDmlSpec extends SparkSpec {

  import spark.implicits._

  private def withThreshold[A](n: Long)(body: => A): A = {
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", n.toString)
    try body
    finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fs(p: String) = new Path(p).getFileSystem(hconf)

  /** Byte-identical copy — staged file names (UUIDs) match across the
    * copies, so remove SETS are directly comparable. */
  private def copyTable(from: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("ddml_copy").toString + "/t"
    assert(FileUtil.copy(fs(from), new Path(from), fs(dst), new Path(dst),
      false, hconf))
    dst
  }

  /** A checkpointed, partitioned, 8-file table plus a one-file JSON
    * tail — the state every parity test copies. Returns (path, live
    * file count). SIZED so that `withThreshold(files)` actually ROUTES:
    * `chooseDistributedReplay` needs checkpoint rows (8 adds + protocol
    * + metaData = 10) > threshold, and the candidate cap needs
    * candidates <= threshold — files = 9 sits in (candidates .. rows).
    * The first cut of this spec appended a 20-row tail (8 more files,
    * files = 24 > 10 rows) and every "distributed" copy silently ran
    * the driver path; [[parity]] now ASSERTS the routing. */
  private def staged(): (String, Long) = {
    val t = java.nio.file.Files.createTempDirectory("ddml").toString + "/t"
    val df = (0L until 400L).toDF("id")
      .withColumn("k", pmod(col("id"), lit(8L)))
      .withColumn("s", org.apache.spark.sql.functions.concat(
        lit("v"), col("id")))
      .repartition(1)
    DeltaTable.write(df, t, SaveMode.Append, partitionBy = Seq("k"))
    DeltaLog.checkpoint(spark, t) // distributed routing needs one
    // a JSON tail past the checkpoint: its add must join the candidate
    // set through the driver-side tail replay
    DeltaTable.write(Seq((400L, 0L, "v400")).toDF("id", "k", "s"),
      t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files.size.toLong
    assert(DeltaLog.checkpointRows(spark, t).exists(_ > files),
      "staged(): the checkpoint must out-row the live files or " +
        "withThreshold(files) cannot route distributed")
    (t, files)
  }

  private def contents(t: String): Set[(Long, Long, String)] =
    DeltaTable.read(spark, t).collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getLong(r.fieldIndex("k")),
        r.getString(r.fieldIndex("s")))).toSet

  private def lastCommit(t: String) =
    DeltaLog.readCommit(spark, t, DeltaLog.snapshot(spark, t).version)

  /** Run `op` against a driver-path copy and a distributed-path copy of
    * `t`; assert remove-set, add-count and content identity. */
  private def parity(t: String, threshold: Long)(op: String => Unit): Unit = {
    val a = copyTable(t) // driver path (default threshold)
    val b = copyTable(t) // distributed path
    op(a)
    withThreshold(threshold) {
      assert(DeltaTable.chooseDistributedReplay(spark, b),
        "parity(): the lowered threshold must actually route distributed")
      op(b)
    }
    val (ca, cb) = (lastCommit(a), lastCommit(b))
    assert(cb.removes.map(r => (r.path, r.dataChange, r.dv)).toSet ===
      ca.removes.map(r => (r.path, r.dataChange, r.dv)).toSet,
      "the distributed path must remove exactly the driver path's files, " +
        "deletion vectors included")
    assert(cb.adds.size === ca.adds.size,
      "both paths must stage the same number of replacement files")
    assert(contents(b) === contents(a),
      "both paths must leave identical table contents")
  }

  test("distributed DELETE matches the driver path (partition-keyed: metadata-only)") {
    val (t, files) = staged()
    // partition-keyed: candidates prune from partitionValues alone and
    // sure-match files drop WHOLE (no data IO) on both paths
    parity(t, files)(x => DeltaTable.delete(spark, x, col("k") === 3L))
  }

  test("distributed DELETE matches the driver path (data predicate: probe + rewrite)") {
    val (t, files) = staged()
    parity(t, files)(x =>
      DeltaTable.delete(spark, x, pmod(col("id"), lit(10L)) === 7L))
  }

  test("distributed UPDATE matches the driver path") {
    val (t, files) = staged()
    parity(t, files)(x => DeltaTable.update(spark, x,
      col("k") === 5L, Map("s" -> lit("updated"))))
  }

  test("distributed MERGE (canonical upsert) matches the driver path") {
    val (t, files) = staged()
    parity(t, files)(x => DeltaTable.merge(
      Seq((3L, 3L, "upd3"), (999L, 7L, "new999"))
        .toDF("id", "k", "s"), x, "id"))
  }

  test("distributed mergeInto with by-source clauses matches the driver path") {
    val (t, files) = staged()
    parity(t, files)(x => DeltaTable.mergeInto(
      Seq((10L, 2L, "upd10")).toDF("id", "k", "s"), x, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> src("id"), "k" -> src("k"), "s" -> src("s")))),
      notMatchedBySource = Seq(
        MergeClause.Delete(Some(col("id") >= 400L)))))
  }

  test("tail removes supersede checkpoint rows in distributed candidates") {
    val (t, _) = staged()
    // drop partition 6 wholesale IN THE TAIL (driver path), then append
    // fresh k=6 rows: distributed candidate selection for k=6 must see
    // ONLY the tail's adds — the checkpoint's k=6 rows are superseded
    DeltaTable.delete(spark, t, col("k") === 6L)
    DeltaTable.write(Seq((1006L, 6L, "fresh6")).toDF("id", "k", "s"),
      t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files.size.toLong
    parity(t, files)(x => DeltaTable.delete(spark, x, col("k") === 6L))
  }

  test("DV-table distributed DML matches the driver path (same-commit re-add shape)") {
    val (t, _) = staged()
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    // a DV DELETE commits remove(path, old DV) + add(path, new DV) in the
    // tail — the re-added path must come back through tailLive WITH its
    // vector, or the second DELETE below would resurrect these rows
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 1L)
    val files = DeltaLog.snapshot(spark, t).files.size.toLong
    parity(t, files)(x =>
      DeltaTable.delete(spark, x, pmod(col("id"), lit(10L)) === 2L))
  }

  test("distributed OVERWRITE commits the exact remove set the driver path does") {
    val (t, files) = staged()
    // drop one partition in the tail first: its checkpoint rows are
    // superseded and must NOT re-tombstone through the streamed removes
    DeltaTable.delete(spark, t, col("k") === 4L)
    val liveBefore = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    val replacement = Seq((1L, 0L, "r1"), (2L, 1L, "r2")).toDF("id", "k", "s")
    val a = copyTable(t)
    val b = copyTable(t)
    DeltaTable.write(replacement, a, SaveMode.Overwrite)
    withThreshold(files) {
      DeltaTable.write(replacement, b, SaveMode.Overwrite)
    }
    val (ca, cb) = (lastCommit(a), lastCommit(b))
    assert(ca.removes.map(_.path).toSet === liveBefore,
      "driver overwrite must tombstone exactly the live set")
    assert(cb.removes.map(_.path).toSet === ca.removes.map(_.path).toSet,
      "streamed removes must equal the driver path's set")
    assert(cb.removes.size === cb.removes.map(_.path).toSet.size,
      "no path may tombstone twice (tail-superseded rows excluded once)")
    // line-level identity: both forms render through the same
    // removeAction + json4s path (timestamps aside)
    assert(cb.removes.map(_.dataChange).forall(identity))
    assert(contents(a) === contents(b))
    assert(contents(b) === replacement.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
    // the overwritten table keeps working end-to-end: append + read back
    DeltaTable.write(Seq((3L, 2L, "r3")).toDF("id", "k", "s"), b,
      SaveMode.Append)
    assert(DeltaTable.read(spark, b).count() === 3L)
  }

  test("OVERWRITE removes on a DV table carry the vectors + sidecar tombstones") {
    val (t, _) = staged()
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    // DV DELETE marks rows in place; checkpoint AFTER it so the streamed
    // overwrite's remove lines render from the checkpoint frame's dvJson
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 1L)
    DeltaLog.checkpoint(spark, t)
    // plus one DV-bearing file in the JSON tail (the driver-side arm of
    // the streamed form)
    DeltaTable.write(Seq((500L, 0L, "v500"), (501L, 0L, "v501"))
      .toDF("id", "k", "s"), t, SaveMode.Append)
    DeltaTable.delete(spark, t, col("id") === 500L)
    val head = DeltaLog.snapshot(spark, t)
    val dvByPath = head.files.flatMap(f => f.dv.map(f.path -> _)).toMap
    assert(dvByPath.nonEmpty, "staging must leave DV-bearing live files")
    val files = head.files.size.toLong
    val replacement = Seq((1L, 0L, "r1")).toDF("id", "k", "s")
    val a = copyTable(t)
    val b = copyTable(t)
    DeltaTable.write(replacement, a, SaveMode.Overwrite)
    withThreshold(files) {
      assert(DeltaTable.chooseDistributedReplay(spark, b),
        "the lowered threshold must actually route the streamed overwrite")
      DeltaTable.write(replacement, b, SaveMode.Overwrite)
    }
    val (ca, cb) = (lastCommit(a), lastCommit(b))
    val sidecars = dvByPath.values.flatMap(DeletionVectors.tombstonePath).toSet
    for (c <- Seq(ca, cb)) {
      val fileRemoves = c.removes.filter(_.dataChange)
      assert(fileRemoves.flatMap(r => r.dv.map(r.path -> _)).toMap === dvByPath,
        "overwrite removes must carry each removed incarnation's vector")
      assert(c.removes.filterNot(_.dataChange).map(_.path).toSet === sidecars,
        "each superseded sidecar must get a retention tombstone")
    }
    assert(cb.removes.map(r => (r.path, r.dataChange, r.dv)).toSet ===
      ca.removes.map(r => (r.path, r.dataChange, r.dv)).toSet,
      "streamed and driver overwrite removes must be set-identical, dv included")
    assert(contents(a) === contents(b))
  }

  test("distributed schema-changing OVERWRITE re-emits metaData like the driver path") {
    val (t, files) = staged()
    // schema GROWS (partition column k must survive an overwrite — the
    // partition-adoption guard refuses dropping it on either path)
    val replacement = Seq((1L, 0L, "only", "extra")).toDF("id", "k", "s", "note")
    val a = copyTable(t)
    val b = copyTable(t)
    DeltaTable.write(replacement, a, SaveMode.Overwrite)
    withThreshold(files) {
      DeltaTable.write(replacement, b, SaveMode.Overwrite)
    }
    val (ha, hb) = (DeltaLog.snapshot(spark, a), DeltaLog.snapshot(spark, b))
    assert(hb.schemaJson === ha.schemaJson,
      "both paths must commit the replacing schema")
    assert(hb.metaDataId === ha.metaDataId,
      "the table id must carry forward through the metadata-only head")
    assert(hb.schemaJson.exists(_.contains("note")),
      "the grown schema must be the committed one")
    assert(DeltaTable.read(spark, b).collect()
      .map(r => (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("note"))))
      .toSet === Set((1L, "extra")))
  }

  test("distributed RESTORE matches the driver path, deletion vectors included") {
    val (t, _) = staged()
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    // v3: a DV delete — the RESTORE TARGET state carries vectors, so a
    // restore that dropped them would resurrect these rows (the round-14
    // driver-path fix; the distributed path must carry them too)
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 1L)
    val targetV = DeltaLog.snapshot(spark, t).version
    val want = contents(t)
    // drift past the target in all three shapes: a DV-ONLY state change
    // (same paths, merged vectors — the q112 find: path-keyed deltas
    // silently no-op this), a wholesale path removal, and an append
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 6L)
    DeltaTable.delete(spark, t, col("k") === 2L)
    DeltaTable.write(Seq((500L, 5L, "drift")).toDF("id", "k", "s"),
      t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files.size.toLong
    val a = copyTable(t)
    val b = copyTable(t)
    DeltaTable.restore(spark, a, targetV)
    withThreshold(files) {
      assert(DeltaTable.chooseDistributedReplay(spark, b))
      DeltaTable.restore(spark, b, targetV)
    }
    val (ca, cb) = (lastCommit(a), lastCommit(b))
    assert(cb.removes.map(_.path).toSet === ca.removes.map(_.path).toSet,
      "restore must tombstone exactly the driver path's set")
    assert(cb.adds.map(f => (f.path,
        f.dv.map(d => (d.storageType, d.cardinality)))).toSet ===
      ca.adds.map(f => (f.path,
        f.dv.map(d => (d.storageType, d.cardinality)))).toSet,
      "re-adds must match, deletion vectors included")
    assert(contents(a) === want && contents(b) === want,
      "both paths must reproduce the target version's contents exactly")
    // deleted rows STAY deleted: no id%10==1 row resurrected
    assert(contents(b).forall(_._1 % 10 != 1))
    // CDF pre-image exactness (round-14 review find): the restore's
    // removes must CARRY the head's vectors, or the derived feed
    // re-reports rows the head had already deleted as fresh deletes
    def feed(x: String): Set[(Long, String)] = {
      val v = DeltaLog.snapshot(spark, x).version
      DeltaTable.readChangeFeed(spark, x, v, Some(v))
        .select(col("id"), col("_change_type")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    }
    val (fa, fb) = (feed(a), feed(b))
    assert(fb === fa, "restore CDF must match across the paths")
    assert(!fa.exists { case (id, ct) =>
      ct == "delete" && (id % 10 == 1 || id % 10 == 6) },
      "rows already deleted at head must not re-report as restore deletes")
  }

  test("RESTORE refuses when a target deletion-vector sidecar was vacuumed") {
    // needs FILE-BACKED ('u') vectors: marks past InlineThresholdBytes —
    // 10k positions over 4 files, the DistributedCheckpointSpec scale
    val t = java.nio.file.Files.createTempDirectory("ddml_rsv").toString + "/t"
    DeltaTable.write((1L to 30000L).toDF("id").repartition(4), t,
      SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(3L)) === 0)
    val targetV = DeltaLog.snapshot(spark, t).version
    // the TARGET version's sidecar — drift below merges vectors into
    // fresh sidecars and retires this one; "vacuumRemoved reclaimed it"
    // is exactly one fs.delete away
    val side = DeltaLog.snapshot(spark, t, Some(targetV)).files
      .flatMap(_.dv).flatMap(DeletionVectors.tombstonePath).headOption
      .getOrElse(fail("expected a file-backed vector"))
    DeltaLog.checkpoint(spark, t) // distributed routing needs one
    DeltaTable.delete(spark, t, col("id") <= 7500L) // drift past the target
    val files = DeltaLog.snapshot(spark, t).files.size.toLong
    // copy first so both paths see the same damaged state
    val a = copyTable(t)
    val b = copyTable(t)
    fs(a).delete(new Path(new Path(a), side), false)
    fs(b).delete(new Path(new Path(b), side), false)
    val eA = intercept[IllegalArgumentException] {
      DeltaTable.restore(spark, a, targetV)
    }
    assert(eA.getMessage.contains("sidecar") ||
      eA.getMessage.contains("vacuumed"), eA.getMessage)
    withThreshold(files) {
      assert(DeltaTable.chooseDistributedReplay(spark, b))
      val eB = intercept[IllegalArgumentException] {
        DeltaTable.restore(spark, b, targetV)
      }
      assert(eB.getMessage.contains("vacuumed"), eB.getMessage)
    }
  }

  test("routed engine reads (readWhere/readRange/readPartitionsIn) match the driver path") {
    val (t, files) = staged()
    def viaWhere(): Set[(Long, Long, String)] =
      DeltaTable.readWhere(spark, t, col("k") === 3L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    def viaRange(): Set[Long] =
      DeltaTable.readWhere(spark, t, col("id") >= 100L && col("id") <= 110L)
        .collect().map(_.getLong(0)).toSet
    // string literals on the numeric partition: the analyzer's cast
    // must not defeat the pruning, on either side of the threshold
    def inRead = DeltaTable.readWhere(spark, t, col("k").isin("2", "5"))
    def viaIn(): Set[Long] = inRead.collect().map(_.getLong(0)).toSet
    val (w0, r0, i0) = (viaWhere(), viaRange(), viaIn())
    assert(inRead.inputFiles.length === 2, "isin must open only k=2 and k=5")
    withThreshold(files) {
      assert(DeltaTable.chooseDistributedReplay(spark, t))
      assert(viaWhere() === w0)
      assert(viaRange() === r0)
      assert(viaIn() === i0)
      assert(inRead.inputFiles.length === 2, "isin must open only k=2 and k=5")
    }
    assert(w0.nonEmpty && r0 === (100L to 110L).toSet &&
      i0 === (0L until 400L).filter(i => i % 8 == 2 || i % 8 == 5).toSet)
  }

  test("distributed shallow CLONE commits the exact add set the driver path does") {
    val (t, files) = staged()
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 1L) // DVs ride
    val files2 = DeltaLog.snapshot(spark, t).files.size.toLong
    val a = java.nio.file.Files.createTempDirectory("ddml_ca").toString + "/t"
    val b = java.nio.file.Files.createTempDirectory("ddml_cb").toString + "/t"
    DeltaTable.cloneShallow(spark, t, a)
    withThreshold(files2) {
      assert(DeltaTable.chooseDistributedReplay(spark, t))
      DeltaTable.cloneShallow(spark, t, b)
    }
    // both clones reference the SAME source, so absolute add paths are
    // directly comparable — set identity pins the streamed path
    def addSet(x: String) = lastCommit(x).adds
      .map(f => (f.path, f.size,
        f.dv.map(d => (d.storageType, d.cardinality)))).toSet
    assert(addSet(b) === addSet(a),
      "streamed clone must commit the driver path's add set, DVs included")
    assert(contents(b) === contents(a) && contents(b) === contents(t))
    assert(contents(b).forall(_._1 % 10 != 1),
      "the clone must honor the source's deletion vectors")
    // the clone carries the SOURCE's protocol, not the default: its adds
    // reference DV descriptors, and a (1,2) target would tell a
    // protocol-honoring foreign reader to ignore them and resurrect the
    // deleted rows (round-15 review find)
    val srcHead = DeltaLog.snapshot(spark, t)
    for (x <- Seq(a, b)) {
      val h = DeltaLog.snapshot(spark, x)
      assert((h.minReaderVersion, h.minWriterVersion) ===
        ((srcHead.minReaderVersion, srcHead.minWriterVersion)))
      assert(h.readerFeatures === srcHead.readerFeatures &&
        h.writerFeatures === srcHead.writerFeatures)
      assert(h.readerFeatures.contains("deletionVectors"),
        "a DV-bearing clone must DECLARE deletionVectors")
    }
  }

  test("a past-threshold CANDIDATE set refuses loudly; pruned DML on the same table runs") {
    val (t, files) = staged()
    withThreshold(5L) {
      // id-keyed predicate straddles every file's stats: candidates = all
      // 9 files > 5 — the refusal names the knob and the fix
      val e = intercept[IllegalArgumentException] {
        DeltaTable.delete(spark, t, pmod(col("id"), lit(10L)) === 7L)
      }
      assert(e.getMessage.contains("distributedReplayThreshold"),
        e.getMessage)
      assert(e.getMessage.contains("Compact"), e.getMessage)
      // but a partition-keyed DELETE on the SAME table and threshold
      // prunes to <= 5 candidates from the log alone and RUNS — the
      // round-14 point: table size no longer gates DML, touched size does
      DeltaTable.delete(spark, t, col("k") === 2L)
    }
    assert(contents(t).forall(_._2 != 2L))
    assert(DeltaLog.snapshot(spark, t).files.size.toLong < files)
  }
}
