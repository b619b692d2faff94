package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Deletion vectors on the from-scratch Delta log: a DELETE whose
  * predicate straddles a file commits a per-file sidecar of deleted row
  * indexes instead of rewriting the file's bytes — the row-level-DML
  * cost story at 100 TB (delete 0.1% of rows without rewriting ~every
  * file). Reference anchor: the Delta feature the reference reaches
  * through its delta-core jars (PROTOCOL.md "Deletion Vectors"); the
  * encodings are the PROTOCOL's — roaring-bitmap "portable" bytes, Z85
  * UUID sidecar naming, version/size/CRC framing — so the foreign
  * readers the reference serves (Trino's Delta connector,
  * `trino/etc/catalog/delta.properties`) parse these descriptors. */
class DeletionVectorSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("delta_dv").toString + "/t"

  /** A DV-enabled table of (id, s) rows in ONE file per append. */
  private def dvTable(t: String, ranges: Range*): Unit = {
    ranges.foreach { r =>
      DeltaTable.write(r.map(i => (i, s"s$i")).toDF("id", "s").coalesce(1),
        t, SaveMode.Append)
    }
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
  }

  private def ids(t: String): Set[Int] =
    DeltaTable.read(spark, t).select("id").collect().map(_.getInt(0)).toSet

  private def livePaths(t: String): Set[String] =
    DeltaLog.snapshot(spark, t).files.map(_.path).toSet

  // ------------------------------------------------------------ format

  test("dv wire format round-trips and unions stay sorted-distinct") {
    val a = Array(1L, 5L, 9L)
    assert(DeletionVectors.deserialize(DeletionVectors.serialize(a)).toSeq
      === a.toSeq)
    assert(DeletionVectors.union(Array(1L, 5L, 9L), Array(0L, 5L, 12L)).toSeq
      === Seq(0L, 1L, 5L, 9L, 12L))
    assert(DeletionVectors.union(Array.empty[Long], Array(3L)).toSeq === Seq(3L))
    assert(DeletionVectors.union(Array(3L), Array.empty[Long]).toSeq === Seq(3L))
  }

  test("bitmap bytes are the protocol's portable RoaringBitmapArray") {
    // magic 1681511377 LE, then [#bitmaps 8B LE] and per bitmap
    // [key 4B LE][RoaringFormatSpec bitmap] — checked structurally AND
    // against the RoaringBitmap library as an independent decoder
    val idx = Array(3L, 4L, 7L, 11L, 18L, 29L, (5L << 32) | 2L)
    val bytes = DeletionVectors.serialize(idx)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getInt() === 1681511377, "portable-format magic")
    assert(bb.getLong() === 2L, "two 32-bit bitmaps (keys 0 and 5)")
    assert(bb.getInt() === 0, "first key ascending")
    val rb = new org.roaringbitmap.RoaringBitmap()
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(
      bytes, bb.position(), bytes.length - bb.position()))
    rb.deserialize(in)
    assert(rb.toArray.toSeq === Seq(3, 4, 7, 11, 18, 29))
    assert(DeletionVectors.deserialize(bytes).toSeq === idx.toSeq)
  }

  test("deserialize handles foreign container types (bitmap + run)") {
    // a dense range forces a BITMAP container (cardinality > 4096);
    // round-trip through our serialize covers array+bitmap. A
    // RUN-container writer (runOptimize'd foreign engine) must also
    // parse: hand-assemble its bytes with the library.
    val dense = (0L until 5000L).toArray
    assert(DeletionVectors.deserialize(
      DeletionVectors.serialize(dense)).toSeq === dense.toSeq)
    val rb = org.roaringbitmap.RoaringBitmap.bitmapOf(1, 2, 3, 4, 5, 100)
    rb.runOptimize() // run container encoding (cookie 12347)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(Integer.reverseBytes(1681511377))
    out.writeLong(java.lang.Long.reverseBytes(1L))
    out.writeInt(Integer.reverseBytes(7)) // key 7
    rb.serialize(out)
    assert(DeletionVectors.deserialize(bos.toByteArray).toSeq
      === Seq(1L, 2L, 3L, 4L, 5L, 100L).map(v => (7L << 32) | v))
  }

  test("legacy pre-protocol 'u' path forms refuse loudly, not misparse") {
    // round-10 descriptors stored a literal relative path whose tail is
    // valid Z85 — decoding it would yield a garbage UUID and a deep
    // FileNotFound instead of a diagnosis
    val d = DvDescriptor("u",
      "_dv/dv-3f2a41b2-1c2d-4e5f-8a9b-0c1d2e3f4a5b.bin", 10L, 1L)
    val e = intercept[IllegalArgumentException](
      DeletionVectors.relativePath(d))
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("Z85 encodes the PROTOCOL.md sample UUID byte-for-byte") {
    // the spec's deletionVectors example: pathOrInlineDv
    // "ab^-aqEH.-t@S}K{vb[*k^" = prefix "ab" + the Z85 form of UUID
    // d2c639aa-8816-431a-aaf6-d3fe2512ff61
    val u = java.util.UUID.fromString("d2c639aa-8816-431a-aaf6-d3fe2512ff61")
    assert(DeletionVectors.encodeUuid(u) === "^-aqEH.-t@S}K{vb[*k^")
    assert(DeletionVectors.decodeUuid("^-aqEH.-t@S}K{vb[*k^") === u)
    // prefixed form resolves under the prefix directory
    val d = DvDescriptor("u", "ab^-aqEH.-t@S}K{vb[*k^", 40L, 6L, Some(1L))
    assert(DeletionVectors.relativePath(d)
      === s"ab/deletion_vector_$u.bin")
    // arbitrary-byte Z85 pads to 4 and truncates back on decode
    val raw = Array[Byte](1, 2, 3, 4, 5, 6, 7)
    assert(DeletionVectors.z85Decode(
      DeletionVectors.z85Encode(raw), raw.length).toSeq === raw.toSeq)
  }

  test("sidecar framing: version byte, BE size, CRC-32 — and load verifies") {
    val t = java.nio.file.Files.createTempDirectory("dv_frame").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val idx = (0L until 10000L).filter(_ % 2 == 0).toArray // > inline cap
    val d = DeletionVectors.write(conf, t, idx)
    assert(d.storageType == "u" && d.offset.contains(1L))
    val p = DeletionVectors.resolvePath(t, d)
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    assert(len === 1L + 4L + d.sizeInBytes + 4L,
      "file = [version][size][data][crc]")
    val in = fs.open(p)
    val head = new Array[Byte](5)
    in.readFully(0L, head)
    assert(head(0) === 1.toByte, "format version byte")
    assert(java.nio.ByteBuffer.wrap(head, 1, 4).getInt === d.sizeInBytes.toInt,
      "big-endian size field at offset")
    in.close()
    assert(DeletionVectors.load(conf, t, d).toSeq === idx.toSeq)
    // a flipped data byte must fail the CRC check loudly
    val bytes = new Array[Byte](len.toInt)
    val in2 = fs.open(p); in2.readFully(0L, bytes); in2.close()
    bytes(7) = (bytes(7) ^ 0x5A).toByte
    val out = fs.create(p, true); out.write(bytes); out.close()
    val e = intercept[Exception](DeletionVectors.load(conf, t, d))
    assert(e.getMessage.contains("checksum") || e.getMessage.contains("magic"))
  }

  // ------------------------------------------------------------ DELETE

  test("DV delete keeps the file's bytes: no rewrite, a dv add instead") {
    val t = tmp()
    dvTable(t, 1 to 10)
    val before = livePaths(t)
    DeltaTable.delete(spark, t, col("id") <= 3)
    assert(ids(t) === (4 to 10).toSet)
    // the SAME physical file survives, now carrying a deletion vector
    assert(livePaths(t) === before)
    val head = DeltaLog.snapshot(spark, t)
    val dv = head.files.head.dv
    assert(dv.exists(_.cardinality == 3L),
      s"expected a cardinality-3 deletion vector, got $dv")
    // small vector rides inline — no sidecar file for 3 indexes
    assert(dv.exists(_.storageType == "i"))
  }

  test("second delete on the same file merges vectors (probe is DV-filtered)") {
    val t = tmp()
    dvTable(t, 1 to 10)
    DeltaTable.delete(spark, t, col("id") <= 2)
    DeltaTable.delete(spark, t, col("id") <= 5)
    assert(ids(t) === (6 to 10).toSet)
    val dv = DeltaLog.snapshot(spark, t).files.head.dv
    assert(dv.exists(_.cardinality == 5L), s"merged dv, got $dv")
  }

  test("a DV covering every row removes the file instead") {
    val t = tmp()
    dvTable(t, 1 to 5, 100 to 105)
    DeltaTable.delete(spark, t, col("id") <= 3)   // DV on the low file
    DeltaTable.delete(spark, t, col("id") <= 50)  // finishes the low file
    assert(ids(t) === (100 to 105).toSet)
    val head = DeltaLog.snapshot(spark, t)
    assert(head.files.size == 1 && head.files.head.dv.isEmpty,
      "fully-deleted file must be removed outright, not carried as an all-rows DV")
  }

  test("large vectors spill to a UUID sidecar and reads stay exact") {
    val t = tmp()
    dvTable(t, 1 to 8000)
    DeltaTable.delete(spark, t, col("id") % 3 === 0) // 2666 indexes > inline cap
    assert(ids(t) === (1 to 8000).filter(_ % 3 != 0).toSet)
    val dv = DeltaLog.snapshot(spark, t).files.head.dv.get
    // protocol "u" form: a Z85 UUID (20 chars, no prefix here), bytes at
    // <table>/deletion_vector_<uuid>.bin, offset at the framed size field
    assert(dv.storageType == "u" && dv.pathOrInlineDv.length == 20)
    assert(dv.offset.contains(1L))
    val rel = DeletionVectors.relativePath(dv)
    assert(rel ==
      s"deletion_vector_${DeletionVectors.decodeUuid(dv.pathOrInlineDv)}.bin")
    assert(dv.cardinality == (1 to 8000).count(_ % 3 == 0).toLong)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(t, rel)))
  }

  test("partition-predicate delete still drops whole files (no pointless DV)") {
    val t = tmp()
    (0 to 1).foreach { p =>
      DeltaTable.write((1 to 5).map(i => (i, p)).toDF("id", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
    }
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("p") === 1)
    val head = DeltaLog.snapshot(spark, t)
    assert(head.files.forall(_.dv.isEmpty), "metadata-only delete, no DVs")
    assert(DeltaTable.read(spark, t).count() == 5L)
  }

  test("DV delete on a partitioned table filters inside the straddled partition") {
    val t = tmp()
    (0 to 1).foreach { p =>
      DeltaTable.write((1 to 6).map(i => (i, p)).toDF("id", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
    }
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    val before = livePaths(t)
    DeltaTable.delete(spark, t, col("p") === 1 && col("id") <= 2)
    assert(livePaths(t) === before)
    val got = DeltaTable.read(spark, t).select("id", "p").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === ((1 to 6).map((_, 0)) ++ (3 to 6).map((_, 1))).toSet)
  }

  // ----------------------------------------------- UPDATE & maintenance

  test("UPDATE stages only post-images; old rows go behind the vector") {
    val t = tmp()
    dvTable(t, 1 to 10)
    DeltaTable.delete(spark, t, col("id") <= 2)
    val before = livePaths(t)
    DeltaTable.update(spark, t, col("id") === 9,
      Map("s" -> org.apache.spark.sql.functions.lit("updated")))
    val head = DeltaLog.snapshot(spark, t)
    // the original file survives with its vector EXTENDED (2 deleted +
    // 1 updated-away); one new file holds the single post-image row
    assert(before.subsetOf(head.files.map(_.path).toSet))
    assert(head.files.exists(_.dv.exists(_.cardinality == 3L)),
      s"expected merged dv of 3, got ${head.files.flatMap(_.dv)}")
    val newFiles = head.files.filterNot(f => before(f.path))
    assert(newFiles.size == 1 &&
      newFiles.head.stats.exists(_.numRecords == 1L),
      "UPDATE must stage exactly the post-image rows")
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === (3 to 10).map(i => (i, if (i == 9) "updated" else s"s$i")).toSet)
    // a full-cover UPDATE retires the file outright
    DeltaTable.update(spark, t, col("id") >= 0,
      Map("s" -> org.apache.spark.sql.functions.lit("all")))
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.forall(_.dv.isEmpty),
      "every pre-image row updated → files replaced, no vectors left")
    assert(DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
      === (3 to 10).map(i => (i, "all")).toSet)
  }

  test("purgeDeletionVectors rewrites only DV files, dataChange=false") {
    val t = tmp()
    dvTable(t, 1 to 10, 100 to 110)
    DeltaTable.delete(spark, t, col("id") === 5)
    val cleanBefore = DeltaLog.snapshot(spark, t).files
      .filter(_.dv.isEmpty).map(_.path).toSet
    assert(DeltaTable.purgeDeletionVectors(spark, t) == 1)
    val head = DeltaLog.snapshot(spark, t)
    assert(head.files.forall(_.dv.isEmpty))
    assert(cleanBefore.subsetOf(head.files.map(_.path).toSet),
      "clean files carry over untouched")
    assert(ids(t) === ((1 to 10).toSet - 5) ++ (100 to 110).toSet)
    val c = DeltaLog.readCommit(spark, t, head.version)
    assert(c.adds.forall(!_.dataChange) && c.dataChangingRemoves == 0,
      "purge is a maintenance commit tailers skip")
    assert(DeltaTable.purgeDeletionVectors(spark, t) == 0)
  }

  // ------------------------------------------------------- time travel

  test("time travel below the DV delete reads the full file") {
    val t = tmp()
    dvTable(t, 1 to 8)
    val v = DeltaLog.snapshot(spark, t).version
    DeltaTable.delete(spark, t, col("id") <= 4)
    assert(ids(t) === (5 to 8).toSet)
    assert(DeltaTable.read(spark, t, versionAsOf = Some(v))
      .select("id").collect().map(_.getInt(0)).toSet === (1 to 8).toSet)
  }

  // -------------------------------------------------------- change feed

  test("CDF captures exactly the newly deleted rows of a DV delete") {
    val t = tmp()
    dvTable(t, 1 to 10)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("id") <= 3)
    val head = DeltaLog.snapshot(spark, t)
    val feed = DeltaTable.readChangeFeed(spark, t, head.version)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(feed === (1 to 3).map(i => (i, "delete")).toSet)
  }

  test("derived CDF (no cdc files) honors the remove's recorded vector") {
    val t = tmp()
    dvTable(t, 1 to 10)
    DeltaTable.delete(spark, t, col("id") <= 2)
    DeltaTable.delete(spark, t, col("id") <= 4)
    val head = DeltaLog.snapshot(spark, t)
    val feed = DeltaTable.readChangeFeed(spark, t, head.version, Some(head.version))
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val del = feed.collect { case (i, "delete") => i }.toSet
    val ins = feed.collect { case (i, "insert") => i }.toSet
    // pre-image excludes the FIRST delete's rows; net change is {3, 4}
    assert(del === (3 to 10).toSet, "pre-image must be DV-filtered at removal")
    assert(ins === (5 to 10).toSet)
    assert(del -- ins === Set(3, 4))
  }

  // ------------------------------------------------ checkpoint & pruned

  test("deletion vectors survive checkpoints and the distributed replay") {
    val t = tmp()
    (0 to 1).foreach { p =>
      DeltaTable.write((1 to 6).map(i => (i, p)).toDF("id", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
    }
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("p") === 0 && col("id") <= 2)
    DeltaLog.checkpoint(spark, t)
    // checkpoint-seeded snapshot carries the DV
    assert(DeltaLog.snapshot(spark, t).files
      .exists(_.dv.exists(_.cardinality == 2L)))
    assert(ids(t) === (3 to 6).toSet ++ (1 to 6).toSet)
    // distributed (checkpoint-DataFrame) replay carries it too: below and
    // above the threshold, readWhere and the graft-delta scan (which
    // plans from DeltaLog.prunedSnapshot) read the same DV-filtered rows
    val pruned = DeltaLog.prunedSnapshot(spark, t, Map("p" -> "0"))
    assert(pruned.files.exists(_.dv.exists(_.cardinality == 2L)))
    def p0(): Set[Int] = DeltaTable.readWhere(spark, t, col("p") === 0)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(p0() === (3 to 6).toSet)
    val rows = DeltaLog.checkpointRows(spark, t).get
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", (rows - 1).toString)
    try {
      assert(DeltaTable.chooseDistributedReplay(spark, t))
      assert(p0() === (3 to 6).toSet)
      assert(spark.read.format("graft-delta").load(t).where(col("p") === 0)
        .select("id").collect().map(_.getInt(0)).toSet === (3 to 6).toSet)
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
    // a DELETE after the checkpoint still merges correctly
    DeltaTable.delete(spark, t, col("p") === 0 && col("id") === 3)
    assert(p0() === (4 to 6).toSet)
  }

  test("one sidecar holds many vectors at distinct offsets") {
    val dir = java.nio.file.Files.createTempDirectory("dv_packed").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val w = new DvSidecarWriter(conf, dir, atTableRoot = true)
    // two oversized vectors (above the inline threshold) + one inline
    val a = (0L until 40000L by 2L).toArray
    val b = (1L until 30000L by 3L).toArray
    val (da, db) = try {
      val da = w.write(a)
      val db = w.write(b)
      val di = w.write(Array(5L))
      assert(di.storageType === "i")
      assert(da.storageType === "u" && db.storageType === "u")
      // SAME sidecar file, DIFFERENT offsets — the protocol's
      // many-vectors-per-file shape
      assert(da.pathOrInlineDv === db.pathOrInlineDv)
      assert(da.offset !== db.offset)
      (da, db)
    } finally w.close() // loads read AFTER the task closes, as in real use
    // both load exactly (size + CRC framing at each offset)
    assert(DeletionVectors.load(conf, dir, da).toSeq === a.toSeq)
    assert(DeletionVectors.load(conf, dir, db).toSeq === b.toSeq)
    // exactly one file was created
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    val bins = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("deletion_vector_"))
    assert(bins.length === 1)
    assert(DeletionVectors.relativePath(da) === bins.head.getPath.getName)
  }

  test("a wide DELETE packs its vectors into per-task sidecars") {
    val t = tmp()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      // 3 files × 12000 rows; delete every other row → 3 sidecar-sized
      // vectors, all marked by the single shuffle task → ONE sidecar
      dvTable(t, 0 until 12000, 20000 until 32000, 40000 until 52000)
      DeltaTable.delete(spark, t, col("id") % 2 === 0)
      val head = DeltaLog.snapshot(spark, t)
      val descs = head.files.flatMap(_.dv)
      assert(descs.length === 3)
      assert(descs.forall(_.storageType == "u"))
      assert(descs.map(_.pathOrInlineDv).distinct.length === 1,
        "all three descriptors must share one packed sidecar")
      assert(descs.map(_.offset).distinct.length === 3)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val bins = fs.listStatus(new org.apache.hadoop.fs.Path(t))
        .filter(_.getPath.getName.startsWith("deletion_vector_"))
      assert(bins.length === 1, "one task -> one sidecar object")
      assert(ids(t) === ((0 until 12000) ++ (20000 until 32000) ++
        (40000 until 52000)).filter(_ % 2 == 1).toSet)
      // a second DELETE merges into the packed vectors and retires the
      // shared sidecar with ONE tombstone; reads stay exact
      DeltaTable.delete(spark, t, col("id") % 3 === 0)
      assert(ids(t) === ((0 until 12000) ++ (20000 until 32000) ++
        (40000 until 52000)).filter(i => i % 2 == 1 && i % 3 != 0).toSet)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("vacuum never deletes a shared sidecar a live vector still reads") {
    val t = tmp()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      dvTable(t, 0 until 12000, 20000 until 32000)
      // pass 1 packs BOTH files' vectors into one sidecar
      DeltaTable.delete(spark, t, col("id") % 2 === 0)
      val shared = DeltaLog.snapshot(spark, t).files.flatMap(_.dv)
        .map(DeletionVectors.relativePath).distinct
      assert(shared.length === 1)
      // pass 2 re-marks ONLY file 1 → its old descriptor retires with a
      // tombstone naming the shared sidecar — which file 2 still reads
      DeltaTable.delete(spark, t, col("id") < 6000 && col("id") % 3 === 0)
      val head = DeltaLog.snapshot(spark, t)
      assert(head.tombstones.contains(shared.head),
        "the retired descriptor must tombstone its sidecar")
      assert(head.files.flatMap(_.dv).exists(d =>
        DeletionVectors.relativePath(d) == shared.head),
        "file 2's live vector still references the shared sidecar")
      // retention 0: everything expired — the guard alone protects it
      DeltaTable.vacuumRemoved(spark, t, retainMs = 0L)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$t/${shared.head}")),
        "vacuum must keep a sidecar a live descriptor references")
      assert(ids(t) === ((0 until 12000) ++ (20000 until 32000))
        .filter(i => i % 2 == 1 && !(i < 6000 && i % 3 == 0)).toSet)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("sidecar writer rolls over before offsets cross the int cap") {
    // the protocol's checkpoint schema types offset as an INT: a task
    // packing past 2 GiB must start a fresh file or every future
    // checkpoint would refuse (CpDv.of). Tiny cap forces the roll here.
    val dir = java.nio.file.Files.createTempDirectory("dv_roll").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val w = new DvSidecarWriter(conf, dir, atTableRoot = true,
      rolloverBytes = 10000L)
    val a = (0L until 40000L by 2L).toArray // ~8 KB serialized (bitmap container)
    val b = (1L until 40000L by 2L).toArray
    val (da, db) = try (w.write(a), w.write(b)) finally w.close()
    assert(da.pathOrInlineDv !== db.pathOrInlineDv,
      "second vector must land in a fresh rolled-over sidecar")
    assert(db.offset === Some(1L)) // fresh file: first frame after version byte
    assert(DeletionVectors.load(conf, dir, da).toSeq === a.toSeq)
    assert(DeletionVectors.load(conf, dir, db).toSeq === b.toSeq)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    def bins() = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.getPath.getName.startsWith("deletion_vector_"))
    assert(bins().length === 2)
    // abort() reclaims EVERY file the writer created, rolled ones too
    val w2 = new DvSidecarWriter(conf, dir, atTableRoot = true,
      rolloverBytes = 10000L)
    w2.write(a); w2.write(b)
    assert(bins().length === 4)
    w2.abort()
    assert(bins().length === 2)
  }

  test("a PRESENT but malformed descriptor refuses, never reads as no-DV") {
    import org.json4s.jackson.JsonMethods
    // missing cardinality: defaulting it to 0 would drop the vector
    // from scan routing and silently resurrect its deleted rows
    val e = intercept[IllegalStateException](DeletionVectors.fromJson(
      JsonMethods.parse("""{"storageType":"u","pathOrInlineDv":"x","sizeInBytes":10}""")))
    assert(e.getMessage.contains("cardinality"))
    val e2 = intercept[IllegalStateException](DeletionVectors.fromJson(
      JsonMethods.parse("""{"sizeInBytes":10,"cardinality":1}""")))
    assert(e2.getMessage.contains("storageType"))
    // absent field stays None (the common clean-file case)
    assert(DeletionVectors.fromJson(org.json4s.JNothing) === None)
    // non-JSON string in a known-nullable context stays None
    assert(DeletionVectors.fromJsonString("not json") === None)
  }

  test("legacy-path refusal keys on _dv/, not on a .bin suffix") {
    // '.' is a valid Z85 character: a protocol-conformant foreign
    // descriptor whose random prefix happens to end in ".bin" must
    // still resolve (the old endsWith(".bin") guard misdiagnosed it)
    val u = java.util.UUID.randomUUID()
    val okWeird = DvDescriptor("u", "ab.bin" + DeletionVectors.encodeUuid(u),
      10L, 1L, Some(1L))
    assert(DeletionVectors.relativePath(okWeird)
      === s"ab.bin/deletion_vector_$u.bin")
    // the actual legacy graft form refuses loudly
    val legacy = DvDescriptor("u", s"_dv/dv-$u.bin", 10L, 1L, Some(1L))
    val e = intercept[IllegalArgumentException](
      DeletionVectors.relativePath(legacy))
    assert(e.getMessage.contains("legacy graft DV path"))
  }

  test("checkpoints carry add.deletionVector as the protocol STRUCT") {
    val t = tmp()
    dvTable(t, 1 to 6)
    DeltaTable.delete(spark, t, col("id") <= 2)
    val v = DeltaLog.checkpoint(spark, t)
    val cp = spark.read.parquet(
      s"$t/_delta_log/" + f"$v%020d" + ".checkpoint.parquet")
    // the protocol's checkpoint schema: a five-field struct, NOT a JSON
    // string — what a foreign reader seeding from _last_checkpoint
    // expects (the Trino delta-connector scenario)
    val dvType = cp.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("deletionVector")
      .dataType
    val st = dvType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSet ===
      Set("storageType", "pathOrInlineDv", "offset", "sizeInBytes",
        "cardinality"))
    assert(st("offset").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(st("sizeInBytes").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(st("cardinality").dataType ===
      org.apache.spark.sql.types.LongType)
    val r = cp.where(col("add").isNotNull &&
        col("add.deletionVector").isNotNull)
      .select("add.deletionVector.*").head()
    assert(r.getAs[String]("storageType") === "i") // 2 rows → inline
    assert(r.getAs[Long]("cardinality") === 2L)
    // replay FROM the checkpoint (no JSON tail after it) stays exact
    assert(DeltaLog.snapshot(spark, t).files
      .exists(_.dv.exists(_.cardinality == 2L)))
    assert(ids(t) === (3 to 6).toSet)
  }

  /** A DV table with rows 1..2 deleted by a vector, checkpointed, its
    * checkpoint then rewritten into the LEGACY form: deletionVector as
    * a string column (what graft wrote before round 12), the string
    * given by `dvString` over the protocol struct. Returns the
    * checkpoint's path. */
  private def legacyCheckpoint(t: String,
                               dvString: org.apache.spark.sql.Column =>
                                 org.apache.spark.sql.Column): String = {
    dvTable(t, 1 to 6)
    DeltaTable.delete(spark, t, col("id") <= 2)
    val v = DeltaLog.checkpoint(spark, t)
    val cpPath = s"$t/_delta_log/" + f"$v%020d" + ".checkpoint.parquet"
    val cp = spark.read.parquet(cpPath)
    import org.apache.spark.sql.functions.{struct, when}
    val legacyAdd = when(col("add").isNull, org.apache.spark.sql.functions
        .lit(null))
      .otherwise(struct(
        col("add.path"), col("add.partitionValues"), col("add.size"),
        col("add.modificationTime"), col("add.dataChange"),
        col("add.stats"),
        when(col("add.deletionVector").isNull,
          org.apache.spark.sql.functions.lit(null).cast("string"))
          .otherwise(dvString(col("add.deletionVector")))
          .as("deletionVector")))
    val legacy = cp.withColumn("add", legacyAdd).coalesce(1)
    val tmpDir = java.nio.file.Files.createTempDirectory("legacy_cp")
    legacy.write.mode("overwrite").parquet(tmpDir.toString)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmpDir.toString))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.delete(new org.apache.hadoop.fs.Path(cpPath), false)
    fs.rename(part, new org.apache.hadoop.fs.Path(cpPath))
    cpPath
  }

  test("pre-round-12 checkpoints (JSON-string deletionVector) still read") {
    val t = tmp()
    // compact-JSON string, the legacy encoding
    val cpPath = legacyCheckpoint(t, org.apache.spark.sql.functions.to_json(_))
    // sanity: the rewritten checkpoint's dv column IS a string now
    assert(spark.read.parquet(cpPath).schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("deletionVector")
      .dataType === org.apache.spark.sql.types.StringType)
    // both replay paths parse the legacy form
    assert(DeltaLog.snapshot(spark, t).files
      .exists(_.dv.exists(_.cardinality == 2L)))
    assert(ids(t) === (3 to 6).toSet)
    assert(DeltaLog.prunedSnapshot(spark, t, Map.empty).files
      .exists(_.dv.exists(_.cardinality == 2L)))
  }

  test("a legacy string deletionVector that is not JSON refuses on every route") {
    // reading it as "no vector" would bring the deleted rows back, and
    // the orphan walk would stop counting the sidecar as referenced
    val t = tmp()
    legacyCheckpoint(t, _ => org.apache.spark.sql.functions.lit("not-json"))
    Seq[(String, () => Any)](
      "snapshot" -> (() => DeltaLog.snapshot(spark, t)),
      // below the replay threshold metaSnapshot decodes the same rows
      "metaSnapshot" -> (() => DeltaLog.metaSnapshot(spark, t)),
      "prunedSnapshot" -> (() => DeltaLog.prunedSnapshot(spark, t, Map.empty)),
      "vacuumOrphans" -> (() => DeltaTable.vacuumOrphans(spark, t, 0L))
    ).foreach { case (route, read) =>
      val e = intercept[IllegalStateException](read())
      assert(e.getMessage.contains("unparseable deletionVector"),
        s"$route: ${e.getMessage}")
    }
  }

  // -------------------------------------------------------- clone & SQL

  test("shallow clone absolutizes sidecar vectors and reads exactly") {
    val t = tmp()
    dvTable(t, 1 to 8000)
    DeltaTable.delete(spark, t, col("id") % 3 === 0) // sidecar-sized DV
    val c = tmp()
    DeltaTable.cloneShallow(spark, t, c)
    val cloned = DeltaLog.snapshot(spark, c).files.head.dv.get
    assert(cloned.storageType == "p" &&
      new org.apache.hadoop.fs.Path(cloned.pathOrInlineDv).isAbsolute)
    assert(ids(c) === (1 to 8000).filter(_ % 3 != 0).toSet)
    // clone stays independent: delete in the clone, source unchanged
    DeltaTable.delete(spark, c, col("id") === 1)
    assert(ids(t).contains(1))
  }

  test("DSv2/SQL scans filter deletion vectors (row-index routing)") {
    val t = tmp()
    dvTable(t, 1 to 8000, 9000 to 9100)
    DeltaTable.delete(spark, t, col("id") % 3 === 0) // sidecar DV on file 1,
                                                     // inline DV on file 2
    val expected = ((1 to 8000) ++ (9000 to 9100)).filterNot(_ % 3 == 0)
    val df = spark.read.format("graft-delta").load(t)
    assert(df.select("id").collect().map(_.getInt(0)).toSet === expected.toSet)
    // pushed filter + projection over the DV branch stays exact
    assert(df.filter(col("id") > 1000).count()
      === expected.count(_ > 1000).toLong)
    // the clean/dv split survives mixed snapshots: delete ONE file whole
    DeltaTable.delete(spark, t, col("id") >= 9000)
    assert(spark.read.format("graft-delta").load(t)
      .select("id").collect().map(_.getInt(0)).toSet
      === (1 to 8000).filterNot(_ % 3 == 0).toSet)
  }

  test("DSv2 scans of a DV table stay COLUMNAR (selection-vector batches)") {
    val t = tmp()
    dvTable(t, 1 to 8000, 9000 to 9100)
    DeltaTable.delete(spark, t, col("id") % 3 === 0)
    val df = spark.read.format("graft-delta").load(t)
    // one DV file must NOT de-vectorize the scan: the executed plan
    // keeps the ColumnarToRow boundary of a vectorized parquet read
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"expected a columnar DV scan:\n$plan")
    val expected = ((1 to 8000) ++ (9000 to 9100)).filterNot(_ % 3 == 0)
    assert(df.select("id").collect().map(_.getInt(0)).toSet === expected.toSet)
    // aggregates ride the same selected batches
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
      === expected.map(_.toLong).sum)
  }

  test("DSv2 scans of a partitioned DV table restore partition columns") {
    val t = tmp()
    (0 to 1).foreach { p =>
      DeltaTable.write((1 to 6).map(i => (i, p)).toDF("id", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
    }
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("p") === 1 && col("id") <= 2)
    val got = spark.read.format("graft-delta").load(t)
      .select("id", "p").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === ((1 to 6).map((_, 0)) ++ (3 to 6).map((_, 1))).toSet)
    // partition pruning into the DV'd partition still filters rows
    assert(spark.read.format("graft-delta").load(t)
      .filter(col("p") === 1).select("id").collect().map(_.getInt(0)).toSet
      === (3 to 6).toSet)
  }

  test("pure-SQL DELETE on a DV-enabled catalog table commits a vector") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_dv").toString
    spark.conf.set("spark.sql.catalog.gdv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdv.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdv.db")
    spark.sql("""CREATE TABLE gdv.db.t (id BIGINT, s STRING)
                 TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""")
    spark.sql("INSERT INTO gdv.db.t SELECT id, CAST(id AS STRING) " +
      "FROM range(1, 11)")
    val path = s"$wh/db/t"
    val before = livePaths(path)
    spark.sql("DELETE FROM gdv.db.t WHERE id <= 3")
    // fully-matched files drop whole; straddled ones keep their bytes —
    // either way the DELETE staged no rewrites
    assert(livePaths(path).subsetOf(before), "SQL DELETE must take the DV path")
    assert(DeltaLog.snapshot(spark, path).files
      .exists(_.dv.exists(_.cardinality > 0)))
    assert(spark.sql("SELECT id FROM gdv.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (4L to 10L))
    // SQL time travel below the DV delete reads the pre-image through
    // the same DSv2 scan (no vector at that version)
    val preV = DeltaLog.snapshot(spark, path).version - 1
    assert(spark.sql(s"SELECT id FROM gdv.db.t VERSION AS OF $preV")
      .collect().map(_.getLong(0)).toSet === (1L to 10L).toSet)
  }

  test("MERGE clauses take the DV path: vectors + post-images, no rewrite") {
    import org.apache.spark.sql.functions.lit
    val t = tmp()
    dvTable(t, 1 to 10)
    val before = livePaths(t)
    // update ids 2,4; delete id 6; insert id 99
    val src = Seq((2, "u2"), (4, "u4"), (6, "del"), (99, "new"))
      .toDF("k", "v")
    DeltaTable.mergeInto(src, t, targetKey = "id", sourceKey = "k",
      matched = Seq(
        MergeClause.Delete(Some(DeltaTable.src("v") === "del")),
        MergeClause.Update(None, Map("s" -> DeltaTable.src("v")))),
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> DeltaTable.src("k"), "s" -> DeltaTable.src("v")))))
    val head = DeltaLog.snapshot(spark, t)
    // original file survives with a 3-row vector (2 updated + 1 deleted)
    assert(before.subsetOf(head.files.map(_.path).toSet),
      "MERGE must not rewrite the straddled file")
    assert(head.files.exists(_.dv.exists(_.cardinality == 3L)),
      s"got ${head.files.flatMap(_.dv)}")
    val newRows = head.files.filterNot(f => before(f.path))
      .flatMap(_.stats.map(_.numRecords)).sum
    assert(newRows == 3L, s"post-images + insert = 3 rows, got $newRows")
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    val expected = (1 to 10).filterNot(_ == 6).map {
      case 2 => (2, "u2")
      case 4 => (4, "u4")
      case i => (i, s"s$i")
    }.toSet + ((99, "new"))
    assert(got === expected)
    // protocol upgraded by the merge (first DV on the table)
    assert(head.readerFeatures.contains("deletionVectors"))
    // and a rewrite-path upsert touching the DV'd file retires the
    // vector cleanly: the remove carries it (CDF pre-image exactness),
    // the rewritten file is vector-free, reads stay exact (id 7 still
    // lives in the original file). With the property on, the upsert
    // would take the DV path, so it is unset first.
    DeltaTable.unsetProperties(spark, t, Set("delta.enableDeletionVectors"))
    DeltaTable.merge(Seq((7, "uu7")).toDF("id", "s"), t, "id")
    val afterUpsert = DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(afterUpsert === expected - ((7, "s7")) + ((7, "uu7")))
    val c = DeltaLog.readCommit(spark, t, DeltaLog.snapshot(spark, t).version)
    assert(c.removes.exists(_.dv.exists(_.cardinality == 3L)),
      "rewrite-path remove must carry the pre-image vector")
    assert(DeltaLog.snapshot(spark, t).files.forall(_.dv.isEmpty),
      "the rewrite replaced the only DV'd file")
  }

  // ------------------------------------------------------------- vacuum

  test("vacuum keeps referenced sidecars, reclaims orphans and retired ones") {
    val t = tmp()
    dvTable(t, 1 to 8000)
    DeltaTable.delete(spark, t, col("id") % 3 === 0)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = DeletionVectors.relativePath(
      DeltaLog.snapshot(spark, t).files.head.dv.get)
    // plant an orphan (a crashed attempt's sidecar — protocol naming)
    val orphan = new org.apache.hadoop.fs.Path(t,
      s"deletion_vector_${java.util.UUID.randomUUID()}.bin")
    val out = fs.create(orphan, false)
    out.write(DeletionVectors.serialize(Array(1L))); out.close()
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) >= 1)
    assert(!fs.exists(orphan), "orphan sidecar reclaimed")
    assert(fs.exists(new org.apache.hadoop.fs.Path(t, live)),
      "live sidecar survives vacuum")
    assert(ids(t) === (1 to 8000).filter(_ % 3 != 0).toSet)
    // purge retires the sidecar into a tombstone; retention reclaims it
    DeltaTable.purgeDeletionVectors(spark, t)
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) >= 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(t, live)),
      "retired sidecar reclaimed on the retention clock")
    assert(ids(t) === (1 to 8000).filter(_ % 3 != 0).toSet)
  }

  test("SQL maintenance surface: detail reports DVs, purge_dvs clears them") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_dvp").toString
    spark.conf.set("spark.sql.catalog.gdvp", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdvp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdvp.db")
    spark.sql("""CREATE TABLE gdvp.db.t (id BIGINT, s STRING)
                 TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""")
    spark.sql("INSERT INTO gdvp.db.t SELECT id, CAST(id AS STRING) " +
      "FROM range(1, 9)")
    spark.sql("DELETE FROM gdvp.db.t WHERE id IN (2, 5)")
    val det = spark.sql("CALL gdvp.system.detail('db.t')").head()
    assert(det.getInt(3) >= 1 && det.getLong(4) === 2L,
      s"detail must report the vectors: $det")
    assert(det.getString(5) === "i", // 2 indexes ride inline, protocol code "i"
      s"detail must report the protocol storage codes in use: $det")
    val purged = spark.sql("CALL gdvp.system.purge_dvs('db.t')").head().getInt(0)
    assert(purged >= 1)
    val det2 = spark.sql("CALL gdvp.system.detail('db.t')").head()
    assert(det2.getInt(3) === 0 && det2.getLong(4) === 0L)
    assert(spark.sql("SELECT id FROM gdvp.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L, 4L, 6L, 7L, 8L))
  }

  test("nondeterministic DV delete freezes the matched set: marks, CDF and reads agree") {
    import org.apache.spark.sql.functions.rand
    val t = tmp()
    dvTable(t, 1 to 1000)
    DeltaTable.setProperties(spark, t, Map(
      "delta.enableChangeDataFeed" -> "true",
      "delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, rand(seed = 7) < 0.5)
    val head = DeltaLog.snapshot(spark, t)
    val vectored = head.files.flatMap(_.dv).map(_.cardinality).sum
    val live = DeltaTable.read(spark, t).count()
    // every row is either readable or vectored — a diverged evaluation
    // would double-count or drop rows
    assert(live + vectored === 1000L,
      s"live=$live vectored=$vectored must partition the file")
    val feed = DeltaTable.readChangeFeed(spark, t, head.version)
      .filter(col("_change_type") === "delete").count()
    assert(feed === vectored,
      s"CDF must report exactly the vectored rows: feed=$feed dv=$vectored")
  }

  // ---------------------------------------------------------- streaming

  test("append tailing refuses a DV commit; snapshot re-read stays exact") {
    val t = tmp()
    dvTable(t, 1 to 10)
    val (_, v0, _) = DeltaTable.changesOrRebase(spark, t, -1L)
    DeltaTable.delete(spark, t, col("id") <= 3)
    // the batch tail cannot fold a DV commit as appends: it rebases onto
    // the DV-filtered head snapshot
    val (whole, v1, rebase) = DeltaTable.changesOrRebase(spark, t, v0)
    assert(rebase && v1 === v0 + 1)
    assert(whole.collect().map(_.getInt(0)).toSet === (4 to 10).toSet)
    // the graft-delta stream, the refusing tail, fails the DV commit
    val root = java.nio.file.Files.createTempDirectory("dv_tail").toString
    val q = spark.readStream.format("graft-delta").option("startingVersion", v0.toString)
      .load(t).writeStream.format("parquet").option("path", s"$root/out")
      .option("checkpointLocation", s"$root/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.awaitTermination(60000) finally q.stop()
    }
    assert(e.getMessage.contains("overwritten"),
      s"the plain stream must refuse a DV commit: ${e.getMessage}")
    assert(ids(t) === (4 to 10).toSet)
  }
}
