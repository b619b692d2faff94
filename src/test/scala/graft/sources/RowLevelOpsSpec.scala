package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Spark-native row-level operations (`SupportsRowLevelOperations` +
  * `SupportsDelta`): SQL DELETE/UPDATE/MERGE against graft-delta
  * catalog tables — the analyzer's own rewrite rules drive
  * [[GraftRowLevelOperation]]'s position-delta write. This is the one
  * SQL DML route: most specs here run in extension-less sessions, which
  * are REAL (`new classic.SparkSession(sc)` — fresh session state,
  * default extensions), not simulations, and the analysis spec shows
  * the session with [[graft.GraftExtensions]] registered plans the
  * same `WriteDelta`. */
class RowLevelOpsSpec extends SparkSpec {

  import spark.implicits._

  /** A session sharing the context but with NO extensions registered
    * and its own catalog conf — what a foreign Spark user gets. */
  private def bareSession(): org.apache.spark.sql.classic.SparkSession = {
    val s = org.apache.spark.sql.graft.ColumnBridge
      .bareSession(spark.sparkContext)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  private def newCatalog(s: org.apache.spark.sql.SparkSession,
                         name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_wh_$name").toString
    s.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  test("extension-less SQL UPDATE / MERGE / row-level DELETE are exact") {
    val s = bareSession()
    // the session carries Spark's own extra resolution rules but NONE of
    // the engine's (MaskPiiRule comes from GraftExtensions)
    assert((s.sessionState.analyzer.extendedResolutionRules ++
        s.sessionState.analyzer.postHocResolutionRules)
      .forall(r => !r.getClass.getName.toLowerCase.contains("graft") &&
        !r.getClass.getName.contains("MaskPii")),
      "the bare session must carry no engine extension rules")
    val wh = newCatalog(s, "rlo1")
    s.sql("CREATE TABLE rlo1.db.t (id BIGINT, s STRING, n BIGINT)")
    s.sql("INSERT INTO rlo1.db.t SELECT id, CAST(id AS STRING), id * 10 " +
      "FROM range(1, 9)")
    // UPDATE through Spark's RewriteUpdateTable -> WriteDelta
    s.sql("UPDATE rlo1.db.t SET n = n + 1 WHERE id % 2 = 0")
    assert(s.sql("SELECT sum(n) FROM rlo1.db.t").head().getLong(0)
      === (1L to 8L).map(i => i * 10 + (if (i % 2 == 0) 1 else 0)).sum)
    // row-level DELETE: `%` has no source-filter translation, so the
    // metadata path refuses and the WriteDelta path must carry it
    s.sql("DELETE FROM rlo1.db.t WHERE id % 3 = 0")
    assert(s.sql("SELECT id FROM rlo1.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === (1L to 8L).filter(_ % 3 != 0))
    // multi-clause MERGE
    s.sql(s"""
      MERGE INTO rlo1.db.t AS t
      USING (SELECT * FROM VALUES (1L, 'one', 100L), (2L, 'two', 200L),
             (99L, 'new', 990L) AS s(id, s, n)) AS s
      ON t.id = s.id
      WHEN MATCHED AND s.id = 1 THEN DELETE
      WHEN MATCHED THEN UPDATE SET s = s.s, n = s.n
      WHEN NOT MATCHED THEN INSERT (id, s, n) VALUES (s.id, s.s, s.n)""")
    val got = s.sql("SELECT id, s, n FROM rlo1.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq((2L, "two", 200L), (4L, "4", 41L), (5L, "5", 50L),
      (7L, "7", 70L), (8L, "8", 81L), (99L, "new", 990L)), s"got $got")
    // operations recorded with their own names
    val ops = DeltaTable.describeHistory(s, s"$wh/db/t").map(_.operation)
    assert(ops.contains("UPDATE") && ops.contains("MERGE") &&
      ops.contains("DELETE"))
  }

  test("SQL UPDATE analyzes to the native WriteDelta plan (not the rule)") {
    val wh = newCatalog(spark, "rlo2")
    spark.sql("CREATE TABLE rlo2.db.p (id BIGINT, n BIGINT)")
    spark.sql("INSERT INTO rlo2.db.p VALUES (1, 10), (2, 20)")
    // generated/identity tables get the same plan in this (extension)
    // session
    spark.sql("""CREATE TABLE rlo2.db.g (
      id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT,
      twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO rlo2.db.g (n) VALUES (1), (2)")
    Seq(
      "UPDATE rlo2.db.p SET n = 0 WHERE id = 1",
      "UPDATE rlo2.db.g SET n = n + 1 WHERE n = 1",
      """MERGE INTO rlo2.db.g AS t
         USING (SELECT * FROM VALUES (2L, 5L), (9L, 7L) AS s(k, v)) AS s
         ON t.n = s.k
         WHEN MATCHED THEN UPDATE SET n = s.v
         WHEN NOT MATCHED THEN INSERT (n) VALUES (s.v)""").foreach { sql =>
      val analyzed = spark.sessionState.executePlan(
        spark.sessionState.sqlParser.parsePlan(sql)).analyzed
      assert(analyzed.getClass.getSimpleName == "WriteDelta",
        s"expected the SupportsDelta rewrite for $sql, got:\n$analyzed")
    }
  }

  test("native MERGE stages precise CDF (delete/pre/post/insert)") {
    val s = bareSession()
    val wh = newCatalog(s, "rlo3")
    s.sql("""CREATE TABLE rlo3.db.c (id BIGINT, s STRING)
             TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true')""")
    s.sql("INSERT INTO rlo3.db.c VALUES (1, 'a'), (2, 'b')")
    s.sql("""
      MERGE INTO rlo3.db.c AS t
      USING (SELECT * FROM VALUES (1L, 'x', true), (2L, 'b2', false),
             (3L, 'c', false) AS s(id, s, del)) AS s
      ON t.id = s.id
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET s = s.s
      WHEN NOT MATCHED THEN INSERT (id, s) VALUES (s.id, s.s)""")
    val t = s"$wh/db/c"
    val v = DeltaLog.snapshot(s, t).version
    val feed = DeltaTable.readChangeFeed(s, t, v, Some(v))
      .select("id", "s", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set(
      (1L, "a", "delete"),
      (2L, "b", "update_preimage"), (2L, "b2", "update_postimage"),
      (3L, "c", "insert")), s"got $feed")
    assert(s.sql("SELECT id, s FROM rlo3.db.c ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((2L, "b2"), (3L, "c")))
  }

  test("native row-level DML takes the DV path on DV-enabled tables") {
    val s = bareSession()
    val wh = newCatalog(s, "rlo4")
    s.sql("""CREATE TABLE rlo4.db.d (id BIGINT, n BIGINT)
             TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""")
    s.sql("INSERT INTO rlo4.db.d SELECT id, id * 10 FROM range(1, 9)")
    val t = s"$wh/db/d"
    val before = DeltaLog.snapshot(s, t).files.map(_.path).toSet
    s.sql("UPDATE rlo4.db.d SET n = 0 WHERE id % 2 = 0")
    val mid = DeltaLog.snapshot(s, t)
    assert(before.subsetOf(mid.files.map(_.path).toSet),
      "a DV update must keep the straddled files")
    assert(mid.files.filter(f => before(f.path))
      .forall(_.dv.exists(_.cardinality > 0)),
      "originals must carry vectors, post-images land in new files")
    s.sql("DELETE FROM rlo4.db.d WHERE n = 0") // untranslatable enough? n=0 translates;
    // n = 0 IS translatable -> metadata path; force row-level with %
    s.sql("DELETE FROM rlo4.db.d WHERE id % 7 = 0")
    assert(s.sql("SELECT id, n FROM rlo4.db.d ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === (1L to 8L).filter(i => i % 2 != 0 && i % 7 != 0).map(i => (i, i * 10)))
  }

  test("metadata columns _file/_pos: readable, DV-filtered, file-constant") {
    val root = java.nio.file.Files.createTempDirectory("rlo_meta").toString
    val t = s"$root/t"
    DeltaTable.write((1 to 6).map(i => (i, s"s$i")).toDF("id", "s")
      .coalesce(1), t, SaveMode.Append)
    DeltaTable.write((7 to 9).map(i => (i, s"s$i")).toDF("id", "s")
      .coalesce(1), t, SaveMode.Append)
    val df = spark.read.format("graft-delta").load(t)
      .select(col("id"), col("_file"), col("_pos"))
    val rows = df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 9)
    // _pos restarts per file; _file groups agree with the log
    val files = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert(rows.map(_._2).toSet === files)
    rows.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq === (0L until g.length).toSeq)
    }
    // behind a deletion vector, marked rows vanish from the provenance scan
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("id") === 2)
    val after = spark.read.format("graft-delta").load(t)
      .select(col("id"), col("_pos")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(!after.exists(_._1 == 2), "deleted row must not appear")
    assert(after.exists { case (id, pos) => id == 3 && pos == 2L },
      "_pos stays the PHYSICAL index (row 3 keeps index 2 behind the vector)")
  }

  test("DV and metadata scans BIN-PACK files — no O(#files) partitions") {
    val root = java.nio.file.Files.createTempDirectory("rlo_pack").toString
    val t = s"$root/t"
    // 64 small files in one commit; the DELETE straddles every one
    DeltaTable.write((1 to 6400).map(i => (i, s"s$i")).toDF("id", "s")
      .repartition(64), t, SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableDeletionVectors" -> "true"))
    DeltaTable.delete(spark, t, col("id") % 10 === 3)
    val head = DeltaLog.snapshot(spark, t)
    assert(head.files.length === 64)
    assert(head.files.forall(_.dv.exists(_.cardinality > 0)))
    val expected = (1 to 6400).filter(_ % 10 != 3)
    // a DV on every file must NOT plan one partition per file — the
    // per-PartitionedFile routing lets Spark's bin-packing apply
    val plain = spark.read.format("graft-delta").load(t)
    assert(plain.rdd.getNumPartitions < 64,
      s"DV files must bin-pack, got ${plain.rdd.getNumPartitions} partitions")
    assert(plain.select("id").collect().map(_.getInt(0)).toSet
      === expected.toSet)
    // metadata-column scans (every native DML's read) pack the same way
    // while _file still resolves per FILE inside a packed partition
    val meta = spark.read.format("graft-delta").load(t)
      .select(col("id"), col("_file"), col("_pos"))
    assert(meta.rdd.getNumPartitions < 64,
      s"metadata scans must bin-pack, got ${meta.rdd.getNumPartitions}")
    val rows = meta.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.map(_._1).toSet === expected.toSet)
    assert(rows.map(_._2).distinct.length === 64,
      "_file must stay exact per file inside packed partitions")
  }

  test("native MERGE enforces source-key cardinality (no double-update)") {
    // the engine's mergeInto pre-checks source uniqueness; the native
    // path relies on Spark's MergeRows runtime check — pin that it
    // actually fires, or a duplicate-keyed source would mark the same
    // position twice and stage two post-images
    val s = bareSession()
    newCatalog(s, "rlo7")
    s.sql("CREATE TABLE rlo7.db.t (id BIGINT, n BIGINT)")
    s.sql("INSERT INTO rlo7.db.t VALUES (1, 10), (2, 20)")
    val e = intercept[Exception] {
      s.sql("""MERGE INTO rlo7.db.t AS t
               USING (SELECT * FROM VALUES (1L, 1L), (1L, 2L) AS s(id, n)) AS s
               ON t.id = s.id
               WHEN MATCHED THEN UPDATE SET n = s.n""")
    }
    assert(Option(e.getMessage).getOrElse("")
      .contains("MERGE_CARDINALITY_VIOLATION"), e.getMessage)
    // nothing committed: the table still reads pre-merge
    assert(s.sql("SELECT n FROM rlo7.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq === Seq(10L, 20L))
  }

  test("copy-on-write retires leftover vectors with retention tombstones") {
    val s = bareSession()
    val wh = newCatalog(s, "rlo6")
    s.sql("""CREATE TABLE rlo6.db.w (id BIGINT, n BIGINT)
             TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""")
    s.sql("INSERT INTO rlo6.db.w " +
      "SELECT /*+ REPARTITION(1) */ id, id FROM range(1, 8001)")
    val t = s"$wh/db/w"
    s.sql("DELETE FROM rlo6.db.w WHERE id % 3 = 0") // sidecar-sized DV
    val sidecars = DeltaLog.snapshot(s, t).files.flatMap(_.dv)
      .filter(_.storageType == "u").map(DeletionVectors.relativePath)
    assert(sidecars.nonEmpty, "expected an on-disk vector to retire")
    // property off -> the next row-level DML takes the REWRITE branch,
    // which must tombstone the now-retired sidecars like every other
    // rewrite path (or vacuum can never reclaim them)
    s.sql("""ALTER TABLE rlo6.db.w
             SET TBLPROPERTIES ('delta.enableDeletionVectors' = 'false')""")
    s.sql("DELETE FROM rlo6.db.w WHERE id % 5 = 0")
    assert(s.sql("SELECT count(*) FROM rlo6.db.w").head().getLong(0)
      === (1L to 8000L).count(i => i % 3 != 0 && i % 5 != 0).toLong)
    assert(DeltaLog.snapshot(s, t).files.forall(_.dv.isEmpty),
      "the rewrite drops all vectors")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    DeltaTable.vacuumRemoved(s, t, retainMs = 0L)
    sidecars.foreach(rel =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(t, rel)),
        s"retired sidecar $rel must reclaim on the retention clock"))
  }

  test("column-mapped tables take native DML in bare sessions, exactly") {
    val s = bareSession()
    val wh = newCatalog(s, "rlo8")
    s.sql("""CREATE TABLE rlo8.db.m (id BIGINT, amount BIGINT, tag STRING)
             TBLPROPERTIES ('delta.enableChangeDataFeed' = 'true',
                            'delta.enableDeletionVectors' = 'true')""")
    s.sql("INSERT INTO rlo8.db.m " +
      "SELECT /*+ REPARTITION(2) */ id, id * 10, concat('t', id % 3) " +
      "FROM range(1, 101)")
    // RENAME upgrades to column mapping: amount's physical name stays
    // `amount` while the logical name becomes `amt`
    s.sql("ALTER TABLE rlo8.db.m RENAME COLUMN amount TO amt")
    val t = s"$wh/db/m"
    val raw = DeltaLog.snapshot(s, t).schemaJson
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).get
    assert(ColumnMapping.hasMapping(raw), "rename must engage mapping")
    // native UPDATE through WriteDelta (no extensions in this session):
    // post-images stage under PHYSICAL names, marks become vectors
    val before = DeltaLog.snapshot(s, t).files.map(_.path).toSet
    s.sql("UPDATE rlo8.db.m SET amt = amt + 7 WHERE id % 4 = 1")
    val head = DeltaLog.snapshot(s, t)
    assert(before.subsetOf(head.files.map(_.path).toSet),
      "DV-table UPDATE must keep the straddled files")
    assert(s.sql("SELECT sum(amt) FROM rlo8.db.m").head().getLong(0)
      === (1L to 100L).map(i => i * 10 + (if (i % 4 == 1) 7 else 0)).sum)
    // native DELETE
    s.sql("DELETE FROM rlo8.db.m WHERE id % 5 = 0")
    assert(s.sql("SELECT count(*), sum(amt) FROM rlo8.db.m").head() match {
      case r => r.getLong(0) == 80L &&
        r.getLong(1) == (1L to 100L).filter(_ % 5 != 0)
          .map(i => i * 10 + (if (i % 4 == 1) 7 else 0)).sum
    })
    // native MERGE (update + insert) over the renamed column
    s.sql("""MERGE INTO rlo8.db.m t
             USING (SELECT id * 2 AS id, 999 AS v FROM range(48, 53)) src
             ON t.id = src.id
             WHEN MATCHED THEN UPDATE SET amt = src.v
             WHEN NOT MATCHED THEN INSERT (id, amt, tag)
               VALUES (src.id, src.v, 'new')""")
    val got = s.sql("SELECT id, amt FROM rlo8.db.m WHERE id >= 96")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ids 96..104 even: 96,98 survive (not %5) and match -> 999;
    // 100 was deleted (%5) -> re-inserted as 999; 102,104 new -> 999
    assert(got.filter(_._2 == 999L).map(_._1) ===
      Set(96L, 98L, 100L, 102L, 104L))
    // precise CDF derived from the marks, logical names in the feed
    val feed = DeltaTable.readChangeFeed(s, t, head.version, Some(head.version))
    assert(feed.columns.contains("amt") && !feed.columns.contains("amount"))
    val pre = feed.filter(org.apache.spark.sql.functions
        .col("_change_type") === "update_preimage").count()
    assert(pre === (1L to 100L).count(_ % 4 == 1).toLong)
  }

  test("generated/identity tables take extension-less DML natively") {
    // round 13: these tables used to refuse bare-session DML; the
    // row-level write now recomputes/allocates per row
    // ([[NativeGeneratedDmlSpec]] pins the semantics in depth) — here:
    // a bare and an extension session interleave on ONE table correctly
    val s = bareSession()
    newCatalog(s, "rlo5")
    s.sql("""CREATE TABLE rlo5.db.g (
      id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    // bare-session INSERT allocates (AppendData through the sink's
    // native transform), bare-session UPDATE preserves the identity
    s.sql("INSERT INTO rlo5.db.g (n) VALUES (0)")
    s.sql("UPDATE rlo5.db.g SET n = 1 WHERE n = 0")
    val (id0, n0) = {
      val r = s.sql("SELECT id, n FROM rlo5.db.g").head()
      (r.getLong(0), r.getLong(1))
    }
    assert(n0 === 1L)
    // the extension session (same native route) interleaves on the
    // same table and keeps allocating ABOVE the bare write's mark
    spark.conf.set("spark.sql.catalog.rlo5",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlo5.warehouse",
      s.conf.get("spark.sql.catalog.rlo5.warehouse"))
    spark.sql("INSERT INTO rlo5.db.g (n) VALUES (5)")
    spark.sql("UPDATE rlo5.db.g SET n = 6 WHERE n = 5")
    val rows = spark.sql("SELECT id, n FROM rlo5.db.g ORDER BY n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.map(_._2) === Seq(1L, 6L))
    assert(rows.head._1 === id0, "identity must survive both sessions' UPDATEs")
    assert(rows.map(_._1).distinct.size === 2, "ids must stay unique")
  }
}
