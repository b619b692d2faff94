package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec

/** Generated (`GENERATED ALWAYS AS (expr)`) and identity
  * (`GENERATED ALWAYS [BY DEFAULT] AS IDENTITY`) columns: catalog
  * creation stamps the specs into log-schema field metadata; every
  * write path computes/allocates per row; the identity high-water mark
  * advances through commits and survives checkpoints. */
class GeneratedColumnsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val warehouse =
    java.nio.file.Files.createTempDirectory("graft_wh_gc").toString

  private def initCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.ggen", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ggen.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ggen.db")
  }

  private def ids(tbl: String): Seq[Long] =
    spark.sql(s"SELECT id FROM $tbl ORDER BY id").collect().map(_.getLong(0)).toSeq

  test("SQL lifecycle: identity allocation + generated computation") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.t (
      id BIGINT GENERATED ALWAYS AS IDENTITY,
      n BIGINT,
      n2 BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ggen.db.t (n) VALUES (5), (7)")
    val rows = spark.sql("SELECT id, n, n2 FROM ggen.db.t ORDER BY n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq === Seq(5L, 7L))
    assert(rows.forall { case (_, n, n2) => n2 == 2 * n })
    val batch1 = rows.map(_._1).toSet
    assert(batch1.size == 2 && batch1.forall(_ >= 1L), s"ids from START 1: $batch1")
    // the mark advanced: a second INSERT allocates DISJOINT, larger ids
    spark.sql("INSERT INTO ggen.db.t (n) VALUES (9)")
    val all = ids("ggen.db.t").toSet
    assert(all.size == 3, s"identity ids must be unique, got $all")
    assert((all -- batch1).forall(_ > batch1.max),
      "new allocations must sit above the advanced high-water mark")
    // GENERATED ALWAYS refuses explicit ids and wrong generated values
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO ggen.db.t VALUES (999, 1, 2)") }
    assert(e1.getMessage.contains("GENERATED ALWAYS AS IDENTITY"))
    val e2 = intercept[Exception] {
      spark.sql("INSERT INTO ggen.db.t (n, n2) VALUES (4, 9)") }
    assert(e2.getMessage.contains("must equal"))
    // a CORRECT explicit generated value is accepted (delta's contract)
    spark.sql("INSERT INTO ggen.db.t (n, n2) VALUES (4, 8)")
    assert(spark.sql("SELECT n2 FROM ggen.db.t WHERE n = 4").head().getLong(0) == 8L)
  }

  test("START WITH / INCREMENT BY and BY DEFAULT explicit ids advance the mark") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.s (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 100 INCREMENT BY 10),
      n BIGINT)""")
    spark.sql("INSERT INTO ggen.db.s (n) VALUES (1)")
    val first = ids("ggen.db.s")
    assert(first === Seq(100L), s"START WITH 100: $first")
    // explicit id far ahead — BY DEFAULT keeps it and advances the mark
    spark.sql("INSERT INTO ggen.db.s VALUES (500, 2)")
    spark.sql("INSERT INTO ggen.db.s (n) VALUES (3)")
    val all = ids("ggen.db.s")
    assert(all.size == 3 && all.toSet.size == 3)
    assert(all.max > 500L,
      s"allocation after an explicit 500 must jump past it, got $all")
    // explicit id BELOW the mark must not regress it
    spark.sql("INSERT INTO ggen.db.s VALUES (101, 4)")
    spark.sql("INSERT INTO ggen.db.s (n) VALUES (5)")
    val all2 = ids("ggen.db.s")
    assert(all2.size == 5 && all2.toSet.size == 5, s"unique ids: $all2")
    assert(all2.max > 500L)
  }

  test("DataFrame write path allocates and computes identically") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.d (
      id BIGINT GENERATED ALWAYS AS IDENTITY,
      n BIGINT,
      tag STRING GENERATED ALWAYS AS (concat('n=', CAST(n AS STRING))))""")
    val path = s"$warehouse/db/d"
    DeltaTable.write(Seq(11L, 12L).toDF("n"), path, SaveMode.Append)
    val got = DeltaTable.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(_._2).toSet === Set(11L, 12L))
    assert(got.forall { case (_, n, t) => t == s"n=$n" })
    assert(got.map(_._1).toSet.size == 2)
    // the hwm rides the schema metadata through the log
    val hwm = GeneratedColumns.identityOf(
      org.apache.spark.sql.types.DataType.fromJson(
        DeltaLog.snapshot(spark, path).schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).head.hwm
    assert(hwm.exists(_ >= got.map(_._1).max), s"hwm=$hwm")
  }

  test("identity survives checkpoints; streaming-path appends allocate too") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.c (
      id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    val path = s"$warehouse/db/c"
    DeltaTable.write(Seq(1L).toDF("n"), path, SaveMode.Append)
    DeltaLog.checkpoint(spark, path)
    DeltaTable.write(Seq(2L).toDF("n"), path, SaveMode.Append)
    val all = ids("ggen.db.c")
    assert(all.size == 2 && all.toSet.size == 2,
      s"checkpoint round-trip must keep the mark: $all")
    // exactly-once txn append (the streaming foreachBatch shape)
    DeltaTable.appendWithTxn(Seq(3L).toDF("n"), path, "app-gc", 1L)
    DeltaTable.appendWithTxn(Seq(99L).toDF("n"), path, "app-gc", 1L) // replay: skipped
    val all2 = ids("ggen.db.c")
    assert(all2.size == 3 && all2.toSet.size == 3, s"$all2")
    assert(!spark.sql("SELECT n FROM ggen.db.c").collect()
      .map(_.getLong(0)).contains(99L), "replayed batch must not land")
  }

  test("UPDATE recomputes generated columns from post-update values") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.u (
      k BIGINT, n BIGINT, n2 BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ggen.db.u (k, n) VALUES (1, 10), (2, 20)")
    val path = s"$warehouse/db/u"
    // SET n must recompute n2 with the POST-update value (n+1)*2
    DeltaTable.update(spark, path, col("k") === 1,
      Map("n" -> (col("n") + 1)))
    val got = spark.sql("SELECT k, n, n2 FROM ggen.db.u ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 11L, 22L), (2L, 20L, 40L)))
    // direct assignment to the generated column refuses
    val e = intercept[Exception] {
      DeltaTable.update(spark, path, col("k") === 1, Map("n2" -> lit(0L)))
    }
    assert(e.getMessage.contains("generated column"), e.getMessage)
    // and pure-SQL UPDATE goes through the same augmentation
    spark.sql("UPDATE ggen.db.u SET n = n + 100 WHERE k = 2")
    assert(spark.sql("SELECT n2 FROM ggen.db.u WHERE k = 2").head().getLong(0)
      === 240L)
  }

  test("MERGE clauses recompute generated columns; identity inserts refuse") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.m (
      k BIGINT, n BIGINT, n2 BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ggen.db.m (k, n) VALUES (1, 10), (2, 20)")
    val path = s"$warehouse/db/m"
    val src = Seq((1L, 5L), (9L, 90L)).toDF("sk", "sn")
    DeltaTable.mergeInto(src, path, targetKey = "k", sourceKey = "sk",
      matched = Seq(MergeClause.Update(None,
        Map("n" -> (col("n") + DeltaTable.src("sn"))))),
      notMatched = Seq(MergeClause.Insert(None,
        Map("k" -> DeltaTable.src("sk"), "n" -> DeltaTable.src("sn")))))
    val got = spark.sql("SELECT k, n, n2 FROM ggen.db.m ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // update: n = 10 + 5 = 15 → n2 = 30; insert: n = 90 → n2 = 180
    assert(got === Seq((1L, 15L, 30L), (2L, 20L, 40L), (9L, 90L, 180L)))
    // GENERATED ALWAYS identity tables refuse MERGE INSERT clauses
    spark.sql("""CREATE TABLE ggen.db.mi (
      id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    spark.sql("INSERT INTO ggen.db.mi (n) VALUES (1)")
    val e = intercept[Exception] {
      DeltaTable.mergeInto(Seq((5L, 50L)).toDF("sid", "sn"),
        s"$warehouse/db/mi", targetKey = "id", sourceKey = "sid",
        matched = Seq.empty,
        notMatched = Seq(MergeClause.Insert(None,
          Map("n" -> DeltaTable.src("sn")))))
    }
    assert(e.getMessage.contains("identity column"), e.getMessage)
  }

  test("DeltaTable.merge recomputes generated columns on update, checks them on insert") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.mg (
      k BIGINT, n BIGINT, n2 BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ggen.db.mg (k, n) VALUES (1, 10), (2, 20)")
    val path = s"$warehouse/db/mg"
    def rows() = spark.sql("SELECT k, n, n2 FROM ggen.db.mg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // matched key: the source's contradicting n2 is not written, the
    // update recomputes it from the new n
    DeltaTable.merge(Seq((1L, 15L, 999L)).toDF("k", "n", "n2"), path, "k")
    assert(rows() === Seq((1L, 15L, 30L), (2L, 20L, 40L)))
    // new key: a contradicting n2 refuses the whole merge
    val v = DeltaLog.snapshot(spark, path).version
    val e = intercept[Exception] {
      DeltaTable.merge(Seq((9L, 90L, 7L)).toDF("k", "n", "n2"), path, "k")
    }
    assert(e.getMessage.contains("must equal"), e.getMessage)
    assert(DeltaLog.snapshot(spark, path).version === v)
    // a consistent value inserts
    DeltaTable.merge(Seq((9L, 90L, 180L)).toDF("k", "n", "n2"), path, "k")
    assert(rows() === Seq((1L, 15L, 30L), (2L, 20L, 40L), (9L, 90L, 180L)))
  }

  test("identity + deletion vectors: DV DML keeps ids, later allocation stays unique") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.idv (
      id BIGINT GENERATED ALWAYS AS IDENTITY, k BIGINT, n BIGINT)
      TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')""")
    spark.sql(
      "INSERT INTO ggen.db.idv (k, n) SELECT id, id * 10 FROM range(1, 9)")
    val path = s"$warehouse/db/idv"
    val before = DeltaLog.snapshot(spark, path).files.map(_.path).toSet
    // an UPDATE on a DV table: post-images land in NEW files (computed
    // through the identity-preserving assignment augmentation), the
    // originals survive behind vectors — both features in one commit
    DeltaTable.update(spark, path, col("k") % 2 === 0,
      Map("n" -> (col("n") + 1L)))
    val head = DeltaLog.snapshot(spark, path)
    assert(before.subsetOf(head.files.map(_.path).toSet),
      "DV update must not rewrite the straddled files")
    assert(head.files.filter(f => before(f.path))
      .forall(_.dv.exists(_.cardinality > 0)),
      "every original file holds updated rows -> must carry a vector")
    // rows keep their allocated ids through the DV update
    val got = spark.sql("SELECT id, k, n FROM ggen.db.idv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._2).toSeq === (1L to 8L),
      s"one live row per key, none resurrected from behind a vector: " +
        got.mkString(","))
    assert(got.map(_._1).toSet.size === 8, "ids stay unique")
    assert(got.forall { case (_, k, n) =>
      n == (if (k % 2 == 0) k * 10 + 1 else k * 10) })
    val idsAfterUpdate = got.map(_._1).toSet
    // MERGE matched-update takes the DV path too; ids still stick
    DeltaTable.mergeInto(Seq((2L, 1000L)).toDF("sk", "sn"), path,
      targetKey = "k", sourceKey = "sk",
      matched = Seq(MergeClause.Update(None,
        Map("n" -> DeltaTable.src("sn")))),
      notMatched = Seq.empty)
    assert(spark.sql("SELECT id FROM ggen.db.idv ORDER BY k")
      .collect().map(_.getLong(0)).toSet === idsAfterUpdate)
    // the high-water mark advanced from POST-IMAGE file footers, never
    // from the vectored originals: a later INSERT allocates FRESH ids
    // (a hwm regression here would collide with ids 1..8)
    spark.sql("INSERT INTO ggen.db.idv (k, n) VALUES (100, 0), (101, 0)")
    val allIds = spark.sql("SELECT id FROM ggen.db.idv")
      .collect().map(_.getLong(0)).toSeq
    assert(allIds.size === 10 && allIds.toSet.size === 10,
      s"post-DV-DML allocation must not reuse live ids: $allIds")
    // sync from data agrees (or advances); DV'd duplicates never shrink it
    spark.sql("CALL ggen.system.sync_identity('db.idv')").collect()
    spark.sql("INSERT INTO ggen.db.idv (k, n) VALUES (102, 0)")
    val finalIds = spark.sql("SELECT id FROM ggen.db.idv")
      .collect().map(_.getLong(0)).toSeq
    assert(finalIds.size === 11 && finalIds.toSet.size === 11)
  }

  test("SYNC IDENTITY recomputes the mark from data, never regresses") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.sync (
      id BIGINT GENERATED BY DEFAULT AS IDENTITY, n BIGINT)""")
    val path = s"$warehouse/db/sync"
    spark.sql("INSERT INTO ggen.db.sync VALUES (7000, 1)")
    // the write itself advanced the mark; simulate a path that lost it
    // by restoring to the creation metaData's schema via RESTORE
    spark.sql("INSERT INTO ggen.db.sync VALUES (9000, 2)")
    val synced = spark.sql("CALL ggen.system.sync_identity('db.sync')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // already tracked by the writes → nothing to move
    assert(synced.isEmpty || synced("id") >= 9000L)
    // allocation after sync sits above every explicit id
    spark.sql("INSERT INTO ggen.db.sync (n) VALUES (3)")
    val allIds = ids("ggen.db.sync")
    assert(allIds.max > 9000L, s"$allIds")
    assert(allIds.size == 3 && allIds.toSet.size == 3)
    // no identity columns → loud refusal
    spark.sql("CREATE TABLE ggen.db.plain (n BIGINT)")
    spark.sql("INSERT INTO ggen.db.plain VALUES (1)")
    val e = intercept[Exception] {
      spark.sql("CALL ggen.system.sync_identity('db.plain')").collect()
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
  }

  test("generated column with NULL input computes NULL-safely") {
    initCatalog()
    spark.sql("""CREATE TABLE ggen.db.g2 (
      n BIGINT, n2 BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ggen.db.g2 (n) VALUES (NULL), (3)")
    val got = spark.sql("SELECT n, n2 FROM ggen.db.g2 ORDER BY n NULLS FIRST")
      .collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0),
        if (r.isNullAt(1)) null else r.getLong(1))).toSeq
    assert(got === Seq((null, null), (3L, 6L)))
  }
}
