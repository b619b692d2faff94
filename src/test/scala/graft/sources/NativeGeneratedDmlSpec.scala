package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.{DataType, StructType}

import graft.SparkSpec

/** Native SQL DML on GENERATED/IDENTITY tables: Spark's
  * own `RewriteUpdateTable`/`RewriteMergeIntoTable` drive
  * [[GraftRowLevelOperation]], and the write itself recomputes generated
  * columns, allocates identity values from the high-water mark, refuses
  * per-row identity changes (pre-image metadata columns), and advances
  * the mark in the same commit ([[GeneratedColumns.bindRowTransforms]]).
  * The bare sessions prove no extension is needed; sessions with
  * [[graft.GraftExtensions]] registered take the same route and get the
  * same per-row semantics (the "extension session" specs). The DataFrame
  * API's statement-level semantics are [[GeneratedColumnsSpec]]'s. */
class NativeGeneratedDmlSpec extends SparkSpec {

  private def bareSession(): org.apache.spark.sql.classic.SparkSession = {
    val s = org.apache.spark.sql.graft.ColumnBridge
      .bareSession(spark.sparkContext)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s
  }

  /** Registers catalog `name` over a fresh warehouse on BOTH sessions
    * (they share the filesystem, so the log is one table either way). */
  private def newCatalog(s: org.apache.spark.sql.SparkSession,
                         name: String): String = {
    val wh = java.nio.file.Files.createTempDirectory(s"graft_wh_$name").toString
    Seq(spark, s).foreach { ss =>
      ss.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
      ss.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    }
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    wh
  }

  private def hwmOf(wh: String, tbl: String, col: String): Option[Long] = {
    val raw = DeltaLog.snapshot(spark, s"$wh/db/$tbl").schemaJson
      .map(j => DataType.fromJson(j).asInstanceOf[StructType]).get
    GeneratedColumns.identityOf(raw).find(_.name == col).flatMap(_.hwm)
  }

  test("bare-session UPDATE recomputes generated columns; identity survives") {
    val s = bareSession()
    val wh = newCatalog(s, "ngd1")
    spark.sql("""CREATE TABLE ngd1.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY,
                  doc_id BIGINT, n BIGINT,
                  twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    // seed through the extension session's INSERT: the sink allocates ids
    spark.sql("INSERT INTO ngd1.db.t (doc_id, n) " +
      "SELECT id, id * 10 FROM range(1, 9)")
    val before = spark.sql("SELECT doc_id, id FROM ngd1.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // extension-less UPDATE of a generation DEPENDENCY: the native
    // row-level write must recompute `twice` from the post-image
    s.sql("UPDATE ngd1.db.t SET n = n + 5 WHERE doc_id % 2 = 0")
    val rows = s.sql("SELECT doc_id, id, n, twice FROM ngd1.db.t ORDER BY doc_id")
      .collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val (docId, id, n, twice) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(n === docId * 10 + (if (docId % 2 == 0) 5 else 0))
      assert(twice === n * 2, s"generated column stale for doc_id=$docId")
      assert(id === before(docId), "identity values must survive UPDATE")
    }
  }

  test("bare-session UPDATE that changes an identity value refuses per row") {
    val s = bareSession()
    newCatalog(s, "ngd2")
    spark.sql("""CREATE TABLE ngd2.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    spark.sql("INSERT INTO ngd2.db.t (n) SELECT id FROM range(0, 5)")
    val e = intercept[Exception] {
      s.sql("UPDATE ngd2.db.t SET id = 999 WHERE n = 2")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`id`")),
      s"expected the identity-change refusal, got: ${messages(e)}")
    // nothing committed: values intact
    assert(s.sql("SELECT count(*) FROM ngd2.db.t WHERE id = 999")
      .head().getLong(0) === 0L)
  }

  test("bare-session MERGE matched-UPDATE that changes an identity value refuses per row") {
    val s = bareSession()
    newCatalog(s, "ngd2b")
    spark.sql("""CREATE TABLE ngd2b.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    spark.sql("INSERT INTO ngd2b.db.t (n) SELECT id FROM range(0, 5)")
    val e = intercept[Exception] {
      s.sql("""
        MERGE INTO ngd2b.db.t AS t
        USING (SELECT 2L AS n) AS s ON t.n = s.n
        WHEN MATCHED THEN UPDATE SET id = 999""")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`id`")),
      s"expected the identity-change refusal through MERGE, got: ${messages(e)}")
    assert(s.sql("SELECT count(*) FROM ngd2b.db.t WHERE id = 999")
      .head().getLong(0) === 0L)
  }

  test("bare-session MERGE allocates identity, computes generated, advances the mark") {
    val s = bareSession()
    val wh = newCatalog(s, "ngd3")
    spark.sql("""CREATE TABLE ngd3.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY,
                  doc_id BIGINT, n BIGINT,
                  twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ngd3.db.t (doc_id, n) " +
      "SELECT id, id * 10 FROM range(1, 5)")
    val hwm0 = hwmOf(wh, "t", "id").get
    // matched rows update a generation dependency; unmatched insert
    // with NULL identity/generated (the omitted-column form by the time
    // rows reach the writer) must allocate and compute
    s.sql("""
      MERGE INTO ngd3.db.t AS t
      USING (SELECT * FROM VALUES (2L, 7L), (100L, 11L), (101L, 13L)
             AS s(doc_id, n)) AS s
      ON t.doc_id = s.doc_id
      WHEN MATCHED THEN UPDATE SET n = s.n
      WHEN NOT MATCHED THEN
        INSERT (id, doc_id, n, twice) VALUES (NULL, s.doc_id, s.n, NULL)""")
    val got = s.sql("SELECT doc_id, id, n, twice FROM ngd3.db.t ORDER BY doc_id")
      .collect()
    assert(got.length === 6)
    got.foreach(r => assert(r.getLong(3) === r.getLong(2) * 2,
      s"generated column wrong for doc_id=${r.getLong(0)}"))
    assert(got.find(_.getLong(0) == 2L).get.getLong(2) === 7L)
    val ids = got.map(_.getLong(1)).toSeq
    assert(ids.distinct.size === ids.size, "identity ids must stay unique")
    val newIds = got.filter(_.getLong(0) >= 100L).map(_.getLong(1))
    assert(newIds.forall(_ > hwm0),
      s"allocated ids $newIds must land above the prior mark $hwm0")
    val hwm1 = hwmOf(wh, "t", "id").get
    assert(hwm1 >= newIds.max,
      s"the commit must advance the mark to the written extremum " +
        s"(hwm=$hwm1, written max=${newIds.max})")
    // a follow-up extension-session insert allocates above the merge's mark
    spark.sql("INSERT INTO ngd3.db.t (doc_id, n) VALUES (200, 17)")
    val nextId = spark.sql("SELECT id FROM ngd3.db.t WHERE doc_id = 200")
      .head().getLong(0)
    assert(nextId > hwm1)
  }

  test("bare-session MERGE INSERT of explicit values: ALWAYS refuses, BY DEFAULT keeps") {
    val s = bareSession()
    val wh = newCatalog(s, "ngd4")
    spark.sql("""CREATE TABLE ngd4.db.always
                 (id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    spark.sql("INSERT INTO ngd4.db.always (n) VALUES (1)")
    val e = intercept[Exception] {
      s.sql("""
        MERGE INTO ngd4.db.always AS t
        USING (SELECT 5L AS n) AS s ON t.n = s.n
        WHEN NOT MATCHED THEN INSERT (id, n) VALUES (123, s.n)""")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("GENERATED ALWAYS AS IDENTITY")),
      s"expected the explicit-identity refusal, got: ${messages(e)}")

    spark.sql("""CREATE TABLE ngd4.db.bydefault
                 (id BIGINT GENERATED BY DEFAULT AS IDENTITY, n BIGINT)""")
    spark.sql("INSERT INTO ngd4.db.bydefault (n) VALUES (1)")
    s.sql("""
      MERGE INTO ngd4.db.bydefault AS t
      USING (SELECT 5L AS n) AS s ON t.n = s.n
      WHEN NOT MATCHED THEN INSERT (id, n) VALUES (1000, s.n)""")
    assert(s.sql("SELECT id FROM ngd4.db.bydefault WHERE n = 5")
      .head().getLong(0) === 1000L)
    // the explicit value advanced the mark: the next allocation (NULL
    // identity through the native path) must land above it
    assert(hwmOf(wh, "bydefault", "id").exists(_ >= 1000L))
    s.sql("""
      MERGE INTO ngd4.db.bydefault AS t
      USING (SELECT 7L AS n) AS s ON t.n = s.n
      WHEN NOT MATCHED THEN INSERT (id, n) VALUES (NULL, s.n)""")
    assert(s.sql("SELECT id FROM ngd4.db.bydefault WHERE n = 7")
      .head().getLong(0) > 1000L)
  }

  test("bare-session MERGE INSERT with a wrong generated value refuses") {
    val s = bareSession()
    newCatalog(s, "ngd5")
    spark.sql("""CREATE TABLE ngd5.db.t
                 (n BIGINT, twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ngd5.db.t (n) VALUES (1)")
    val e = intercept[Exception] {
      s.sql("""
        MERGE INTO ngd5.db.t AS t
        USING (SELECT 5L AS n) AS s ON t.n = s.n
        WHEN NOT MATCHED THEN INSERT (n, twice) VALUES (s.n, 999)""")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("GENERATED ALWAYS AS column `twice`")),
      s"expected the generated-equality refusal, got: ${messages(e)}")
    // a CORRECT explicit value passes
    s.sql("""
      MERGE INTO ngd5.db.t AS t
      USING (SELECT 6L AS n) AS s ON t.n = s.n
      WHEN NOT MATCHED THEN INSERT (n, twice) VALUES (s.n, 12)""")
    assert(s.sql("SELECT twice FROM ngd5.db.t WHERE n = 6")
      .head().getLong(0) === 12L)
  }

  test("bare-session INSERT OVERWRITE recomputes on generated/identity tables; identity marks stay monotonic") {
    val s = bareSession()
    val wh = newCatalog(s, "ngd7")
    spark.sql("""CREATE TABLE ngd7.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY,
                  n BIGINT, twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ngd7.db.t (n) SELECT id FROM range(0, 20)")
    val hwm0 = hwmOf(wh, "t", "id").get
    // same-schema overwrite through the bare session: Spark NULL-fills
    // the omitted generated/identity columns; the sink computes and
    // allocates — and the mark never moves backwards through the
    // truncation (later allocations must not collide with pre-overwrite
    // ids a reader may still time-travel to)
    s.sql("INSERT OVERWRITE ngd7.db.t (n) SELECT id * 100 FROM range(0, 5)")
    val rows = s.sql("SELECT id, n, twice FROM ngd7.db.t ORDER BY n").collect()
    assert(rows.length === 5)
    rows.foreach(r => assert(r.getLong(2) === r.getLong(1) * 2))
    assert(rows.map(_.getLong(0)).distinct.length === 5)
    assert(rows.map(_.getLong(0)).forall(_ > hwm0),
      "post-overwrite allocations must land above the pre-overwrite mark")
    assert(hwmOf(wh, "t", "id").exists(_ >= hwm0))
  }

  test("streaming sink computes generated columns per epoch; identity tables refuse at start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val r = java.nio.file.Files.createTempDirectory("ngd_stream").toString
    val t = s"$r/t"
    // seed the table (schema with a generated column) via the engine
    spark.sql(s"SELECT CAST(1 AS BIGINT) AS n").createOrReplaceTempView("seed_ngd8")
    DeltaTable.write(
      spark.table("seed_ngd8").sparkSession.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("twice",
            org.apache.spark.sql.types.LongType,
            metadata = new org.apache.spark.sql.types.MetadataBuilder()
              .putString("delta.generationExpression", "n * 2").build())))),
      t, SaveMode.Append)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    // the stream supplies only `n` (twice arrives NULL → computed)
    val q = mem.toDF().toDF("n")
      .withColumn("twice", org.apache.spark.sql.functions
        .lit(null).cast("bigint"))
      .writeStream.format("graft-delta")
      .option("path", t).option("checkpointLocation", s"$r/chk")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData(1L, 2L)
      q.processAllAvailable()
      mem.addData(3L)
      q.processAllAvailable()
    } finally q.stop()
    val got = DeltaTable.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((1L, 2L), (2L, 4L), (3L, 6L)),
      "generated column must compute inside each epoch's writers")
    // identity tables refuse the streaming sink (START-frozen mark
    // would collide across epochs — upstream delta refuses these too)
    val t2 = s"$r/t2"
    newCatalog(spark, "ngd8")
    spark.sql("""CREATE TABLE ngd8.db.ident
                 (id BIGINT GENERATED ALWAYS AS IDENTITY, n BIGINT)""")
    val wh8 = spark.conf.get("spark.sql.catalog.ngd8.warehouse")
    val mem2 = MemoryStream[Long]
    val e = intercept[Exception] {
      val q2 = mem2.toDF().toDF("n")
        .withColumn("id", org.apache.spark.sql.functions
          .lit(null).cast("bigint"))
        .select(org.apache.spark.sql.functions.col("id"),
          org.apache.spark.sql.functions.col("n"))
        .writeStream.format("graft-delta")
        .option("path", s"$wh8/db/ident")
        .option("checkpointLocation", s"$r/chk2")
        .trigger(Trigger.ProcessingTime(0)).start()
      try { mem2.addData(1L); q2.processAllAvailable() } finally q2.stop()
    }
    def messages(x: Throwable): Seq[String] =
      if (x == null) Seq.empty
      else Option(x.getMessage).toSeq ++ messages(x.getCause)
    assert(messages(e).exists(_.contains("identity columns")),
      s"expected the streaming identity refusal, got: ${messages(e)}")
  }

  test("CREATE refuses nondeterministic / self-referential generation expressions") {
    newCatalog(spark, "ngd9")
    val e1 = intercept[Exception] {
      spark.sql("""CREATE TABLE ngd9.db.bad1
                   (n BIGINT, r DOUBLE GENERATED ALWAYS AS (rand()))""")
    }
    // Spark's own analysis refuses first when the statement arrives via
    // SQL ([UNSUPPORTED_EXPRESSION_GENERATED_COLUMN] … not deterministic);
    // the catalog's validation is the backstop for programmatic creates
    assert(Option(e1.getMessage).exists(m =>
        m.contains("nondeterministic") || m.contains("not deterministic")),
      s"expected the determinism refusal, got: $e1")
    val e2 = intercept[Exception] {
      spark.sql("""CREATE TABLE ngd9.db.bad2
                   (n BIGINT, a BIGINT GENERATED ALWAYS AS (n * 2),
                    b BIGINT GENERATED ALWAYS AS (a + 1))""")
    }
    assert(Option(e2.getMessage).exists(m =>
        m.contains("does not resolve") || m.contains("non-generated") ||
          m.contains("another generated column")),
      s"expected the generated-reference refusal, got: $e2")
    val e3 = intercept[Exception] {
      spark.sql("""CREATE TABLE ngd9.db.bad3
                   (id BIGINT GENERATED ALWAYS AS IDENTITY,
                    c BIGINT GENERATED ALWAYS AS (id + 1))""")
    }
    assert(Option(e3.getMessage).exists(m =>
        m.contains("does not resolve") || m.contains("non-generated") ||
          m.contains("generation expression")),
      s"expected the identity-reference refusal, got: $e3")
    // neither table exists after the refusals; a valid one still creates
    assert(spark.sql("SHOW TABLES IN ngd9.db").count() === 0)
    spark.sql("""CREATE TABLE ngd9.db.ok
                 (n BIGINT, t BIGINT GENERATED ALWAYS AS (n * 2 + 1))""")
    spark.sql("INSERT INTO ngd9.db.ok (n) VALUES (3)")
    assert(spark.sql("SELECT t FROM ngd9.db.ok").head().getLong(0) === 7L)
  }

  test("bare-session UPDATE that assigns a generated column refuses per row") {
    // round 14: the native path enforces the engine's statement-level
    // `SET gen = …` refusal per row via pre-image metadata — post != pre
    // is exactly "the SET assigned this column"; an untouched column
    // (post == pre, stale or not) keeps recomputing silently
    val s = bareSession()
    newCatalog(s, "ngd10")
    spark.sql("""CREATE TABLE ngd10.db.t
                 (n BIGINT, twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ngd10.db.t (n) VALUES (1), (2)")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // a constant assignment prunes the base column from the scan — the
    // reader's pre-image require IS the refusal there
    val e = intercept[Exception] {
      s.sql("UPDATE ngd10.db.t SET twice = 999 WHERE n = 1")
    }
    assert(messages(e).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`twice`")),
      s"expected the generated-assignment refusal, got: ${messages(e)}")
    // nothing committed
    assert(s.sql("SELECT count(*) FROM ngd10.db.t WHERE twice = 999")
      .head().getLong(0) === 0L)
    // a self-referencing assignment keeps the base column in the scan —
    // the WRITER's per-row pre-image guard refuses (post != pre)
    val e1 = intercept[Exception] {
      s.sql("UPDATE ngd10.db.t SET twice = twice + 1 WHERE n = 1")
    }
    assert(messages(e1).exists(_.contains("generated column `twice`")),
      s"expected the per-row writer refusal, got: ${messages(e1)}")
    // a dependency update still recomputes silently (stale carry-over)
    s.sql("UPDATE ngd10.db.t SET n = 10 WHERE n = 2")
    assert(s.sql("SELECT twice FROM ngd10.db.t WHERE n = 10")
      .head().getLong(0) === 20L)
    // MERGE matched-UPDATE assigning the generated column refuses too
    val e2 = intercept[Exception] {
      s.sql("""
        MERGE INTO ngd10.db.t AS t
        USING (SELECT 1 AS n) AS srcm ON t.n = srcm.n
        WHEN MATCHED THEN UPDATE SET twice = 555""")
    }
    assert(messages(e2).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`twice`")),
      s"expected the refusal through MERGE, got: ${messages(e2)}")
    assert(s.sql("SELECT twice FROM ngd10.db.t WHERE n = 1")
      .head().getLong(0) === 2L)
  }

  test("extension session takes generated/identity DML natively") {
    // one SQL DML route: with GraftExtensions registered the catalog
    // hands out the same row-level table, so the refusals are the
    // native per-row ones (raised in a task — read the cause chain) and
    // dependency updates recompute exactly as in a bare session
    val wh = newCatalog(spark, "ngd6")
    spark.sql("""CREATE TABLE ngd6.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY,
                  n BIGINT, twice BIGINT GENERATED ALWAYS AS (n * 2))""")
    spark.sql("INSERT INTO ngd6.db.t (n) VALUES (1), (2)")
    def idsByN(): Map[Long, Long] = spark.sql("SELECT n, id FROM ngd6.db.t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids0 = idsByN()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val v0 = DeltaLog.snapshot(spark, s"$wh/db/t").version
    val e = intercept[Exception] {
      spark.sql("UPDATE ngd6.db.t SET twice = 999 WHERE n = 1")
    }
    assert(messages(e).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`twice`")),
      s"expected the generated-assignment refusal, got: ${messages(e)}")
    val e1 = intercept[Exception] {
      spark.sql("UPDATE ngd6.db.t SET twice = twice + 1 WHERE n = 1")
    }
    assert(messages(e1).exists(_.contains("generated column `twice`")),
      s"expected the per-row writer refusal, got: ${messages(e1)}")
    val e2 = intercept[Exception] {
      spark.sql("""
        MERGE INTO ngd6.db.t AS t
        USING (SELECT 1 AS n) AS srcm ON t.n = srcm.n
        WHEN MATCHED THEN UPDATE SET twice = 555""")
    }
    assert(messages(e2).exists(m =>
        m.contains("cannot UPDATE") && m.contains("`twice`")),
      s"expected the refusal through MERGE, got: ${messages(e2)}")
    assert(DeltaLog.snapshot(spark, s"$wh/db/t").version === v0,
      "a refused statement must commit nothing")
    // per row, not per statement: a no-op identity assignment and a
    // generated assignment that matches no row both commit quietly
    spark.sql("UPDATE ngd6.db.t SET id = id WHERE n = 1")
    spark.sql("UPDATE ngd6.db.t SET twice = twice + 1 WHERE n % 7 = 5")
    spark.sql("UPDATE ngd6.db.t SET n = n + 1 WHERE n = 2")
    assert(spark.sql("SELECT n, twice FROM ngd6.db.t ORDER BY n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L), (3L, 6L)))
    assert(idsByN() === Map(1L -> ids0(1L), 3L -> ids0(2L)))
  }

  test("extension-session MERGE INSERT allocates identity ids") {
    // the DataFrame mergeInto refuses identity inserts (no allocation
    // machinery); SQL MERGE takes the row-level write, which allocates
    // from the high-water mark and advances it in the same commit
    val wh = newCatalog(spark, "ngd11")
    spark.sql("""CREATE TABLE ngd11.db.t
                 (id BIGINT GENERATED ALWAYS AS IDENTITY,
                  k BIGINT, twice BIGINT GENERATED ALWAYS AS (k * 2))""")
    spark.sql("INSERT INTO ngd11.db.t (k) SELECT id FROM range(1, 4)")
    val before = spark.sql("SELECT id FROM ngd11.db.t")
      .collect().map(_.getLong(0)).toSet
    val hwm0 = hwmOf(wh, "t", "id").get
    spark.sql("""
      MERGE INTO ngd11.db.t AS t
      USING (SELECT id AS k FROM range(2, 7)) AS s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""")
    val rows = spark.sql("SELECT k, id, twice FROM ngd11.db.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.map(_._1) === (1L to 6L))
    rows.foreach { case (k, _, twice) => assert(twice === k * 2) }
    val ids = rows.map(_._2)
    assert(ids.distinct.size === ids.size, s"identity ids must be distinct: $ids")
    assert(rows.filter(_._1 <= 3L).map(_._2).toSet === before,
      "existing ids must survive the MERGE")
    val newIds = rows.filter(_._1 > 3L).map(_._2)
    assert(newIds.forall(_ > hwm0),
      s"MERGE-inserted ids $newIds must land above the prior mark $hwm0")
    assert(hwmOf(wh, "t", "id").exists(_ >= newIds.max),
      "the MERGE commit must advance the mark")
  }
}
