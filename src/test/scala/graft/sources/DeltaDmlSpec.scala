package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, concat, length, lit, pmod, upper}

import graft.SparkSpec
import graft.sources.delta.DeltaLog.{AddFile, FileStats}

/** Row-level DML (DELETE / UPDATE) and the Change Data Feed over the
  * from-scratch Delta log, plus the generic predicate-vs-stats skipping
  * engine behind their candidate selection. The reference consumes CDC
  * (Debezium envelopes, `SaveDelta.scala`); these close the loop by
  * PRODUCING row-level change feeds from the table side. */
class DeltaDmlSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("delta_dml").toString + "/t"

  private def rows(t: String): Set[(Int, String)] =
    DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet

  /** Run `body` with the session CDF flag on, restoring it after —
    * the spec session is shared across suites. */
  private def withCdf[A](body: => A): A =
    try { spark.conf.set("spark.graft.delta.changeDataFeed", "true"); body }
    finally spark.conf.unset("spark.graft.delta.changeDataFeed")

  // ---------------------------------------------------------------- DML

  test("delete rewrites only files whose stats straddle the predicate") {
    val t = tmp()
    // two appends → two disjoint-range files
    DeltaTable.write((1 to 5).map(i => (i, s"a$i")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write((100 to 105).map(i => (i, s"b$i")).toDF("id", "s"), t, SaveMode.Append)
    val before = DeltaLog.snapshot(spark, t)
    val lowFiles = before.files.filter(_.stats.exists(_.maxValues("id") < 100L))
      .map(_.path).toSet
    assert(lowFiles.nonEmpty, "low-range files must carry id stats")
    DeltaTable.delete(spark, t, col("id") >= 100)
    assert(rows(t) === (1 to 5).map(i => (i, s"a$i")).toSet)
    // the low-range files were provably unaffected: same paths survive
    // in the new snapshot, and the DELETE commit never removed them
    val after = DeltaLog.snapshot(spark, t)
    assert(lowFiles.subsetOf(after.files.map(_.path).toSet),
      "stats-pruned files must carry over untouched, not be rewritten")
    val dmlCommit = DeltaLog.readCommit(spark, t, after.version)
    assert(dmlCommit.removes.map(_.path).toSet.intersect(lowFiles).isEmpty)
    assert(dmlCommit.operation.contains("DELETE"))
  }

  test("delete keeps rows where the predicate evaluates NULL (SQL DML truth)") {
    val t = tmp()
    DeltaTable.write(Seq((1, "keep"), (2, null), (3, "drop")).toDF("id", "s"),
      t, SaveMode.Append)
    DeltaTable.delete(spark, t, col("s") === "drop")
    // row 2's predicate is NULL === 'drop' → NULL → NOT deleted
    assert(rows(t) === Set((1, "keep"), (2, null)))
  }

  test("a delete that matches nothing commits nothing") {
    val t = tmp()
    DeltaTable.write((1 to 10).map(i => (i, "x")).toDF("id", "s"), t, SaveMode.Append)
    val v0 = DeltaLog.snapshot(spark, t).version
    // stats-provably-empty: every file's bounds exclude the range
    DeltaTable.delete(spark, t, col("id") > 1000)
    assert(DeltaLog.snapshot(spark, t).version === v0, "skipped via stats")
    // stats-conservative but truly empty: unknown predicate shape forces
    // a read; zero matches must still commit nothing
    DeltaTable.delete(spark, t, col("id") % 20 === 15)
    assert(DeltaLog.snapshot(spark, t).version === v0, "no-op after read")
    assert(rows(t).size === 10)
  }

  test("update rewrites matched rows, casts values, leaves the schema fixed") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "s"),
      t, SaveMode.Append)
    DeltaTable.update(spark, t, col("id") >= 2,
      Map("s" -> upper(concat(col("s"), lit("!"))), "id" -> (col("id") + 100)))
    assert(rows(t) === Set((1, "a"), (102, "B!"), (103, "C!")))
    // value column casts to the DECLARED type: long expr → int column
    val sch = DeltaTable.read(spark, t).schema
    assert(sch("id").dataType.catalogString === "int")
    assert(DeltaLog.readCommit(spark, t,
      DeltaLog.snapshot(spark, t).version).operation.contains("UPDATE"))
  }

  test("update refuses unknown and partition-column assignments") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a", "p1")).toDF("id", "s", "p"), t,
      SaveMode.Append, partitionBy = Seq("p"))
    val e1 = intercept[IllegalArgumentException] {
      DeltaTable.update(spark, t, col("id") === 1, Map("nope" -> lit(1)))
    }
    assert(e1.getMessage.contains("unknown columns"))
    val e2 = intercept[IllegalArgumentException] {
      DeltaTable.update(spark, t, col("id") === 1, Map("p" -> lit("p2")))
    }
    assert(e2.getMessage.contains("partition columns"))
    intercept[IllegalArgumentException] {
      DeltaTable.update(spark, t, col("id") === 1, Map.empty)
    }
  }

  test("DML on a partitioned table re-stages rewrites into their hive dirs") {
    val t = tmp()
    val df = (1 to 20).map(i => (i, s"v$i", s"p${i % 2}")).toDF("id", "s", "p")
    DeltaTable.write(df, t, SaveMode.Append, partitionBy = Seq("p"))
    DeltaTable.delete(spark, t, col("id") <= 4)
    DeltaTable.update(spark, t, col("id") === 5, Map("s" -> lit("five")))
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val want = (5 to 20).map(i =>
      (i, if (i == 5) "five" else s"v$i", s"p${i % 2}")).toSet
    assert(got === want)
    // partition pruning still works over the rewritten files
    val p1 = DeltaTable.readWhere(spark, t, col("p") === "p1").collect()
      .map(_.getInt(0)).toSet
    assert(p1 === (5 to 19 by 2).toSet)
  }

  test("escapable partition values: actions store LOGICAL values; pruning and DML match them") {
    val t = tmp()
    // ':' and ' ' and a literal '%3A' are all path-escaped by the
    // writer; the protocol stores the LOGICAL value in partitionValues
    val df = Seq((1, "a:b"), (2, "a:b"), (3, "c d"), (4, "plain"), (5, "x%3Ay"))
      .toDF("id", "lang")
    DeltaTable.write(df, t, SaveMode.Append, partitionBy = Seq("lang"))
    val s0 = DeltaLog.snapshot(spark, t)
    val stored = s0.files.flatMap(_.partitionValues.get("lang")).toSet
    assert(stored === Set("a:b", "c d", "plain", "x%3Ay"),
      "add actions must carry logical (unescaped) partition values")
    // the file PATH stays escaped (that's where escaping belongs)
    assert(s0.files.exists(_.path.startsWith("lang=a%3Ab/")))
    assert(s0.files.exists(_.path.startsWith("lang=x%253Ay/")))
    // predicate-pruned read finds the escapable partition
    assert(DeltaTable.readWhere(spark, t, col("lang") === "a:b")
      .collect().map(_.getInt(0)).toSet === Set(1, 2))
    // the readback restores the LOGICAL value as the column value
    assert(DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ===
      Set((1, "a:b"), (2, "a:b"), (3, "c d"), (4, "plain"), (5, "x%3Ay")))
    // the r8 data-loss shape: DELETE WHERE lang != 'a:b' must NOT drop
    // the a:b file (escaped-vs-logical comparison made it definite-true)
    DeltaTable.delete(spark, t, col("lang") =!= "a:b")
    assert(rows(t) === Set((1, "a:b"), (2, "a:b")))
    // and DELETE WHERE lang = 'a:b' must actually hit its partition
    DeltaTable.delete(spark, t, col("lang") === "a:b")
    assert(rows(t) === Set.empty[(Int, String)])
    // the equality delete was metadata-only: its commit removed files
    // without staging rewrites (definite-true partition match)
    val last = DeltaLog.readCommit(spark, t, DeltaLog.snapshot(spark, t).version)
    assert(last.removes.nonEmpty && last.adds.isEmpty)
  }

  // ---------------------------------------------------- change data feed

  test("CDF delete: precise deleted rows under the flag, by commit version") {
    val t = tmp()
    DeltaTable.write((1 to 6).map(i => (i, s"r$i")).toDF("id", "s"), t, SaveMode.Append)
    withCdf { DeltaTable.delete(spark, t, col("id") % 2 === 0) }
    val v = DeltaLog.snapshot(spark, t).version
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v)).collect()
    assert(feed.map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type"),
      r.getAs[Long]("_commit_version"))).toSet ===
      Set((2, "delete", v), (4, "delete", v), (6, "delete", v)))
    // ONLY the deleted rows — survivors of the rewritten file don't leak
    assert(feed.length === 3)
    // the cdc files never pollute snapshot reads
    assert(rows(t) === Set((1, "r1"), (3, "r3"), (5, "r5")))
  }

  test("CDF update: preimage and postimage rows pair up per key") {
    val t = tmp()
    DeltaTable.write(Seq((1, "old1"), (2, "old2"), (3, "same")).toDF("id", "s"),
      t, SaveMode.Append)
    withCdf {
      DeltaTable.update(spark, t, col("id") <= 2, Map("s" -> upper(col("s"))))
    }
    val v = DeltaLog.snapshot(spark, t).version
    val feed = DeltaTable.readChangeFeed(spark, t, v).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed === Set(
      (1, "old1", "update_preimage"), (1, "OLD1", "update_postimage"),
      (2, "old2", "update_preimage"), (2, "OLD2", "update_postimage")))
  }

  test("CDF without the flag derives file-level changes; maintenance commits are silent") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((3, "c")).toDF("id", "s"), t, SaveMode.Append)
    // maintenance: compaction is dataChange=false on both sides
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue)
    val feed = DeltaTable.readChangeFeed(spark, t, 0).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(feed === Set((1, "insert", 0L), (2, "insert", 0L), (3, "insert", 1L)),
      "appends derive inserts; the compaction commit contributes nothing")
    // an overwrite without the flag surfaces as delete+insert of the sets
    DeltaTable.write(Seq((9, "z")).toDF("id", "s"), t, SaveMode.Overwrite)
    val v = DeltaLog.snapshot(spark, t).version
    val ow = DeltaTable.readChangeFeed(spark, t, v).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type"))).toSet
    assert(ow === Set((1, "delete"), (2, "delete"), (3, "delete"), (9, "insert")))
  }

  test("CDF refuses ranges the log or vacuum no longer retains — never drops changes") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((2, "b")).toDF("id", "s"), t, SaveMode.Overwrite)
    intercept[IllegalArgumentException] {
      DeltaTable.readChangeFeed(spark, t, 0, Some(99)) // beyond head
    }
    // before vacuum the whole range derives fine
    assert(DeltaTable.readChangeFeed(spark, t, 0).collect()
      .map(r => (r.getAs[Int]("id"), r.getAs[String]("_change_type"))).toSet ===
      Set((1, "insert"), (1, "delete"), (2, "insert")))
    // reclaim v0's file (tombstoned by the overwrite): BOTH its derived
    // insert (v0) and its derived delete (v1) are now unreadable
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) >= 1)
    val e = intercept[IllegalArgumentException] {
      DeltaTable.readChangeFeed(spark, t, 1, Some(1))
    }
    assert(e.getMessage.contains("vacuumed"))
    intercept[IllegalArgumentException] {
      DeltaTable.readChangeFeed(spark, t, 0, Some(0))
    }
  }

  test("CDF NULL-fills across a mergeSchema evolution inside the range") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((2, "b", 7L)).toDF("id", "s", "extra"), t,
      SaveMode.Append, mergeSchema = true)
    val feed = DeltaTable.readChangeFeed(spark, t, 0).collect()
      .map(r => (r.getAs[Int]("id"),
        Option(r.getAs[java.lang.Long]("extra")).map(_.toLong))).toSet
    assert(feed === Set((1, None), (2, Some(7L))))
  }

  // -------------------------------------------------- skipping evaluator

  private val stats = FileStats(numRecords = 10L,
    minValues = Map("id" -> 5L), maxValues = Map("id" -> 20L),
    minStrings = Map("s" -> "bb"), maxStrings = Map("s" -> "dd"),
    nullCounts = Map("id" -> 0L, "s" -> 3L, "t" -> 10L))
  private val file = AddFile("f.parquet", 1L, stats = Some(stats))

  // the table schema skipping predicates resolve against; `id` is LONG
  // so integer literals exercise the cast-folding in resolvePredicate
  private val skipSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, s STRING, t STRING, u INT, k BIGINT")

  private def may(c: org.apache.spark.sql.Column): Boolean =
    DataSkipping.mayMatch(file,
      DataSkipping.resolvePredicate(spark, skipSchema, c))

  test("skipping: comparison bounds over the long domain") {
    assert(!may(col("id") === 4) && may(col("id") === 5) && may(col("id") === 13))
    assert(!may(col("id") < 5) && may(col("id") < 6))
    assert(!may(col("id") > 20) && may(col("id") >= 20))
    assert(!may(lit(21) <= col("id")) && may(lit(20) <= col("id")),
      "literal-on-the-left normalizes")
    assert(!may(col("id") === 4 || col("id") > 30) && may(col("id") === 4 || col("id") > 10))
    assert(may(col("id") > 10 && col("id") < 15))
    assert(!may(col("id") > 25 && col("id") < 15), "one provably-empty AND leg skips")
    assert(!may(col("id").isin(1, 2, 3)) && may(col("id").isin(1, 2, 13)))
  }

  test("skipping: string bounds, byte order, prefixes") {
    assert(!may(col("s") === "aa") && may(col("s") === "cc") && !may(col("s") === "ee"))
    assert(!may(col("s") < "bb") && may(col("s") <= "bb"))
    assert(may(col("s").startsWith("b")) && may(col("s").startsWith("d")))
    assert(!may(col("s").startsWith("a")) && !may(col("s").startsWith("e")),
      "prefix interval wholly outside [min,max] skips")
    assert(may(col("s").startsWith("bb")) && !may(col("s").startsWith("dd~")),
      "startsWith longer than max can still skip")
  }

  test("skipping: IS NULL soundness rides on recorded null counts") {
    assert(!may(col("id").isNull), "0 recorded nulls proves no NULL row")
    assert(may(col("s").isNull) && may(col("s").isNotNull))
    assert(!may(col("t").isNotNull), "all-null column proves no non-NULL row")
    // a column with NO recorded null count is always conservative
    assert(may(col("u").isNull) && may(col("u").isNotNull))
  }

  test("skipping: NOT pushes through by operator negation") {
    assert(!may(!(col("id") >= 5)), "NOT(id>=5) ≡ id<5 — provably empty")
    assert(!may(!(col("id") <= 30 && col("id") >= 0)),
      "De Morgan: NOT(AND) → OR of provably-empty halves")
    assert(may(!(col("id") === 13)), "some value may differ")
    val allSame = AddFile("g.parquet", 1L, stats = Some(FileStats(5L,
      Map("k" -> 7L), Map("k" -> 7L))))
    assert(!DataSkipping.mayMatch(allSame,
      DataSkipping.resolvePredicate(spark, skipSchema, !(col("k") === 7))),
      "min==max==v proves every non-null value equals v")
  }

  test("skipping: unknown shapes, stat-less columns, and NULL literals stay conservative") {
    assert(may(col("id") % 2 === 0), "arithmetic on the column: no bounds reasoning")
    assert(may(length(col("s")) > 1))
    assert(may(col("u") === 5), "no stats for the column")
    assert(may(upper(col("s")) === "CC"))
    assert(!may(col("id") === lit(null)), "= NULL matches nothing")
    assert(may(col("s") <=> lit(null)), "null-safe eq vs recorded nulls")
    assert(!may(col("id") <=> lit(null)), "0 nulls → <=> NULL provably empty")
    val statless = AddFile("h.parquet", 1L, stats = None)
    assert(DataSkipping.mayMatch(statless,
      org.apache.spark.sql.graft.ColumnBridge.expression(col("id") === -1)),
      "a stats-less file is always a candidate")
  }

  // ------------------------------------ partition-valued skipping (r8)

  test("skipping: partitionValues enter as exact min==max bounds, typed by the schema") {
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lang STRING, n INT, d DATE")
    def mayP(f: AddFile, c: org.apache.spark.sql.Column): Boolean =
      DataSkipping.mayMatchWithPartitions(f,
        DataSkipping.resolvePredicate(spark, pSchema, c), pSchema)
    // stats-less file still prunes on its partition values alone
    val fr = AddFile("lang=fr/a.parquet", 1L, stats = None,
      partitionValues = Map("lang" -> "fr"))
    assert(mayP(fr, col("lang") === "fr"))
    assert(!mayP(fr, col("lang") === "de"), "other partitions provably excluded")
    assert(!mayP(fr, col("lang") > "fr") && mayP(fr, col("lang") >= "fr"))
    assert(mayP(fr, col("id") === 5), "data columns stay conservative without stats")
    // integral partition values compare numerically
    val n7 = AddFile("n=7/a.parquet", 1L, stats = None,
      partitionValues = Map("n" -> "7"))
    assert(mayP(n7, col("n") === 7) && !mayP(n7, col("n") > 7) && mayP(n7, col("n") >= 7))
    // date partition values parse to epoch days (DateType literals)
    val d = AddFile("d=2024-01-15/a.parquet", 1L, stats = None,
      partitionValues = Map("d" -> "2024-01-15"))
    assert(mayP(d, col("d") === java.sql.Date.valueOf("2024-01-15")))
    assert(!mayP(d, col("d") === java.sql.Date.valueOf("2024-01-16")))
    // the hive null sentinel: every row's partition value is NULL
    val nul = AddFile("lang=__HIVE_DEFAULT_PARTITION__/a.parquet", 1L,
      stats = None,
      partitionValues = Map("lang" -> "__HIVE_DEFAULT_PARTITION__"))
    assert(mayP(nul, col("lang").isNull) && !mayP(nul, col("lang").isNotNull))
    assert(!mayP(nul, col("lang") === "fr"), "NULL partition matches no equality")
    // partition bounds AND footer stats compose
    val both = AddFile("lang=fr/b.parquet", 1L,
      stats = Some(FileStats(5L, Map("id" -> 10L), Map("id" -> 20L))),
      partitionValues = Map("lang" -> "fr"))
    assert(!mayP(both, col("lang") === "fr" && col("id") > 20L))
    assert(mayP(both, col("lang") === "fr" && col("id") >= 20L))
  }

  test("DELETE keyed on a partition column rewrites only that partition") {
    val t = tmp()
    val df = Seq((1, "fr"), (2, "de"), (3, "fr"), (4, "de"), (5, "es"))
      .toDF("id", "lang")
    DeltaTable.write(df, t, SaveMode.Append, partitionBy = Seq("lang"))
    val before = DeltaLog.snapshot(spark, t)
    val otherFiles = before.files
      .filterNot(_.partitionValues.get("lang").contains("fr")).map(_.path).toSet
    assert(otherFiles.nonEmpty)
    DeltaTable.delete(spark, t, col("lang") === "fr")
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(2, 4, 5))
    val after = DeltaLog.snapshot(spark, t)
    assert(otherFiles.subsetOf(after.files.map(_.path).toSet),
      "non-fr partitions must carry over by path, not be rewritten")
    val c = DeltaLog.readCommit(spark, t, after.version)
    assert(c.removes.map(_.path).toSet.intersect(otherFiles).isEmpty,
      "a partition-keyed DELETE must not remove other partitions' files")
  }

  test("per-file match check: straddling candidates without real matches carry over") {
    val t = tmp()
    // two files; the predicate's shape defeats stats (conservative), but
    // only file A contains a matching row
    DeltaTable.write(Seq((1, "a"), (3, "a"), (13, "a")).toDF("id", "s"),
      t, SaveMode.Append)
    DeltaTable.write(Seq((100, "b"), (101, "b"), (102, "b")).toDF("id", "s"),
      t, SaveMode.Append)
    val before = DeltaLog.snapshot(spark, t)
    val bFiles = before.files
      .filter(_.stats.exists(_.minValues("id") >= 100L)).map(_.path).toSet
    assert(bFiles.nonEmpty)
    DeltaTable.delete(spark, t, col("id") % 10 === 3)
    assert(rows(t) === Set((1, "a"), (100, "b"), (101, "b"), (102, "b")))
    val after = DeltaLog.snapshot(spark, t)
    assert(bFiles.subsetOf(after.files.map(_.path).toSet),
      "candidates the probe proves clean must carry over untouched")
    val c = DeltaLog.readCommit(spark, t, after.version)
    assert(c.removes.map(_.path).toSet.intersect(bFiles).isEmpty)
  }

  // ----------------------------------------- CDF on partitions + merge

  test("partitioned CDF: cdc actions carry partitionValues; the feed restores partition columns") {
    val t = tmp()
    DeltaTable.write(
      Seq((1, "fr"), (2, "de"), (3, "fr")).toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    withCdf { DeltaTable.delete(spark, t, col("lang") === "fr") }
    val v = DeltaLog.snapshot(spark, t).version
    val c = DeltaLog.readCommit(spark, t, v)
    assert(c.cdcFiles.nonEmpty, "the flag must stage precise change files")
    assert(c.cdcFiles.forall(f => f.partitionValues.get("lang").contains("fr")
        && f.path.startsWith("_change_data/lang=fr/")),
      s"cdc actions must carry hive dirs + partitionValues: ${c.cdcFiles}")
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v))
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("lang"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed === Set((1, "fr", "delete"), (3, "fr", "delete")))
  }

  test("merge CDF: preimage/postimage/insert rows under the flag") {
    val t = tmp()
    DeltaTable.write(Seq((1, "old1"), (2, "old2")).toDF("id", "s"),
      t, SaveMode.Append)
    withCdf {
      DeltaTable.merge(Seq((2, "new2"), (3, "new3")).toDF("id", "s"), t, "id")
    }
    val v = DeltaLog.snapshot(spark, t).version
    assert(DeltaLog.readCommit(spark, t, v).cdcFiles.nonEmpty)
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v))
      .collect().map(r => (r.getAs[Int]("id"), r.getAs[String]("s"),
        r.getAs[String]("_change_type"))).toSet
    assert(feed === Set(
      (2, "old2", "update_preimage"), (2, "new2", "update_postimage"),
      (3, "new3", "insert")),
      s"got $feed")
    assert(rows(t) === Set((1, "old1"), (2, "new2"), (3, "new3")))
  }

  test("merge keyed on a partition column prunes other partitions from the log alone") {
    val t = tmp()
    DeltaTable.write(
      Seq(("fr", 1.0), ("de", 2.0), ("es", 3.0)).toDF("lang", "v"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    val before = DeltaLog.snapshot(spark, t)
    val others = before.files
      .filterNot(_.partitionValues.get("lang").contains("fr")).map(_.path).toSet
    DeltaTable.merge(Seq(("fr", 9.0), ("it", 4.0)).toDF("lang", "v"), t, "lang")
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got === Set(("fr", 9.0), ("de", 2.0), ("es", 3.0), ("it", 4.0)))
    val after = DeltaLog.snapshot(spark, t)
    assert(others.subsetOf(after.files.map(_.path).toSet))
    val c = DeltaLog.readCommit(spark, t, after.version)
    assert(c.removes.map(_.path).toSet.intersect(others).isEmpty,
      "a partition-keyed merge must not rewrite other partitions")
  }

  // -------------------------------------- table properties + timestamps

  test("delta.enableChangeDataFeed as a TABLE property enables capture; session conf overrides") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    assert(DeltaLog.snapshot(spark, t).configuration
      .get("delta.enableChangeDataFeed").contains("true"))
    // no session conf: the property alone turns capture on
    DeltaTable.delete(spark, t, col("id") === 1)
    val v1 = DeltaLog.snapshot(spark, t).version
    assert(DeltaLog.readCommit(spark, t, v1).cdcFiles.nonEmpty,
      "the table property must be discoverable by the writer")
    // session conf set to false OVERRIDES the table property
    try {
      spark.conf.set("spark.graft.delta.changeDataFeed", "false")
      DeltaTable.delete(spark, t, col("id") === 2)
      val v2 = DeltaLog.snapshot(spark, t).version
      assert(DeltaLog.readCommit(spark, t, v2).cdcFiles.isEmpty)
    } finally spark.conf.unset("spark.graft.delta.changeDataFeed")
  }

  test("table properties survive schema evolution and checkpoints") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    // mergeSchema evolution re-emits metaData — properties must ride along
    DeltaTable.write(Seq((2, "b", 7.5)).toDF("id", "s", "score"), t,
      SaveMode.Append, mergeSchema = true)
    assert(DeltaLog.snapshot(spark, t).configuration
      .get("delta.enableChangeDataFeed").contains("true"),
      "schema evolution must not strip table properties")
    // checkpoint round-trip: a checkpoint-seeded snapshot keeps them
    DeltaLog.checkpoint(spark, t)
    assert(DeltaLog.snapshot(spark, t).configuration
      .get("delta.enableChangeDataFeed").contains("true"),
      "checkpoints must persist metaData configuration")
  }

  test("partitionPredicateValue: definite fold over partition literals") {
    val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, lang STRING, n INT")
    val parts = Seq("lang", "n")
    def defVal(f: AddFile, c: org.apache.spark.sql.Column): Option[Boolean] =
      DataSkipping.partitionPredicateValue(f,
        DataSkipping.resolvePredicate(spark, pSchema, c), pSchema, parts)
    val f = AddFile("lang=fr/n=7/a.parquet", 1L, stats = None,
      partitionValues = Map("lang" -> "fr", "n" -> "7"))
    assert(defVal(f, col("lang") === "fr").contains(true))
    assert(defVal(f, col("lang") === "de").contains(false))
    assert(defVal(f, col("lang") === "fr" && col("n") < 10).contains(true))
    assert(defVal(f, col("lang") === "fr" && col("n") > 10).contains(false))
    assert(defVal(f, col("lang").isin("fr", "es")).contains(true))
    // data-column reference: NOT definite — the caller must probe
    assert(defVal(f, col("lang") === "fr" && col("id") > 0).isEmpty)
    // NULL partition folds comparisons to NULL → definitely unmatched
    val nul = AddFile("lang=__HIVE_DEFAULT_PARTITION__/n=7/a.parquet", 1L,
      stats = None,
      partitionValues = Map("lang" -> "__HIVE_DEFAULT_PARTITION__", "n" -> "7"))
    assert(defVal(nul, col("lang") === "fr").contains(false))
    assert(defVal(nul, col("lang").isNull).contains(true))
  }

  test("a pure partition-predicate DELETE is metadata-only: removes, no rewrites") {
    val t = tmp()
    DeltaTable.write(
      Seq((1, "fr"), (2, "de"), (3, "fr"), (4, "es")).toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    val before = DeltaLog.snapshot(spark, t)
    val frFiles = before.files
      .filter(_.partitionValues.get("lang").contains("fr")).map(_.path).toSet
    assert(frFiles.nonEmpty)
    DeltaTable.delete(spark, t, col("lang") === "fr")
    val after = DeltaLog.snapshot(spark, t)
    val c = DeltaLog.readCommit(spark, t, after.version)
    assert(c.removes.map(_.path).toSet === frFiles,
      "the whole fr partition drops by remove actions alone")
    assert(c.adds.isEmpty,
      "a pure partition delete must stage NO rewritten files — zero data IO")
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(2, 4))
  }

  test("readWhere prunes on stats AND partitions; unsupported shapes degrade to a scan") {
    val t = tmp()
    DeltaTable.write(
      Seq((1, "fr"), (2, "fr"), (10, "de"), (11, "de"), (20, "es"))
        .toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    // partition + stats predicate: only the de files open
    val de = DeltaTable.readWhere(spark, t, col("lang") === "de" && col("id") >= 10)
    assert(de.collect().map(_.getInt(0)).toSet === Set(10, 11))
    assert(de.inputFiles.forall(_.contains("lang=de")),
      s"readWhere must not open pruned partitions: ${de.inputFiles.toSeq}")
    // stats-only predicate on the data column skips files whose bounds exclude it
    val high = DeltaTable.readWhere(spark, t, col("id") >= 20)
    assert(high.collect().map(_.getInt(0)).toSet === Set(20))
    assert(high.inputFiles.forall(_.contains("lang=es")))
    // unsupported shape: full scan, right answer
    val odd = DeltaTable.readWhere(spark, t, pmod(col("id"), lit(2)) === 1)
    assert(odd.collect().map(_.getInt(0)).toSet === Set(1, 11))
  }

  test("commits without commitInfo stamp the log file's mtime, not 1970") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    // an externally-written commit: no commitInfo action at all
    val head = DeltaLog.snapshot(spark, t)
    assert(DeltaLog.commit(spark, t, head.version + 1,
      Seq(DeltaLog.txnAction("external-app", 1L))))
    val h = DeltaTable.describeHistory(spark, t).head
    assert(h.operation === "UNKNOWN")
    assert(h.timestampMs > 1577836800000L,
      s"commitInfo-less commits must fall back to file mtime, got ${h.timestampMs}")
  }
}
