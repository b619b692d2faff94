package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.sources.delta.DeltaTable.src

/** Multi-clause MERGE ([[DeltaTable.mergeInto]]): ordered conditional
  * WHEN MATCHED UPDATE/DELETE and WHEN NOT MATCHED INSERT clauses over
  * the from-scratch log — delta-spark's `whenMatched(cond)` builder
  * semantics, which the reference's CDC upsert pipeline would use for
  * in-place deletes (`SaveDelta.scala:160` approximates them by
  * append). */
class DeltaMergeIntoSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("delta_mi").toString + "/t"

  private def rows(t: String): Set[(Long, String, Long)] =
    DeltaTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  // nullable columns (Option) — the NOT NULL column invariant is pinned
  // separately; these suites exercise NULL-flow semantics
  private def base(t: String): Unit =
    DeltaTable.write(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .map { case (i, s, n) => (Some(i), s, Some(n)) }
        .toDF("id", "s", "n"),
      t, SaveMode.Append)

  test("conditional update + delete + conditional insert, clause order wins") {
    val t = tmp()
    base(t)
    // source hits 1 (update), 2 (delete via condition), 5+6 (insert, one gated)
    val source = Seq((1L, "u1", 100L), (2L, "u2", 200L),
      (5L, "new5", 500L), (6L, "new6", 9L)).toDF("id", "s", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(
        // first clause: delete when the SOURCE n is big
        MergeClause.Delete(Some(src("n") >= 200L)),
        // second: update from source, bumping target n
        MergeClause.Update(None,
          Map("s" -> src("s"), "n" -> (col("n") + src("n"))))),
      notMatched = Seq(
        MergeClause.Insert(Some(src("n") >= 100L),
          Map("id" -> src("id"), "s" -> src("s"), "n" -> src("n")))))
    assert(rows(t) === Set(
      (1L, "u1", 110L),  // updated: s from source, n = 10 + 100
      // 2 deleted by the first clause (src n = 200)
      (3L, "c", 30L), (4L, "d", 40L), // carry-over
      (5L, "new5", 500L))) // inserted; 6 failed the insert condition
    val v = DeltaLog.snapshot(spark, t).version
    assert(DeltaLog.readCommit(spark, t, v).operation.contains("MERGE"))
  }

  test("first applicable matched clause fires; NULL condition = not applied") {
    val t = tmp()
    base(t)
    val source = Seq((1L, "x", 1L), (2L, null.asInstanceOf[String], 2L))
      .toDF("id", "s", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(
        // src("s") === "x" is NULL for id=2 → clause not applied, falls through
        MergeClause.Update(Some(src("s") === "x"), Map("n" -> lit(111L))),
        MergeClause.Update(None, Map("n" -> lit(222L)))),
      notMatched = Seq.empty)
    assert(rows(t) === Set(
      (1L, "a", 111L),  // first clause (not the second, despite both applying)
      (2L, "b", 222L),  // NULL condition skipped → second clause
      (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("NULL source keys never match and flow to the insert clauses") {
    val t = tmp()
    base(t)
    val source = Seq((Some(1L), "upd", 0L), (None, "nullkey", 7L))
      .toDF("id", "s", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> src("id"), "s" -> src("s"), "n" -> src("n")))))
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "upd"), (2L, "b"), (3L, "c"), (4L, "d"),
      (-1L, "nullkey")))
  }

  test("unassigned insert columns become NULL; duplicate source keys refuse") {
    val t = tmp()
    base(t)
    DeltaTable.mergeInto(Seq((9L, "partial")).toDF("id", "s"), t, "id", "id",
      matched = Seq.empty,
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> src("id"), "s" -> src("s"))))) // n unassigned → NULL
    val r9 = DeltaTable.read(spark, t).filter(col("id") === 9L).head()
    assert(r9.getString(1) === "partial" && r9.isNullAt(2))

    // NOT NULL column invariant: against a log schema with a
    // non-nullable column, the same unassigned-NULL insert refuses
    val t2 = tmp()
    DeltaTable.write(Seq((1L, "a", 10L)).toDF("id", "s", "n"), t2,
      SaveMode.Append) // Scala primitives → id/n are NOT NULL in the log
    val eNN = intercept[Exception] {
      DeltaTable.mergeInto(Seq((9L, "x")).toDF("id", "s"), t2, "id", "id",
        matched = Seq.empty,
        notMatched = Seq(MergeClause.Insert(None,
          Map("id" -> src("id"), "s" -> src("s")))))
    }
    def chain(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + chain(x.getCause)
    assert(chain(eNN).contains("NOT NULL"), chain(eNN))

    val dup = Seq((1L, "d1", 0L), (1L, "d2", 0L)).toDF("id", "s", "n")
    val e = intercept[IllegalArgumentException] {
      DeltaTable.mergeInto(dup, t, "id", "id",
        matched = Seq(MergeClause.Delete(None)), notMatched = Seq.empty)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("stats skipping holds: only files containing a source key are touched") {
    val t = tmp()
    DeltaTable.write((1L to 5L).map(i => (i, "lo", i)).toDF("id", "s", "n"),
      t, SaveMode.Append)
    DeltaTable.write((100L to 105L).map(i => (i, "hi", i)).toDF("id", "s", "n"),
      t, SaveMode.Append)
    val loFiles = DeltaLog.snapshot(spark, t).files
      .filter(_.stats.exists(_.maxValues("id") < 100L)).map(_.path).toSet
    assert(loFiles.nonEmpty)
    DeltaTable.mergeInto(Seq((100L, "X", 0L)).toDF("id", "s", "n"), t, "id", "id",
      matched = Seq(MergeClause.Delete(None)), notMatched = Seq.empty)
    val after = DeltaLog.snapshot(spark, t)
    assert(loFiles.subsetOf(after.files.map(_.path).toSet),
      "low-range files must carry over untouched")
    assert(rows(t).map(_._1) === (Set(1L, 2L, 3L, 4L, 5L) ++ (101L to 105L)))
  }

  test("partitioned table: update may move rows across partitions; CDF precise") {
    val t = tmp()
    DeltaTable.write(
      Seq((1L, "fr", 10L), (2L, "fr", 20L), (3L, "de", 30L))
        .toDF("id", "lang", "n"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    val source = Seq((1L, "xx", 0L), (2L, "fr", 0L), (9L, "es", 90L))
      .toDF("id", "lang", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(
        MergeClause.Delete(Some(col("n") >= 20L)), // deletes id=2 (target n)
        MergeClause.Update(None, Map("lang" -> src("lang")))), // moves id=1 fr→xx
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> src("id"), "lang" -> src("lang"), "n" -> src("n")))))
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1L, "xx", 10L), (3L, "de", 30L), (9L, "es", 90L)))
    // moved row really lives in its new Hive dir
    val v = DeltaLog.snapshot(spark, t).version
    val commit = DeltaLog.readCommit(spark, t, v)
    assert(commit.adds.exists(_.partitionValues.get("lang").contains("xx")))
    // change feed: delete(2), preimage/postimage(1), insert(9)
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v))
      .select(col("id"), col("lang"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed === Set(
      (2L, "fr", "delete"),
      (1L, "fr", "update_preimage"),
      (1L, "xx", "update_postimage"),
      (9L, "es", "insert")))
  }

  test("not-matched-by-source clauses fire on target rows without a source match") {
    val t = tmp()
    base(t)
    // source matches 1 and 3; rows 2 and 4 are not matched by source
    val source = Seq((1L, "m1", 0L), (3L, "m3", 0L)).toDF("id", "s", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq.empty,
      notMatchedBySource = Seq(
        MergeClause.Delete(Some(col("n") < 30L)),        // deletes id=2 (n=20)
        MergeClause.Update(None, Map("n" -> (col("n") * 10L))))) // id=4 → 400
    assert(rows(t) === Set(
      (1L, "m1", 10L), (3L, "m3", 30L), (4L, "d", 400L)))
  }

  test("by-source stats pruning: files provably outside the conditions carry over") {
    val t = tmp()
    DeltaTable.write((1L to 5L).map(i => (i, "lo", i)).toDF("id", "s", "n"),
      t, SaveMode.Append)
    DeltaTable.write((100L to 105L).map(i => (i, "hi", i)).toDF("id", "s", "n"),
      t, SaveMode.Append)
    val loFiles = DeltaLog.snapshot(spark, t).files
      .filter(_.stats.exists(_.maxValues("id") < 100L)).map(_.path).toSet
    // empty source: every row is unmatched; the conditional by-source
    // delete targets only the hi file's id range
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      DeltaTable.read(spark, t).schema)
    DeltaTable.mergeInto(empty, t, "id", "id",
      matched = Seq.empty, notMatched = Seq.empty,
      notMatchedBySource = Seq(MergeClause.Delete(Some(col("id") >= 100L))))
    assert(rows(t).map(_._1) === (1L to 5L).toSet)
    assert(loFiles.subsetOf(
      DeltaLog.snapshot(spark, t).files.map(_.path).toSet),
      "by-source candidate pruning must not rewrite provably-clean files")
  }

  test("by-source clauses capture precise CDF rows") {
    val t = tmp()
    base(t)
    DeltaTable.setProperties(spark, t,
      Map("delta.enableChangeDataFeed" -> "true"))
    val source = Seq((1L, "m1", 0L)).toDF("id", "s", "n")
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq.empty,
      notMatchedBySource = Seq(
        MergeClause.Delete(Some(col("n") >= 40L)),          // deletes id=4
        MergeClause.Update(None, Map("n" -> (col("n") + 1L))))) // 2,3 bump
    val v = DeltaLog.snapshot(spark, t).version
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v))
      .select(col("id"), col("n"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed === Set(
      (1L, 10L, "update_preimage"), (1L, 10L, "update_postimage"), // matched
      (2L, 20L, "update_preimage"), (2L, 21L, "update_postimage"), // by-source
      (3L, 30L, "update_preimage"), (3L, 31L, "update_postimage"),
      (4L, 40L, "delete")))
  }

  test("txn-carrying merge: a replayed (appId, version) is skipped exactly-once") {
    val t = tmp()
    base(t)
    val source = Seq((1L, "v1", 0L)).toDF("id", "s", "n")
    def run() = DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq.empty, txn = Some(("app", 5L)))
    run()
    val v = DeltaLog.snapshot(spark, t).version
    assert(DeltaLog.snapshot(spark, t).txns.get("app").contains(5L))
    run() // replay: high-water mark rejects it, no new commit
    assert(DeltaLog.snapshot(spark, t).version === v)
    // an OLDER version is also skipped; a NEWER one commits
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> lit("v2")))),
      notMatched = Seq.empty, txn = Some(("app", 4L)))
    assert(DeltaLog.snapshot(spark, t).version === v)
    DeltaTable.mergeInto(source, t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> lit("v3")))),
      notMatched = Seq.empty, txn = Some(("app", 6L)))
    assert(rows(t).contains((1L, "v3", 10L)))
  }

  test("EMPTY txn-carrying merge still commits the high-water mark") {
    val t = tmp()
    base(t)
    val v0 = DeltaLog.snapshot(spark, t).version
    // an empty source with no by-source clauses is a data no-op, but the
    // txn mark must land: exactly-once cannot depend on Spark replaying
    // identical (empty) batch content
    DeltaTable.mergeInto(Seq.empty[(Long, String, Long)].toDF("id", "s", "n"),
      t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq.empty, txn = Some(("app", 7L)))
    assert(DeltaLog.snapshot(spark, t).txns.get("app").contains(7L))
    assert(DeltaLog.snapshot(spark, t).version === v0 + 1)
    // the recorded mark now rejects a replay that would carry data
    DeltaTable.mergeInto(Seq((1L, "late", 0L)).toDF("id", "s", "n"),
      t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
      notMatched = Seq.empty, txn = Some(("app", 7L)))
    assert(!rows(t).exists(_._2 == "late"))
  }

  test("DML refuses a past-threshold CANDIDATE set with a named cause, not an OOM") {
    // round 14: the refusal moved from the table's manifest (DML on any
    // past-threshold table refused outright) to the CANDIDATE set —
    // threshold 0 means a zero-file candidate budget, so any touching
    // DML still refuses loudly; DistributedDmlSpec pins the paths that
    // now RUN
    val t = tmp()
    base(t)
    DeltaLog.checkpoint(spark, t)
    try {
      spark.conf.set("spark.graft.delta.distributedReplayThreshold", "0")
      val eM = intercept[IllegalArgumentException] {
        DeltaTable.mergeInto(Seq((1L, "x", 0L)).toDF("id", "s", "n"),
          t, "id", "id",
          matched = Seq(MergeClause.Delete(None)), notMatched = Seq.empty)
      }
      assert(eM.getMessage.contains("distributedReplayThreshold"))
      val eD = intercept[IllegalArgumentException] {
        DeltaTable.delete(spark, t, col("id") === 1L)
      }
      assert(eD.getMessage.contains("distributedReplayThreshold"))
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  test("merge into an empty-but-created table inserts through the clauses") {
    val t = tmp()
    base(t)
    DeltaTable.delete(spark, t, lit(true)) // empty, schema survives
    DeltaTable.mergeInto(Seq((7L, "only", 70L)).toDF("id", "s", "n"),
      t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("n" -> lit(0L)))),
      notMatched = Seq(MergeClause.Insert(None,
        Map("id" -> src("id"), "s" -> src("s"), "n" -> src("n")))))
    assert(rows(t) === Set((7L, "only", 70L)))
  }

  test("broadcast gate sizes the source by its observed string bytes") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
    import org.apache.spark.sql.catalyst.rules.Rule
    // records whether any optimized plan carries a broadcast join hint
    val hinted = new java.util.concurrent.atomic.AtomicBoolean(false)
    object HintRecorder extends Rule[LogicalPlan] {
      def apply(p: LogicalPlan): LogicalPlan = {
        if (p.exists {
            case j: Join => (j.hint.leftHint ++ j.hint.rightHint)
              .exists(_.strategy.contains(BROADCAST))
            case _ => false
          }) hinted.set(true)
        p
      }
    }
    // three source rows; the threshold sits between their fixed-width
    // estimate (3 × (8 + 20 + 8) bytes) and their real size
    def mergeWithText(t: String, len: Int): Boolean = {
      val text = "x" * len
      hinted.set(false)
      DeltaTable.mergeInto(
        Seq((1L, text, 1L), (2L, text, 2L), (9L, text, 9L)).toDF("id", "s", "n"),
        t, "id", "id",
        matched = Seq(MergeClause.Update(None, Map("s" -> src("s")))),
        notMatched = Seq(MergeClause.Insert(None,
          Map("id" -> src("id"), "s" -> src("s"), "n" -> src("n")))))
      hinted.get()
    }
    val threshold = "autoBroadcastJoinThreshold"
    spark.conf.set(s"spark.sql.$threshold", "4096")
    spark.experimental.extraOptimizations = Seq(HintRecorder)
    try {
      val t1 = tmp()
      base(t1)
      assert(mergeWithText(t1, 10), "a short-text source must broadcast")
      val t2 = tmp()
      base(t2)
      assert(!mergeWithText(t2, 5000),
        "15 KB of observed text is over the 4 KB threshold: no broadcast")
      assert(rows(t2).map(r => (r._1, r._2.length)) ===
        Set((1L, 5000), (2L, 5000), (3L, 1), (4L, 1), (9L, 5000)))
    } finally {
      spark.experimental.extraOptimizations = Nil
      spark.conf.unset(s"spark.sql.$threshold")
    }
  }
}
