package graft.sources

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.sources.delta.{DeltaLog, DeltaTable}

class DeltaSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("delta").toString + "/t"

  /** Run `body` with the distributed-replay threshold one below `t`'s
    * checkpoint row count: reads select candidates on the checkpoint
    * frame, and the candidate cap (the same threshold) still holds any
    * candidate set smaller than the checkpoint, so nothing degrades to
    * the driver replay. */
  private def distributed[A](t: String)(body: => A): A = {
    val rows = DeltaLog.checkpointRows(spark, t).get
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", (rows - 1).toString)
    try {
      assert(DeltaTable.chooseDistributedReplay(spark, t))
      body
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
  }

  test("append commits are versioned; reads see the union; SQL via registerView") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((3, "c")).toDF("id", "s"), t, SaveMode.Append)
    val got = DeltaTable.read(spark, t)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((1, "a"), (2, "b"), (3, "c")))
    assert(DeltaLog.versions(spark, t) === Seq(0L, 1L))
    // the Trino register_table hop: plain SQL over the log-backed table
    DeltaTable.registerView(spark, "delta_t", t)
    assert(spark.sql("SELECT count(*) FROM delta_t WHERE id > 1").head().getLong(0) === 2L)
  }

  test("overwrite is one atomic remove+add commit; time travel reads history") {
    val t = tmp()
    DeltaTable.write(Seq((1, "old")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((2, "new"), (3, "new")).toDF("id", "s"), t, SaveMode.Overwrite)
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(2, 3))
    // VERSION AS OF 0 still sees the pre-overwrite table
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet === Set((1, "old")))
    val h = DeltaTable.describeHistory(spark, t).head
    assert(h.version === 1L && h.nRemoves >= 1 && h.nAdds >= 1,
      "overwrite must carry removes and adds in one commit")
  }

  test("log files follow the protocol shape: %020d.json of JSON-line actions") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    val dir = new java.io.File(s"$t/_delta_log")
    val names = dir.listFiles().map(_.getName).filter(_.endsWith(".json")).sorted
    assert(names.head === "00000000000000000000.json")
    val lines = scala.io.Source.fromFile(new java.io.File(dir, names.head))
      .getLines().toList
    // commit 0 must declare protocol + metaData (schemaString) + the adds
    assert(lines.exists(_.contains("\"protocol\"")))
    assert(lines.exists(_.contains("\"schemaString\"")))
    assert(lines.exists(_.contains("\"add\"")))
    // every line parses as JSON
    lines.foreach(l => org.json4s.jackson.JsonMethods.parse(l))
  }

  test("empty-after-overwrite table still reads with the log's schema") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq.empty[(Int, String)].toDF("id", "s"), t, SaveMode.Overwrite)
    val df = DeltaTable.read(spark, t)
    assert(df.count() === 0L)
    assert(df.schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("appendWithTxn: a replayed (appId, version) batch is skipped, not doubled") {
    val t = tmp()
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "s")
    assert(DeltaTable.appendWithTxn(batch, t, "app", 0L) === true)
    assert(DeltaTable.appendWithTxn(batch, t, "app", 0L) === false)
    assert(DeltaTable.read(spark, t).count() === 2L)
    // a NEWER txn version appends; the recorded high-water mark advances
    assert(DeltaTable.appendWithTxn(batch, t, "app", 1L) === true)
    assert(DeltaTable.read(spark, t).count() === 4L)
    assert(DeltaTable.latestTxnVersion(spark, t, "app") === Some(1L))
    // the skipped replay left no orphan data files behind
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) === 0)
  }

  test("concurrent appends: optimistic retry, both land, no lost update") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = tmp()
    DeltaTable.write(Seq((0, "seed")).toDF("id", "s"), t, SaveMode.Append)
    val fs = (1 to 4).map { i =>
      Future(DeltaTable.write(Seq((i, s"w$i")).toDF("id", "s"), t, SaveMode.Append))
    }
    fs.foreach(Await.result(_, 120.seconds))
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet ===
      Set(0, 1, 2, 3, 4))
    // versions are contiguous: every loser re-read and recommitted
    assert(DeltaLog.versions(spark, t) === (0L to 4L))
  }

  test("a crashed writer's staged files are invisible and reclaimable") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)
    // simulate a writer that moved data files in but died before commit
    val orphan = new java.io.File(s"$t/part-${java.util.UUID.randomUUID()}.snappy.parquet")
    Seq((99, "ghost")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(orphan.getParent + "/.ghost")
    val part = new java.io.File(orphan.getParent + "/.ghost").listFiles()
      .find(_.getName.startsWith("part-")).get
    assert(part.renameTo(orphan))
    // readers replay the log, not the directory: the ghost row is invisible
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(1))
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) === 1)
    assert(!orphan.exists())
  }

  test("streaming CDC ingest into delta: exactly-once via txn actions") {
    val dir = java.nio.file.Files.createTempDirectory("deltastream").toString
    implicit val sqlCtx = spark.sqlContext
    val s = MemoryStream[String]
    def env(id: Int, sport: String, ts: Long) =
      s"""{"payload":{"before":null,"after":{"id":$id,"sport_type":"$sport","distance":5,"start_datetime":${ts}000000},"op":"c","ts_ms":$ts}}"""
    s.addData(env(1, "run", 1000), env(2, "bike", 2000))
    val q = graft.streaming.CdcIngest.startIngestDelta(
      s.toDF(), s"$dir/table", s"$dir/chk", trigger = Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      s.addData(env(3, "swim", 3000))
      q.processAllAvailable()
    } finally q.stop()
    val got = DeltaTable.read(spark, s"$dir/table")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(got === Set(1, 2, 3))
    // restarting from the same checkpoint replays nothing new: contents stable
    val q2 = graft.streaming.CdcIngest.startIngestDelta(
      s.toDF(), s"$dir/table", s"$dir/chk", trigger = Trigger.ProcessingTime(0))
    try q2.processAllAvailable() finally q2.stop()
    assert(DeltaTable.read(spark, s"$dir/table").count() === 3L)
  }

  test("merge upserts by key and data-skips: disjoint-range files survive untouched") {
    val t = tmp()
    // two appends with disjoint key ranges → two files with disjoint stats
    DeltaTable.write((1 to 100).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1), t, SaveMode.Append)
    DeltaTable.write((1000 to 1100).map(i => (i, s"v$i")).toDF("id", "s")
      .coalesce(1), t, SaveMode.Append)
    val before = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    assert(before.size === 2)
    // merge touches only the low range: update id 50, insert id 101
    DeltaTable.merge(Seq((50, "updated"), (101, "inserted")).toDF("id", "s"),
      t, "id")
    val after = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    // the high-range file is carried over BY NAME — never rewritten
    val highFile = before.filter(after.contains)
    assert(highFile.size === 1, s"exactly one file must survive: $before -> $after")
    val got = DeltaTable.read(spark, t)
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(got.size === 202)
    assert(got(50) === "updated" && got(101) === "inserted" && got(1) === "v1"
      && got(1000) === "v1000")
    // re-merging the same batch converges (idempotent upsert semantics)
    DeltaTable.merge(Seq((50, "updated"), (101, "inserted")).toDF("id", "s"),
      t, "id")
    assert(DeltaTable.read(spark, t).count() === 202L)
  }

  test("merge into an empty table is a plain bootstrap append") {
    val t = tmp()
    DeltaTable.merge(Seq((1, "a")).toDF("id", "s"), t, "id")
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("merge refuses duplicate source keys and leaves the table unchanged") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a"), (2, "b")).toDF("id", "s"), t, SaveMode.Append)
    val v = DeltaLog.snapshot(spark, t).version
    // a duplicated key would insert (or update) one key twice
    val e = intercept[IllegalArgumentException] {
      DeltaTable.merge(Seq((2, "x"), (2, "y"), (3, "z")).toDF("id", "s"), t, "id")
    }
    assert(e.getMessage.contains("duplicate"), e.getMessage)
    assert(DeltaLog.snapshot(spark, t).version === v)
    assert(DeltaTable.read(spark, t).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === Set((1, "a"), (2, "b")))
  }

  test("add actions carry protocol-shaped stats; a readWhere range skips excluded files") {
    val t = tmp()
    DeltaTable.write((1 to 100).map(i => (i, i.toLong * 2)).toDF("id", "v")
      .coalesce(1), t, SaveMode.Append)
    DeltaTable.write((1000 to 1100).map(i => (i, i.toLong * 2)).toDF("id", "v")
      .coalesce(1), t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files
    assert(files.forall(_.stats.isDefined), "adds must carry stats")
    val lo = files.flatMap(_.stats).map(_.minValues("id")).min
    assert(lo === 1L)
    // range read of the low file only: correct rows, and the pruned scan
    // must reference exactly one data file — with LONG bounds on the INT
    // id, so the analyzer's widening cast must not defeat the skipping
    val df = DeltaTable.readWhere(spark, t, col("id") >= 10L && col("id") <= 20L)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq === (10 to 20).toSeq)
    assert(df.inputFiles.length === 1, "stats pruning must skip the high file")
  }

  test("string stats: add actions carry string bounds; a readWhere string range skips excluded files") {
    val t = tmp()
    DeltaTable.write((1 to 50).map(i => (i, f"src_a$i%02d")).toDF("id", "src")
      .coalesce(1), t, SaveMode.Append)
    DeltaTable.write((1 to 50).map(i => (i, f"src_m$i%02d")).toDF("id", "src")
      .coalesce(1), t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files
    assert(files.forall(_.stats.exists(_.minStrings.contains("src"))),
      "adds must carry string bounds")
    val df = DeltaTable.readWhere(spark, t,
      col("src") >= "src_a10" && col("src") <= "src_a20")
    assert(df.collect().map(_.getString(1)).sorted.toSeq ===
      (10 to 20).map(i => f"src_a$i%02d"))
    assert(df.inputFiles.length === 1, "string stats pruning must skip the m-file")
    // checkpoint round-trip: string bounds survive the parquet checkpoint
    DeltaLog.checkpoint(spark, t)
    val fromCp = DeltaLog.snapshot(spark, t).files
    assert(fromCp.forall(_.stats.exists(_.maxStrings.contains("src"))),
      "string bounds must survive checkpoint replay")
  }

  test("over-cap string values drop that column's bounds; reads stay conservative and correct") {
    val t = tmp()
    val long1 = "a" * 100; val long2 = "z" * 100
    DeltaTable.write(Seq((1, long1), (2, "short")).toDF("id", "s").coalesce(1),
      t, SaveMode.Append)
    DeltaTable.write(Seq((3, long2)).toDF("id", "s").coalesce(1), t, SaveMode.Append)
    val files = DeltaLog.snapshot(spark, t).files
    assert(files.forall(_.stats.exists(st =>
      !st.minStrings.contains("s") && !st.maxStrings.contains("s"))),
      "bounds past the recording cap must be dropped, not truncated unsafely")
    assert(files.forall(_.stats.exists(_.minValues.contains("id"))),
      "the integral column keeps its bounds")
    // stats-less string column: every file reads, the residual filter decides
    val got = DeltaTable.readWhere(spark, t, col("s") >= "a" && col("s") <= "b")
    assert(got.collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(got.inputFiles.length === 2, "no bounds -> conservative full read")
  }

  test("partitioned table: hive layout, adopted partitioning, pruned reads") {
    val t = tmp()
    DeltaTable.write(Seq((1, "fr", 1.0), (2, "de", 2.0), (3, "fr", 3.0))
      .toDF("id", "lang", "v"), t, SaveMode.Append, partitionBy = Seq("lang"))
    // append WITHOUT restating partitioning: adopted from the log
    DeltaTable.write(Seq((4, "de", 4.0)).toDF("id", "lang", "v"), t, SaveMode.Append)
    // files live under Hive-style dirs and carry partitionValues
    val s = DeltaLog.snapshot(spark, t)
    assert(s.partitionColumns === Seq("lang"))
    assert(s.files.forall(f => f.path.startsWith("lang=")
      && f.partitionValues.get("lang").isDefined))
    // full read restores the partition column in log-schema order
    val got = DeltaTable.read(spark, t)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1, "fr", 1.0), (2, "de", 2.0), (3, "fr", 3.0), (4, "de", 4.0)))
    // pruned read opens ONLY the fr files
    val fr = DeltaTable.readWhere(spark, t, col("lang") === "fr")
    assert(fr.collect().map(_.getInt(0)).toSet === Set(1, 3))
    assert(fr.inputFiles.forall(_.contains("lang=fr")),
      "pruned read must not touch other partitions")
    // conflicting partitioning refused
    intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((5, "es", 5.0)).toDF("id", "lang", "v"), t,
        SaveMode.Append, partitionBy = Seq("id"))
    }
    // merge on the partitioned table: matched key rewrites in place, a
    // matched key whose update MOVES it across partitions lands in its
    // new hive dir, and a new key inserts — one atomic commit
    DeltaTable.merge(
      Seq((1, "fr", 9.0), (3, "de", 30.0), (5, "es", 5.0))
        .toDF("id", "lang", "v"), t, "id")
    val afterMerge = DeltaTable.read(spark, t)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(afterMerge === Set(
      (1, "fr", 9.0), (2, "de", 2.0), (3, "de", 30.0), (4, "de", 4.0),
      (5, "es", 5.0)))
    val s2 = DeltaLog.snapshot(spark, t)
    assert(s2.files.forall(f => f.path.startsWith("lang=")
      && f.partitionValues.get("lang").isDefined),
      "merged rewrites must re-stage into hive dirs with partitionValues")
    // id=3 moved fr → de: no live fr file may still hold it
    val fr2 = DeltaTable.readWhere(spark, t, col("lang") === "fr")
    assert(fr2.collect().map(_.getInt(0)).toSet === Set(1))
  }

  test("changesOrRebase tails appended files only; overwrites force a rebase") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)   // v0
    DeltaTable.write(Seq((2, "b")).toDF("id", "s"), t, SaveMode.Append)   // v1
    DeltaTable.write(Seq((3, "c")).toDF("id", "s"), t, SaveMode.Append)   // v2
    val (delta, cursor, rebase) = DeltaTable.changesOrRebase(spark, t, sinceVersion = 0L)
    assert(delta.collect().map(_.getInt(0)).toSet === Set(2, 3))
    assert(cursor === 2L && !rebase)
    // caught up: empty tail from the cursor
    val (empty, c2, r2) = DeltaTable.changesOrRebase(spark, t, cursor)
    assert(empty.count() === 0L && c2 === 2L && !r2)
    // a COMPACTION in the window is dataChange=false: the tailer skips it
    // (its rows were already delivered) instead of wedging or re-reading
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue)
    val (afterCompact, c3, r3) = DeltaTable.changesOrRebase(spark, t, cursor)
    assert(afterCompact.count() === 0L, "compaction rows must not re-deliver")
    assert(c3 === 3L && !r3)
    DeltaTable.write(Seq((4, "d")).toDF("id", "s"), t, SaveMode.Append)
    val (fresh, _, r4) = DeltaTable.changesOrRebase(spark, t, c3)
    assert(fresh.collect().map(_.getInt(0)).toSeq === Seq(4) && !r4)
    // an overwrite in the window cannot be represented as appends: the
    // whole head snapshot comes back as a rebase
    DeltaTable.write(Seq((9, "z")).toDF("id", "s"), t, SaveMode.Overwrite)
    val (whole, c5, r5) = DeltaTable.changesOrRebase(spark, t, c3)
    assert(r5, "an overwrite in the window must rebase")
    assert(c5 === 5L && whole.collect().map(_.getInt(0)).toSeq === Seq(9))
  }

  test("incremental MV on the Delta log: exactly-once, time travel, compaction-proof replays") {
    import graft.streaming.IncrementalAgg
    val t = tmp()
    def delta(rows: Seq[(String, Long, Long)]) =
      rows.toDF("sport_type", "d_sum", "d_cnt")
    def state() = IncrementalAgg.viewDelta(spark, t, "sport_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(state() === Set.empty, "empty store must read as empty, not throw")
    assert(IncrementalAgg.applyBatchDelta(delta(Seq(("run", 10L, 2L))), t, 0L))
    assert(IncrementalAgg.applyBatchDelta(delta(Seq(("bike", 9L, 1L), ("run", 5L, 1L))), t, 1L))
    assert(state() === Set(("run", 15L, 3L), ("bike", 9L, 1L)))
    // exactly-once: the log refuses the replayed batch outright
    assert(!IncrementalAgg.applyBatchDelta(delta(Seq(("run", 999L, 9L))), t, 1L))
    assert(state() === Set(("run", 15L, 3L), ("bike", 9L, 1L)))
    // time travel: version 0 = first batch only
    assert(IncrementalAgg.viewDeltaAt(spark, t, "sport_type", 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ===
      Set(("run", 10L, 2L)))
    // a delete-delta that zeroes a group removes it from the view
    assert(IncrementalAgg.applyBatchDelta(delta(Seq(("bike", -9L, -1L))), t, 2L))
    assert(state() === Set(("run", 15L, 3L)))
    // compaction: atomic overwrite; view unchanged; the txn high-water
    // mark lives in log HISTORY, so pre-compaction replays STILL skip
    IncrementalAgg.compactDelta(spark, t, "sport_type")
    assert(state() === Set(("run", 15L, 3L)))
    assert(!IncrementalAgg.applyBatchDelta(delta(Seq(("run", 777L, 7L))), t, 2L))
    assert(state() === Set(("run", 15L, 3L)))
  }

  test("MV over a base table REBASES on overwrite instead of replaying churn") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.streaming.IncrementalAgg
    val base = tmp(); val mv = tmp()
    def mvState() = IncrementalAgg.viewDelta(spark, mv, "sport_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def baseAgg() = DeltaTable.read(spark, base).groupBy("sport_type")
      .agg(sum(col("distance")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def tick(cursor: Long) = IncrementalAgg.maintainFromBase(
      spark, base, mv, "sport_type", "distance", cursor)
    // appends fold in as O(|new rows|) delta layers
    DeltaTable.write(Seq(("run", 5L), ("bike", 20L))
      .toDF("sport_type", "distance"), base, SaveMode.Append)          // v0
    var cur = tick(-1L)
    assert(cur === 0L)
    assert(mvState() === Set(("run", 5L, 1L), ("bike", 20L, 1L)))
    DeltaTable.write(Seq(("run", 7L)).toDF("sport_type", "distance"),
      base, SaveMode.Append)                                           // v1
    cur = tick(cur)
    assert(mvState() === Set(("run", 12L, 2L), ("bike", 20L, 1L)))
    // idle tick: same cursor, no MV commit
    val idleVer = DeltaLog.snapshot(spark, mv).version
    assert(tick(cur) === cur)
    assert(DeltaLog.snapshot(spark, mv).version === idleVer)
    // base OVERWRITE: the maintainer REBASES — ONE overwrite commit
    // whose content is the head aggregate, not O(table) derived churn
    DeltaTable.write(Seq(("swim", 100L), ("run", 1L))
      .toDF("sport_type", "distance"), base, SaveMode.Overwrite)       // v2
    cur = tick(cur)
    assert(cur === 2L)
    assert(mvState() === baseAgg())
    assert(mvState() === Set(("swim", 100L, 1L), ("run", 1L, 1L)))
    assert(DeltaLog.snapshot(spark, mv).version === idleVer + 1,
      "the rebase must be exactly one MV commit")
    // at-least-once maintenance: a replayed tick (stale cursor) is
    // refused by the MV log's txn mark, never double-applied
    assert(tick(1L) === 2L)
    assert(DeltaLog.snapshot(spark, mv).version === idleVer + 1)
    assert(mvState() === Set(("swim", 100L, 1L), ("run", 1L, 1L)))
    // appends after the rebase keep folding incrementally
    DeltaTable.write(Seq(("swim", 50L)).toDF("sport_type", "distance"),
      base, SaveMode.Append)                                           // v3
    cur = tick(cur)
    assert(mvState() === Set(("swim", 150L, 2L), ("run", 1L, 1L)))
    assert(mvState() === baseAgg())
  }

  test("maintainFromBase: a crash-lagged cursor cannot double-fold (MV mark is the floor)") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import graft.streaming.IncrementalAgg
    val base = tmp(); val mv = tmp()
    def mvState() = IncrementalAgg.viewDelta(spark, mv, "sport_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def baseAgg() = DeltaTable.read(spark, base).groupBy("sport_type")
      .agg(sum(col("distance")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def tick(cursor: Long) = IncrementalAgg.maintainFromBase(
      spark, base, mv, "sport_type", "distance", cursor)
    DeltaTable.write(Seq(("run", 5L)).toDF("sport_type", "distance"),
      base, SaveMode.Append)                                           // v0
    assert(tick(-1L) === 0L)
    DeltaTable.write(Seq(("run", 7L)).toDF("sport_type", "distance"),
      base, SaveMode.Append)                                           // v1
    assert(tick(0L) === 1L) // MV mark advances to 1 ...
    // ... but the caller CRASHES before persisting its cursor (still 0),
    // and the base keeps moving
    DeltaTable.write(Seq(("run", 11L)).toDF("sport_type", "distance"),
      base, SaveMode.Append)                                           // v2
    // the recovered tick replays with the STALE cursor: without the
    // mark-clamp its window (0, 2] would overlap the already-folded v1
    // and commit at txn 2 > mark 1 — passing the txn gate and
    // double-folding v1's rows (round-15 advice)
    assert(tick(0L) === 2L)
    assert(mvState() === baseAgg())
    assert(mvState() === Set(("run", 23L, 3L)))
  }

  test("checkpoint: seeds the snapshot, JSON replays on top, txns + time travel survive") {
    val t = tmp()
    DeltaTable.write(Seq((1, "a")).toDF("id", "s"), t, SaveMode.Append)       // v0
    assert(DeltaTable.appendWithTxn(Seq((2, "b")).toDF("id", "s"), t, "app", 5L)) // v1
    val cpV = DeltaLog.checkpoint(spark, t)
    assert(cpV === 1L)
    assert(DeltaLog.lastCheckpointVersion(spark, t) === Some(1L))
    // the protocol file shape: %020d.checkpoint.parquet + _last_checkpoint
    val logDir = new java.io.File(s"$t/_delta_log")
    assert(logDir.listFiles().map(_.getName).toSet
      .contains("00000000000000000001.checkpoint.parquet"))
    // snapshot from checkpoint == pre-checkpoint state
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(1, 2))
    // txn high-water mark came through the checkpoint: replay still refused
    assert(!DeltaTable.appendWithTxn(Seq((9, "x")).toDF("id", "s"), t, "app", 5L))
    // new JSON commits replay on top of the checkpoint seed
    DeltaTable.write(Seq((3, "c")).toDF("id", "s"), t, SaveMode.Append)       // v2
    assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet === Set(1, 2, 3))
    // time travel BELOW the checkpoint still works (JSON history kept)
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L))
      .collect().map(_.getInt(0)).toSet === Set(1))
  }

  test("multi-part checkpoints: protocol part names, parts pointer, both replays") {
    val t = tmp()
    // 6 files -> 6 add rows (+protocol/metaData/tombstone rows); a
    // 3-row part target forces the multi-part form
    (1 to 6).foreach(i => DeltaTable.write(
      Seq((i, s"s$i")).toDF("id", "s").coalesce(1), t, SaveMode.Append))
    spark.conf.set("spark.graft.delta.checkpointPartRows", "3")
    try {
      val cpV = DeltaLog.checkpoint(spark, t)
      assert(cpV === 5L)
      // pointer carries the parts field; part files use the protocol's
      // n.checkpoint.o.p.parquet names and the single form is ABSENT
      val pointer = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$t/_delta_log/_last_checkpoint")), "UTF-8")
      val partsRe = """"parts":(\d+)""".r
      val p = partsRe.findFirstMatchIn(pointer)
        .map(_.group(1).toInt)
        .getOrElse(fail(s"pointer must carry parts: $pointer"))
      assert(p >= 2)
      assert(pointer.contains(""""version":5"""))
      val names = new java.io.File(s"$t/_delta_log").listFiles()
        .map(_.getName).filter(_.contains(".checkpoint.")).toSet
      assert(!names.contains("00000000000000000005.checkpoint.parquet"))
      (1 to p).foreach(i => assert(names.contains(
        f"00000000000000000005.checkpoint.$i%010d.$p%010d.parquet")))
      // checkpointing again at the same head is a no-op
      assert(DeltaLog.checkpoint(spark, t) === 5L)
      // driver replay seeds from ALL parts
      assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet
        === (1 to 6).toSet)
      assert(DeltaLog.snapshot(spark, t).files.size === 6)
      // distributed pruned replay reads the parts too
      assert(DeltaLog.prunedSnapshot(spark, t, Map.empty).files.size === 6)
      // the JSON history below can retire: parts alone reconstruct
      DeltaLog.cleanLog(spark, t, retainMs = 0L)
      DeltaTable.write(Seq((7, "s7")).toDF("id", "s"), t, SaveMode.Append)
      assert(DeltaTable.read(spark, t).collect().map(_.getInt(0)).toSet
        === (1 to 7).toSet)
    } finally spark.conf.unset("spark.graft.delta.checkpointPartRows")
  }

  test("checkpoint on a partitioned table preserves partitionValues and pruning") {
    val t = tmp()
    DeltaTable.write(Seq((1, "fr", 1.0), (2, "de", 2.0)).toDF("id", "lang", "v"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    DeltaLog.checkpoint(spark, t)
    val s = DeltaLog.snapshot(spark, t)
    assert(s.partitionColumns === Seq("lang"))
    assert(s.files.forall(_.partitionValues.contains("lang")))
    val fr = DeltaTable.readWhere(spark, t, col("lang") === "fr")
    assert(fr.collect().map(_.getInt(0)).toSeq === Seq(1))
    assert(fr.inputFiles.forall(_.contains("lang=fr")))
  }

  test("compactFiles on a partitioned table folds within partition dirs") {
    val t = tmp()
    DeltaTable.write(Seq((1, "fr"), (2, "de")).toDF("id", "lang"), t,
      SaveMode.Append, partitionBy = Seq("lang"))
    DeltaTable.write(Seq((3, "fr"), (4, "de")).toDF("id", "lang"), t,
      SaveMode.Append)
    assert(DeltaLog.snapshot(spark, t).files.size === 4)
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue,
      targetFiles = 1)
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.size === 2, s"one file per lang: ${after.files.map(_.path)}")
    assert(after.files.map(_.partitionValues("lang")).toSet === Set("fr", "de"))
    val fr = DeltaTable.readWhere(spark, t, col("lang") === "fr")
    assert(fr.collect().map(_.getInt(0)).toSet === Set(1, 3))
  }

  test("compactFiles scoped by partitionFilter compacts ONLY that partition (OPTIMIZE WHERE)") {
    val t = tmp()
    DeltaTable.write(Seq((1, "fr"), (2, "de")).toDF("id", "lang"), t,
      SaveMode.Append, partitionBy = Seq("lang"))
    DeltaTable.write(Seq((3, "fr"), (4, "de")).toDF("id", "lang"), t,
      SaveMode.Append)
    val deFiles = DeltaLog.snapshot(spark, t).files
      .filter(_.partitionValues.get("lang").contains("de")).map(_.path).toSet
    assert(deFiles.size === 2)
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue,
      targetFiles = 1, partitionFilter = Map("lang" -> "fr"))
    val after = DeltaLog.snapshot(spark, t)
    assert(after.files.count(_.partitionValues.get("lang").contains("fr")) === 1,
      "fr folds to one file")
    assert(after.files.filter(_.partitionValues.get("lang").contains("de"))
      .map(_.path).toSet === deFiles,
      "de files must carry over untouched by a scoped compaction")
    intercept[IllegalArgumentException] {
      DeltaTable.compactFiles(spark, t, Long.MaxValue,
        partitionFilter = Map("nope" -> "x"))
    }
  }

  test("compactFiles folds only the small files; big ones carry over by name") {
    val t = tmp()
    // three appends: two tiny files + one big one
    DeltaTable.write(Seq((1, "a")).toDF("id", "s").coalesce(1), t, SaveMode.Append)
    DeltaTable.write(Seq((2, "b")).toDF("id", "s").coalesce(1), t, SaveMode.Append)
    DeltaTable.write((100 to 5000).map(i => (i, "x" * 50)).toDF("id", "s")
      .coalesce(1), t, SaveMode.Append)
    val before = DeltaLog.snapshot(spark, t).files
    val big = before.maxBy(_.size)
    DeltaTable.compactFiles(spark, t, smallerThanBytes = big.size, targetFiles = 1)
    val after = DeltaLog.snapshot(spark, t).files
    assert(after.size === 2, s"2 files expected: ${after.map(_.path)}")
    assert(after.exists(_.path == big.path), "the big file must survive by name")
    assert(DeltaTable.read(spark, t).count() === 2L + 4901L)
    // time travel still sees the pre-compaction layout
    assert(DeltaTable.read(spark, t, versionAsOf = Some(2L)).count() === 2L + 4901L)
    // compacting again is a no-op (one small file left at most)
    val v = DeltaLog.snapshot(spark, t).version
    DeltaTable.compactFiles(spark, t, smallerThanBytes = big.size)
    assert(DeltaLog.snapshot(spark, t).version === v)
  }

  test("optimize zorder: one atomic rewrite, tight stats, sharper skipping") {
    val t = tmp()
    // interleaved keys so the incoming two files BOTH span the full range
    val rows = (0 until 400).map(i => (i % 97, (i * 31) % 89, s"r$i"))
    DeltaTable.write(rows.take(200).toDF("x", "y", "s").coalesce(1), t, SaveMode.Append)
    DeltaTable.write(rows.drop(200).toDF("x", "y", "s").coalesce(1), t, SaveMode.Append)
    def narrow = DeltaTable.readWhere(spark, t, col("x") >= 0L && col("x") <= 5L)
    val preFiles = narrow.inputFiles.length
    assert(preFiles === 2, "pre-optimize: every file spans the x range")
    DeltaTable.optimize(spark, t, Seq("x", "y"), nFiles = 8)
    // contents identical, laid out as nFiles z-ordered files
    val got = DeltaTable.read(spark, t)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSet
    assert(got === rows.toSet)
    assert(DeltaLog.snapshot(spark, t).files.size === 8)
    // stats are now tight on x: a narrow range opens a strict subset
    val postFiles = narrow.inputFiles.length
    assert(postFiles < 8, s"z-order must skip files, opened $postFiles of 8")
    // time travel below the optimize reads the original layout
    assert(DeltaTable.read(spark, t, versionAsOf = Some(1L)).count() === 400L)
  }

  test("OPTIMIZE WHERE: z-order scoped to one partition, others untouched") {
    val t = tmp()
    (0 to 1).foreach { p =>
      val rows = (0 until 200).map(i => (i % 97, (i * 31) % 89, p))
      // two interleaved files per partition
      DeltaTable.write(rows.take(100).toDF("x", "y", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
      DeltaTable.write(rows.drop(100).toDF("x", "y", "p").coalesce(1),
        t, SaveMode.Append, partitionBy = Seq("p"))
    }
    val untouched = DeltaLog.snapshot(spark, t).files
      .filter(_.partitionValues.get("p").contains("0")).map(_.path).toSet
    DeltaTable.optimize(spark, t, Seq("x", "y"), nFiles = 4,
      partitionFilter = Map("p" -> "1"))
    val head = DeltaLog.snapshot(spark, t)
    assert(untouched.subsetOf(head.files.map(_.path).toSet),
      "partition 0's files must carry over with no action")
    assert(head.files.count(_.partitionValues.get("p").contains("1")) === 4)
    assert(DeltaTable.read(spark, t).count() === 400L)
    // filter keys must be partition columns
    val e = intercept[Exception] {
      DeltaTable.optimize(spark, t, Seq("x", "y"), 4, Map("x" -> "1"))
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("validated ingest: passing batches commit, failing batches quarantine whole") {
    import graft.operators.Expectations._
    val dir = java.nio.file.Files.createTempDirectory("vingest").toString
    implicit val sqlCtx = spark.sqlContext
    def env(id: Int, sport: String, dist: Int, ts: Long) = {
      val s = if (sport == null) "null" else s""""$sport""""
      s"""{"payload":{"before":null,"after":{"id":$id,"sport_type":$s,"distance":$dist,"start_datetime":${ts}000000},"op":"c","ts_ms":$ts}}"""
    }
    val suite = Seq(NotNull("sport_type"), Between("distance", min = Some(0.0)))
    val s = MemoryStream[String]
    val q = graft.streaming.CdcIngest.startValidatedIngest(
      s.toDF(), s"$dir/main", s"$dir/quarantine", s"$dir/chk", suite,
      trigger = Trigger.ProcessingTime(0))
    try {
      // batch 1: clean -> main
      s.addData(env(1, "run", 5, 1000), env(2, "bike", 7, 2000))
      q.processAllAvailable()
      // batch 2: one NULL sport_type -> the WHOLE batch quarantines
      s.addData(env(3, "swim", 3, 3000), env(4, null, 2, 4000))
      q.processAllAvailable()
    } finally q.stop()
    val main = DeltaTable.read(spark, s"$dir/main")
      .select("id").collect().map(_.getInt(0)).toSet
    assert(main === Set(1, 2), "only the clean batch reaches the main table")
    val quar = DeltaTable.read(spark, s"$dir/quarantine")
    assert(quar.select("id").collect().map(_.getInt(0)).toSet === Set(3, 4))
    val report = quar.select("failed_expectations").head().getString(0)
    assert(report.contains("\"not_null\"") && report.contains("\"passed\":false"),
      s"quarantine rows must carry the failing report: $report")
    // restart from the checkpoint: txn marks make both routes idempotent
    val q2 = graft.streaming.CdcIngest.startValidatedIngest(
      s.toDF(), s"$dir/main", s"$dir/quarantine", s"$dir/chk", suite,
      trigger = Trigger.ProcessingTime(0))
    try q2.processAllAvailable() finally q2.stop()
    assert(DeltaTable.read(spark, s"$dir/main").count() === 2L)
    assert(DeltaTable.read(spark, s"$dir/quarantine").count() === 2L)
  }

  test("IO.writeTable/readDelta route the delta format through the log") {
    val t = tmp()
    IO.writeTable(Seq((1, 2.0)).toDF("k", "v"), t, format = "delta")
    IO.writeTable(Seq((9, 9.0)).toDF("k", "v"), t, format = "delta")
    // writeTable defaults to Overwrite — latest version holds only the new row
    assert(IO.readDelta(spark, t).collect().map(_.getInt(0)).toSeq === Seq(9))
    assert(IO.readDelta(spark, t, Some(0L)).collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("merge races a concurrent appender: retries, loses no rows") {
    // upstream's ConcurrentDeleteRead class of hazard: a merge whose
    // remove-set was computed on a stale snapshot must NOT commit over an
    // interleaved append — here the version-file CAS forces the loser to
    // recompute against the new head, so every appended row and every
    // merged value must survive the race
    val t = tmp()
    DeltaTable.write((0 until 60).map(i => (i.toLong, 0L)).toDF("k", "v"),
      t, SaveMode.Append)
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val merges = Future {
      (1 to 4).foreach { i =>
        DeltaTable.merge(
          (0 until 10).map(j => (j.toLong, i.toLong)).toDF("k", "v"), t, "k")
      }
    }
    val appends = Future {
      (0 until 4).foreach { i =>
        DeltaTable.write(Seq((100L + i, -1L)).toDF("k", "v"), t, SaveMode.Append)
      }
    }
    try Await.result(Future.sequence(Seq(merges, appends)),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    val rows = DeltaTable.read(spark, t)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantKeys = (0 until 60).map(_.toLong).toSet ++ (0 until 4).map(100L + _)
    assert(rows.map(_._1).toSet === wantKeys,
      s"lost rows: ${wantKeys.diff(rows.map(_._1).toSet)}")
    assert(rows.length === 64, s"duplicated rows: ${rows.length}")
    // the merge thread is serial, so merged keys end at its LAST value
    assert(rows.filter(_._1 < 10).forall(_._2 == 4L), "merged values lost")
    assert(rows.filter(r => r._1 >= 10 && r._1 < 60).forall(_._2 == 0L))
    assert(rows.filter(_._1 >= 100).forall(_._2 == -1L))
  }

  test("merge refuses a schema-drifted batch even when data skipping leaves it untouched") {
    val t = tmp()
    // files whose k-stats are far from the updates' range → touched empty
    DeltaTable.write(Seq((1000L, 1L)).toDF("k", "v"), t, SaveMode.Append)
    val drifted = Seq((1L, "oops")).toDF("k", "v") // v: string, table has long
    val e = intercept[IllegalArgumentException] {
      DeltaTable.merge(drifted, t, "k")
    }
    assert(e.getMessage.contains("schema"),
      s"must fail the schema contract, not NULL-poison: ${e.getMessage}")
  }

  test("checkpoint rows are protocol-complete: stable id, modificationTime, tombstones") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append) // v0
    val id0 = DeltaLog.snapshot(spark, t).metaDataId.get
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Overwrite) // v1
    DeltaLog.checkpoint(spark, t)
    val cp = spark.read.parquet(
      s"$t/_delta_log/00000000000000000001.checkpoint.parquet")
    // the table id carries through — PROTOCOL.md fixes it at creation
    val ids = cp.select("metaData.id").na.drop().collect().map(_.getString(0))
    assert(ids.toSeq === Seq(id0), "checkpoint must not re-randomize the table id")
    // add entries carry the required modificationTime
    val mts = cp.select("add.modificationTime").na.drop().collect().map(_.getLong(0))
    assert(mts.nonEmpty && mts.forall(_ > 0L), s"missing modificationTime: ${mts.toSeq}")
    // the overwritten file's remove tombstone is persisted
    val tombs = cp.select("remove.path").na.drop().collect().map(_.getString(0))
    assert(tombs.length === 1, s"expected the v0 tombstone, got ${tombs.toSeq}")
    // and a checkpoint-seeded snapshot still sees id + tombstone
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.metaDataId === Some(id0))
    assert(snap.tombstones.keySet === tombs.toSet)
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("distributed pruned read == driver pruned read, across checkpoint + tail") {
    val t = tmp()
    // checkpointed history: two partitioned appends, then a checkpoint,
    // then a tail append AND a tail compaction (removes reaching back
    // into the checkpoint) — the shapes the distributed replay must
    // replay. Above the threshold readWhere selects on the checkpoint
    // frame and the graft-delta scan pushes the partition equality into
    // DeltaLog.prunedSnapshot; both must match the driver replay.
    def df(ids: Range, p: String) =
      ids.map(i => (i.toLong, p)).toDF("id", "p")
    DeltaTable.write(df(0 until 10, "a"), t, SaveMode.Append, partitionBy = Seq("p"))
    DeltaTable.write(df(10 until 20, "b"), t, SaveMode.Append)
    DeltaLog.checkpoint(spark, t)
    DeltaTable.write(df(20 until 30, "a"), t, SaveMode.Append)
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    for (part <- Seq("a", "b")) {
      val driver = ids(DeltaTable.readWhere(spark, t, col("p") === part))
      assert(driver.nonEmpty)
      distributed(t) {
        assert(ids(DeltaTable.readWhere(spark, t, col("p") === part)) === driver,
          s"partition $part diverged")
        assert(ids(spark.read.format("graft-delta").load(t).where(col("p") === part)
          .select("id")) === driver, s"graft-delta scan of partition $part diverged")
      }
    }
    distributed(t) {
      assert(DeltaTable.readWhere(spark, t, col("p") === "a")
        .inputFiles.forall(_.contains("p=a")), "pruning must not open other partitions")
    }
  }

  test("replay strategy is data-driven: checkpoint row count vs the threshold, both sides") {
    val t = tmp()
    def df(ids: Range, p: String) =
      ids.map(i => (i.toLong, p)).toDF("id", "p")
    DeltaTable.write(df(0 until 10, "a"), t, SaveMode.Append, partitionBy = Seq("p"))
    // no checkpoint yet: driver replay regardless of threshold (the JSON
    // log is small by construction)
    spark.conf.set("spark.graft.delta.distributedReplayThreshold", "0")
    try {
      assert(!DeltaTable.chooseDistributedReplay(spark, t),
        "no checkpoint must mean driver replay")
      DeltaTable.write(df(10 until 20, "b"), t, SaveMode.Append)
      DeltaLog.checkpoint(spark, t)
      val rows = DeltaLog.checkpointRows(spark, t).get
      assert(rows > 0)
      // BELOW the crossing: rows <= threshold keeps the driver path
      spark.conf.set("spark.graft.delta.distributedReplayThreshold", rows.toString)
      assert(!DeltaTable.chooseDistributedReplay(spark, t))
      // ABOVE the crossing: rows > threshold picks the distributed path,
      // and the routed readWhere stays result-identical
      spark.conf.set("spark.graft.delta.distributedReplayThreshold", (rows - 1).toString)
      assert(DeltaTable.chooseDistributedReplay(spark, t))
      assert(DeltaTable.readWhere(spark, t, col("p") === "a")
        .collect().map(_.getLong(0)).toSet === (0 until 10).map(_.toLong).toSet)
    } finally spark.conf.unset("spark.graft.delta.distributedReplayThreshold")
    // default threshold (200k): this small table stays driver-side
    assert(!DeltaTable.chooseDistributedReplay(spark, t))
  }

  test("vacuumRemoved reclaims tombstoned files after retention; head reads survive") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "old")).toDF("k", "s"), t, SaveMode.Append) // v0
    val oldFile = DeltaLog.snapshot(spark, t).files.head.path
    DeltaTable.write(Seq((2L, "new")).toDF("k", "s"), t, SaveMode.Overwrite) // v1
    assert(new java.io.File(s"$t/$oldFile").exists(), "tombstoned file still on disk")
    // inside the retention window: nothing reclaimed, time travel works
    assert(DeltaTable.vacuumRemoved(spark, t) === 0)
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L)).count() === 1L)
    // retention 0: the tombstoned file goes; head unaffected — and time
    // travel BELOW the vacuum horizon now fails (the upstream contract)
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) === 1)
    assert(!new java.io.File(s"$t/$oldFile").exists())
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSeq === Seq(2L))
    intercept[Exception] {
      DeltaTable.read(spark, t, versionAsOf = Some(0L)).collect()
    }
    // idempotent: a second vacuum finds nothing
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) === 0)
  }

  test("checkpoint tombstone retention bounds checkpoint size — once the file is reclaimed") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Overwrite)
    val cpFile = s"$t/_delta_log/00000000000000000001.checkpoint.parquet"
    // expired tombstone but the data file still exists: the checkpoint
    // must KEEP it — dropping it would orphan the file from
    // vacuumRemoved's view if checkpointing ran before the vacuum cycle
    DeltaLog.checkpoint(spark, t, tombstoneRetainMs = 0L)
    assert(spark.read.parquet(cpFile).select("remove.path").na.drop().count() === 1L,
      "an expired tombstone whose file still exists must persist")
    // after the vacuum reclaims the file, the next checkpoint (at the
    // next commit — re-checkpointing an UNCHANGED version is an
    // idempotent no-op by design, it reuses the durable file) drops it
    assert(DeltaTable.vacuumRemoved(spark, t, retainMs = 0L) === 1)
    DeltaTable.write(Seq((3L, "c")).toDF("k", "s"), t, SaveMode.Append)
    DeltaLog.checkpoint(spark, t, tombstoneRetainMs = 0L)
    val cpFile2 = s"$t/_delta_log/00000000000000000002.checkpoint.parquet"
    assert(spark.read.parquet(cpFile2).select("remove.path").na.drop().count() === 0L,
      "reclaimed tombstones must not accumulate in checkpoints")
    // the table itself still reads fine from the checkpoint seed
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("vacuumOrphans never touches tombstoned files (vacuumRemoved's clock) or breaks on cleaned logs") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)  // v0
    val oldFile = DeltaLog.snapshot(spark, t).files.head.path
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Overwrite) // v1
    // a true crash orphan: staged-looking file no artifact references
    val orphan = new java.io.File(s"$t/part-orphan.snappy.parquet")
    java.nio.file.Files.writeString(orphan.toPath, "junk")
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) === 1,
      "exactly the orphan goes; the tombstoned file belongs to vacuumRemoved")
    assert(!orphan.exists())
    assert(new java.io.File(s"$t/$oldFile").exists(),
      "tombstoned file must survive vacuumOrphans")
    // and on a cleaned log (v0 JSON gone below the checkpoint) it still
    // runs off retained artifacts instead of replaying dead versions
    DeltaTable.write(Seq((3L, "c")).toDF("k", "s"), t, SaveMode.Append) // v2
    DeltaLog.checkpoint(spark, t)
    DeltaLog.cleanLog(spark, t, retainMs = 0L)
    assert(DeltaTable.vacuumOrphans(spark, t, olderThanMs = 0L) === 0)
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("a log cleaned mid-history refuses partial time travel") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append) // v0
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Append) // v1
    DeltaTable.write(Seq((3L, "c")).toDF("k", "s"), t, SaveMode.Append) // v2
    DeltaLog.checkpoint(spark, t) // cp@2
    // simulate a partial clean that removed only v0 (e.g. mtime-uneven
    // retention): asOf=1 has no covering checkpoint and no v0 root —
    // replaying just v1 would silently drop v0's rows
    assert(new java.io.File(s"$t/_delta_log/00000000000000000000.json").delete())
    intercept[IllegalArgumentException] {
      DeltaLog.snapshot(spark, t, asOf = Some(1L))
    }
    // the head still reads via the checkpoint
    assert(DeltaTable.read(spark, t).count() === 3L)
  }

  test("cleanLog drops pre-checkpoint JSON after retention; tailers below the horizon fail loudly") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append) // v0
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Append) // v1
    DeltaLog.checkpoint(spark, t)                                       // cp@1
    DeltaTable.write(Seq((3L, "c")).toDF("k", "s"), t, SaveMode.Append) // v2
    // inside retention: nothing deleted
    assert(DeltaLog.cleanLog(spark, t) === 0)
    // retention 0: v0 goes (strictly below the checkpoint), v1/v2 stay
    assert(DeltaLog.cleanLog(spark, t, retainMs = 0L) === 1)
    assert(DeltaLog.versions(spark, t) === Seq(1L, 2L))
    // head reads seed from the checkpoint, unaffected
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    // time travel below the horizon fails loudly
    intercept[IllegalArgumentException] {
      DeltaTable.read(spark, t, versionAsOf = Some(0L))
    }
    // a tailer whose cursor predates the horizon must rebase, not skip:
    // commits (cursor, min-retained) are gone and their rows unreadable
    val (whole, v0, rebase) = DeltaTable.changesOrRebase(spark, t, sinceVersion = -1L)
    assert(rebase && v0 === 2L)
    assert(whole.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // a tailer at or past the horizon still tails
    val (delta, v, r) = DeltaTable.changesOrRebase(spark, t, sinceVersion = 1L)
    assert(!r && v === 2L && delta.collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("describeHistory surfaces commitInfo operations, newest first") {
    val t = tmp()
    DeltaTable.write(Seq((1L, 1L)).toDF("k", "v"), t, SaveMode.Append)
    DeltaTable.merge(Seq((1L, 2L)).toDF("k", "v"), t, "k")
    DeltaTable.write(Seq((9L, 9L), (10L, 10L)).toDF("k", "v").repartition(2),
      t, SaveMode.Overwrite)
    DeltaTable.compactFiles(spark, t, smallerThanBytes = Long.MaxValue)
    val h = DeltaTable.describeHistory(spark, t)
    assert(h.map(_.version) === h.map(_.version).sorted.reverse, "newest first")
    assert(h.map(_.operation).reverse ===
      Seq("WRITE APPEND", "MERGE", "WRITE OVERWRITE", "OPTIMIZE"))
    assert(h.forall(_.timestampMs > 0L))
    // the streaming-append path records its own operation
    assert(DeltaTable.appendWithTxn(Seq((2L, 2L)).toDF("k", "v"), t, "app", 1L))
    assert(DeltaTable.describeHistory(spark, t).head.operation === "STREAMING UPDATE")
  }

  test("describeHistory's timestamp round-trips through TIMESTAMP AS OF on foreign logs") {
    // round-16 advice: a foreign-written non-ICT commit may bury its
    // commitInfo mid-body (legal — commitInfo is optional and
    // position-free outside the ICT feature). History used to show the
    // buried commitInfo.timestamp while time travel resolved by mtime,
    // so a history timestamp did not round-trip through TIMESTAMP AS
    // OF. Both surfaces now share first-line resolution: buried
    // commitInfo → mtime for the TIMESTAMP, body parse for the
    // OPERATION (which has no time-travel counterpart to disagree with)
    val dir = java.nio.file.Files.createTempDirectory("histagree").toString
    val t = s"$dir/t"
    val log = new java.io.File(s"$t/_delta_log")
    assert(log.mkdirs())
    def write(v: Long, lines: Seq[String], mtime: Long): Unit = {
      val f = new java.io.File(log, f"$v%020d.json")
      val w = new java.io.FileWriter(f)
      try w.write(lines.mkString("", "\n", "\n")) finally w.close()
      assert(f.setLastModified(mtime))
    }
    val base = 1600000000000L
    // v0: protocol first, commitInfo BURIED second with a wildly-off
    // advisory timestamp; v1: same shape, different buried stamp
    write(0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      """{"commitInfo":{"operation":"FOREIGN CREATE","timestamp":1234}}"""),
      base)
    write(1L, Seq(
      """{"commitInfo":{"operation":"FOREIGN APPEND","timestamp":999}}""",
      """{"txn":{"appId":"x","version":1}}"""),
      base + 60000L)
    val h = DeltaTable.describeHistory(spark, t).sortBy(_.version)
    // v0: buried commitInfo → the timestamp column is the MTIME (what
    // time travel resolves by), never the buried advisory stamp
    assert(h(0).timestampMs === base,
      s"buried commitInfo must not leak into the timestamp: ${h(0)}")
    // v1: commitInfo IS the first line → its advisory stamp... but the
    // engine prefers it on both surfaces, so they still agree
    assert(h(1).timestampMs === 999L)
    // the operation column keeps the body parse either way
    assert(h.map(_.operation) === Seq("FOREIGN CREATE", "FOREIGN APPEND"))
    // the round-trip property itself: every history timestamp resolves
    // to its own version through TIMESTAMP AS OF... except where a
    // non-monotone raw clock (v1's 999 < v0's mtime) is monotonized by
    // resolution — v1's EFFECTIVE time is max(base, 999) = base, so
    // base resolves to v1, and history's v0 stamp equals that instant
    assert(DeltaTable.versionAtTimestamp(spark, t, h(1).timestampMs.max(
      h(0).timestampMs)) === 1L)
    // before every effective commit time: the named refusal, by the
    // same clock history displays
    val e = intercept[IllegalArgumentException](
      DeltaTable.versionAtTimestamp(spark, t, base - 1L))
    assert(e.getMessage.contains("no commit at or before"))
  }

  test("merge refuses an unstatted key type instead of silently dropping the batch") {
    val t = tmp()
    DeltaTable.write(Seq((1.5, 1L)).toDF("k", "v"), t, SaveMode.Append)
    // doubles have neither long nor string bounds in the add stats — a
    // silent fallback would lose every upsert to the empty-batch check
    val e = intercept[IllegalArgumentException] {
      DeltaTable.merge(Seq((2.5, 2L)).toDF("k", "v"), t, "k")
    }
    assert(e.getMessage.contains("integral or string"), e.getMessage)
    assert(DeltaTable.read(spark, t).count() === 1L)
  }

  test("merge on a STRING key upserts and data-skips on string bounds") {
    val t = tmp()
    // two files with disjoint string key ranges
    DeltaTable.write((1 to 50).map(i => (f"a$i%02d", i.toLong)).toDF("k", "v")
      .coalesce(1), t, SaveMode.Append)
    DeltaTable.write((1 to 50).map(i => (f"m$i%02d", i.toLong + 100)).toDF("k", "v")
      .coalesce(1), t, SaveMode.Append)
    val before = DeltaLog.snapshot(spark, t).files.map(_.path).toSet
    // updates confined to the a-range: the m-file must survive UNTOUCHED
    DeltaTable.merge(Seq(("a10", 999L), ("a99", 777L)).toDF("k", "v"), t, "k")
    val after = DeltaLog.snapshot(spark, t)
    val mFile = before.filter(p => after.files.map(_.path).contains(p))
    assert(mFile.size === 1, s"the disjoint-range file must carry over by name")
    val got = DeltaTable.read(spark, t).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got("a10") === 999L, "matched key must update")
    assert(got("a99") === 777L, "unmatched key must insert")
    assert(got("a11") === 11L && got("m10") === 110L, "others untouched")
    assert(got.size === 101)
  }

  test("a torn _last_checkpoint degrades to JSON replay, not a wedged table") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    DeltaLog.checkpoint(spark, t)
    DeltaTable.write(Seq((2L, "b")).toDF("k", "s"), t, SaveMode.Append)
    // simulate the pre-atomic-write crash artifact: zero-byte pointer
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$t/_delta_log/_last_checkpoint"),
      true).close()
    assert(DeltaLog.lastCheckpointVersion(spark, t) === None)
    assert(DeltaTable.read(spark, t).collect().map(_.getLong(0)).toSet
      === Set(1L, 2L), "JSON history must carry reads through a torn pointer")
    // a fresh checkpoint call repairs the pointer (idempotent re-use of
    // the durable checkpoint file, atomic pointer rewrite)
    DeltaLog.checkpoint(spark, t)
    assert(DeltaLog.lastCheckpointVersion(spark, t) === Some(1L))
  }

  test("prunedSnapshot: a checkpointed path re-added then removed in the tail stays dead") {
    val t = tmp()
    DeltaTable.write((0 until 4).map(i => (i.toLong, s"p${i % 2}")).toDF("k", "p"),
      t, SaveMode.Append, partitionBy = Seq("p"))
    DeltaLog.checkpoint(spark, t)
    val head = DeltaLog.snapshot(spark, t)
    val victim = head.files.head
    // tail: re-ADD the checkpointed path (v), then REMOVE it (v+1) — the
    // stale checkpoint row must not resurrect the file
    assert(DeltaLog.commit(spark, t, head.version + 1, Seq(
      DeltaLog.addAction(victim.path, victim.size, 1L,
        partitionValues = victim.partitionValues))))
    assert(DeltaLog.commit(spark, t, head.version + 2, Seq(
      DeltaLog.removeAction(victim.path, 2L))))
    val part = victim.partitionValues("p")
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    val driver = ids(DeltaTable.readWhere(spark, t, col("p") === part))
    distributed(t) {
      val dist = ids(DeltaTable.readWhere(spark, t, col("p") === part))
      assert(dist === driver, s"resurrected rows: ${dist.diff(driver)}")
      val scan = ids(spark.read.format("graft-delta").load(t)
        .where(col("p") === part).select("k"))
      assert(scan === driver, s"graft-delta scan resurrected rows: ${scan.diff(driver)}")
    }
  }

  test("schema evolution re-emits metaData with the TABLE's id, not a fresh one") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    val id0 = DeltaLog.snapshot(spark, t).metaDataId.get
    DeltaTable.write(Seq((2L, "b", 9L)).toDF("k", "s", "extra"), t, SaveMode.Overwrite)
    // read the evolution commit's raw JSON: its metaData.id must be id0
    val lines = scala.io.Source.fromFile(
      new java.io.File(s"$t/_delta_log/00000000000000000001.json")).getLines().toList
    val metaLine = lines.find(_.contains("\"metaData\"")).get
    assert(metaLine.contains(s""""id":"$id0""""),
      s"evolution minted a new table id: $metaLine")
  }

  test("mergeSchema append: new columns land nullable, history NULL-fills, time travel keeps the old schema") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    // additive evolution: new column appended, union schema committed
    DeltaTable.write(Seq((2L, "b", 10L)).toDF("k", "s", "extra"), t,
      SaveMode.Append, mergeSchema = true)
    val df = DeltaTable.read(spark, t)
    assert(df.schema.fieldNames.toSeq === Seq("k", "s", "extra"),
      "existing column order must be kept, new columns appended")
    assert(df.schema("extra").nullable, "evolved columns must be nullable")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got === Set((1L, "a", -1L), (2L, "b", 10L)),
      "pre-evolution rows must NULL-fill the new column")
    // VERSION AS OF 0 reads under the ORIGINAL two-column schema
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L))
      .schema.fieldNames.toSeq === Seq("k", "s"))
    // a SUBSET-schema append under mergeSchema: fine, absent column NULLs,
    // and no metaData is re-emitted (the schema did not grow)
    val metasBefore = DeltaLog.snapshot(spark, t).version
    DeltaTable.write(Seq((3L, "c")).toDF("k", "s"), t,
      SaveMode.Append, mergeSchema = true)
    val lines = scala.io.Source.fromFile(new java.io.File(
      f"$t/_delta_log/${metasBefore + 1}%020d.json")).getLines().toList
    assert(!lines.exists(_.contains("\"metaData\"")),
      "a non-growing mergeSchema append must not re-emit metaData")
    assert(DeltaTable.read(spark, t).filter("k = 3").head().isNullAt(2))
  }

  test("mergeSchema refuses type changes; plain append still refuses new columns") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("k", "s"), t, SaveMode.Append)
    val e1 = intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((2L, 7L)).toDF("k", "s"), t,
        SaveMode.Append, mergeSchema = true)
    }
    assert(e1.getMessage.contains("cannot change `s`"),
      s"type change must be refused: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      DeltaTable.write(Seq((2L, "b", 1L)).toDF("k", "s", "extra"), t, SaveMode.Append)
    }
    assert(e2.getMessage.contains("mergeSchema"),
      s"the refusal must point at the opt-in: ${e2.getMessage}")
  }
}
