package graft.apps

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables.table

/** Round-19 optimization probe: phase-level timings for the expensive
  * headline queries, so optimization targets the phase that actually costs
  * (guide §1 — measure first). Mirrors the Bench session config exactly.
  * Usage: runMain graft.apps.OptProbe <probe> [reps]
  */
object OptProbe {
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
    // A/B knob for the local-FS chmod/crc fix (default ON, like Bench)
    val s = (if (sys.env.contains("SPARK_GRAFT_STOCK_LOCALFS")) b
             else b.config("spark.hadoop.fs.file.impl",
               "graft.sources.GraftLocalFileSystem"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val probe = args.headOption.getOrElse("q105")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      System.gc()
      println(s"=== rep $r ===")
      probe match {
        case "q105" => q105(spark, sfDir)
        case "q63" => q63(spark, sfDir)
        case "q19" => q19(spark, sfDir)
        case "mergeloop" => mergeLoop(spark, sfDir)
        case "q92" => q92(spark, sfDir)
        case "q52" => q52(spark, sfDir)
        case "q66" => q66(spark, sfDir)
        case "micro" => micro(spark, sfDir)
        case "q01" => q01(spark, sfDir)
        case "q67" => q67(spark, sfDir)
        case "spreadAB" => spreadAB(spark, sfDir)
        case "spreadAB2" => spreadAB2(spark, sfDir)
        case other => sys.error(s"unknown probe $other")
      }
    }
    spark.stop()
  }

  private def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[phase] $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f")
    r
  }

  /** Per-job wall times inside a phase — which Spark jobs a DML op runs
    * and what each costs (guide §1/§7: map stages back to operators). */
  private def jobs[A](spark: SparkSession, label: String)(f: => A): A = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val phase0 = System.nanoTime()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(e.jobId, (System.nanoTime(), d))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.get(e.jobId)).foreach { case (t0, d) =>
          lines.add(f"  job ${e.jobId}%3d at ${(t0 - phase0) / 1e9}%7.3f for ${(System.nanoTime() - t0) / 1e9}%7.3f  $d")
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try t(label)(f)
    finally {
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      lines.asScala.toSeq.sorted.foreach(println)
    }
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** q105 phase split: write+props / delete / update / merge / stream / agg. */
  def q105(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.delta.{DeltaLog, DeltaTable, MergeClause}
    val scratch = java.nio.file.Files.createTempDirectory("graft_q105p")
    val tp = s"$scratch/t"
    val outp = s"$scratch/out"
    try {
      val docs = table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      t("write v0") {
        DeltaTable.write(docs.repartition(8, col("doc_id")), tp, SaveMode.Append)
      }
      t("setProperties v1") {
        DeltaTable.setProperties(spark, tp,
          Map("delta.enableChangeDataFeed" -> "true",
            "delta.enableDeletionVectors" -> "true"))
      }
      sampled("delete v2")(jobs(spark, "delete v2") {
        DeltaTable.delete(spark, tp, pmod(col("doc_id"), lit(10)) === 3)
      })
      sampled("update v3")(t("update v3") {
        DeltaTable.update(spark, tp, pmod(col("doc_id"), lit(7)) === 2,
          Map("n_chars" -> (col("n_chars") + 5L)))
      })
      sampled("merge v4")(jobs(spark, "merge v4") {
        val msrc = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
        DeltaTable.mergeInto(msrc, tp, targetKey = "doc_id", sourceKey = "doc_id",
          matched = Seq(MergeClause.Update(None, Map(
            "n_chars" -> (DeltaTable.src("n_chars") + 1000L)))),
          notMatched = Seq(MergeClause.Insert(None, Map(
            "doc_id" -> DeltaTable.src("doc_id"),
            "lang" -> DeltaTable.src("lang"),
            "n_chars" -> DeltaTable.src("n_chars")))))
      })
      t("stream CDF") {
        val q = spark.readStream.format("graft-delta")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1").load(tp)
          .writeStream.format("parquet").option("path", outp)
          .option("checkpointLocation", s"$scratch/chk")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
      }
      t("final agg") {
        val feed = spark.read.parquet(outp)
        val cdfSec = feed
          .select(concat(lit("cdf_"), col("_change_type")).as("section"),
            col("lang"), col("n_chars"))
        val finalSec = DeltaTable.read(spark, tp)
          .select(lit("final").as("section"), col("lang"), col("n_chars"))
        val agg = cdfSec.unionByName(finalSec)
          .groupBy(col("section"), col("lang"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
        agg.collect()
      }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(scratch)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** q52 phase split: LSH edges / components / sizes join. */
  def q52(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{ConnectedComponents, TextDedup}
    val edges = TextDedup
      .minhashPairs(table(spark, dir, "documents"), n = 3, minJaccard = 0.5)
      .select(col("a_id"), col("b_id"))
    val e = t("edges (LSH pipeline)") {
      edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        .count(); edges
    }
    val comp = jobs(spark, "components") {
      val c = ConnectedComponents.components(e)
      noop(c); c
    }
    t("sizes join") {
      val sizes = comp.groupBy(col("component_id")).agg(count(lit(1)).as("csize"))
      noop(comp.select(col("id").as("doc_id"), col("component_id"))
        .join(sizes, "component_id"))
    }
    e.unpersist()
  }

  /** In-process driver sampler (guide §7.3 without the pid hunt): every
    * ~20 ms record the CALLER thread's top owned frame — the deepest
    * frame in `graft.` or `org.apache.spark.sql.` — plus a coarse
    * category, and print the histogram when the thunk finishes. */
  private def sampled[A](label: String)(f: => A): A = {
    val target = Thread.currentThread()
    val hist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val ehist = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        // executor-side view: what the task threads are doing while the
        // driver waits (RUNNABLE only — parked pool threads are noise)
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (t, est) =>
          if (t.getName.startsWith("Executor task launch") &&
              t.getState == Thread.State.RUNNABLE && est.nonEmpty) {
            val fr = est.map(e => e.getClassName + "." + e.getMethodName)
            def has(s: String) = fr.exists(_.contains(s))
            val cat =
              if (has("CodeGenerator") || has("janino")) "codegen-compile"
              else if (has("ParquetFileFormat") || has("Parquet")) "parquet-io"
              else if (has("ShuffleWriter") || has("ShuffleReader") ||
                has("shuffle")) "shuffle"
              else if (has("GraftLocal") || has("RawLocal") ||
                has("FileSystem")) "fs"
              else fr.headOption.getOrElse("?").take(80)
            ehist.merge(cat, 1, (a, b) => a + b)
          }
        }
        val st = target.getStackTrace
        if (st.nonEmpty) {
          val cat = {
            val j = st.map(e => e.getClassName + "." + e.getMethodName)
            def has(s: String) = j.exists(_.contains(s))
            if (has("RuleExecutor.execute") && has("Optimizer")) "optimizer"
            else if (has("Analyzer") || has("RuleExecutor")) "analyzer/rules"
            else if (has("resolveRelation") || has("FileIndex") ||
              has("DataSource")) "relation-resolve"
            else if (has("awaitResult") || has("runJob") ||
              has("executeCollect") || has("executeTake")) "await-spark-job"
            else if (has("ParquetFileReader") || has("footerStats")) "parquet-footer"
            else if (has("json4s") || has("JsonMethods")) "log-json"
            else if (has("FileSystem") || has("RawLocal") || has("GraftLocal")) "fs-ops"
            else if (has("QueryExecution") || has("SparkPlan") ||
              has("planner")) "planning"
            else "other:" + j.take(12).lastOption.getOrElse("?")
          }
          hist.merge(cat, 1, (a, b) => a + b)
        }
        Thread.sleep(20)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    try f finally {
      stop = true
      import scala.jdk.CollectionConverters._
      val total = hist.values.asScala.map(_.toInt).sum.max(1)
      println(s"[sampled] $label ($total samples)")
      hist.asScala.toSeq.sortBy(-_._2).foreach { case (k, v) =>
        println(f"  ${v * 100.0 / total}%5.1f%% ($v%4d) $k")
      }
      val etotal = ehist.values.asScala.map(_.toInt).sum
      if (etotal > 0) {
        println(s"[sampled-exec] $label ($etotal runnable task-thread samples)")
        ehist.asScala.toSeq.sortBy(-_._2).take(8).foreach { case (k, v) =>
          println(f"  ${v * 100.0 / etotal}%5.1f%% ($v%4d) $k")
        }
      }
    }
  }

  /** q66 phase split: the full leak-free-split pipeline, with the edges
    * phase further split the q19 way (shingles / signatures / bands /
    * verify) — r19 verdict ask #5: q66's minhashPairs phase was only
    * indirectly optimized and is now the board's #2 query. */
  def q66(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{ConnectedComponents, Sampling, TextDedup}
    val docs = table(spark, dir, "documents")
    val sh = TextDedup.shingles(docs, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sampled("q66 total") {
      t("shingles persist") { sh.count() }
      val sigs = TextDedup.minhashSignaturesSketch(sh, 64)
      t("signatures") { noop(sigs) }
      val cands = TextDedup.lshCandidates(TextDedup.lshBandsFromSig(sigs, 16, 4))
      t("bands+candidates") { noop(cands) }
      val edges = TextDedup.jaccardFor(cands, sh)
        .filter(col("jaccard") >= 0.5)
        .select(col("a_id"), col("b_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("jaccard verify persist") { edges.count() }
      val comp = t("components") {
        val c = ConnectedComponents.components(edges)
          .select(col("id").as("doc_id"), col("component_id")); c
      }
      t("leakFreeSplit") {
        noop(Sampling.leakFreeSplit(docs.select(col("doc_id")), comp,
          valPermille = 100, testPermille = 100))
      }
      edges.unpersist()
    }
    sh.unpersist()
  }

  /** Repeated q105-shaped DV merges on fresh tables — a sampling window
    * for driver profiling (jstack the main thread while this runs). */
  def mergeLoop(spark: SparkSession, dir: String): Unit = sampled("mergeloop") {
    import graft.sources.delta.{DeltaTable, MergeClause}
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (1 to 20).foreach { i =>
      val scratch = java.nio.file.Files.createTempDirectory("graft_mloop")
      val tp = s"$scratch/t"
      try {
        DeltaTable.write(docs.repartitionByRange(8, col("doc_id")), tp, SaveMode.Append)
        DeltaTable.setProperties(spark, tp,
          Map("delta.enableChangeDataFeed" -> "true",
            "delta.enableDeletionVectors" -> "true"))
        val msrc = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
        t(s"merge $i") {
          DeltaTable.mergeInto(msrc, tp, targetKey = "doc_id", sourceKey = "doc_id",
            matched = Seq(MergeClause.Update(None, Map(
              "n_chars" -> (DeltaTable.src("n_chars") + 1000L)))),
            notMatched = Seq(MergeClause.Insert(None, Map(
              "doc_id" -> DeltaTable.src("doc_id"),
              "lang" -> DeltaTable.src("lang"),
              "n_chars" -> DeltaTable.src("n_chars")))))
        }
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(scratch)
        try walk.iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }
  }

  /** q92-shaped catalog merge (partitioned + CDF, no DVs): per-job split
    * of the MERGE plus the file counts its staging writes produced — a
    * partitionBy staging write emits one file per (task × partition
    * value), so the driver-side per-file work (rename + getFileStatus +
    * footerStats) is O(tasks × partitions), not O(partitions). */
  def q92(spark: SparkSession, dir: String): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_q92p")
    val cat = s"g92p_${java.lang.Long.toHexString(scratch.toString.hashCode & 0xffffffffL)}"
    try {
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.delta.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", scratch.toString)
      table(spark, dir, "documents").createOrReplaceTempView(s"docs_src_$cat")
      spark.sql(s"CREATE NAMESPACE $cat.corpus")
      spark.sql(s"""CREATE TABLE $cat.corpus.docs
                    (doc_id BIGINT, lang STRING, n_chars BIGINT)
                    PARTITIONED BY (lang)""")
      spark.sql(s"""ALTER TABLE $cat.corpus.docs
                    SET TBLPROPERTIES ('delta.enableChangeDataFeed'='true')""")
      t("insert (partitioned)") {
        spark.sql(s"""INSERT INTO $cat.corpus.docs
                      SELECT doc_id, lang, n_chars FROM docs_src_$cat""")
      }
      jobs(spark, "merge (3 clauses)") {
        spark.sql(s"""
          MERGE INTO $cat.corpus.docs AS t
          USING (SELECT doc_id, lang, n_chars FROM docs_src_$cat
                 WHERE doc_id % 3 = 0
                 UNION ALL
                 SELECT doc_id + 1000000, 'new', n_chars FROM docs_src_$cat
                 WHERE doc_id % 13 = 0) AS s
          ON t.doc_id = s.doc_id
          WHEN MATCHED AND s.n_chars % 2 = 0 THEN DELETE
          WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 100
          WHEN NOT MATCHED AND s.n_chars >= 200 THEN
            INSERT (doc_id, lang, n_chars) VALUES (s.doc_id, s.lang, s.n_chars)
          """)
      }
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(scratch)
      val files = try walk.iterator().asScala.toSeq.map(_.toString)
        finally walk.close()
      val data = files.count(f => f.endsWith(".parquet") && !f.contains("_change_data"))
      val cdc = files.count(f => f.endsWith(".parquet") && f.contains("_change_data"))
      println(s"[files] data=$data cdc=$cdc")
    } finally {
      // drop the source view and the catalog's confs before deleting the
      // warehouse: the session's configuration then names no catalog
      // over a deleted directory
      spark.catalog.dropTempView(s"docs_src_$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(scratch)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** q01 scan-parallelism probe: the sf testdata ships ONE parquet row
    * group per table, so the scan+partial-agg stage runs on one core no
    * matter how small maxPartitionBytes is (a row group cannot split).
    * Compare the current shape vs a repartition-after-read spread
    * (guide §2.5 input-skew fix). */
  def q01(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.types.DecimalType
    import graft.Num._
    val l = table(spark, dir, "lineitem")
    val eD = col("l_extendedprice").cast(DecimalType(18, 2))
    val dD = col("l_discount").cast(DecimalType(4, 2))
    val tD = col("l_tax").cast(DecimalType(4, 2))
    val disc = eD * (lit(1) - dD)
    val charge = disc * (lit(1) + tD)
    def aggOf(src: org.apache.spark.sql.DataFrame) = src
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(disc).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
    val p = spark.sparkContext.defaultParallelism
    t("q01 current (1 row group)") { noop(aggOf(l)) }
    t(s"q01 repartition($p) after read") { noop(aggOf(l.repartition(p))) }
    t(s"q01 repartition($p, orderkey)") {
      noop(aggOf(l.repartition(p, col("l_orderkey"))))
    }
    t(s"q01 repartition($p, xxhash)") {
      noop(aggOf(l.repartition(p,
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(p * 64)))))
    }
    t("q01 scan+count only") { noop(l.select(col("l_quantity"))) }
    t("q01 scan all 7 cols noop") {
      noop(l.select(col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")))
    }
  }

  /** In-JVM alternating plain-vs-spread A/B for every query whose spread
    * decision came from cross-JVM stash pairs (which a decaying host
    * window biases toward whichever side ran second): each rep runs
    * plain then spread back-to-back on the SAME session, so the window
    * hits both sides equally. */
  def spreadAB(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{Bm25, ConnectedComponents, GlobalIndex,
      PqSearch, SequencePack, ShardPack, TextDedup, VectorSearch}
    import spark.implicits._
    val p = spark.sparkContext.defaultParallelism
    def docs(spread: Boolean) = {
      val d = table(spark, dir, "documents")
      if (spread) d.repartition(p, col("doc_id")) else d
    }
    def emb(spread: Boolean) = {
      val e = table(spark, dir, "embeddings")
      if (spread) e.repartition(p, col("vec_id")) else e
    }
    def both(name: String)(f: Boolean => Unit): Unit =
      Seq(false, true).foreach { s =>
        spark.catalog.clearCache(); System.gc()
        t(s"$name ${if (s) "spread" else "plain "}")(f(s))
      }
    both("q22 md5 dedup") { s =>
      noop(docs(s).groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")))
    }
    both("q19 minhashPairs") { s =>
      noop(TextDedup.minhashPairs(docs(s), n = 3, minJaccard = 0.5))
    }
    both("q52 dedupClusters") { s =>
      noop(ConnectedComponents.dedupClusters(
        TextDedup.minhashPairs(docs(s), n = 3, minJaccard = 0.5)
          .select(col("a_id"), col("b_id"))))
    }
    both("q55 shardPack") { s =>
      val d = docs(s)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("ntok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      noop(ShardPack.pack(d, col("doc_id"), col("ntok"), budget = 10000L)
        .select(col("doc_id"), col("ntok"), col("cum_before"), col("shard")))
      d.unpersist()
    }
    both("q57 globalIndex") { s =>
      noop(GlobalIndex.rank(
        docs(s).select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok")),
        col("ntok").desc, col("doc_id").asc))
    }
    both("q102 seqPack spans") { s =>
      val d = docs(s)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("ntok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val spans = SequencePack.spans(d, col("doc_id"), col("ntok"), 2048L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      noop(spans)
      spans.unpersist(); d.unpersist()
    }
    both("q28 annLsh") { s => noop(VectorSearch.annLsh(emb(s), k = 5)) }
    both("q77 pqTopK") { s =>
      val e = emb(s)
      noop(PqSearch.pqTopK(e.filter(col("vec_id") < 10), e, k = 5))
    }
    both("q76 bm25 topK") { s =>
      noop(Bm25.topK(docs(s), Seq("merge", "window", "scan"), k = 10))
    }
    both("q84 bm25 multi") { s =>
      val qs = Seq(
        (0L, Seq("merge", "window", "scan")),
        (1L, Seq("filter", "join")),
        (2L, Seq("vector"))).toDF("query_id", "terms")
      noop(Bm25.topKMulti(docs(s), qs, k = 10, maxTerms = 3))
    }
  }

  /** Second alternating batch: the remaining spread-decision queries. */
  def spreadAB2(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{ConnectedComponents, IvfSearch, Sampling,
      TextDedup, VectorSearch}
    val p = spark.sparkContext.defaultParallelism
    def docs(spread: Boolean) = {
      val d = table(spark, dir, "documents")
      if (spread) d.repartition(p, col("doc_id")) else d
    }
    def emb(spread: Boolean) = {
      val e = table(spark, dir, "embeddings")
      if (spread) e.repartition(p, col("vec_id")) else e
    }
    def both(name: String)(f: Boolean => Unit): Unit =
      Seq(false, true).foreach { s =>
        spark.catalog.clearCache(); System.gc()
        t(s"$name ${if (s) "spread" else "plain "}")(f(s))
      }
    both("q38 nearDupsLsh") { s =>
      val e = emb(s).select(col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 10).select(
        (-(col("vec_id") + 1)).as("vec_id"),
        expr("transform(embedding, x -> x + x)").as("embedding"))
      noop(VectorSearch.cosineNearDupsLsh(e.union(planted), minCosine = 0.9,
        nBits = 10, nTables = 16))
    }
    both("q65 minhashJoin") { s =>
      val d = docs(s)
      noop(TextDedup.minhashJoin(
        left = d.filter(col("doc_id") % 10 === 7),
        right = d.filter(col("doc_id") % 10 =!= 7),
        n = 3, minJaccard = 0.5))
    }
    both("q66 leakFreeSplit") { s =>
      val d = docs(s)
      val edges = TextDedup.minhashPairs(d, n = 3, minJaccard = 0.5)
        .select(col("a_id"), col("b_id"))
      noop(Sampling.leakFreeSplit(
        d.select(col("doc_id")),
        ConnectedComponents.components(edges)
          .select(col("id").as("doc_id"), col("component_id")),
        valPermille = 100, testPermille = 100))
    }
    both("q36 ivfTopK r0") { s =>
      noop(IvfSearch.ivfTopK(emb(s), k = 5, nProbe = 8))
    }
    both("q63 bloomOverlaps") { s =>
      val d = docs(s)
      noop(graft.operators.Decontaminate.bloomOverlaps(
        train = d.filter(col("doc_id") % 10 =!= 7),
        eval = d.filter(col("doc_id") % 10 === 7),
        n = 3, minOverlap = 10))
    }
  }

  /** q67 phase split: the IVF+refine ANN path vs the recall gate's
    * 100-query brute-force truth, each alone, plus spread variants. */
  def q67(spark: SparkSession, dir: String): Unit = {
    import graft.operators.{IvfSearch, VectorSearch}
    val emb = table(spark, dir, "embeddings")
    val embS = emb.repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    t("ann path (ivf refine=3) plain") {
      noop(IvfSearch.ivfTopK(emb, k = 5, nProbe = 8, refineIters = 3))
    }
    t("ann path (ivf refine=3) spread") {
      noop(IvfSearch.ivfTopK(embS, k = 5, nProbe = 8, refineIters = 3))
    }
    t("gate truth (bruteForce k=1) plain") {
      noop(VectorSearch.bruteForceTopK(emb.filter(col("vec_id") < 100), emb, k = 1))
    }
    t("gate truth (bruteForce k=1) spread") {
      noop(VectorSearch.bruteForceTopK(embS.filter(col("vec_id") < 100), embS, k = 1))
    }
  }

  /** Driver-side micro-costs on a q105-shaped table: log listing,
    * snapshot replay, metaSnapshot, checkpointRows, parquet schema
    * inference of the CDF feed — each timed over repeated calls so the
    * per-call cost of the DML loop's metadata work is visible. */
  def micro(spark: SparkSession, dir: String): Unit = {
    import graft.sources.delta.{DeltaLog, DeltaTable, MergeClause}
    val scratch = java.nio.file.Files.createTempDirectory("graft_micro")
    val tp = s"$scratch/t"
    try {
      val docs = table(spark, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      DeltaTable.write(docs.repartition(8, col("doc_id")), tp, SaveMode.Append)
      DeltaTable.setProperties(spark, tp,
        Map("delta.enableChangeDataFeed" -> "true",
          "delta.enableDeletionVectors" -> "true"))
      DeltaTable.delete(spark, tp, pmod(col("doc_id"), lit(10)) === 3)
      DeltaTable.update(spark, tp, pmod(col("doc_id"), lit(7)) === 2,
        Map("n_chars" -> (col("n_chars") + 5L)))
      val msrc = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
      DeltaTable.mergeInto(msrc, tp, targetKey = "doc_id", sourceKey = "doc_id",
        matched = Seq(MergeClause.Update(None, Map(
          "n_chars" -> (DeltaTable.src("n_chars") + 1000L)))),
        notMatched = Seq(MergeClause.Insert(None, Map(
          "doc_id" -> DeltaTable.src("doc_id"),
          "lang" -> DeltaTable.src("lang"),
          "n_chars" -> DeltaTable.src("n_chars")))))
      def bench(label: String, reps: Int)(f: => Unit): Unit = {
        f // warm
        val t0 = System.nanoTime()
        (1 to reps).foreach(_ => f)
        println(f"[micro] $label%-34s ${(System.nanoTime() - t0) / 1e6 / reps}%.2f ms/call")
      }
      bench("versions (log listStatus)", 50) { DeltaLog.versions(spark, tp) }
      bench("snapshot (full replay)", 50) { DeltaLog.snapshot(spark, tp) }
      bench("metaSnapshot", 50) { DeltaLog.metaSnapshot(spark, tp) }
      bench("checkpointRows", 50) { DeltaLog.checkpointRows(spark, tp) }
      bench("read (DeltaTable.read plan)", 20) { DeltaTable.read(spark, tp) }
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(scratch)
      try walk.iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** q63 phase split: eval shingle persist / bloom build / gated scan /
    * verify join. */
  def q63(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    import graft.functions.{BloomFilterAgg, BloomHits}
    import graft.operators.TextDedup
    val docs = table(spark, dir, "documents")
    val train = docs.filter(col("doc_id") % 10 =!= 7)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    val n = 3
    val evalSh = TextDedup.shingles(eval, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bloom: Array[Long] = t("bloom build (+eval persist)") {
      evalSh.agg(CB.column(
        BloomFilterAgg(CB.expression(xxhash64(col("shingle"))), 1 << 20, 4)
          .toAggregateExpression()).as("bloom"))
        .head().getSeq[Long](0).toArray
    }
    val gated = train
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= n)
      .filter(CB.column(graft.functions.ShingleBloomHits(
        CB.expression(col("w")), n, bloom, 4)) >= 10)
      .drop("w")
    t("gated scan only") { noop(gated) }
    t("verify join") {
      noop(graft.operators.Decontaminate.overlapsAgainst(
        TextDedup.shingles(gated, n), evalSh, 10))
    }
    evalSh.unpersist()
    t("q51 whole (reference)") {
      noop(graft.operators.Decontaminate.overlaps(train, eval, n, 10))
    }
  }

  /** q19 phase split: shingle persist / signatures / bands+candidates /
    * jaccard verify. */
  def q19(spark: SparkSession, dir: String): Unit = {
    import graft.operators.TextDedup
    val docs = table(spark, dir, "documents")
    val sh = TextDedup.shingles(docs, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("shingles persist") { sh.count() }
    val sigs = TextDedup.minhashSignaturesSketch(sh, 64)
    t("signatures") { noop(sigs) }
    val cands = TextDedup.lshCandidates(TextDedup.lshBandsFromSig(sigs, 16, 4))
    t("bands+candidates") { noop(cands) }
    t("jaccard verify") {
      noop(TextDedup.jaccardFor(cands, sh).filter(col("jaccard") >= 0.5))
    }
    sh.unpersist()
  }
}
