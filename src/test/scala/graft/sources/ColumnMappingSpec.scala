package graft.sources.delta

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.sources.delta.DeltaTable.src

/** Column mapping (name mode): RENAME/DROP COLUMN as pure metaData
  * commits, physical-name data files, translation on every read/write/
  * DML/skipping path, time travel across the rename boundary. */
class ColumnMappingSpec extends SparkSpec {

  import spark.implicits._

  private def tmp() =
    java.nio.file.Files.createTempDirectory("delta_cmap").toString + "/t"

  test("rename on a partitioned table: metadata-only, reads + DML + appends translate") {
    val t = tmp()
    DeltaTable.write(
      Seq((1L, "a", "fr"), (2L, "b", "de"), (3L, "c", "fr"))
        .toDF("id", "s", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    val filesBefore = DeltaLog.snapshot(spark, t).files.map(_.path).toSet

    DeltaTable.renameColumn(spark, t, "s", "label")

    // pure metadata: same data files, no rewrite
    assert(DeltaLog.snapshot(spark, t).files.map(_.path).toSet === filesBefore)
    // logical names out; values intact
    val r = DeltaTable.read(spark, t)
    assert(r.columns.toSeq === Seq("id", "label", "lang"))
    assert(r.orderBy("id").collect().map(x =>
      (x.getLong(0), x.getString(1), x.getString(2))).toSeq ===
      Seq((1L, "a", "fr"), (2L, "b", "de"), (3L, "c", "fr")))
    // time travel BELOW the rename reads the old name
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L)).columns.toSeq
      === Seq("id", "s", "lang"))

    // append under the NEW logical name lands under the old physical one
    DeltaTable.write(Seq((4L, "d", "it")).toDF("id", "label", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    assert(DeltaTable.read(spark, t).count() === 4)

    // predicate reads + partition reads translate for stats/partition keys
    assert(DeltaTable.readWhere(spark, t, col("label") === "d")
      .select("id").head().getLong(0) === 4L)
    assert(DeltaTable.readWhere(spark, t, col("lang") === "fr").count() === 2)

    // DML on the renamed column
    DeltaTable.update(spark, t, col("label") === "a", Map("label" -> lit("A")))
    assert(DeltaTable.read(spark, t).filter(col("label") === "A").count() === 1)
    DeltaTable.delete(spark, t, col("label") === "b")
    assert(DeltaTable.read(spark, t).count() === 3)

    // mergeInto keyed on the untouched id still skips + matches
    DeltaTable.mergeInto(Seq((3L, "C", "fr")).toDF("id", "label", "lang"),
      t, "id", "id",
      matched = Seq(MergeClause.Update(None, Map("label" -> src("label")))),
      notMatched = Seq(MergeClause.Insert(None, Map(
        "id" -> src("id"), "label" -> src("label"), "lang" -> src("lang")))))
    assert(DeltaTable.read(spark, t).filter(col("label") === "C").count() === 1)
  }

  test("rename of a PARTITION column keeps pruning + values") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "fr"), (2L, "de")).toDF("id", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    DeltaTable.renameColumn(spark, t, "lang", "language")
    val s = DeltaLog.snapshot(spark, t)
    assert(s.partitionColumns === Seq("language"))
    assert(DeltaTable.readWhere(spark, t, col("language") === "de")
      .select("id").head().getLong(0) === 2L)
    // appends partition under the new logical / old physical name
    DeltaTable.write(Seq((3L, "de")).toDF("id", "language"),
      t, SaveMode.Append, partitionBy = Seq("language"))
    assert(DeltaTable.readWhere(spark, t, col("language") === "de")
      .count() === 2)
  }

  test("drop column: values gone, re-added name does NOT resurrect them") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "x", 10L), (2L, "y", 20L)).toDF("id", "s", "n"),
      t, SaveMode.Append)
    DeltaTable.dropColumn(spark, t, "n")
    assert(DeltaTable.read(spark, t).columns.toSeq === Seq("id", "s"))
    // time travel still reads the dropped column
    assert(DeltaTable.read(spark, t, versionAsOf = Some(0L))
      .select("n").orderBy("n").collect().map(_.getLong(0)).toSeq
      === Seq(10L, 20L))
    // re-add the same logical name: fresh physical name, old values stay buried
    DeltaTable.addColumns(spark, t,
      Seq(org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType)))
    val back = DeltaTable.read(spark, t)
    assert(back.columns.toSeq === Seq("id", "s", "n"))
    assert(back.filter(col("n").isNotNull).count() === 0,
      "dropped column's file values must not resurrect")
  }

  test("refusals: partition drop, duplicate rename, constraint-referenced") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a", "fr")).toDF("id", "s", "lang"),
      t, SaveMode.Append, partitionBy = Seq("lang"))
    intercept[IllegalArgumentException] {
      DeltaTable.dropColumn(spark, t, "lang")
    }
    intercept[IllegalArgumentException] {
      DeltaTable.renameColumn(spark, t, "s", "id")
    }
    DeltaTable.addConstraint(spark, t, "id_pos", "id > 0")
    val e = intercept[IllegalArgumentException] {
      DeltaTable.renameColumn(spark, t, "id", "key")
    }
    assert(e.getMessage.contains("id_pos"))
    intercept[IllegalArgumentException] {
      DeltaTable.dropColumn(spark, t, "id")
    }
  }

  test("CDF across a rename captures changes under the new logical names") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.setProperties(spark, t, Map("delta.enableChangeDataFeed" -> "true"))
    DeltaTable.renameColumn(spark, t, "s", "label")
    DeltaTable.delete(spark, t, col("label") === "a")
    val v = DeltaLog.snapshot(spark, t).version
    val feed = DeltaTable.readChangeFeed(spark, t, v, Some(v))
    assert(feed.columns.take(2).toSeq === Seq("id", "label"))
    val rows = feed.select("id", "label", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set((1L, "a", "delete")))
  }

  test("SQL surface: RENAME + DROP COLUMN, read-back, insert, time travel") {
    val wh = java.nio.file.Files.createTempDirectory("cmap_wh").toString
    // own catalog NAME: the shared session caches catalog instances,
    // so re-pointing `graft` would poison GraftCatalogSpec's warehouse
    spark.conf.set("spark.sql.catalog.graftcm",
      "graft.sources.delta.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graftcm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcm.cm")
    spark.sql("""CREATE TABLE graftcm.cm.t (id BIGINT, s STRING, lang STRING)
                 PARTITIONED BY (lang)""")
    spark.sql("INSERT INTO graftcm.cm.t VALUES (1, 'a', 'fr'), (2, 'b', 'de')")
    spark.sql("ALTER TABLE graftcm.cm.t RENAME COLUMN s TO label")
    assert(spark.sql("SELECT id, label FROM graftcm.cm.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      === Seq((1L, "a"), (2L, "b")))
    // filter on the renamed column: pushed filter translates to physical
    assert(spark.sql("SELECT id FROM graftcm.cm.t WHERE label = 'b'")
      .head().getLong(0) === 2L)
    // INSERT through the DSv2 sink writes under the physical name
    spark.sql("INSERT INTO graftcm.cm.t VALUES (3, 'c', 'it')")
    assert(spark.sql("SELECT label FROM graftcm.cm.t WHERE id = 3")
      .head().getString(0) === "c")
    // DROP COLUMN, then the column is gone from SQL reads
    spark.sql("ALTER TABLE graftcm.cm.t DROP COLUMN label")
    assert(spark.sql("SELECT * FROM graftcm.cm.t").columns.toSeq
      === Seq("id", "lang"))
    // time travel below the rename still shows the ORIGINAL name
    assert(spark.sql("SELECT * FROM graftcm.cm.t VERSION AS OF 1").columns.toSeq
      === Seq("id", "s", "lang"))
    assert(spark.sql("SELECT s FROM graftcm.cm.t VERSION AS OF 1 WHERE id = 1")
      .head().getString(0) === "a")
  }

  test("streaming read of a renamed table refuses with a named cause") {
    val t = tmp()
    DeltaTable.write(Seq((1L, "a")).toDF("id", "s"), t, SaveMode.Append)
    DeltaTable.renameColumn(spark, t, "s", "label")
    val chk = java.nio.file.Files.createTempDirectory("cmap_chk").toString
    val e = intercept[Exception] {
      spark.readStream.format("graft-delta").load(t)
        .writeStream.format("memory").queryName("cmap_refuse")
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(60000)
    }
    def chain(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + chain(x.getCause)
    assert(chain(e).contains("column mapping"), chain(e))
  }
}
