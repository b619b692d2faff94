package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver session's settings. Checks [[GraftSession.conf]] only:
  * `getOrCreate` would hand back the shared test session. */
class GraftSessionSpec extends AnyFunSuite {

  test("conf carries every driver setting for the given core count") {
    val c = GraftSession.conf(12)
    assert(c("spark.master") === "local[12]")
    assert(c("spark.sql.shuffle.partitions") === "12")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.sql.files.maxPartitionBytes") === "2m")
    assert(c("spark.sql.files.openCostInBytes") === "512k")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.ui.enabled") === "false")
    assert(c("spark.hadoop.fs.file.impl") === "graft.sources.GraftLocalFileSystem")
    assert(c("spark.sql.extensions") === "graft.GraftExtensions")
    assert(c("spark.log.level") === "WARN")
    assert(c.size === 10)
  }

  test("an explicit master replaces only the local master") {
    val c = GraftSession.conf(8, master = Some("spark://host:7077"))
    assert(c("spark.master") === "spark://host:7077")
    assert(c - "spark.master" === GraftSession.conf(8) - "spark.master")
  }

  test("the configured file system and extensions classes load") {
    val c = GraftSession.conf(4)
    Seq("spark.hadoop.fs.file.impl", "spark.sql.extensions")
      .foreach(k => Class.forName(c(k)))
  }
}
