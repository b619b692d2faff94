package graft.apps

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.queries.Catalog

/** Dump `.explain("formatted")` for headline queries into
  * `<dir>/<query>_<suffix>.txt` — the before/after plan evidence an
  * optimization round commits alongside its bench numbers. `<dir>` is
  * `SPARK_GRAFT_PLANS_DIR`, default `target/plans`: outside the committed
  * `plans/` tree, so a default run never overwrites recorded evidence.
  * Usage: runMain graft.apps.PlanDump <suffix> [comma-separated names]
  * (default: every headline query; Bench's session at
  * `SPARK_GRAFT_CPUS`, default 32).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("after")
    val only = args.drop(1).headOption.map(_.split(',').toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "target/plans"))
      .toAbsolutePath
    Files.createDirectories(outDir)
    val spark = GraftSession(GraftSession.cpus(32))
    val qs = only.fold(Catalog.headlines)(n => Catalog.headlines.filter(q => n(q.name)))
    qs.foreach { q =>
      try {
        val df = q.run(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val out = outDir.resolve(s"${q.name}_$suffix.txt")
        Files.writeString(out, plan)
        println(s"[plandump] ${q.name} -> $out")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
