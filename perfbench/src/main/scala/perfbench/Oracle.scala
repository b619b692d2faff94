package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.delta.DeltaTable

/** Expected outputs recomputed in plain Scala from the generator's own
  * records, and the comparisons against what the program wrote. Nothing
  * here calls the program's operators; the rules are restated from the
  * reference system. */
object Oracle {

  /** Rows of an activities-shaped frame in the canonical form. */
  def activityRows(df: org.apache.spark.sql.DataFrame): Iterator[Row] =
    df.select(col("id"), col("id_employee"), col("first_name"), col("last_name"),
      unix_micros(col("start_datetime")), col("sport_type"), col("distance"),
      col("activity_duration"), col("comment")).toLocalIterator().asScala

  def canon(r: Row): String =
    (0 until r.length).map(i => if (r.isNullAt(i)) "∅" else r.get(i).toString).mkString("|")

  /** Rows of the table that differ from `expected` (missing, extra,
    * duplicated or changed), with a few examples. */
  def compareTable(spark: SparkSession, table: Path,
      expected: collection.Map[Int, String]): (Long, Seq[String]) = {
    val seen = mutable.HashSet.empty[Int]
    val bad = mutable.ArrayBuffer.empty[String]
    var mismatches = 0L
    activityRows(DeltaTable.read(spark, table.toString)).foreach { r =>
      val id = r.getInt(0)
      val c = canon(r)
      val problem =
        if (!seen.add(id)) Some(s"id $id appears twice")
        else expected.get(id) match {
          case None => Some(s"unexpected row $c")
          case Some(e) if e != c => Some(s"row $c, expected $e")
          case _ => None
        }
      problem.foreach { pr => mismatches += 1; if (bad.size < 3) bad += pr }
    }
    val missing = expected.keys.filterNot(seen)
    mismatches += missing.size
    missing.take(3 - math.min(3, bad.size)).foreach(id => bad += s"missing row ${expected(id)}")
    (mismatches, bad.toSeq)
  }

  // ---- prime report -----------------------------------------------------------

  /** Commute limits of the reference's validation rule: walking/running up
    * to 15 km, cycling/scooter up to 25 km; other modes never qualify. */
  private val CommuteLimitM = Map("Marche/running" -> 15000, "Vélo/Trottinette/Autres" -> 25000)

  final case class Expected(count: Long, meanDuration: Option[Double], valid: Boolean,
      validActivities: Boolean, prime: Double, total: Double)

  def primeReport(emps: Seq[Gen.Employee], acts: Iterable[Gen.Activity]): Map[Int, Expected] = {
    val byEmp = acts.groupBy(_.employee)
    emps.map { e =>
      val as = byEmp.getOrElse(e.id, Nil)
      val valid = CommuteLimitM.get(e.transport).exists(e.commuteM <= _)
      val prime = if (valid) BigDecimal(e.gross * 0.05).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble else 0.0
      e.id -> Expected(as.size,
        if (as.isEmpty) None else Some(as.map(_.duration.toLong).sum.toDouble / as.size),
        valid, as.size >= 15, prime, e.gross + prime)
    }.toMap
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  /** Mismatches between one job's `final` and report tables and the oracle. */
  def checkPrime(finalRows: Seq[Row], reportRows: Seq[Row],
      expected: Map[Int, Expected]): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    // final: id_employee, is_valid, count_activity, mean_duration
    if (finalRows.size != expected.size) out += s"final has ${finalRows.size} rows, expected ${expected.size}"
    finalRows.foreach { r =>
      val id = r.getInt(0)
      expected.get(id) match {
        case None => out += s"final: unexpected employee $id"
        case Some(x) =>
          val count = if (r.isNullAt(2)) 0L else r.getLong(2)
          val mean = if (r.isNullAt(3)) None else Some(r.getDouble(3))
          val meanOk = (mean, x.meanDuration) match {
            case (Some(a), Some(b)) => close(a, b)
            case (a, b) => a == b
          }
          if (r.getBoolean(1) != x.valid || count != x.count || !meanOk)
            out += s"final: employee $id has valid=${r.getBoolean(1)} count=$count mean=$mean, expected $x"
      }
    }
    // report: id_employee, commute_valid, is_valid_activities, commute_prime, total_salary
    if (reportRows.size != expected.size) out += s"report has ${reportRows.size} rows, expected ${expected.size}"
    reportRows.foreach { r =>
      val id = r.getInt(0)
      expected.get(id) match {
        case None => out += s"report: unexpected employee $id"
        case Some(x) =>
          if (r.getBoolean(1) != x.valid || r.getBoolean(2) != x.validActivities ||
            !close(r.getDouble(3), x.prime) || !close(r.getDouble(4), x.total))
            out += s"report: employee $id reads ${(1 until r.length).map(r.get).mkString(",")}, expected $x"
      }
    }
    out.toSeq
  }

  // ---- corpus -----------------------------------------------------------------

  def shingles(text: String, n: Int): Set[String] = {
    val w = text.split(" ")
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  /** Checks one CorpusCleanJob output, given as (doc_id, text, ntok, shard):
    * no exact-duplicate texts survive; no shard's weight reaches budget
    * plus its largest document (a document is never split, so a shard may
    * pass the budget by less than one document); and no kept document
    * shares `minOverlap` distinct word 3-grams with any eval document. */
  def checkCorpus(kept: Seq[(Long, String, Long, Long)], docs: Seq[Gen.Doc],
      budget: Long, minOverlap: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val dupTexts = kept.groupBy(_._2).count(_._2.size > 1)
    if (dupTexts > 0) out += s"$dupTexts texts survive more than once"
    kept.groupBy(_._4).foreach { case (s, ds) =>
      val w = ds.map(_._3).sum
      if (w - ds.map(_._3).max >= budget) out += s"shard $s holds $w tokens against a budget of $budget"
    }
    val evalBy = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    docs.filter(d => Gen.isEval(d.id)).foreach { d =>
      shingles(d.text, 3).foreach(s => evalBy.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d.id)
    }
    val leaks = kept.flatMap { case (id, text, _, _) =>
      val hits = mutable.HashMap.empty[Long, Int]
      shingles(text, 3).foreach(s => evalBy.get(s).foreach(_.foreach(e =>
        hits(e) = hits.getOrElse(e, 0) + 1)))
      hits.find(_._2 >= minOverlap).map { case (e, n) => s"doc $id shares $n 3-grams with eval doc $e" }
    }
    if (leaks.nonEmpty) out += s"${leaks.size} kept documents overlap the eval set, e.g. ${leaks.head}"
    out.toSeq
  }
}
