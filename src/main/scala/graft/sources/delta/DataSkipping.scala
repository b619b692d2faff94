package graft.sources.delta

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import DeltaLog.{AddFile, FileStats}

/** Generic predicate-vs-stats file skipping: decide, from an add
  * action's per-file statistics alone, whether a data file MAY contain
  * rows satisfying a Catalyst predicate — the engine behind
  * [[DeltaTable.readWhere]]'s pruning and [[DeltaTable.delete]]/
  * [[DeltaTable.update]] candidate selection (the
  * same role delta-spark's `DataSkippingReader` plays over its stats
  * columns; re-derived here from the public protocol's
  * numRecords/minValues/maxValues/nullCount fields, `PROTOCOL.md`
  * "Per-file Statistics").
  *
  * The contract is one-sided: `false` means PROVABLY no row in the file
  * satisfies the predicate (safe to skip the file entirely); `true`
  * means "cannot rule it out" — unknown operators, stats-less columns,
  * or non-literal comparisons all conservatively return `true`. This is
  * what keeps arbitrary user predicates safe: skipping is an
  * optimization that can only shrink IO, never the result.
  *
  * Supported shapes (literal on either side): =, <=>, <, <=, >, >=, IN,
  * IS NULL / IS NOT NULL (sound because [[FileStats.nullCounts]] rides
  * in the stats), StartsWith, AND / OR, and NOT pushed through all of
  * the above by operator negation (NOT(a < b) ≡ a >= b on the non-null
  * rows — rows where the comparison is NULL fail both the original and
  * the negation, so the rewrite is skip-safe). Columns resolve by name
  * against the integral (int/long/date/timestamp-µs) or string bounds;
  * comparisons on columns with neither are conservative. Widened
  * literals unwrap: `id >= 10L` on an INT `id` analyzes to
  * `CAST(id AS BIGINT) >= 10L`, which Spark's own
  * `UnwrapCastInBinaryComparison` rewrites to `id >= 10` before the
  * bounds see it (likewise `IN` over a cast column).
  *
  * At 100 TB this is the difference between a DELETE that rewrites the
  * table and one that rewrites the handful of files whose bounds
  * straddle the predicate: candidate selection is O(live files) driver
  * arithmetic over a few hundred bytes of stats each — no data IO.
  */
object DataSkipping {

  /** May `f` contain a row satisfying `pred`? Files without stats are
    * always candidates. */
  def mayMatch(f: AddFile, pred: Expression): Boolean =
    f.stats.forall(st => eval(st, pred))

  /** [[mayMatch]] plus PARTITION pruning: a Hive partition value is an
    * EXACT per-file value, so it enters the bounds evaluation as a
    * min==max stat (typed via the table schema — the protocol stores
    * partitionValues stringly). A DELETE/UPDATE/MERGE keyed on a
    * partition column — the most common DML shape — then skips every
    * non-matching partition without footer stats or data IO, exactly
    * like delta-spark's partition filter split. Files lacking footer
    * stats still prune on their partition values alone; unparseable or
    * unsupported-type values stay conservative (no bounds → candidate). */
  def mayMatchWithPartitions(f: AddFile, pred: Expression,
                             schema: StructType): Boolean = {
    if (f.partitionValues.isEmpty) return mayMatch(f, pred)
    // stats-less file: synthesize a 1-row carrier so the evaluator has a
    // numRecords for null reasoning; data columns stay bound-less
    // (conservative) either way
    val base = f.stats.getOrElse(FileStats(1L, Map.empty, Map.empty))
    var mins = base.minValues; var maxs = base.maxValues
    var smins = base.minStrings; var smaxs = base.maxStrings
    var nulls = base.nullCounts
    f.partitionValues.foreach { case (k, v) =>
      if (v == null || v == "__HIVE_DEFAULT_PARTITION__")
        nulls += k -> base.numRecords // every row's k is NULL in this file
      else {
        nulls += k -> 0L
        schema.find(_.name == k).map(_.dataType) match {
          case Some(ByteType | ShortType | IntegerType | LongType) =>
            scala.util.Try(v.toLong).foreach { n =>
              mins += k -> n; maxs += k -> n
            }
          case Some(DateType) => // Literal(DateType) carries epoch days
            scala.util.Try(java.time.LocalDate.parse(v).toEpochDay).foreach { d =>
              mins += k -> d; maxs += k -> d
            }
          case Some(StringType) => smins += k -> v; smaxs += k -> v
          case _ => () // float/decimal/… partition: no bounds, conservative
        }
      }
    }
    eval(base.copy(minValues = mins, maxValues = maxs, minStrings = smins,
      maxStrings = smaxs, nullCounts = nulls), pred)
  }

  /** DEFINITE per-file evaluation of a predicate over partition columns
    * only: Some(true) = EVERY row in the file satisfies it, Some(false)
    * = none does, None = cannot decide (the predicate references a
    * non-partition column, a value fails to parse, or evaluation
    * throws). Works because a Hive partition value is constant across
    * the file — substitute each partition attribute with its typed
    * literal and fold the whole predicate to a constant. This is what
    * makes a partition-keyed DELETE metadata-only at 100 TB: a
    * definite-true file is dropped wholesale (remove action, zero data
    * IO), exactly delta-spark's partition-delete path. A NULL result
    * folds to false — SQL DML truth: the row is not matched. */
  def partitionPredicateValue(f: AddFile, pred: Expression,
                              schema: StructType,
                              partitionColumns: Seq[String]): Option[Boolean] = {
    val partSet = partitionColumns.toSet
    if (!pred.references.forall(a => partSet.contains(a.name))) return None
    var failed = false
    val substituted = pred.transform {
      case a: AttributeReference =>
        partitionLiteral(f.partitionValues.get(a.name), a.dataType) match {
          case Some(l) => l
          case None => failed = true; a
        }
    }
    if (failed) return None
    try {
      substituted.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
        case null => Some(false)
        case b: java.lang.Boolean => Some(b.booleanValue())
        case _ => None
      }
    } catch { case _: Exception => None } // non-foldable shape: undecided
  }

  /** Typed literal for a stringly-stored Hive partition value; None when
    * the value is absent or unparseable for the column's type. */
  private def partitionLiteral(raw: Option[String],
                               dt: DataType): Option[Literal] = raw match {
    case None => None
    case Some(v) if v == "__HIVE_DEFAULT_PARTITION__" => Some(Literal(null, dt))
    case Some(v) =>
      try dt match {
        case ByteType => Some(Literal(v.toByte, ByteType))
        case ShortType => Some(Literal(v.toShort, ShortType))
        case IntegerType => Some(Literal(v.toInt, IntegerType))
        case LongType => Some(Literal(v.toLong, LongType))
        case StringType => Some(Literal(UTF8String.fromString(v), StringType))
        case DateType =>
          Some(Literal(java.time.LocalDate.parse(v).toEpochDay.toInt, DateType))
        case BooleanType => Some(Literal(v.toBoolean, BooleanType))
        case _ => None // float/decimal/timestamp partitions: undecided
      } catch { case _: Exception => None }
  }

  /** Resolve a user `Column` predicate against `schema` into the
    * structural Catalyst form [[mayMatch]] reasons over. The public
    * `Column` carries a lazily-converted node tree (not `EqualTo`/...),
    * so we run it through the session's own analyzer (an empty relation
    * with the table schema) and then Catalyst's folding rules —
    * which also buys exactly the normalizations skipping wants:
    * literal casts fold (`id = 4` on a LONG column → `Literal(4L)`),
    * a column widened to a wider literal's type unwraps
    * (`CAST(id AS BIGINT) >= 10L` on an INT column → `id >= 10`),
    * NOT pushes inward (`NOT(id >= 5)` → `id < 5`), and
    * null-propagation collapses always-NULL comparisons to a NULL
    * literal (provably empty). Driver-side plan work only — no job. */
  def resolvePredicate(spark: org.apache.spark.sql.SparkSession,
                       schema: StructType,
                       pred: org.apache.spark.sql.Column): Expression = {
    import org.apache.spark.sql.catalyst.optimizer.{BooleanSimplification, ConstantFolding, NullPropagation, SimplifyCasts, UnwrapCastInBinaryComparison}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
    val analyzed = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .filter(pred).queryExecution.analyzed
    val simplified = Seq(SimplifyCasts, NullPropagation, ConstantFolding,
        UnwrapCastInBinaryComparison, BooleanSimplification)
      .foldLeft(analyzed)((p, r) => r.asInstanceOf[
        org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]].apply(p))
    simplified.collectFirst { case f: Filter => f.condition }
      .getOrElse(Literal.TrueLiteral) // filter folded away: stay conservative
  }

  private def eval(st: FileStats, e: Expression): Boolean = e match {
    // constant predicates, incl. null-propagated always-NULL comparisons
    case Literal(null, _) => false
    case Literal(b: Boolean, BooleanType) => b
    case And(l, r) => eval(st, l) && eval(st, r)
    case Or(l, r) => eval(st, l) || eval(st, r)
    case Not(child) => negate(child).forall(eval(st, _))
    case IsNull(ColName(c)) =>
      // sound only with a recorded null count; absent → conservative
      st.nullCounts.get(c).forall(_ > 0)
    case IsNotNull(ColName(c)) =>
      st.nullCounts.get(c).forall(_ < st.numRecords)
    case Cmp(c, op, v) => evalCmp(st, c, op, v)
    case In(ColName(c), items) if items.forall(_.isInstanceOf[Literal]) =>
      items.exists(l => evalCmp(st, c, "=", l.asInstanceOf[Literal]))
    case StartsWith(ColName(c), Literal(p: UTF8String, StringType)) =>
      startsWithMayMatch(st, c, p.toString)
    case _ => true // unknown shape: never skip on it
  }

  /** Operator-negated form of a supported comparison, for NOT pushdown.
    * None → the negation is not representable; caller stays
    * conservative. NULL-evaluating rows satisfy neither the original
    * nor the negated comparison, so bounds-only reasoning stays sound. */
  private def negate(e: Expression): Option[Expression] = e match {
    case And(l, r) =>
      for { nl <- negate(l); nr <- negate(r) } yield Or(nl, nr)
    case Or(l, r) =>
      for { nl <- negate(l); nr <- negate(r) } yield And(nl, nr)
    case Not(child) => Some(child)
    case IsNull(c) => Some(IsNotNull(c))
    case IsNotNull(c) => Some(IsNull(c))
    case LessThan(a, b) => Some(GreaterThanOrEqual(a, b))
    case LessThanOrEqual(a, b) => Some(GreaterThan(a, b))
    case GreaterThan(a, b) => Some(LessThanOrEqual(a, b))
    case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
    case EqualTo(a, b) => Some(NotEqualTo(a, b))
    case _ => None
  }

  /** Internal marker for NOT(=) — "may some non-null value differ". Not
    * a real Catalyst node we ever execute; it only flows through
    * [[eval]]'s comparison path. */
  private final case class NotEqualTo(left: Expression, right: Expression)
      extends BinaryExpression with Predicate {
    override def nullable: Boolean = true
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      throw new UnsupportedOperationException("stats-only marker")
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      throw new UnsupportedOperationException("stats-only marker")
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NotEqualTo =
      copy(left = newLeft, right = newRight)
  }

  /** Column name from an (un)resolved attribute. Nested fields use the
    * parquet dot-path, matching the stats keys. */
  private object ColName {
    def unapply(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.mkString("."))
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
  }

  /** (column, operator, literal) with the literal on either side —
    * `5 < col` normalizes to `col > 5`. */
  private object Cmp {
    private val flip = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=",
      "=" -> "=", "<=>" -> "<=>", "!=" -> "!=")
    def unapply(e: Expression): Option[(String, String, Literal)] = e match {
      case EqualTo(ColName(c), l: Literal) => Some((c, "=", l))
      case EqualTo(l: Literal, ColName(c)) => Some((c, "=", l))
      case EqualNullSafe(ColName(c), l: Literal) => Some((c, "<=>", l))
      case EqualNullSafe(l: Literal, ColName(c)) => Some((c, "<=>", l))
      case LessThan(ColName(c), l: Literal) => Some((c, "<", l))
      case LessThan(l: Literal, ColName(c)) => Some((c, ">", l))
      case LessThanOrEqual(ColName(c), l: Literal) => Some((c, "<=", l))
      case LessThanOrEqual(l: Literal, ColName(c)) => Some((c, ">=", l))
      case GreaterThan(ColName(c), l: Literal) => Some((c, ">", l))
      case GreaterThan(l: Literal, ColName(c)) => Some((c, "<", l))
      case GreaterThanOrEqual(ColName(c), l: Literal) => Some((c, ">=", l))
      case GreaterThanOrEqual(l: Literal, ColName(c)) => Some((c, "<=", l))
      case NotEqualTo(ColName(c), l: Literal) => Some((c, "!=", l))
      case NotEqualTo(l: Literal, ColName(c)) => Some((c, "!=", l))
      case _ => None
    }
  }

  private def evalCmp(st: FileStats, c: String, op: String, l: Literal): Boolean = {
    if (l.value == null)
      // = / < vs NULL never match; <=> NULL matches null rows only
      return op == "<=>" && st.nullCounts.get(c).forall(_ > 0)
    // every row NULL (e.g. a hive __HIVE_DEFAULT_PARTITION__ file): no
    // non-null value exists for ANY comparison to match
    if (st.nullCounts.get(c).contains(st.numRecords)) return false
    longValue(l) match {
      case Some(v) =>
        (for { lo <- st.minValues.get(c); hi <- st.maxValues.get(c) }
          yield cmpBounds(lo <= v && v <= hi, lo, hi, v, op,
            ltEq = (a: Long, b: Long) => a <= b, lt = (a: Long, b: Long) => a < b))
          .getOrElse(true)
      case None => stringValue(l) match {
        case Some(v) =>
          (for { lo <- st.minStrings.get(c); hi <- st.maxStrings.get(c) }
            yield cmpBounds(utf8Lte(lo, v) && utf8Lte(v, hi), lo, hi, v, op,
              ltEq = utf8Lte, lt = (a: String, b: String) => utf8Lte(a, b) && a != b))
            .getOrElse(true)
        case None => true // non-integral, non-string literal: no bounds
      }
    }
  }

  /** Shared bounds logic over either value domain. `inRange` is
    * lo <= v <= hi precomputed by the caller. */
  private def cmpBounds[A](inRange: Boolean, lo: A, hi: A, v: A, op: String,
                           ltEq: (A, A) => Boolean, lt: (A, A) => Boolean): Boolean =
    op match {
      case "=" | "<=>" => inRange
      case "<" => lt(lo, v) // some value < v exists iff min < v
      case "<=" => ltEq(lo, v)
      case ">" => lt(v, hi)
      case ">=" => ltEq(v, hi)
      // a non-null value != v exists unless every value equals v
      case "!=" => !(lo == v && hi == v)
      case _ => true
    }

  private def longValue(l: Literal): Option[Long] = (l.value, l.dataType) match {
    case (v: Byte, _) => Some(v.toLong)
    case (v: Short, _) => Some(v.toLong)
    case (v: Int, _) => Some(v.toLong) // covers IntegerType and DateType days
    case (v: Long, _) => Some(v) // covers LongType and TimestampType micros
    case _ => None
  }

  private def stringValue(l: Literal): Option[String] = l.value match {
    case s: UTF8String => Some(s.toString)
    case _ => None
  }

  /** May some value in [lo, hi] start with `p`? Strings with prefix p
    * form the byte-order interval [p, succ(p)): below-lo only if lo is
    * past every such string (lo > p and lo does not itself carry the
    * prefix), above-hi only if hi < p. */
  private def startsWithMayMatch(st: FileStats, c: String, p: String): Boolean =
    !st.nullCounts.get(c).contains(st.numRecords) && // all-NULL: no match
    (for { lo <- st.minStrings.get(c); hi <- st.maxStrings.get(c) } yield {
      val hiBelow = utf8Lte(hi, p) && hi != p
      val loAbove = !utf8Lte(lo, p) && !lo.startsWith(p)
      !hiBelow && !loAbove
    }).getOrElse(true)

  /** a <= b in unsigned UTF-8 byte order — parquet's and Spark's shared
    * string order (UTF-16 `String.compareTo` disagrees past the BMP). */
  private[delta] def utf8Lte(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) <= 0
}
