package graft.sources.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}

/** Generated and identity columns on the from-scratch log, stamped as
  * field metadata under delta-spark's keys so the schema round-trips
  * through commits, checkpoints and other readers:
  *
  *   - `delta.generationExpression` — `GENERATED ALWAYS AS (expr)`.
  *     Writes missing the column COMPUTE it from the expression; writes
  *     providing it must satisfy `value <=> expr` per row (delta's
  *     write-time equality check) — both inside the write's own pass.
  *   - `delta.identity.{start,step,allowExplicitInsert,highWaterMark}` —
  *     `GENERATED ALWAYS [BY DEFAULT] AS IDENTITY`. Writes missing the
  *     column allocate values task-side from the table's high-water
  *     mark: `hwm + step · (monotonically_increasing_id() + 1)` — no
  *     shuffle, no count pass, no driver coordination; the partition
  *     stride makes values SPARSE, which is the documented delta
  *     contract too (identity guarantees uniqueness and direction, not
  *     density). The commit advances the high-water mark to the actual
  *     written extremum read from the staged files' FOOTER STATS
  *     (metadata IO the write already does), and a commit retry that
  *     finds the mark moved by a concurrent writer REFUSES loudly —
  *     two writers allocating from one mark is silent id duplication.
  *
  * 100 TB shape: generation is a per-row projection inside the write;
  * identity allocation is a per-row expression with per-partition
  * strides — nothing scales with table size, only the metadata commit.
  */
object GeneratedColumns {

  val GenerationExprKey = "delta.generationExpression"
  val IdentityStartKey = "delta.identity.start"
  val IdentityStepKey = "delta.identity.step"
  val IdentityAllowExplicitKey = "delta.identity.allowExplicitInsert"
  val IdentityHighWaterMarkKey = "delta.identity.highWaterMark"

  final case class IdentitySpec(name: String, start: Long, step: Long,
                                allowExplicit: Boolean, hwm: Option[Long]) {
    /** Last value considered allocated; the next one is base + step. */
    def base: Long = hwm.getOrElse(start - step)
  }

  def generatedOf(schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(GenerationExprKey) =>
        f -> f.metadata.getString(GenerationExprKey)
    }

  def identityOf(schema: StructType): Seq[IdentitySpec] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(IdentityStartKey) =>
        IdentitySpec(f.name,
          f.metadata.getLong(IdentityStartKey),
          f.metadata.getLong(IdentityStepKey),
          f.metadata.contains(IdentityAllowExplicitKey) &&
            f.metadata.getBoolean(IdentityAllowExplicitKey),
          if (f.metadata.contains(IdentityHighWaterMarkKey))
            Some(f.metadata.getLong(IdentityHighWaterMarkKey)) else None)
    }

  def hasAny(schema: StructType): Boolean =
    schema.fields.exists(f => f.metadata.contains(GenerationExprKey) ||
      f.metadata.contains(IdentityStartKey))

  /** Prepare an incoming DataFrame for a write into `target`: compute
    * generated columns, allocate identity values, restore the target
    * column order. Returns the prepared frame plus the identity specs
    * this write ALLOCATED from (their bases are what the commit loop
    * must verify against concurrent movement).
    *
    * NULL drives per-row semantics because Spark's INSERT resolution
    * NULL-fills columns the statement omitted — by the time the engine
    * sees the rows, "omitted" and "explicit NULL" are one value:
    *   - generated column: NULL → computed; non-NULL → must equal the
    *     expression (per-row check, delta's write-time contract);
    *   - GENERATED ALWAYS identity: any non-NULL value refuses per-row;
    *     NULLs allocate;
    *   - BY DEFAULT identity: non-NULLs keep (the mark still advances
    *     past them via [[hwmFromAdds]]); NULLs allocate. */
  def prepareWrite(df: DataFrame, target: StructType): (DataFrame, Seq[IdentitySpec]) = {
    import org.apache.spark.sql.functions.{col, concat, expr, lit, monotonically_increasing_id, raise_error, struct, to_json, when}
    var out = df
    generatedOf(target).foreach { case (f, genExpr) =>
      val v = expr(genExpr).cast(f.dataType)
      if (!out.columns.contains(f.name)) out = out.withColumn(f.name, v)
      else {
        val cols = out.columns.toSeq
        out = out.withColumn(f.name,
          when(col(f.name).isNull, v)
            .when(col(f.name) <=> v, col(f.name))
            .otherwise(raise_error(concat(
              lit(s"delta: GENERATED ALWAYS AS column `${f.name}` must " +
                s"equal ($genExpr); got row "),
              to_json(struct(cols.map(col): _*)))).cast(f.dataType)))
      }
    }
    val allocated = identityOf(target).flatMap { s =>
      val alloc = (lit(s.base) + lit(s.step) *
        (monotonically_increasing_id() + 1L)).cast(LongType)
      if (!out.columns.contains(s.name)) {
        out = out.withColumn(s.name, alloc)
        Some(s)
      } else if (s.allowExplicit) {
        out = out.withColumn(s.name, when(col(s.name).isNull, alloc)
          .otherwise(col(s.name)))
        Some(s)
      } else {
        out = out.withColumn(s.name, when(col(s.name).isNull, alloc)
          .otherwise(raise_error(concat(
            lit(s"delta: `${s.name}` is GENERATED ALWAYS AS IDENTITY — " +
              "explicit values are refused (BY DEFAULT is the opt-in); got "),
            col(s.name).cast("string"))).cast(LongType)))
        Some(s)
      }
    }
    val names = out.columns.toSet
    require(target.fieldNames.forall(names),
      s"delta: write misses columns ${target.fieldNames.filterNot(names).toSeq}")
    (out.select(target.fieldNames.toSeq.map(col): _*), allocated)
  }

  /** New high-water mark per identity column from the STAGED adds'
    * footer stats (physical names under column mapping): the actual
    * written extremum in the step's direction, clamped to never move
    * backwards. Explicit BY DEFAULT writes advance it too — a later
    * allocation must not collide with user-written ids. Columns whose
    * staged files carry no stats (nothing written) report nothing. */
  def hwmFromAdds(adds: Seq[org.json4s.JValue], target: StructType,
                  physMap: Map[String, String]): Map[String, Long] =
    identityOf(target).flatMap { s =>
      val phys = physMap.getOrElse(s.name, s.name)
      val extrema = adds.flatMap { a =>
        (a \ "add" \ "stats") match {
          case org.json4s.JString(st) => DeltaLog.parseStats(st).flatMap(p =>
            if (s.step > 0) p.maxValues.get(phys) else p.minValues.get(phys))
          case _ => None
        }
      }
      if (extrema.isEmpty) None
      else {
        val written = if (s.step > 0) extrema.max else extrema.min
        val next = if (s.step > 0) math.max(s.base, written)
                   else math.min(s.base, written)
        if (s.hwm.contains(next)) None else Some(s.name -> next)
      }
    }.toMap

  /** Augment an UPDATE/MERGE assignment map so generated columns stay
    * consistent: direct assignment to a generated column REFUSES
    * (delta's rule — the expression owns the value), and every
    * generated column whose expression references an assigned column
    * is RECOMPUTED with the post-update values — the generation
    * expression's attribute references substitute to the assignment
    * expressions, so `SET n = n + 1` yields `n2 = (n + 1) * 2` in the
    * same projection, never a second pass. Identity columns refuse
    * assignment outright (their values never change after allocation). */
  def augmentAssignments(spark: org.apache.spark.sql.SparkSession,
                         target: StructType,
                         set: Map[String, org.apache.spark.sql.Column])
      : Map[String, org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    identityOf(target).foreach(s => require(!set.contains(s.name),
      s"delta: cannot UPDATE identity column `${s.name}`"))
    val gens = generatedOf(target)
    gens.foreach { case (f, _) => require(!set.contains(f.name),
      s"delta: cannot UPDATE generated column `${f.name}` directly — its " +
        "value is GENERATED ALWAYS AS; update the referenced columns") }
    val recomputed = gens.flatMap { case (f, genExpr) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(genExpr)
      val deps = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.name
      }.toSet
      if (deps.intersect(set.keySet).isEmpty) None
      else Some(f.name -> CB.column(parsed.transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if set.contains(a.name) => CB.expression(set(a.name))
      }).cast(f.dataType))
    }
    set ++ recomputed
  }

  /** [[DeltaTable.mergeInto]]'s INSERT values through generated/identity
    * columns: absent generated columns COMPUTE from the insert values
    * (expression attributes substitute to the assigned value
    * expressions; deps the clause leaves unassigned read as NULL,
    * matching "unassigned target columns insert NULL"); provided ones
    * must equal the computation per row. Identity columns must be
    * explicitly assigned — and only BY DEFAULT tables accept explicit
    * values — because the DataFrame MERGE has no allocation commit
    * machinery; route pure inserts through the append path instead. A
    * SQL MERGE INSERT does allocate: it takes the row-level write,
    * whose [[bindRowTransforms]] allocates from the high-water mark. */
  def augmentInsertValues(spark: org.apache.spark.sql.SparkSession,
                          target: StructType,
                          values: Map[String, org.apache.spark.sql.Column])
      : Map[String, org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{lit, raise_error, when, concat}
    import org.apache.spark.sql.graft.{ColumnBridge => CB}
    identityOf(target).foreach { s =>
      require(values.contains(s.name) && s.allowExplicit,
        s"delta: MERGE INSERT into identity column `${s.name}` needs an " +
          "explicit value on a GENERATED BY DEFAULT table — allocation is " +
          "the append path's (DeltaTable.write)")
    }
    val gens = generatedOf(target).map { case (f, genExpr) =>
      val parsed = spark.sessionState.sqlParser.parseExpression(genExpr)
      val computed = CB.column(parsed.transformUp {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          CB.expression(values.get(a.name)
            .getOrElse(lit(null)).cast(target(a.name).dataType))
      }).cast(f.dataType)
      values.get(f.name) match {
        case None => f.name -> computed
        case Some(v) =>
          val vc = v.cast(f.dataType)
          f.name -> when(vc <=> computed, vc).otherwise(raise_error(concat(
            lit(s"delta: GENERATED ALWAYS AS column `${f.name}` must equal " +
              s"($genExpr) in MERGE INSERT; got "),
            vc.cast("string"))).cast(f.dataType))
      }
    }
    values ++ gens
  }

  /** Per-row transforms for the NATIVE row-level write path
    * ([[GraftRowLevelBatchWrite]] — Spark's own `RewriteUpdateTable` /
    * `RewriteMergeIntoTable` rewrites, the one route every SQL UPDATE
    * and MERGE takes, with or without [[graft.GraftExtensions]]) and
    * for the DSv2 sink's SQL INSERT: one bound expression per
    * `rowSchema` field for UPDATE post-images and one for inserts, built
    * once driver-side (parse → analyze → bind to row ordinals, the
    * [[SinkConstraints]] pattern) and evaluated task-side through a
    * codegen'd projection. `None` when the target carries no
    * generated/identity columns — the writer then skips the
    * projection entirely.
    *
    * Semantics relative to the DataFrame API's [[augmentAssignments]] /
    * [[augmentInsertValues]] (which see the STATEMENT, not just rows):
    *   - UPDATE: generated columns RECOMPUTE from the post-image.
    *     The DataFrame API refuses a `gen` assignment at the
    *     statement; the native path enforces the same semantics per
    *     row via the scan-provided pre-image metadata
    *     ([[GraftRowLevelWriter]]'s generated guards): post != pre is
    *     exactly "the SET assigned this column" and refuses, while an
    *     untouched column (post == pre, stale or not) recomputes here,
    *     keeping the table invariant (`gen <=> expr`). Identity
    *     columns are guarded the same way — value changes refuse per
    *     row, so a no-op `SET id = id` raises nothing. A constant
    *     assignment (`SET id = 5`) prunes the column from the scan and
    *     refuses as soon as the scan reads a file.
    *   - INSERT: same per-row NULL-driven contract as [[prepareWrite]]
    *     (NULL generated → computed, non-NULL must equal the
    *     expression; NULL identity → allocated from the high-water
    *     mark with sparse per-partition strides, non-NULL refuses
    *     unless BY DEFAULT). */
  final case class RowTransforms(
      update: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      insert: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      allocates: Seq[IdentitySpec])

  def bindRowTransforms(spark: org.apache.spark.sql.SparkSession,
                        rowSchema: StructType,
                        target: StructType): Option[RowTransforms] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Add, Alias, BindReferences, Cast, CaseWhen, EqualNullSafe, Expression, IsNull, Literal, MonotonicallyIncreasingID, Multiply}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    import org.apache.spark.sql.types.StringType
    if (rowSchema.fields.isEmpty) return None
    val present = rowSchema.fieldNames.toSet
    val gens = generatedOf(target).filter { case (f, _) => present(f.name) }
    val ids = identityOf(target).filter(s => present(s.name))
    if (gens.isEmpty && ids.isEmpty) return None
    val genByName = gens.map { case (f, e) => f.name -> e }.toMap
    val idByName = ids.map(s => s.name -> s).toMap
    // pure Catalyst nodes (no Column DSL: its lazily-converted column
    // nodes don't resolve through a bare `analyzer.execute`); the
    // unresolved function/attribute leaves resolve exactly like
    // [[SinkConstraints]]' parsed CHECK expressions do
    def ref(name: String): Expression = UnresolvedAttribute.quoted(name)
    def fn(name: String, args: Expression*): Expression =
      UnresolvedFunction(Seq(name), args.toSeq, isDistinct = false)
    def raiseAs(msg: String, got: Expression,
                t: org.apache.spark.sql.types.DataType): Expression =
      Cast(fn("raise_error",
        fn("concat", Literal(msg), Cast(got, StringType))), t)
    def computedOf(f: StructField, genExpr: String): Expression =
      Cast(spark.sessionState.sqlParser.parseExpression(genExpr), f.dataType)
    val updateCols = rowSchema.fields.toSeq.map { f =>
      genByName.get(f.name) match {
        case Some(g) => computedOf(f, g)
        case None => ref(f.name)
      }
    }
    val insertCols = rowSchema.fields.toSeq.map { f =>
      genByName.get(f.name) match {
        case Some(g) =>
          val v = computedOf(f, g)
          CaseWhen(Seq(
            IsNull(ref(f.name)) -> v,
            EqualNullSafe(ref(f.name), v) -> ref(f.name)),
            Some(raiseAs(
              s"delta: GENERATED ALWAYS AS column `${f.name}` must " +
                s"equal ($g); got ", ref(f.name), f.dataType)))
        case None => idByName.get(f.name) match {
          case Some(s) =>
            // the engine's sparse allocation shape: per-partition
            // strides off the pinned high-water mark, no shuffle, no
            // driver coordination; the commit advances the mark from
            // the staged files' footer stats ([[hwmFromAdds]])
            val alloc = Cast(Add(Literal(s.base), Multiply(Literal(s.step),
              Add(MonotonicallyIncreasingID(), Literal(1L)))), LongType)
            if (s.allowExplicit)
              CaseWhen(Seq(IsNull(ref(f.name)) -> alloc), Some(ref(f.name)))
            else
              CaseWhen(Seq(IsNull(ref(f.name)) -> alloc),
                Some(raiseAs(
                  s"delta: `${s.name}` is GENERATED ALWAYS AS IDENTITY — " +
                    "explicit INSERT values are refused (BY DEFAULT is " +
                    "the opt-in); got ", ref(f.name), LongType)))
          case None => ref(f.name)
        }
      }
    }
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(rowSchema)
    def bind(cols: Seq[Expression]): Seq[Expression] = {
      val aliases = cols.zipWithIndex.map { case (c, i) => Alias(c, s"c$i")() }
      val analyzed = spark.sessionState.analyzer
        .execute(Project(aliases, LocalRelation(attrs)))
      val list = analyzed.collectFirst { case p: Project => p.projectList }
        .getOrElse(throw new IllegalStateException(
          "delta: row-transform projection did not analyze"))
      require(list.forall(_.resolved),
        s"delta: row-transform projection did not resolve: $list")
      list.map {
        case a: Alias => BindReferences.bindReference(a.child, attrs)
        case other => BindReferences.bindReference(other: Expression, attrs)
      }
    }
    Some(RowTransforms(bind(updateCols), bind(insertCols), ids))
  }

  /** CREATE-time validation of a generation expression (delta's rules):
    * it must analyze against the table's NON-generated, NON-identity
    * columns (so a reference to another generated/identity column fails
    * resolution with a clear message), must be deterministic (a
    * nondeterministic expression would make the write-time equality
    * check and every recompute path inconsistent by construction), and
    * must not contain subqueries. Refusing here beats failing the first
    * write — the table never exists in an unusable state. */
  def validateGenerationExpr(spark: org.apache.spark.sql.SparkSession,
                             schema: StructType, colName: String,
                             genExpr: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
    val referencable = StructType(schema.fields.filterNot(f =>
      f.metadata.contains(GenerationExprKey) ||
        f.metadata.contains(IdentityStartKey)))
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(referencable)
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(genExpr)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"delta: generated column `$colName`'s expression ($genExpr) " +
          s"does not parse: ${e.getMessage}") }
    require(!parsed.exists(_.isInstanceOf[SubqueryExpression]),
      s"delta: generated column `$colName`'s expression must not " +
        "contain a subquery")
    val analyzed =
      try spark.sessionState.analyzer
        .execute(Project(Seq(Alias(parsed, "g")()), LocalRelation(attrs)))
      catch { case e: Exception => throw new IllegalArgumentException(
        s"delta: generated column `$colName`'s expression ($genExpr) " +
          "does not resolve — it may reference only the table's " +
          s"non-generated, non-identity columns: ${e.getMessage}") }
    val expr = analyzed.collectFirst { case p: Project => p.projectList.head }
      .getOrElse(throw new IllegalStateException(
        s"delta: generation expression for `$colName` did not analyze"))
    require(expr.resolved,
      s"delta: generated column `$colName`'s expression ($genExpr) did " +
        "not resolve — it may reference only the table's non-generated, " +
        "non-identity columns")
    require(expr.deterministic,
      s"delta: generated column `$colName`'s expression ($genExpr) is " +
        "nondeterministic — recompute and the write-time equality check " +
        "would disagree row to row")
  }

  /** Schema with the given identity high-water marks stamped. */
  def withHwm(schema: StructType, updates: Map[String, Long]): StructType =
    StructType(schema.fields.map { f =>
      updates.get(f.name) match {
        case None => f
        case Some(v) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putLong(IdentityHighWaterMarkKey, v).build())
      }
    })
}
