package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column↔Expression converters, so graft's
  * custom Catalyst expressions compose with the public DataFrame API
  * without a function-registry round-trip. Lives under
  * `org.apache.spark.sql` for access — the standard pattern for Spark
  * extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Broadcast a Hadoop conf as Spark's `private[spark]`
    * `SerializableConfiguration` — the exact shape
    * `ParquetPartitionReaderFactory` (the engine's own vectorized DSv2
    * parquet reader, which graft-delta's batch scan delegates to)
    * requires. */
  def broadcastHadoopConf(spark: org.apache.spark.sql.SparkSession,
                          conf: org.apache.hadoop.conf.Configuration)
    : org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(conf))

  /** The `private[sql]` v2 Column[] → StructType conversion (keeps
    * default-value metadata; generation/identity specs are the
    * CALLER's to stamp — the util drops them). */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
    : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** The `private[sql]` DSv2 Predicate → V1 Filter conversion (runtime
    * filtering hands V2 predicates; the skipping engine speaks V1).
    * Unconvertible predicates drop — sound for PRUNING only. */
  def predicatesToV1(
      preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
    : Array[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(preds)

  /** A FRESH session on the same context with default (empty)
    * extensions and its own state — the `private[sql]` constructor.
    * What an extension-less Spark user's session looks like; specs use
    * it to prove the connector's native row-level DML needs no
    * [[graft.GraftExtensions]] registration. */
  def bareSession(sc: org.apache.spark.SparkContext)
    : org.apache.spark.sql.classic.SparkSession = {
    // the constructor re-applies `spark.sql.extensions` from the context
    // conf, which would smuggle the registered extensions back in — hide
    // the key while the session builds (spec-only helper)
    val key = "spark.sql.extensions"
    val old = sc.conf.getOption(key)
    sc.conf.remove(key)
    try new org.apache.spark.sql.classic.SparkSession(sc)
    finally old.foreach(sc.conf.set(key, _))
  }
}
