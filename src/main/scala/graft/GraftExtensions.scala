package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{MinHashSignature, RollingHash}

/** Session extension point: `--conf spark.sql.extensions=graft.GraftExtensions`
  * registers graft's custom Catalyst expressions in every session (SQL and
  * DataFrame API) without per-session register() calls, and installs the
  * engine-enforced PII-masking analysis rule
  * ([[graft.plans.MaskPiiRule]]). SQL DML on graft-delta tables needs
  * nothing from here: Spark's own row-level rewrite plans it against
  * [[graft.sources.delta.GraftRowLevelOperation]] in every session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(graft.plans.MaskPiiRule)
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      FunctionIdentifier("dot_i64"),
      new ExpressionInfo(classOf[graft.functions.DotProductI64].getName, "dot_i64"),
      (children: Seq[Expression]) =>
        graft.functions.DotProductI64(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_f64"),
      new ExpressionInfo(classOf[graft.functions.DotProductF64].getName, "dot_f64"),
      (children: Seq[Expression]) =>
        graft.functions.DotProductF64(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("sqdist_f64"),
      new ExpressionInfo(classOf[graft.functions.SqDistF64].getName, "sqdist_f64"),
      (children: Seq[Expression]) =>
        graft.functions.SqDistF64(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "minhash_signature(elementHash BIGINT, numPerms INT literal) takes exactly 2 arguments")
        require(children(1).foldable,
          "minhash_signature: numPerms must be a literal")
        MinHashSignature(
          children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(classOf[graft.functions.BloomFilterAgg].getName, "bloom_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 3,
          "bloom_agg(keyHash BIGINT, numBits INT literal, numHashes INT literal) takes exactly 3 arguments")
        require(children(1).foldable && children(2).foldable,
          "bloom_agg: numBits and numHashes must be literals")
        graft.functions.BloomFilterAgg(
          children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("vector_sum"),
      new ExpressionInfo(classOf[graft.functions.VectorSumAgg].getName, "vector_sum"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "vector_sum(v ARRAY<DOUBLE>, dim INT literal) takes exactly 2 arguments")
        require(children(1).foldable, "vector_sum: dim must be a literal")
        graft.functions.VectorSumAgg(
          children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("freq_items"),
      new ExpressionInfo(classOf[graft.functions.FreqItemsSketch].getName, "freq_items"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          "freq_items(item STRING, capacity INT literal) takes exactly 2 arguments")
        require(children(1).foldable, "freq_items: capacity must be a literal")
        graft.functions.FreqItemsSketch(
          children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))
  }
}
