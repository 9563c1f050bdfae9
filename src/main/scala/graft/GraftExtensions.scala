package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}
import org.apache.spark.sql.graft.Bridge
import graft.functions.{ArrayDotLong, ArrayIntersectCountLong, KmvBottomKPairs,
  KmvMergePairs, KmvMergeSet, KmvMinK, KmvMinKSet, NfcNormalizeExpr}

/** SQL-surface registration of graft's native expressions, so
  * `spark.sql("... array_dot_long(a, b) ...")` works like a built-in.
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build time
  *    (the standard plugin path for clusters);
  *  - `GraftExtensions.register(spark)` on a live session (tests, REPL).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach(ext.injectFunction)
}

object GraftExtensions {
  private type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, clazz: Class[_], arity: Int)(
      mk: Seq[Expression] => Expression): FunctionDescription = (
    FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity, s"$name takes $arity argument" +
        s"${if (arity == 1) "" else "s"}, got ${children.length}")
      mk(children)
    })

  /** A KMV aggregate over `arity` columns and then k, which must be an
    * integer literal (it sizes the state). */
  private def kmv(name: String, clazz: Class[_], arity: Int)(
      mk: (Seq[Expression], Int) => Expression): FunctionDescription =
    fn(name, clazz, arity + 1) { c =>
      c.last match {
        case Literal(k: Int, _) => mk(c.init, k)
        case other => throw new IllegalArgumentException(
          s"$name: k must be an integer literal, got $other")
      }
    }

  private val all: Seq[FunctionDescription] = Seq(
    fn("array_dot_long", classOf[ArrayDotLong], 2)(
      c => ArrayDotLong(c(0), c(1))),
    fn("array_intersect_count_long", classOf[ArrayIntersectCountLong], 2)(
      c => ArrayIntersectCountLong(c(0), c(1))),
    // nfc_normalize: SQL surface for the canonicalization expression.
    // (bloom_might_contain_long is deliberately NOT here: its filter
    // argument is a driver-built object, not expressible in SQL text.)
    fn("nfc_normalize", classOf[NfcNormalizeExpr], 1)(
      c => NfcNormalizeExpr(c(0))),
    // the KMV aggregates: k sizes the bounded state, so it must be a
    // foldable integer literal. kmv_min_k(hash, k) is the (held, kth)
    // distinct sketch; kmv_min_k_set(hash, k) the storable array (union =
    // kmv_min_k_set over the exploded contents); kmv_bottom_k_pairs(hash,
    // payload, k) the bottom-k-by-hash row sample behind q42;
    // kmv_merge_set / kmv_merge_pairs(stored_array, k) re-aggregate
    // STORED sketch/sample columns directly — the rollup-maintenance path
    // (q43)
    kmv("kmv_min_k", classOf[KmvMinK], 1)((c, k) => KmvMinK(c(0), k)),
    kmv("kmv_min_k_set", classOf[KmvMinKSet], 1)(
      (c, k) => KmvMinKSet(c(0), k)),
    kmv("kmv_merge_set", classOf[KmvMergeSet], 1)(
      (c, k) => KmvMergeSet(c(0), k)),
    kmv("kmv_merge_pairs", classOf[KmvMergePairs], 1)(
      (c, k) => KmvMergePairs(c(0), k)),
    kmv("kmv_bottom_k_pairs", classOf[KmvBottomKPairs], 2)(
      (c, k) => KmvBottomKPairs(c(0), c(1), k)))

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      Bridge.registerFunction(spark, id, info, builder)
    }
}
