package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Hashing, KmvMinK}
import graft.operators.Relational
import graft.sources.Tables

/** "Use as a library" — the PERSISTED-STATE warehouse pattern end to end:
  * raw rows are scanned ONCE (the night they arrive), everything a
  * report needs afterwards lives in bounded per-cell state columns, and
  * every state column is mergeable BY CONSTRUCTION:
  *
  *   - exact algebra: counts/sums merge by `+`, min/max by min/max;
  *   - KMV distinct sketch (q40/q41): k longs, merge = insert+truncate;
  *   - bottom-k value sample (q42): quantiles forever, merge = same;
  *   - CMS frequency sketch (q44): d·w counters, merge = element-wise `+`
  *     (stored beside the per-day state as its own tiny frame);
  *   - KMV overlap (q45): any two days' novelty/Jaccard from their
  *     stored sketch arrays alone.
  *
  * [[nightly]] aggregates ONE day's rows into state; [[mergeStates]]
  * folds any set of state frames into coarser state (the q43 merge
  * aggregates — stored arrays in, stored arrays out, no raw re-scan);
  * [[report]] derives the human numbers from state alone. The spec
  * asserts the load-bearing claim: nightly → merge → report ≡ one
  * recompute over all raw rows, estimators included.
  *
  * Run: {{{
  * sbt "runMain graft.examples.SketchStateExample /root/testdata/sf0.001 /tmp/state"
  * }}}
  */
object SketchStateExample {

  val K = 64
  val CmsDepth = 4
  val CmsWidth = 1024

  private def hashed(events: DataFrame): DataFrame = events
    .where(col("user_id").isNotNull)
    .select(col("event_type"),
      expr("(ts DIV 1000) div 86400000000").as("day"),
      col("user_id"), col("value"),
      Hashing.md5Long(concat(lit("u:"), col("user_id").cast("string")), 15)
        .as("hu"),
      // the value-sample key must be unique PER ROW (KmvBottomKPairs
      // contract): hash the event id, as q42/q43 do — keying by hu would
      // collapse duplicate (user, value) pairs and bias the quantile
      Hashing.md5Long(concat(lit("e:"), col("event_id").cast("string")), 15)
        .as("he"))

  /** One night's batch → per-(type, day) state rows. Touches ONLY the
    * night's raw rows; output cardinality = |types|·1. */
  def nightly(events: DataFrame): DataFrame =
    hashed(events).groupBy("event_type", "day").agg(
      count(lit(1)).as("n"),
      min("value").as("min_v"), max("value").as("max_v"),
      KmvMinK.kmvMinKSet(col("hu"), K).as("users_sk"),
      KmvMinK.kmvBottomKPairs(col("he"), col("value"), K).as("vsample"))

  /** The night's CMS frame (q44's sketch as its own persisted state):
    * ≤ depth·width rows, merged across nights by summing per cell. */
  def nightlyCms(events: DataFrame): DataFrame =
    Relational.cmsSketchOf(
      hashed(events).select(col("user_id").cast("string").as("key")),
      CmsDepth, CmsWidth)

  /** Fold state frames (any nights, any split) up to per-type state —
    * stored arrays in, stored arrays out; raw rows never touched. */
  def mergeStates(states: DataFrame): DataFrame =
    states.groupBy("event_type").agg(
      sum("n").cast("long").as("n"),
      min("min_v").as("min_v"), max("max_v").as("max_v"),
      KmvMinK.kmvMergeSet(col("users_sk"), K).as("users_sk"),
      KmvMinK.kmvMergePairs(col("vsample"), K).as("vsample"))

  /** The report: derived from merged state ALONE. */
  def report(merged: DataFrame): DataFrame = merged
    .select(col("event_type"), col("n"), col("min_v"), col("max_v"),
      KmvMinK.estimateFromSet(col("users_sk"), K).as("distinct_users"),
      KmvMinK.sampleQuantile(col("vsample"), 0.5).as("p50"))
    .orderBy("event_type")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("/tmp/graft_state")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val events = graft.sources.Tables.t(spark, dir, "events")
    nightly(events).write.mode("overwrite").parquet(s"$out/state")
    nightlyCms(events).write.mode("overwrite").parquet(s"$out/cms")
    report(mergeStates(Tables.parquet(spark, s"$out/state")))
      .show(truncate = false)
    spark.stop()
  }
}
