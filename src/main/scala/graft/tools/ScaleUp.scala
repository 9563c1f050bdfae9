package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Deterministic scale-up replicator for dress rehearsals at N× the bench
  * scale factor: `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>`.
  *
  * Writes each TESTDATA table as `factor` replicas unioned together, with
  * every 64-bit key column offset by `replica * STEP` so referential
  * integrity (orders→customer, lineitem→orders/part/supplier,
  * events.user_id, documents.doc_id, embeddings.vec_id) holds inside each
  * replica and key cardinality scales with the factor. `region`/`nation`
  * are fixed dimensions (5/25 rows at every TPC-H scale) and are copied
  * unchanged — customer/supplier nation keys still resolve.
  *
  * Content columns are PERTURBED per replica, not copied verbatim:
  *  - `documents.text`: every whitespace token gets a replica prefix
  *    (`rK<token>`), so replicas share no shingles/tokens. Copy-identical
  *    replicas would turn every document into a 10-member exact+near-dup
  *    group, and every pair-generating operator (dd02/dd03/dd05/dd12,
  *    ss02/ss04) would see pair volume grow with factor² — the rehearsal
  *    would measure an artifact of the replicator, not the operator's
  *    scaling. With disjoint token spaces each replica reproduces the
  *    original's internal near-dup structure exactly once, so planted-pair
  *    counts — and thus the honest workload — scale linearly.
  *  - `embeddings.embedding`: element j of replica K gets a deterministic
  *    hash-derived offset in [-0.1, 0.1) keyed on (vec_id, j, K), same
  *    rationale — identical vectors across replicas are cosine-1 pairs.
  *  - `documents.n_chars` is recomputed from the perturbed text so the
  *    stored-length invariant survives.
  *
  * Everything is driven by deterministic column expressions (no rand()),
  * so two runs produce byte-identical tables — the same property the
  * engine's own samplers guarantee (Sampling.scala). */
object ScaleUp {
  /** Larger than any key the driver generator emits at any sf (TPC-H
    * orderkeys reach ~600M at sf100; 2³⁹ ≈ 5.5·10¹¹ clears that by 900×)
    * while keeping replica keys small: the advisor flagged that the old
    * 10¹² step put replica-9 doc_ids past downstream packing bounds
    * (dd15's since-removed doc_id·2²⁰ pack wrapped Long). No such bound
    * exists in the engine anymore, but scaled keys staying ≪ 2⁶³ is cheap
    * insurance for any caller arithmetic. */
  private val STEP = 1L << 39

  private def replicas(df: DataFrame, factor: Int)(
      per: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(k => per(df, k)).reduce(_ unionAll _)

  private def off(c: String, k: Int) = col(c) + lit(k.toLong * STEP)

  def scaleTable(spark: SparkSession, srcDir: String, name: String,
      factor: Int): DataFrame = {
    val df = graft.sources.Tables.t(spark, srcDir, name)
    name match {
      case "region" | "nation" => df
      case "customer" => replicas(df, factor)((d, k) =>
        d.withColumn("c_custkey", off("c_custkey", k)))
      case "supplier" => replicas(df, factor)((d, k) =>
        d.withColumn("s_suppkey", off("s_suppkey", k)))
      case "part" => replicas(df, factor)((d, k) =>
        d.withColumn("p_partkey", off("p_partkey", k)))
      case "orders" => replicas(df, factor)((d, k) =>
        d.withColumn("o_orderkey", off("o_orderkey", k))
          .withColumn("o_custkey", off("o_custkey", k)))
      case "lineitem" => replicas(df, factor)((d, k) =>
        d.withColumn("l_orderkey", off("l_orderkey", k))
          .withColumn("l_partkey", off("l_partkey", k))
          .withColumn("l_suppkey", off("l_suppkey", k)))
      case "events" => replicas(df, factor)((d, k) =>
        d.withColumn("event_id", off("event_id", k))
          .withColumn("user_id", off("user_id", k)))
      case "documents" => replicas(df, factor) { (d, k) =>
        val perturbed =
          if (k == 0) d
          else d.withColumn("text",
            array_join(
              transform(split(col("text"), " "),
                w => concat(lit(s"r$k"), w)),
              " "))
        perturbed
          .withColumn("doc_id", off("doc_id", k))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
      case "embeddings" => replicas(df, factor) { (d, k) =>
        val perturbed =
          if (k == 0) d
          else d.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              (x + (pmod(hash(col("vec_id"), j, lit(k)), lit(1000))
                .cast("double") / 1000.0 - 0.5) * 0.2).cast("float")))
        perturbed.withColumn("vec_id", off("vec_id", k))
      }
      case other => sys.error(s"unknown table $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dstDir = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    graft.sources.Tables.all.foreach { t =>
      val scaled = scaleTable(spark, srcDir, t, factor)
      // Tables.t normalizes events.ts to an epoch-nano LONG for the
      // engine; writing that long back verbatim would mint a THIRD ts
      // encoding that the DuckDB oracle (epoch_us over a timestamp) can't
      // read. Store what the current generator stores — TIMESTAMP_NTZ
      // micros — so a scaled dir is a drop-in for correctness runs too.
      val out = if (t != "events") scaled
        else scaled.withColumn("ts", expr(
          "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      out.write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      val n = Tables.parquet(spark, s"$dstDir/$t.parquet").count()
      println(s"[scaleup] $t -> $n rows")
    }
    spark.stop()
  }
}
