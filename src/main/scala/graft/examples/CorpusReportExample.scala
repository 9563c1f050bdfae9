package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Relational, Similarity, TextAnalysis}

/** "Use as a library" — the NIGHTLY CORPUS HEALTH REPORT: the three
  * questions an ongoing ingest answers about tonight's snapshot before
  * anything downstream retrains, composed from the monitor operators:
  *
  *   1. DRIFT (scalar): did quality/length move per source?
  *      [[Curation.driftMonitorOf]] — c12's PSI over shared binning.
  *   2. DRIFT (semantic): same quality, different TOPICS — or a silently
  *      swapped embedding model? [[Curation.embeddingDriftOf]] — c13's
  *      per-LSH-cell share + mean-direction rotation.
  *   3. NOVELTY: how much of tonight is genuinely new text?
  *      [[Relational.overlapFromSketches]] — q45's KMV composition over
  *      the shared dd01/t04 fingerprint, summarized as new-content ‰.
  *
  * Every section is report-sized (|sources|, ≤ 256 cells, 1 row): the
  * corpus is touched once per section — and at 100 TB each section's
  * input is exactly the kind of per-snapshot state (histogram profiles,
  * cell sums, sketch arrays) a nightly job persists, so the report
  * recomputes from profiles alone after the first night.
  *
  * Run: {{{
  * sbt "runMain graft.examples.CorpusReportExample /root/testdata/sf0.001"
  * }}}
  */
object CorpusReportExample {

  /** The three report sections, one frame each. */
  final case class CorpusReport(scalarDrift: DataFrame,
      embeddingDrift: DataFrame, novelty: DataFrame)

  /** Compare tonight's snapshot (docs + embeddings) against the previous
    * one. `k` governs the novelty estimator's error (±1/√(k−2)). */
  def nightlyReport(docsPrev: DataFrame, docsNew: DataFrame,
      embPrev: DataFrame, embNew: DataFrame, k: Int = 64): CorpusReport = {
    import graft.functions.KmvMinK
    def quantized(e: DataFrame): DataFrame = e.select(col("vec_id"),
      Similarity.quantizedOf(col("embedding")).as("q"))
    // novelty: KMV sketches of the shared fingerprint, one per snapshot —
    // at scale these two aggregates ARE the persisted per-snapshot state
    def fpHash(docs: DataFrame) = docs.select(
      graft.functions.Hashing.md5Long(
        TextAnalysis.fingerprint(col("text")), 15).as("h"))
    val sk = fpHash(docsPrev).agg(KmvMinK.kmvMinKSet(col("h"), k).as("ska"))
      .crossJoin(broadcast(
        fpHash(docsNew).agg(KmvMinK.kmvMinKSet(col("h"), k).as("skb"))))
    val novelty = Relational.overlapFromSketches(sk, k)
      // share of tonight's distinct content NOT seen last night
      .withColumn("new_permille",
        when(col("n_b_est") > 0, lit(1000L) -
          expr("inter_est * 1000 div n_b_est")).otherwise(lit(0L))
          .cast("long"))
    CorpusReport(
      scalarDrift = Curation.driftMonitorOf(docsPrev, docsNew),
      embeddingDrift = Curation.embeddingDriftOf(
        quantized(embPrev), quantized(embNew)),
      novelty = novelty)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.sources.Tables.t(spark, dir, "documents")
    val emb = graft.sources.Tables.t(spark, dir, "embeddings")
    val r = nightlyReport(
      docs.where(expr("(doc_id div 20) % 2") === 0),
      docs.where(expr("(doc_id div 20) % 2") === 1),
      emb.where(expr("(vec_id div 20) % 2") === 0),
      emb.where(expr("(vec_id div 20) % 2") === 1))
    r.scalarDrift.show(20, truncate = false)
    r.embeddingDrift.where(col("verdict") =!= "stable").show(20)
    r.novelty.show(truncate = false)
    spark.stop()
  }
}
