package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}
import graft.sources.Sink

/** "Use as a library" — the wiring a user's first custom pipeline needs,
  * end to end: compose the parameterized operator surfaces (NOT the
  * fixed-threshold bench registry) into a curation plan, then hand the
  * result to the write path. Everything here is a plain DataFrame
  * transformation — Catalyst fuses the document scans across branches, and
  * each stage keeps the scale shape documented on its operator (banded LSH
  * candidates, hash-keyed passage counts, map-only scoring).
  *
  * Run against a TESTDATA sf dir:
  * {{{
  * sbt "runMain graft.examples.CurationExample /root/testdata/sf0.001 /tmp/curated"
  * }}}
  */
object CurationExample {

  /** The curated corpus as a pure plan: PII-scrubbed text for every
    * document that (a) clears the quality gate, (b) is not the later twin
    * of a lexical near-duplicate at Jaccard ≥ `nearDupJaccard`, (c) is
    * not dominated by boilerplate (> `maxDupPassageRatio` of its 20-token
    * passages occur elsewhere in the corpus), and (d) does not leak the
    * held-out benchmark set (n-gram decontamination). Returns
    * (doc_id, lang, source, text, quality, n_pii_hits). */
  def curated(spark: SparkSession, dir: String,
      minQuality: Double = 0.3,
      nearDupJaccard: Double = 0.9,
      maxDupPassageRatio: Double = 0.5): DataFrame = {
    // 1. PII scrub — caller-chosen pattern/replacement (map-only)
    val scrubbed = TextAnalysis.scrub(spark, dir,
      pattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", replacement = "[ID]")
      .select(col("doc_id"), col("scrubbed").as("text"),
        col("n_hits").as("n_pii_hits"))

    // 2. quality gate (map-only scoring)
    val quality = TextAnalysis.t02Quality(spark, dir)
      .select("doc_id", "quality")

    // 3. near-dup LOSERS at a strict threshold, via the banded MinHash-LSH
    //    scale path — each pair's later twin goes
    val losers = Dedup.minhashNearDups(spark, dir, nearDupJaccard)
      .select(col("idb").as("doc_id")).distinct()

    // 4. boilerplate dominance from passage-level dedup (hash-keyed counts)
    val boilerplate = Dedup.passageDedup(spark, dir, passageTokens = 20)
      .where(col("n_dup_passages") >
        col("n_passages") * maxDupPassageRatio)
      .select("doc_id")

    // 5. benchmark decontamination: the held-out eval documents NEVER
    //    enter the training corpus, and neither does any document sharing
    //    verbatim n-grams with them (gram-hash equi-join — the benchmark
    //    side broadcasts at runtime)
    val isBenchmark = col("doc_id") % 97 === 0
    val leaked = Curation.decontaminate(spark, dir,
      isBenchmark, ngramTokens = 3, minShared = 2)
      .where(col("contaminated")).select("doc_id")

    // 6. training-mix shaping: inverse-sqrt temperature downsampling per
    //    source (a deterministic document property — reruns and resizes
    //    keep the identical mix), with the over-represented sources
    //    damped toward ∝ √n
    val mix = Sampling.temperatureMix(spark, dir, c = 20.0)
      .where(col("kept")).select("doc_id")

    graft.sources.Tables.t(spark, dir, "documents")
      .where(!isBenchmark)
      .select("doc_id", "lang", "source")
      .join(scrubbed, "doc_id")
      .join(quality, "doc_id")
      .where(col("quality") >= minQuality)
      .join(losers, Seq("doc_id"), "left_anti")
      .join(boilerplate, Seq("doc_id"), "left_anti")
      .join(leaked, Seq("doc_id"), "left_anti")
      .join(mix, Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "text", "quality", "n_pii_hits")
  }

  /** Write the curated corpus two ways: partitioned parquet for scan-time
    * pruning (by lang, quality-clustered within files), and a doc_id-
    * bucketed table so the nightly incremental-admission join
    * ([[Dedup.incrementalAdmit]] against the stored fingerprints) runs
    * Exchange-free on the historical side. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationExample <sf-dir> <out-path> [bucketed-table]")
    val spark = graft.GraftSession()
    try {
      // two writes consume the same plan — pinned, the full curation
      // graph (LSH pairs, passage counts, decontamination) computes once
      // and the bucketed write re-reads blocks instead of re-curating
      val out =
        if (args.length >= 3) graft.Materialize.pin(curated(spark, args(0)))
        else curated(spark, args(0))
      Sink.writeCurated(out, args(1),
        partitionCols = Seq("lang"), sortCols = Seq("quality"))
      if (args.length >= 3)
        Sink.writeBucketed(out, args(2), buckets = 32,
          bucketCols = Seq("doc_id"), sortCols = Seq("doc_id"))
      println(s"curated corpus written to ${args(1)}")
    } finally spark.stop()
  }
}
