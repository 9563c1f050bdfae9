package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}

/** THE composed end-to-end pipeline (r10 directive #7) — the artifact a
  * new user copies first: ONE job graph from a raw JSONL drop to a
  * training-ready corpus, stitching the stages the other examples show
  * separately ([[CurationExample]] content filtering,
  * [[TrainingMixExample]] ordering, [[NightlyIngestExample]] admission):
  *
  *   ingest → clean/scrub → exact dedup → near-dup dedup → quality gate
  *   → benchmark decontamination → temperature mix → sequence packing
  *   → dataset card
  *
  * Its distinguishing discipline is the LINEAGE LEDGER: every gate stage
  * counts its input, its survivors, and its rejects from INDEPENDENT
  * frames and `require`s in == kept + rejected before moving on — a
  * reject set that overlaps the survivor set (a doc both kept and
  * dropped: the classic join-duplication bug) or a silent loss (a doc in
  * neither) fails the job loudly instead of shipping a corpus that
  * doesn't reconcile with its own report. The final report is returned
  * as a DataFrame (stage, in, kept, rejected) whose rows chain
  * (stage N's in == stage N−1's kept — asserted in ExamplesSpec).
  *
  * Scale shape: every stage is an operator whose 100 TB plan is
  * documented at its definition (banded MinHash candidates, broadcast
  * benchmark hashes, driver-exact broadcast ppm table, two-level
  * prefix-sum packing); the composition adds one `count` per stage
  * boundary — the price of a reconciled ledger — against pinned
  * intermediates so nothing heavy re-executes. */
object PretrainPipelineExample {

  /** `tSec` — wall seconds from the previous stage boundary to this one:
    * stage intermediates are pinned (eager), so each boundary-to-boundary
    * interval IS that stage's materialization cost — the per-stage table
    * the scale rehearsals publish (SCALING.md). */
  final case class StageCount(stage: String, in: Long, kept: Long,
      rejected: Long, tSec: Double)

  final case class PipelineResult(lineage: Seq[StageCount],
      nPacked: Long, nSequences: Long)

  /** The JSONL drop's declared schema — a raw crawl delivers exactly
    * this shape (see TESTDATA's documents columns). */
  val dropSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Run the whole pipeline: read the drop at `jsonlPath`, write the
    * packed corpus + placement map + dataset card + lineage ledger under
    * `outDir`, return the lineage. Every count reconciles or the job
    * throws. */
  def run(spark: SparkSession, jsonlPath: String, outDir: String,
      minQuality: Double = 0.3, nearDupJaccard: Double = 0.5,
      benchmarkPred: org.apache.spark.sql.Column = col("doc_id") % 97 === 0,
      passageTokens: Int = 20, alphaNum: Int = 1, alphaDen: Int = 2,
      seqLen: Int = 128): PipelineResult = graft.Materialize.scoped {
    val stages = scala.collection.mutable.ArrayBuffer.empty[StageCount]
    var tLast = System.nanoTime()
    def elapsed(): Double = {
      val now = System.nanoTime()
      val dt = (now - tLast) / 1e9; tLast = now; dt
    }
    import graft.Materialize.pin
    // a GATE: survivors and rejects are INDEPENDENT frames; the ledger
    // row is admitted only if they partition the input exactly
    def gate(name: String, in: Long, kept: DataFrame,
        rejected: DataFrame): (DataFrame, Long) = {
      val k = pin(kept)
      val nk = k.count()
      val nr = rejected.count()
      require(nk + nr == in,
        s"lineage broken at '$name': in=$in kept=$nk rejected=$nr — " +
          "the stage lost or duplicated documents")
      stages += StageCount(name, in, nk, nr, elapsed())
      (k, nk)
    }
    // 1. INGEST — corrupt JSONL lines are counted, never silently
    // dropped (PERMISSIVE quarantine, TextCorpus contract)
    val (raw0, nBad) = graft.sources.TextCorpus.readJsonlClean(
      spark, jsonlPath, dropSchema)
    val raw = pin(raw0)
    val nParsed = raw.count()
    stages += StageCount("ingest", nParsed + nBad, nParsed, nBad,
      elapsed())

    // 2. CLEAN + PII SCRUB — scrub is a transform (no rejects); the
    // gate drops structurally unusable rows (null/blank text, null id)
    val scrubbed = raw.withColumn("text",
      regexp_replace(col("text"),
        "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "[ID]"))
    val usable = col("doc_id").isNotNull && col("text").isNotNull &&
      length(trim(col("text"))) > 0
    val (clean, nClean) = gate("clean", nParsed,
      scrubbed.where(usable), scrubbed.where(!usable))

    // 3. EXACT DEDUP — first doc_id per canonical fingerprint wins
    // (dd01's rule); the reject frame is computed independently as the
    // non-winners, so a fingerprint collision bug cannot hide
    val fp = clean.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    // winners/losers feed BOTH the survivor join and the independent
    // reject join — pinned, or the gate's honesty tax doubles to a
    // full recompute of the fingerprint scan / the whole MinHash-LSH
    // candidate pipeline (the sf10 dress rehearsal measured the
    // neardup stage paying dd03 twice before this pin)
    val winners = pin(fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id"))
    val (exact, nExact) = gate("exact-dedup", nClean,
      fp.join(winners, "doc_id"),
      fp.join(winners, Seq("doc_id"), "left_anti"))

    // 4. NEAR-DUP DEDUP — banded MinHash-LSH candidates, exact verify;
    // each pair's LATER twin goes (dd03's convention: idb loses)
    val losers = pin(Dedup.minhashNearDupsOf(
      exact.select("doc_id", "text"), nearDupJaccard)
      .select(col("idb").as("doc_id")).distinct())
    val (deduped, nDeduped) = gate("neardup-dedup", nExact,
      exact.join(losers, Seq("doc_id"), "left_anti"),
      exact.join(losers, Seq("doc_id"), "left_semi"))

    // 5. QUALITY GATE — the engine's one shared quality definition
    val scored = deduped.withColumn("quality",
      TextAnalysis.quality(col("text")))
    val (qualified, nQualified) = gate("quality", nDeduped,
      scored.where(col("quality") >= minQuality),
      scored.where(col("quality") < minQuality))

    // 6. BENCHMARK DECONTAMINATION — the held-out set itself leaves
    // the corpus, and surviving docs lose any passage equal to a
    // benchmark passage (c09's cut-don't-drop); docs that were ONLY
    // benchmark passages reject outright
    val bench = qualified.where(benchmarkPred)
    val nBench = bench.count()
    val candidates = qualified.where(!benchmarkPred)
    val scrubbedClean = pin(Curation.passageDecontaminateOf(
      candidates.select("doc_id", "text"), bench, passageTokens))
    val emptied = scrubbedClean.where(col("n_kept") === 0)
      .select("doc_id")
    val decontaminated = candidates
      .join(scrubbedClean.where(col("n_kept") > 0)
        .select(col("doc_id"), col("clean_text")), "doc_id")
      .withColumn("text", col("clean_text")).drop("clean_text")
    val (cleanCorpus, nDecon) = gate("decontaminate", nQualified,
      decontaminated,
      qualified.where(benchmarkPred)
        .select("doc_id").unionByName(emptied))
    require(nBench + emptied.count() == nQualified - nDecon,
      "decontamination rejects do not split into benchmark + emptied")

    // 7. TEMPERATURE MIX — α-smoothed per-language rebalancing with
    // the driver-exact broadcast ppm table (sp15's family)
    val mixed = pin(Sampling.temperatureKeepAtOf(
      cleanCorpus, alphaNum, alphaDen, groupCol = "lang"))
    val (finalCorpus, nFinal) = gate("temperature-mix", nDecon,
      mixed.where(col("kept")).drop("kept"),
      mixed.where(!col("kept")))

    // 8. SEQUENCE PACKING — a transform, not a gate: every surviving
    // doc gets a placement (t29's two-level prefix sum); the invariant
    // is row preservation, checked the same way
    val packed = pin(TextAnalysis.sequencePackOf(
      finalCorpus.select("doc_id", "text"), seqLen = seqLen,
      blockSize = 1 << 20))
    val nPacked = packed.count()
    require(nPacked == nFinal,
      s"packing lost documents: $nFinal in, $nPacked placed")
    stages += StageCount("pack", nFinal, nPacked, 0L, elapsed())
    val nSeqs = packed.agg(max(col("last_seq"))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0) + 1L
    }

    // 9. PUBLISH — corpus (lang-partitioned), placement map, the c11
    // dataset card over the FINAL corpus, and the lineage ledger
    graft.sources.Sink.writeCurated(
      finalCorpus.select("doc_id", "lang", "source", "text", "quality"),
      s"$outDir/corpus", partitionCols = Seq("lang"),
      sortCols = Seq("quality"))
    packed.write.mode("overwrite").parquet(s"$outDir/placement")
    // the gate already counted finalCorpus — hand the card that total
    // so it doesn't pay (and the pin audit doesn't flag) a recount
    Curation.datasetCardOf(finalCorpus, knownTotal = Some(nFinal))
      .write.mode("overwrite").parquet(s"$outDir/card")
    import spark.implicits._
    val lineage = stages.toSeq
    lineage.toDF().write.mode("overwrite")
      .parquet(s"$outDir/lineage")
    PipelineResult(lineage, nPacked, nSeqs)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PretrainPipelineExample <jsonl-drop> <out-dir>")
    val spark = graft.GraftSession()
    try {
      val r = run(spark, args(0), args(1))
      r.lineage.foreach(s => println(
        f"[pipeline] ${s.stage}%-16s in=${s.in}%7d kept=${s.kept}%7d " +
          f"rejected=${s.rejected}%7d t=${s.tSec}%7.2fs"))
      println(s"[pipeline] packed ${r.nPacked} docs into ${r.nSequences} " +
        s"sequences; outputs under ${args(1)}")
    } finally spark.stop()
  }
}
