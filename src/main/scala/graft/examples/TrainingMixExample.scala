package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Sampling, TextAnalysis}
import graft.sources.Sink

/** "Use as a library" #2 — from a corpus to a TRAINING ORDER, the step
  * after [[CurationExample]]'s content filtering: decide what the model
  * sees, in which split, in which phase, in which shard, at which
  * position — every decision a deterministic property of the data, never
  * of the run.
  *
  * The pipeline composes four operator families end to end:
  *   1. near-dup clusters (dd06) → LEAKAGE-SAFE split (c08): train/val is
  *      hashed on the cluster, so a near-duplicate pair can never have
  *      one twin in train and one in eval;
  *   2. quality scoring (t02's shared definition) → CURRICULUM phases
  *      (sp10): the exact global easy-first rank, computed distributed,
  *      then cut into `nPhases` contiguous phases;
  *   3. deterministic SHUFFLE-SHARD (sp06) within each phase: inside a
  *      phase the curriculum deliberately ends — training wants i.i.d.
  *      order locally, so shard placement and in-shard position are
  *      independent salted hashes (phase-salted: re-phasing reshuffles);
  *   4. token-budget packing (sp04) per shard: documents map to fixed-
  *      budget sequence bins in one per-shard window.
  *
  * Run: {{{
  * sbt "runMain graft.examples.TrainingMixExample /root/testdata/sf0.001 /tmp/mix"
  * }}}
  */
object TrainingMixExample {

  /** The full training-mix assignment as one plan:
    * (doc_id, split, phase, shard, pos, n_tokens, bin). `val` rows carry
    * phase/shard/pos/bin = null — evaluation sets are read whole, ordering
    * them is meaningless. */
  def trainingMix(spark: SparkSession, dir: String,
      trainPermille: Int = 900, nPhases: Int = 3,
      shardsPerPhase: Int = 4, packBudget: Long = 512): DataFrame = {
    require(nPhases >= 1 && shardsPerPhase >= 1)

    // Multi-consumer frames are pinned throughout (the rule the sf10
    // composed-pipeline rehearsal established): split feeds the train
    // derivation AND the final join; train feeds the rank AND the count;
    // phased feeds both arms of the shard self-join; sharded feeds the
    // packer AND the final join. Unpinned, each second consumer re-runs
    // the dd06 cluster tail / the global curriculum sort — the most
    // expensive subplans in the graph.

    // 1. cluster-keyed split — the ONLY leakage-safe way to cut near-dups
    val split = Curation.clusterSafeSplitOf(
      Dedup.dd06NearDupClusters(spark, dir), trainPermille)
      .select("doc_id", "split")
      .transform(graft.Materialize.pin)

    // 2. exact global curriculum rank over the TRAIN docs only (easy
    //    first = highest quality first), then contiguous phase cut
    val docs = graft.sources.Tables.t(spark, dir, "documents")
    val train = docs.join(split.where(col("split") === "train"), "doc_id")
      .transform(graft.Materialize.pin)
    val ranked = Sampling.curriculumOrderOf(
      train.select(col("doc_id"),
        TextAnalysis.quality(col("text")).as("quality")),
      scoreCol = "quality")
    val n = train.count() // one count; phases need the corpus size anyway
    val phased = ranked.select(col("doc_id"),
      (((col("seq") - 1) * nPhases) / lit(math.max(n, 1L))).cast("int")
        .as("phase"))
      .transform(graft.Materialize.pin)

    // 3. phase-salted shuffle shards: within a phase, order is i.i.d.
    val sharded = Sampling.shuffleShardOf(
      phased.withColumn("__sid",
        concat(col("phase").cast("string"), lit(":"),
          col("doc_id").cast("string"))),
      nShards = shardsPerPhase, idCol = "__sid")
      .join(phased.withColumn("__sid",
        concat(col("phase").cast("string"), lit(":"),
          col("doc_id").cast("string"))), "__sid")
      .select("doc_id", "phase", "shard", "pos")
      .transform(graft.Materialize.pin)

    // 4. pack each (phase, shard)'s documents into fixed-budget bins
    val packed = Sampling.packSequencesOf(
      docs.join(sharded, "doc_id")
        .withColumn("__part", concat(col("phase"), lit("/"), col("shard"))),
      packBudget, partitionCol = "__part")
      .select("doc_id", "n_tokens", "bin")

    docs.select("doc_id").join(split, "doc_id")
      .join(sharded, Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select("doc_id", "split", "phase", "shard", "pos", "n_tokens", "bin")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TrainingMixExample <sf-dir> <out-path>")
    val spark = graft.GraftSession()
    try {
      val mix = trainingMix(spark, args(0))
      // one ordered file set per (split, phase, shard): a trainer streams
      // shard files in pos order, phase by phase
      Sink.writeCurated(mix, args(1),
        partitionCols = Seq("split", "phase", "shard"),
        sortCols = Seq("pos"))
      println(s"training mix written to ${args(1)}")
    } finally spark.stop()
  }
}
