package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streaming
import graft.sources.Tables

/** The live-tail sibling of [[CurationExample]]: the batch pipeline curates
  * the accumulated corpus; this one guards the INGEST — the same dedup and
  * quota definitions, run continuously with checkpointed state, so what
  * reaches the curated store between batch runs already honors the
  * pipeline's contracts.
  *
  * One streaming query, three stages:
  *  1. `streamingDedup` — first arrival per content fingerprint survives;
  *     state TTL'd by the event-time watermark (bounded by window key
  *     cardinality, not history);
  *  2. `streamingQuotaDocs` — per-source admission cap (ONE counter per
  *     source in the checkpointed state store), payload carried through;
  *  3. `foreachBatch` — per micro-batch: quality-score the admitted
  *     documents (the batch pipeline's same map-only definition), append
  *     survivors into the curated parquet store, and append the batch's
  *     windowed ingest profile (event-time tumbling counts). The profile
  *     rows are PARTIAL (one set per batch) and additive — a reader sums
  *     by window; that keeps the query to two stateful operators and makes
  *     the profile store append-only and trivially restart-safe.
  *
  * Restart contract: stop the query and call [[start]] again with the same
  * `checkpointDir` — dedup/quota state recovers from the state store, the
  * source resumes from committed offsets, and every store write is a
  * batch-id-keyed [[graft.sources.Sink.idempotentAppend]]: a re-delivered
  * micro-batch (foreachBatch's at-least-once window) finds its `batch=<id>`
  * directory already published and no-ops, so the curated, quarantine, and
  * profile stores are effectively EXACTLY-once with no downstream dedup.
  * The batch id surfaces as a `batch` partition column — write provenance
  * for free. MIGRATION: stores written by pre-batch-dir versions hold
  * flat root-level part-files, which conflict with `batch=<id>` partition
  * discovery — one-time migrate with
  * `Sink.compactDataset(old, s"$new/batch=0")` before pointing a query at
  * an old store.
  *
  * Input schema: (doc_id long, source string, text string, ts timestamp).
  */
object StreamingCurationExample {

  /** `nearDupLedger` + `quarantineDir`: when a
    * [[graft.operators.Dedup.writeNearDupLedger]] bucketed ledger exists,
    * each micro-batch's quality survivors also pass banded NEAR-dup
    * admission against it (the dd16 rule at micro-batch cadence — the
    * same call the nightly batch makes, so live and nightly agree on
    * what "near-duplicate" means); rejected docs append to the
    * quarantine store instead of the curated one. The ledger is only as
    * fresh as the last nightly grow — intra-day near-dups of today's own
    * admissions are the nightly reconcile's job (or tail
    * [[Streaming.streamingNearDupAlerts]] for the observability feed). */
  def start(spark: SparkSession, docs: DataFrame, checkpointDir: String,
      curatedDir: String, profileDir: String,
      quota: Int = 1000, minQuality: Double = 0.3,
      watermark: String = "10 minutes",
      profileWindow: String = "1 hour",
      nearDupLedger: Option[String] = None,
      nearDupThreshold: Double = 0.3,
      quarantineDir: Option[String] = None,
      ledgerDir: Option[String] = None): StreamingQuery = {
    // a near-dup rejection must land SOMEWHERE an operator can audit:
    // a borderline-J false rejection silently discarded is unrecoverable
    // and undetectable, so the ledger leg refuses to run blind
    require(nearDupLedger.isEmpty || quarantineDir.nonEmpty,
      "nearDupLedger without quarantineDir would discard near-dup " +
        "rejections unrecorded — pass quarantineDir alongside the ledger")
    val deduped = Streaming.streamingDedup(docs, "ts", watermark)
    val admitted = Streaming.streamingQuotaDocs(spark, deduped, quota)
      .where(col("admitted"))
    admitted.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .queryName("graft-streaming-curation")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // quality gate: the ONE quality definition the batch pipeline uses
        val scored = batch.withColumn("quality",
          graft.operators.TextAnalysis.quality(col("text")))
        val survivors = scored.where(col("quality") >= minQuality)
          .select("doc_id", "source", "text", "ts", "quality")
        survivors.persist()
        // every frame the publish-and-account stage consumes MORE THAN
        // ONCE is pinned before first use (the composed-graph pin rule):
        // `adm` feeds both the quarantine split and the clean filter, and
        // `clean` feeds the curated publish, the conservation count, and
        // the profile. Left lazy, each consumer would RE-RUN the near-dup
        // admit join against the live ledger tables — a concurrent ledger
        // append between the publish and the count would then make the
        // accounting row disagree with the rows actually published, the
        // exact invariant the ledger exists to prove.
        var adm0: Option[DataFrame] = None
        var clean: DataFrame = survivors
        try {
          clean = nearDupLedger match {
            case Some(name)
                if spark.catalog.tableExists(s"${name}_bands") =>
              val adm = graft.operators.Dedup.nearDupAdmitAgainstLedger(
                spark, survivors, name, nearDupThreshold).persist()
              adm0 = Some(adm)
              quarantineDir.foreach { qd =>
                graft.sources.Sink.idempotentAppend(
                  survivors.join(adm.where(!col("admitted"))
                    .select("doc_id"), "doc_id"), qd, batchId)
              }
              survivors.join(adm.where(col("admitted"))
                .select("doc_id"), "doc_id").persist()
            case _ => survivors
          }
          // batch-id-keyed idempotent publishes: a re-delivered batch
          // (restart replaying uncommitted offsets) no-ops, so all three
          // stores are effectively EXACTLY-once — no downstream dedup
          graft.sources.Sink.idempotentAppend(clean, curatedDir, batchId)
          // CONSERVATION LEDGER (r11 verdict #4): one accounting row per
          // micro-batch over the publish stage — every row that reached
          // foreachBatch is kept, quality-rejected, or near-dup-
          // quarantined, so cumulative n_in = n_kept + n_quality_rejected
          // + n_neardup_rejected holds over ANY prefix of batches. The
          // same batch-id-keyed idempotentAppend (and its _query_lineage
          // marker) guards it: a crash between a store publish and the
          // checkpoint commit replays the batch, every store no-ops, and
          // the cumulative ledger cannot double-count — the invariant
          // SURVIVES mid-stream kills, which StreamingExampleSpec
          // asserts by deleting the newest checkpoint commit. (The
          // stateful stages' rejections — dedup, quota — happen upstream
          // of foreachBatch and are observable from their own admitted
          // flags; this ledger accounts the publish stage.)
          ledgerDir.foreach { ld =>
            val ss = batch.sparkSession
            import ss.implicits._
            // all three counts come from pinned frames (survivors/clean)
            // or the stable micro-batch itself (scored is a narrow
            // deterministic map over `batch`, so its count IS batch's);
            // without a ledger clean IS survivors — reuse the count
            // rather than re-running the same cached-scan aggregate
            val nIn = batch.count()
            val nSurv = survivors.count()
            val nKept = if (clean eq survivors) nSurv else clean.count()
            graft.sources.Sink.idempotentAppend(
              Seq((nIn, nKept, nIn - nSurv, nSurv - nKept))
                .toDF("n_in", "n_kept", "n_quality_rejected",
                  "n_neardup_rejected"), ld, batchId)
          }
          // additive windowed profile rows for this batch — reader sums
          graft.sources.Sink.idempotentAppend(clean
            .groupBy(window(col("ts"), profileWindow), col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("quality")).as("sum_quality"))
            .select(col("window.start").as("window_start"), col("source"),
              col("n_docs"), col("sum_quality")),
            profileDir, batchId)
          ()
        } finally {
          if (!(clean eq survivors)) clean.unpersist()
          adm0.foreach(_.unpersist())
          survivors.unpersist()
          ()
        }
      }
      .start()
  }

  /** Read back the additive profile store as per-(window, source) totals. */
  def profile(spark: SparkSession, profileDir: String): DataFrame =
    Tables.parquet(spark, profileDir)
      .groupBy("window_start", "source")
      .agg(sum("n_docs").as("n_docs"),
        (sum("sum_quality") / sum("n_docs")).as("mean_quality"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: StreamingCurationExample <src-json-dir> <checkpoint> <curated> <profile>")
    val spark = graft.GraftSession()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType), StructField("ts", TimestampType)))
    val docs = spark.readStream.schema(schema).json(args(0))
    val q = start(spark, docs, args(1), args(2), args(3))
    q.awaitTermination()
  }
}
