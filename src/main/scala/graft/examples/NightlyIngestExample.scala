package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.Sink
import graft.sources.Tables

/** The third leg of the deployment story: [[CurationExample]] curates the
  * BACKFILL, [[StreamingCurationExample]] guards the LIVE TAIL, and this
  * one runs the NIGHTLY BATCH — each night's new documents admitted
  * against the standing curated store, quality-gated, appended, and the
  * ANN index maintained, without ever re-processing the historical
  * corpus:
  *
  *  1. `Dedup.bloomAdmit` — the night's docs against the store's
  *     standing fingerprint ledger: only (fp, doc_id) pairs move, text
  *     stays in place (the dd08 shape), and the ledger scan is
  *     Bloom-pre-filtered by tonight's keys (the dd10 shape) so the
  *     part that grows with corpus age never joins its misses;
  *  2. the shared quality definition gates survivors (same formula as
  *     batch and streaming — one definition, three on-ramps);
  *  3. `Sink.writeCurated(mode = "append")` adds the night's files into
  *     the partitioned store;
  *  4. `Similarity.maintainIvfIndex` appends the night's embeddings to
  *     the persistent ANN index while they fit its frozen quantizer, and
  *     rebuilds (warm-started) when drift crosses the caller's threshold.
  *
  * Night 1 (no store yet) degrades gracefully: nothing is "seen", so
  * admission is first-in-batch only, and the index is built fresh.
  *
  * Crash-recovery contract: the store append, the fingerprint-ledger
  * append, the index maintenance, and the near-dup-ledger grow are
  * separate writes with no cross-FS transaction — ordered store-first,
  * near-dup-ledger LAST, so a crash between them can DUPLICATE (never
  * lose) documents on the re-run and can never make tonight's docs
  * self-reject against their own freshly-grown bands. A failed night is
  * repaired by [[reconcileNight]] + re-run: reconcile rebuilds every
  * derived artifact (fingerprint ledger, near-dup ledger, missing index
  * vectors, PQ codes) from the STORE — the one source of truth — so the
  * re-run admits each document exactly once and nothing self-rejects.
  * This is not argued on paper: NightlyIngestSpec's crash matrix kills
  * the night after EVERY stage boundary (via the `onStage` hook) and
  * asserts the reconcile + re-run invariants hold at each one. A crash
  * inside the index retrain swap leaves `indexDir` without `_centroids`
  * — this method then fails loudly with the restore instructions rather
  * than rebuilding from one night's vectors.
  */
object NightlyIngestExample {

  final case class NightReport(admitted: Long, rejected: Long,
      belowQuality: Long, indexRetrained: Boolean,
      nearDupRejected: Long = 0L)

  /** Hadoop-FS existence probe — `java.io.File` would always answer
    * "absent" for hdfs:///s3a:// paths, silently resetting the ledger
    * (duplicate re-admission every night) and OVERWRITING the grown index
    * with one night's vectors. */
  private def dirExists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `nearDupLedger`: name of a [[Dedup.writeNearDupLedger]] bucketed
    * table pair — when set, EXACT admission is followed by banded
    * NEAR-dup admission against the standing MinHash ledger (the dd16
    * production path: only tonight's batch shuffles; the ledger reads
    * pre-bucketed), survivors grow the ledger for tomorrow, and
    * near-duplicates of any prior night's admission are rejected before
    * the store/index writes. Night 1 bootstraps the ledger from the
    * night's survivors. Intra-night near-dups are NOT cross-checked
    * (both admitted tonight, both in the ledger tomorrow) — the
    * full-corpus dd06 clustering is the backfill tool for that. */
  def ingestNight(spark: SparkSession, newDocs: DataFrame,
      newVecs: DataFrame, curatedDir: String, indexDir: String,
      minQuality: Double = 0.3,
      retrainBelow: Double = Double.NegativeInfinity,
      nearDupLedger: Option[String] = None,
      nearDupThreshold: Double = 0.3,
      ledgerBuckets: Int = 32,
      onStage: String => Unit = _ => ()): NightReport =
      graft.Materialize.scoped {
    val fp = TextAnalysis.fingerprint(col("text"))
    val incoming = newDocs.select(col("doc_id"), fp.as("fp"))
    // The fingerprint LEDGER is separate from the curated store: a doc
    // admitted by dedup but rejected by the quality gate must still be
    // remembered, or every later night re-processes (and re-rejects) it.
    // The underscore prefix keeps the ledger invisible to the store's
    // parquet scan — store and memory travel as one directory, the same
    // trick as the IVF index's _centroids.
    val ledgerDir = s"$curatedDir/_fingerprints"
    val existing =
      if (dirExists(spark, ledgerDir))
        Tables.parquet(spark, ledgerDir)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("fp",
            org.apache.spark.sql.types.StringType))))

    // pinned: the admission join scans the WHOLE historical ledger — the
    // part that grows with corpus age — and four consumers below (two
    // counts, the ledger append, the survivors join) must not re-run it.
    // bloomAdmit ≡ incrementalAdmit row-for-row (proven in
    // PipelinesSpec), but the ledger side — the part that grows with
    // corpus age — is pre-filtered by a Bloom probe over tonight's
    // keys, so ledger rows that can't match never reach the join
    val decisions = graft.Materialize.pin(
      Dedup.bloomAdmit(existing, incoming))
    val admittedDocs = newDocs
      .join(decisions.where(col("admitted")).select("doc_id"), "doc_id")
      .withColumn("quality", TextAnalysis.quality(col("text")))
      .withColumn("fp", fp)
    val survivors = graft.Materialize.pin(
      admittedDocs.where(col("quality") >= minQuality)
        .select("doc_id", "lang", "source", "text", "fp", "quality"))
    val nSurvive = survivors.count()
    val nAdmit = decisions.where(col("admitted")).count()
    val nTotal = decisions.count()
    // near-dup admission: tonight's exact-admitted, quality-passing
    // docs against the STANDING banded ledger — only the batch side
    // shuffles; the ledger reads pre-bucketed (dd16's scale shape)
    val (finalDocs, nFinal, nNearDup) = nearDupLedger match {
      case Some(name) if spark.catalog.tableExists(s"${name}_bands") =>
        val adm = Dedup.nearDupAdmitAgainstLedger(spark, survivors,
          name, nearDupThreshold)
        val nearDupKept = graft.Materialize.pin(survivors.join(
          adm.where(col("admitted")).select("doc_id"), "doc_id"))
        val nKept = nearDupKept.count()
        (nearDupKept, nKept, nSurvive - nKept)
      case _ => (survivors, nSurvive, 0L)
    }
    Sink.writeCurated(finalDocs, curatedDir,
      partitionCols = Seq("lang"), sortCols = Seq("quality"),
      mode = "append")
    // `onStage` fires AFTER each stage boundary commits — the crash
    // matrix in NightlyIngestSpec throws from it to prove the
    // reconcile contract at every seam; production callers can hang
    // progress metrics off it
    onStage("store-append")
    // remember every fingerprint this night ADMITTED (quality-rejects
    // included — they were processed and must not return); null fps are
    // never recorded, matching incrementalAdmit's admit-verbatim rule
    decisions.where(col("admitted") && col("fp").isNotNull)
      .select("fp").write.mode("append").parquet(ledgerDir)
    onStage("fp-ledger-append")
    // index: only the surviving docs' vectors enter. Guard rails:
    //  - a night with NO survivors must not touch the index — building
    //    from an empty frame would write an empty quantizer, and every
    //    later assignment against zero centroids appends nothing while
    //    reporting success (the index would stay empty forever);
    //  - an indexDir WITHOUT _centroids but with content means a
    //    retrain swap crashed mid-rename — rebuilding fresh here would
    //    silently replace the historical index with one night's
    //    vectors; fail loudly and let the operator restore the .old /
    //    .retrain directory maintainIvfIndex staged.
    val vecs = newVecs
      .join(finalDocs.select(col("doc_id").as("vec_id")), "vec_id")
    // resolveIndexDir: a FLAT index resolves to itself, a VERSIONED root
    // (built with buildIvfIndexVersionedOf — the layout to prefer when
    // probes can't be quiesced during retrains) to its live version, so
    // either layout passes the liveness probe here
    val liveIndex = Similarity.resolveIndexDir(spark, indexDir)
    val retrained =
      if (nFinal == 0) false
      else if (dirExists(spark, s"$liveIndex/_centroids"))
        Similarity.maintainIvfIndex(spark, indexDir, vecs,
          retrainBelow).retrained
      else if (dirExists(spark, indexDir) ||
          dirExists(spark, s"$indexDir.old"))
        throw new IllegalStateException(
          s"$indexDir exists without _centroids — a retrain swap may " +
            s"have crashed; restore $indexDir.old or $indexDir.retrain " +
            "instead of rebuilding from one night's vectors")
      else {
        Similarity.buildIvfIndexOf(vecs, indexDir, iters = 1)
        false
      }
    onStage("index-maintained")
    // PQ codes are a DERIVED artifact: tonight's appended (or
    // retrained) postings are ADC-invisible until re-encoded. No-op on
    // an index that was never PQ-augmented, so the call is
    // unconditional rather than an operator runbook step.
    if (nFinal > 0) Similarity.refreshPqCodes(spark, indexDir)
    onStage("pq-refreshed")
    // the near-dup ledger grows LAST, deliberately: tonight's docs are
    // already materialized in nearDupKept (their own bands cannot
    // reject them this run), and crash-ORDERING matters — growing the
    // ledger before the fp-ledger append would make a crash between
    // the two turn the RE-RUN against tonight's own bands (every doc
    // self-rejects at J=1 and never reaches the index). Grown last, a
    // crash anywhere earlier re-runs cleanly (at worst duplicating
    // store rows per the contract above), and the only gap — crash
    // after the fp append but before this grow — is repaired by the
    // same reconcile: rebuild the ledger from the store
    // (writeNearDupLedger over the curated corpus).
    // grow reads the standing table's bucket spec from the catalog, so
    // a ledger bootstrapped at ANY bucket count keeps growing;
    // `ledgerBuckets` applies only to the night-1 bootstrap write
    nearDupLedger.foreach { name =>
      if (spark.catalog.tableExists(s"${name}_bands"))
        Dedup.growNearDupLedger(finalDocs, name)
      else if (nFinal > 0)
        Dedup.writeNearDupLedger(finalDocs, name, ledgerBuckets)
    }
    onStage("neardup-ledger-grown")
    NightReport(admitted = nAdmit, rejected = nTotal - nAdmit,
      belowQuality = nAdmit - nSurvive, indexRetrained = retrained,
      nearDupRejected = nNearDup)
  }

  /** Repair a CRASHED night: rebuild every derived artifact from the
    * curated STORE — the one source of truth — so re-running the night
    * afterwards is exactly-once for the store and completes whatever the
    * crash cut off downstream:
    *
    *  1. `_fingerprints` := the store's distinct non-null fp column.
    *     (Quality-REJECTED fps recorded by the crashed run are dropped —
    *     they are not in the store — so the re-run re-processes and
    *     re-rejects them: recounted, never stored twice, since the
    *     quality gate is deterministic.)
    *  2. near-dup ledger := `Dedup.writeNearDupLedger` over the store
    *     (the documented backfill rebuild; the corpus-sized cost is the
    *     honest price of crash repair, not of the nightly happy path).
    *  3. index := append the vectors of store docs MISSING from the live
    *     postings (anti-join on vec_id — reads only the postings' id
    *     column), then re-derive PQ codes. A store with docs but no
    *     index at all (night-1 crash before the build) builds fresh.
    *
    * After this, re-running [[ingestNight]] with the same batch admits
    * nothing new (every stored doc rejects against its own fingerprint)
    * and nothing self-rejects — the crash-matrix invariants
    * NightlyIngestSpec asserts per stage boundary. */
  def reconcileNight(spark: SparkSession, curatedDir: String,
      indexDir: String, allVecs: DataFrame,
      nearDupLedger: Option[String] = None,
      ledgerBuckets: Int = 32): Unit = graft.Materialize.scoped {
    require(dirExists(spark, curatedDir),
      s"reconcileNight: no store at $curatedDir — nothing to rebuild from")
    val store = Tables.parquet(spark, curatedDir)
    store.select("fp").where(col("fp").isNotNull).distinct()
      .write.mode("overwrite").parquet(s"$curatedDir/_fingerprints")
    nearDupLedger.foreach { name =>
      Dedup.writeNearDupLedger(
        store.select("doc_id", "text"), name, ledgerBuckets)
    }
    val storeVecs = allVecs.join(
      store.select(col("doc_id").as("vec_id")), "vec_id")
    val liveIndex = Similarity.resolveIndexDir(spark, indexDir)
    if (dirExists(spark, s"$liveIndex/_centroids")) {
      val indexed = Tables.parquet(spark, liveIndex).select("vec_id")
      // the emptiness probe and the append both consume the anti-join;
      // pinned, the store ⋈ index scan runs once
      val missing = graft.Materialize.pin(
        storeVecs.join(indexed, Seq("vec_id"), "left_anti"))
      if (!missing.isEmpty) Similarity.appendToIvfIndex(spark, indexDir, missing)
      Similarity.refreshPqCodes(spark, indexDir)
    } else if (!dirExists(spark, indexDir) &&
        !dirExists(spark, s"$indexDir.old")) {
      // same pattern: emptiness probe + index build share the store join
      val sv = graft.Materialize.pin(storeVecs)
      if (!sv.isEmpty) Similarity.buildIvfIndexOf(
        sv, indexDir, iters = 1)
    } else throw new IllegalStateException(
      s"$indexDir exists without _centroids — a retrain swap may have " +
        s"crashed; restore $indexDir.old or $indexDir.retrain first, " +
        "then reconcile")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: NightlyIngestExample <sf-dir> <curated> <index>")
    val spark = graft.GraftSession()
    try {
      // demo: the sf dir's documents/embeddings play "tonight's batch"
      val docs = graft.sources.Tables.t(spark, args(0), "documents")
      val vecs = graft.sources.Tables.t(spark, args(0), "embeddings")
        .select("vec_id", "embedding")
      val r = ingestNight(spark, docs, vecs, args(1), args(2))
      println(s"nightly ingest: $r")
    } finally spark.stop()
  }
}
