package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Write path for curated corpora — partitioned parquet with the two
  * 100 TB failure modes handled up front:
  *
  *  - SMALL FILES: Spark's default layout has every task write into every
  *    output directory it sees rows for — tasks × partitions files. Rows
  *    are repartitioned ON the partition columns first, so each directory
  *    is written by as few tasks as the data allows (AQE coalesces further
  *    when volumes are small).
  *  - GIANT FILES / skewed partitions: `maxRecordsPerFile` rolls files
  *    without a second pass, so one hot partition value (one dominant
  *    language, one hot date) cannot produce a monolithic file no reader
  *    can split.
  *
  * `sortCols` cluster rows inside each file (scan locality + better
  * column-store encodings downstream); directory partitioning gives
  * readers pruning on the partition columns for free. */
object Sink {

  /** `mode = "append"` adds files into existing partition directories —
    * the nightly-ingest shape (e.g. [[graft.operators.Similarity.appendToIvfIndex]]);
    * readers see old + new rows, partition pruning is unaffected. */
  def writeCurated(df: DataFrame, path: String,
      partitionCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      maxRecordsPerFile: Long = 5000000L,
      mode: String = "overwrite"): Unit = {
    // REBALANCE, not repartition: plain hash repartition on the partition
    // columns funnels a hot value (one dominant language/date) into a
    // single task — the rebalance hint keeps rows grouped by the columns
    // but lets AQE split oversized partitions across tasks, each still
    // writing into the one directory
    val routed =
      if (partitionCols.isEmpty) df
      else df.hint("rebalance", partitionCols.map(col): _*)
    val clustered =
      if (sortCols.isEmpty) routed
      else routed.sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    clustered.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .parquet(path)
  }

  /** Bucketed table layout — the co-located-join story at 100 TB: pay the
    * shuffle ONCE at write time (rows hashed into `buckets` files per the
    * bucket columns, optionally sorted within each bucket), and every
    * downstream join or aggregation on those columns is then
    * Exchange-free — two tables bucketed the same way sort-merge join with
    * ZERO shuffle of either side, and a groupBy on the bucket key skips
    * its exchange too. This is the right layout for the entity tables a
    * pipeline joins repeatedly (documents↔scores, orders↔customer):
    * amortize one shuffle across every future query instead of re-paying
    * it per join. `buckets` should be sized so one bucket of the LARGEST
    * co-bucketed table fits an executor's sort spill comfortably
    * (e.g. 100 TB / 8192 buckets ≈ 12 GB per bucket pre-compression);
    * Spark also coalesces mismatched bucket counts when one is a multiple
    * of the other (spark.sql.bucketing.coalesceBucketsInJoin.enabled).
    * Bucketed output requires the table catalog (`saveAsTable`) — bucket
    * metadata lives there, plain `.parquet(path)` cannot carry it. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Seq.empty,
      mode: String = "overwrite"): Unit = {
    require(buckets > 0 && bucketCols.nonEmpty,
      s"need buckets > 0 and at least one bucket column: $buckets/$bucketCols")
    require(mode == "overwrite" || mode == "append", s"mode: $mode")
    // route rows to their bucket BEFORE the write: repartition(n, cols)
    // uses the same murmur3 pmod assignment as bucketing, so each task
    // holds exactly one bucket's rows and writes exactly one file — left
    // unrouted, every task emits a file for every bucket it happens to
    // hold (tasks × buckets small files), and with multiple files per
    // bucket the read side stops trusting sortBy and re-sorts. For the
    // same reason there is deliberately NO maxRecordsPerFile here: file
    // rolling would re-split buckets into multiple files and forfeit the
    // sort metadata. File size AND write parallelism are both governed by
    // ONE knob — `buckets` (more buckets = smaller files = more write
    // tasks); a hot bucket is one task, inherent to bucketing itself.
    // append keeps one-file-per-bucket-per-BATCH (Spark verifies the
    // bucket spec matches the existing table); the read side still
    // trusts the bucketing — only per-file sortBy metadata weakens once
    // a bucket spans files, which the ledger consumers don't rely on
    val routed = df.repartition(buckets, bucketCols.map(col): _*)
    val w = routed.write.format("parquet")
      .mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Z-ORDER clustered layout — multi-dimensional scan pruning where a
    * single sort column can only prune ONE dimension: interleaving the
    * bits of two quantized key columns (the Morton curve) makes rows
    * close in z close in BOTH dimensions, so after range-partitioning and
    * sorting by z, every file carries a tight min/max bounding BOX —
    * parquet row-group stats then skip files for predicates on EITHER
    * column (a ts-sorted events table answers "user 42's events" by
    * scanning everything; a (user, ts) z-ordered one skips all but a few
    * files, and still prunes time ranges nearly as well).
    *
    * Mechanics at 100 TB: the two columns quantize to `bits` each against
    * their global min/max (one 1-row aggregate, broadcast back), the
    * interleave is a pure unrolled shift/or map expression inside codegen,
    * and `repartitionByRange(numFiles, z)` SAMPLES the z distribution to
    * place file cuts — so value-skew in the raw columns costs quantizer
    * resolution, never task balance. One range shuffle total: the same
    * price as the single-column sort layout it replaces.
    *
    * Trade to know: z-order divides locality between the dimensions —
    * per-file ranges on each column are ~√(files) wider than a dedicated
    * single-column sort achieves on its one column. Choose it for tables
    * queried by BOTH keys; keep `writeCurated(sortCols)` when one
    * dimension dominates. Heavily skewed key distributions (Zipfian ids)
    * waste quantizer levels on empty space — pre-transform (log, rank
    * bucket) upstream if per-file boxes come out loose. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, bits: Int = 16,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    require(numFiles > 0, s"numFiles: $numFiles")
    val z = zOrderColumn(df, colA, colB, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").parquet(path)
  }

  /** The Morton interleave of two numeric columns quantized to `bits`
    * each against their observed min/max (computed here — one 1-row
    * aggregate, collected and inlined as literals: a bounded driver read
    * of exactly four doubles at any corpus size). Exposed for callers composing
    * their own write (or clustering by z inside a partitionBy layout). */
  def zOrderColumn(df: DataFrame, colA: String, colB: String,
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    val levels = (1L << bits) - 1
    val stats = df.agg(
      min(col(colA).cast("double")).as("__amin"),
      max(col(colA).cast("double")).as("__amax"),
      min(col(colB).cast("double")).as("__bmin"),
      max(col(colB).cast("double")).as("__bmax")).collect()(0)
    val (aMin, aMax) = (stats.getDouble(0), stats.getDouble(1))
    val (bMin, bMax) = (stats.getDouble(2), stats.getDouble(3))
    def quant(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(lit(levels), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(levels.toDouble))
          .cast("long")))
    val qa = quant(col(colA), aMin, aMax)
    val qb = quant(col(colB), bMin, bMax)
    (0 until bits).map { i =>
      shiftleft(qa.bitwiseAND(lit(1L << i)), i + 1)
        .bitwiseOR(shiftleft(qb.bitwiseAND(lit(1L << i)), i))
    }.reduce(_ bitwiseOR _)
  }

  /** SMALL-FILE COMPACTION — the maintenance job every long-lived dataset
    * needs: streaming sinks and nightly appends each leave one file per
    * (trigger × task), and a year of that turns a table scan into
    * millions of opens (driver file-listing time + per-file reader setup
    * dominate the actual I/O). This rewrites `srcPath` into `destPath`
    * with the [[writeCurated]] layout — partition-directory structure
    * preserved, files rebuilt to `maxRecordsPerFile` — and returns
    * (filesBefore, filesAfter).
    *
    * Deliberately NON-destructive: the rewrite lands beside the source
    * and the caller swaps (metastore location flip, directory rename) —
    * at 100 TB the swap is a catalog operation with its own atomicity
    * story, and a library that deletes source data inside the same call
    * that rewrites it turns every transient rewrite failure into data
    * loss. Readers of `srcPath` are unaffected until the swap. */
  def compactDataset(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, destPath: String,
      partitionCols: Seq[String] = Seq.empty,
      sortCols: Seq[String] = Seq.empty,
      maxRecordsPerFile: Long = 5000000L): (Long, Long) = {
    def countFiles(p: String): Long = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(path, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = countFiles(srcPath)
    writeCurated(Tables.parquet(spark, srcPath), destPath,
      partitionCols = partitionCols, sortCols = sortCols,
      maxRecordsPerFile = maxRecordsPerFile)
    (before, countFiles(destPath))
  }

  /** SCHEMA-EVOLVED read — a year-long corpus is written by a year of
    * pipeline versions: early snapshots lack columns later ones carry.
    * `mergeSchema` unions footer schemas across all files (one metadata
    * pass — not the data-inference pass text formats pay) and null-fills
    * columns absent from older files, so the reader sees ONE schema and
    * version drift becomes nullable data instead of a read failure.
    * Default readers skip the merge (first-footer schema) precisely
    * because the union costs a footer visit per file — opt in here, at
    * the seam where snapshot generations actually mix. Incompatible TYPE
    * changes for the same column still fail loudly — that is schema
    * DRIFT (the O23 abort-on-change contract), not evolution. */
  def readEvolved(spark: org.apache.spark.sql.SparkSession,
      paths: String*): DataFrame =
    spark.read.option("mergeSchema", true).parquet(paths: _*)

  /** IDEMPOTENT foreachBatch append — upgrades a streaming sink's
    * delivery contract from foreachBatch's at-least-once to effectively
    * EXACTLY-ONCE without any downstream dedup: each micro-batch writes
    * into its own `batch=<id>` subdirectory, staged in a hidden temp dir
    * and published by one atomic FS rename, and a RE-delivered batch id
    * (restart replaying uncommitted offsets — the documented foreachBatch
    * behavior) finds its directory already published and becomes a no-op.
    * The Spark engine re-delivers a batch with the SAME id and the SAME
    * data (offsets are checkpointed before execution), so skip-if-present
    * is correct, not lossy. Returns true iff this call published.
    *
    * Crash anatomy: die mid-stage → only `.staging-<id>` exists; the
    * re-delivery deletes and rewrites it, then renames. Die between
    * rename and checkpoint commit → the re-delivery no-ops. Readers scan
    * `dir` with partition discovery (the batch id surfaces as a `batch`
    * column — provenance for free); `.staging-*` dirs are dot-prefixed,
    * so readers never see a partial batch.
    *
    * At 100 TB scale: one directory per micro-batch is the natural
    * small-file governor (compactDataset folds old batches), and the
    * atomic-rename contract holds on HDFS and on object stores with
    * directory-rename semantics; for plain S3, point `dir` at an
    * S3A-committer-backed path or a table format.
    *
    * LINEAGE GUARD — the output dir is hard-coupled to ONE checkpoint
    * lineage: batch ids restart at 0 when an operator deletes/recreates
    * the checkpoint while keeping the output dir, and under skip-if-
    * present the new query's early batches would silently vanish into
    * already-published directories (data LOSS, where a plain append at
    * worst duplicated). The first publish therefore records the
    * streaming query id (stable across restarts from the same
    * checkpoint; read from the `sql.streaming.queryId` local property
    * Spark sets on the stream's execution thread, or passed explicitly
    * via `lineage`) in a `_query_lineage` marker under `dir`, and any
    * later call under a DIFFERENT query id fails loudly instead of
    * no-opping. Callers outside a streaming thread with no explicit
    * `lineage` get the old unguarded behavior — the coupling is then
    * theirs to own. */
  def idempotentAppend(df: DataFrame, dir: String, batchId: Long,
      lineage: Option[String] = None): Boolean = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new org.apache.hadoop.fs.Path(s"$dir/batch=$batchId")
    val fs = target.getFileSystem(conf)
    val lin = lineage.orElse(Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
    lin.foreach { l =>
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_query_lineage")
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val recorded =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        if (recorded != l)
          throw new IllegalStateException(
            s"idempotentAppend: $dir was written by streaming query " +
              s"'$recorded' but this batch comes from '$l'. Batch ids are " +
              "only comparable within one checkpoint lineage — a new " +
              "query restarting at batch 0 would silently no-op into the " +
              "old query's published directories (data loss). Point the " +
              "new query at a fresh output dir, or carry the old " +
              "checkpoint forward.")
      } else {
        val tmp = new org.apache.hadoop.fs.Path(s"$dir/._query_lineage.tmp")
        fs.mkdirs(marker.getParent)
        val out = fs.create(tmp, true)
        try out.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        // Race with a concurrent first-writer: re-read the marker no
        // matter what rename RETURNED. rename=false is the HDFS-style
        // destination-exists refusal, but POSIX/LocalFileSystem rename
        // OVERWRITES an existing destination and returns true — two
        // racing first-writers can both "win", and only the re-read
        // tells whose lineage the marker actually records. Either way
        // the contract is the same: the recorded lineage must be OURS
        // or the append dies loudly.
        if (!fs.rename(tmp, marker)) fs.delete(tmp, false)
        val in = fs.open(marker)
        val recorded =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        if (recorded != l)
          throw new IllegalStateException(
            s"idempotentAppend: $dir lineage raced to '$recorded', " +
              s"this batch is from '$l' — see the lineage-guard contract.")
      }
    }
    if (fs.exists(target)) false
    else {
      val staging = new org.apache.hadoop.fs.Path(
        s"$dir/.staging-$batchId")
      if (fs.exists(staging)) fs.delete(staging, true)
      df.write.mode("overwrite").parquet(staging.toString)
      fs.mkdirs(target.getParent)
      if (!fs.rename(staging, target))
        throw new java.io.IOException(
          s"idempotentAppend: publish rename failed for $target " +
            s"(staged data left at $staging)")
      true
    }
  }
}
