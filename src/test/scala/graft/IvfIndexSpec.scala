package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.Tables.t

/** Incremental IVF maintenance (VERDICT r5 §next-round #4): appending new
  * vectors to a frozen quantizer must be indistinguishable from rebuilding
  * the whole index against that quantizer. */
class IvfIndexSpec extends SparkSpec {

  test("appendToIvfIndex: append ≡ full rebuild under a frozen quantizer") {
    val all = t(spark, sf, "embeddings")
    val base = all.where(col("vec_id") % 5 =!= 0)
    val fresh = all.where(col("vec_id") % 5 === 0)

    // nightly lifecycle: train on the base corpus, then append the delta
    val grown = tmpDir("ivf-grown")
    Similarity.buildIvfIndexOf(base, grown, iters = 1, seedCol = Some("label"))
    val centBefore = spark.read.parquet(s"$grown/_centroids").collect().toSet
    val stats = Similarity.appendToIvfIndex(spark, grown, fresh)
    assert(stats.nAppended == fresh.count())
    assert(stats.meanCos <= 1.0 && stats.minCos >= -1.0)
    assert(stats.minCos <= stats.meanCos)
    // the quantizer is FROZEN: _centroids byte-identical after the append
    assert(spark.read.parquet(s"$grown/_centroids").collect().toSet
      == centBefore)

    // full rebuild against the SAME frozen quantizer: assign the entire
    // grown corpus from scratch, write a fresh index next to it
    val rebuilt = tmpDir("ivf-rebuilt")
    graft.sources.Sink.writeCurated(
      Similarity.assignToIvfIndex(spark, grown, all)
        .select("vec_id", "cell", "q", "n2"),
      rebuilt, partitionCols = Seq("cell"), sortCols = Seq("vec_id"))
    spark.read.parquet(s"$grown/_centroids")
      .write.parquet(s"$rebuilt/_centroids")

    // content equality, cell by cell — implies probe equality for EVERY
    // query/nprobe/k, not just a sampled one
    val a = spark.read.parquet(grown).select("vec_id", "cell", "q", "n2")
    val b = spark.read.parquet(rebuilt).select("vec_id", "cell", "q", "n2")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "appended index content diverges from a frozen-quantizer rebuild")

    // and one end-to-end probe on each, pruned (nprobe=2), as the sampled
    // proof the equality survives the actual probe path
    val q0 = all.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val pa = Similarity.probeIvfIndex(spark, grown, q0, nprobe = 2, k = 10,
      excludeIds = Seq(0L)).collect().toSeq
    val pb = Similarity.probeIvfIndex(spark, rebuilt, q0, nprobe = 2, k = 10,
      excludeIds = Seq(0L)).collect().toSeq
    assert(pa == pb)

    // appended rows are probe-visible: a fresh vector's own embedding must
    // retrieve it at cosine 1.0 (quantization round-trips exactly)
    val someFresh = fresh.orderBy("vec_id").limit(1)
      .select("vec_id", "embedding").head()
    val hit = Similarity.probeIvfIndex(spark, grown,
      someFresh.getSeq[Float](1).toArray, nprobe = 1, k = 1).head()
    assert(hit.getLong(0) == someFresh.getLong(0))
    assert(hit.getDouble(1) == 1.0)
  }

  test("maintainIvfIndex: appends while the quantizer fits, re-trains on drift") {
    val all = t(spark, sf, "embeddings")
    val path = tmpDir("ivf-maint")
    Similarity.buildIvfIndexOf(all.where(col("vec_id") < 400), path,
      iters = 1, seedCol = Some("label"))
    val n0 = spark.read.parquet(path).count()

    // round 1: the default threshold (−∞) disables re-training — pure
    // append (0.0 would NOT: cosines are signed, an anti-correlated
    // batch means retrain)
    val batch1 = all.where(col("vec_id") >= 400).select("vec_id", "embedding")
    val m1 = Similarity.maintainIvfIndex(spark, path, batch1)
    assert(!m1.retrained && m1.stats.nAppended == batch1.count())
    assert(spark.read.parquet(path).count() == n0 + m1.stats.nAppended)

    // round 2: threshold above any cosine forces the drift branch — the
    // index is rebuilt from stored postings + the new batch, Lloyd
    // warm-started from the current cells, and swapped into place
    import spark.implicits._
    val drifted = (0 until 20).map { i =>
      (10000L + i, Array.tabulate(64)(d => if (d == i % 64) 5.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val m2 = Similarity.maintainIvfIndex(spark, path, drifted,
      retrainBelow = 2.0)
    assert(m2.retrained && m2.stats.nAppended == 20)
    val rebuilt = spark.read.parquet(path)
    assert(rebuilt.count() == n0 + m1.stats.nAppended + 20)
    // quantization is idempotent: the rebuild round-trips stored postings
    // exactly, so a drifted vector's own embedding retrieves it at 1.0
    val hit = Similarity.probeIvfIndex(spark, path,
      Array.tabulate(64)(d => if (d == 3) 5.0f else 0.0f),
      nprobe = 3, k = 1).head()
    assert(hit.getLong(0) == 10003L && hit.getDouble(1) == 1.0)
    // the swapped directory is a complete, probe-ready index
    assert(spark.read.parquet(s"$path/_centroids").count() >= 1)
  }

  test("versioned layout: pointer flip keeps a complete index live through retrain") {
    val all = t(spark, sf, "embeddings")
    val root = tmpDir("ivf-versioned")
    Similarity.buildIvfIndexVersionedOf(all.where(col("vec_id") < 400), root,
      iters = 1, seedCol = Some("label"))
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v1"))
    val q0 = all.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    assert(Similarity.probeIvfIndex(spark, root, q0, nprobe = 2, k = 5)
      .count() == 5)

    // append routes into the live version through the pointer
    val batch = all.where(col("vec_id") >= 400).select("vec_id", "embedding")
    val m1 = Similarity.maintainIvfIndex(spark, root, batch)
    assert(!m1.retrained && m1.stats.nAppended == batch.count())
    val live1 = Similarity.resolveIndexDir(spark, root)
    assert(spark.read.parquet(live1).count() == all.count())

    // a reader that resolved BEFORE the swap — the grace round must let
    // it finish on intact files after the pointer flips
    val preSwap = spark.read.parquet(live1)

    import spark.implicits._
    val drifted = (0 until 20).map { i =>
      (10000L + i, Array.tabulate(64)(d => if (d == i % 64) 5.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val m2 = Similarity.maintainIvfIndex(spark, root, drifted,
      retrainBelow = 2.0)
    assert(m2.retrained)
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v2"))
    // superseded v1 survives one grace round: the pre-swap reader works
    assert(preSwap.count() == all.count())
    // the new version is probe-ready end-to-end through the root
    val hit = Similarity.probeIvfIndex(spark, root,
      Array.tabulate(64)(d => if (d == 3) 5.0f else 0.0f),
      nprobe = 3, k = 1).head()
    assert(hit.getLong(0) == 10003L && hit.getDouble(1) == 1.0)

    // pointer lost mid-flip: resolution falls back to the highest
    // COMPLETE version — readers never see a missing index
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/_current"), false)
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v2"))
    assert(Similarity.probeIvfIndex(spark, root, q0, nprobe = 2, k = 5)
      .count() == 5)

    // a further retrain re-publishes the pointer and reaps versions older
    // than the previous one (storage bounded at current + previous)
    val drifted2 = (0 until 20).map { i =>
      (20000L + i, Array.tabulate(64)(d => if (d == (i + 7) % 64) 4.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val m3 = Similarity.maintainIvfIndex(spark, root, drifted2,
      retrainBelow = 2.0)
    assert(m3.retrained)
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v3"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v2")))
  }

  test("IVF+PQ: codes-beside-postings probe; full probe + full rerank ≡ exact") {
    val all = t(spark, sf, "embeddings")
    val path = tmpDir("ivfpq")
    Similarity.buildIvfIndexOf(all, path, iters = 1, seedCol = Some("label"))
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    // PQ artifacts exist and the postings read still sees only postings
    // (underscore dirs are invisible to the file index)
    assert(spark.read.parquet(s"$path/_pq_codebooks").count() >= 1)
    assert(spark.read.parquet(path).columns.toSet
      == Set("vec_id", "cell", "q", "n2"))
    val nCells = spark.read.parquet(s"$path/_centroids").count().toInt
    val q0 = all.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray

    // ADC-only probe: k rows from codes alone, query excluded, and the
    // codes scan is partition-pruned to the probed cells (the layout IS
    // the index, same proof as the raw-postings probe)
    val adc = Similarity.probeIvfPqIndex(spark, path, q0, nprobe = 2,
      k = 10, excludeIds = Seq(0L))
    assert(adc.count() == 10)
    val plan = adc.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell.* IN \\(".r
      .findFirstIn(plan).isDefined, s"codes scan not pruned:\n$plan")

    // degenerate-parameter identity: probing EVERY cell with a
    // corpus-sized rerank must reproduce the exact brute-force ranking
    // (probeIvfIndex at nprobe=all, proven exact in PipelinesSpec)
    val exact = Similarity.probeIvfIndex(spark, path, q0, nprobe = nCells,
      k = 10, excludeIds = Seq(0L)).collect().toSeq
    val full = Similarity.probeIvfPqIndex(spark, path, q0, nprobe = nCells,
      k = 10, rerank = 500, excludeIds = Seq(0L)).collect().toSeq
    assert(full == exact, "full probe + full rerank diverges from exact")

    // the operating point: pruned cells, ADC shortlist, exact rerank —
    // recall floor vs the global exact top-10
    val ex = exact.map(_.getLong(0)).toSet
    val got = Similarity.probeIvfPqIndex(spark, path, q0, nprobe = 2,
      k = 10, rerank = 100, excludeIds = Seq(0L)).collect()
      .map(_.getLong(0)).toSet
    val recall = (ex & got).size / 10.0
    info(s"IVFPQ nprobe=2 R=100 recall vs exact top-10: $recall")
    assert(recall > 0.0, "pruned IVFPQ probe recalls nothing")
  }

  test("IVF+PQ: appends are ADC-invisible until re-encoded; re-encode restores") {
    val all = t(spark, sf, "embeddings")
    val base = all.where(col("vec_id") % 5 =!= 0)
    val fresh = all.where(col("vec_id") % 5 === 0)
    val path = tmpDir("ivfpq-append")
    Similarity.buildIvfIndexOf(base, path, iters = 1, seedCol = Some("label"))
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    Similarity.appendToIvfIndex(spark, path, fresh)
    val someFresh = fresh.orderBy("vec_id").limit(1)
      .select("vec_id", "embedding").head()
    val fid = someFresh.getLong(0)
    val fq = someFresh.getSeq[Float](1).toArray
    val nCells = spark.read.parquet(s"$path/_centroids").count().toInt
    // the documented staleness contract: the appended row has no codes
    // yet, so an all-cells ADC scan cannot see it
    val adcAll = Similarity.probeIvfPqIndex(spark, path, fq,
      nprobe = nCells, k = all.count().toInt).collect()
      .map(_.getLong(0)).toSet
    assert(!adcAll.contains(fid), "un-encoded append leaked into ADC scan")
    // idempotent re-encode picks it up; its own embedding retrieves it at
    // exact cosine 1.0 through the rerank path
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    val hit = Similarity.probeIvfPqIndex(spark, path, fq, nprobe = 1,
      k = 1, rerank = 10).head()
    assert(hit.getLong(0) == fid && hit.getDouble(1) == 1.0)
  }

  test("refreshPqCodes infers m, re-encodes after append; no-op without PQ") {
    val all = t(spark, sf, "embeddings")
    val base = all.where(col("vec_id") % 5 =!= 0)
    val fresh = all.where(col("vec_id") % 5 === 0)
    val path = tmpDir("ivfpq-refresh")
    Similarity.buildIvfIndexOf(base, path, iters = 1, seedCol = Some("label"))
    // never PQ-augmented → refresh declines (the unconditional nightly
    // call must not conjure codes on a plain IVF index)
    assert(!Similarity.refreshPqCodes(spark, path))
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    Similarity.appendToIvfIndex(spark, path, fresh)
    val someFresh = fresh.orderBy("vec_id").limit(1)
      .select("vec_id", "embedding").head()
    val fid = someFresh.getLong(0)
    val fq = someFresh.getSeq[Float](1).toArray
    // the nightly-shape call: no m argument — inferred from the stored
    // codebooks — and the appended row becomes ADC-visible
    assert(Similarity.refreshPqCodes(spark, path))
    val hit = Similarity.probeIvfPqIndex(spark, path, fq, nprobe = 1,
      k = 1, rerank = 10).head()
    assert(hit.getLong(0) == fid && hit.getDouble(1) == 1.0)
  }

  test("IVF+PQ rides versioned roots; probing without codes is a clear error") {
    val all = t(spark, sf, "embeddings")
    val root = tmpDir("ivfpq-versioned")
    Similarity.buildIvfIndexVersionedOf(all, root, iters = 1,
      seedCol = Some("label"))
    val q0 = all.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val e = intercept[IllegalArgumentException] {
      Similarity.probeIvfPqIndex(spark, root, q0, nprobe = 2, k = 5)
    }
    assert(e.getMessage.contains("addPqToIvfIndex"))
    // the add-on resolves through _current into the live version
    Similarity.addPqToIvfIndex(spark, root, m = 4)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/_pq_codebooks")))
    assert(Similarity.probeIvfPqIndex(spark, root, q0, nprobe = 2, k = 5,
      rerank = 20, excludeIds = Seq(0L)).count() == 5)
  }

  test("buildIvfIndexOf: default pmod seeding trains and probes without a label column") {
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val path = tmpDir("ivf-nolabel")
    Similarity.buildIvfIndexOf(vecs, path, iters = 1, cells = 4)
    val nCells = spark.read.parquet(s"$path/_centroids").count()
    assert(nCells >= 1 && nCells <= 4)
    val q0 = vecs.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val out = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
    assert(out.count() == 5)
  }

  test("buildIvfIndexOf into a path whose write fails leaves none of its own pins live") {
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    // a regular file where the index's parent directory should be: the
    // first write fails after the corpus, k-means and centroid pins exist
    val blocker = new java.io.File(tmpDir("ivf-write-fails"), "blocker")
    java.nio.file.Files.writeString(blocker.toPath, "not a directory")
    val (run, pins) = pinsLeftBy(settleTo = 0) {
      Similarity.buildIvfIndexOf(vecs, s"$blocker/index", iters = 1,
        cells = 4)
    }
    assert(run.isFailure, "the index write under a regular file succeeded")
    assert(pins.taken.size >= 3, s"pins taken: ${pins.taken}")
    assert(pins.live.isEmpty,
      s"${pins.live.size} of ${pins.taken.size} build pins outlived the failure")
  }

  test("gated deployment: passing audit flips the pointer; failing audit never serves") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val root = tmpDir("ivf-gated")
    val panel = Seq(0L, 1L, 2L)
    // candidate v1 audited at nprobe = all cells: the probe path scans
    // everything, so recall is exactly 100 and the gate must pass
    val r1 = Similarity.deployGatedIvfIndex(all, root, iters = 1,
      panelIds = panel, nprobe = 10, k = 5, floorPct = 100.0)
    assert(r1.deployed && r1.version == 1L && r1.meanRecallPct == 100.0)
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v1"))
    // candidate v2 against an unreachable floor: REFUSED — the pointer
    // keeps serving v1 and the bad build is gone from disk
    val r2 = Similarity.deployGatedIvfIndex(all, root, iters = 1,
      panelIds = panel, nprobe = 1, k = 5, floorPct = 100.5)
    assert(!r2.deployed && r2.version == 2L)
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v1"))
    assert(!new java.io.File(s"$root/v2").exists())
    // the surviving index still audits clean through the pointer
    val audit = Similarity.auditIvfIndex(spark, root, panel,
      nprobe = 10, k = 5).collect()
    assert(audit.length == 3)
    audit.foreach(r => assert(r.getLong(2) == 100L, r.toString))
  }

  test("audit is ONE plan: Spark job count does not scale with panel size") {
    // the r9 finding this guards: the audit used to run 2 driver-looped
    // jobs PER panel member (a 1000-query audit = 2000 serial jobs). The
    // single-plan rewrite must make job count a property of the PLAN, not
    // the panel. Job groups isolate this test's jobs from concurrent
    // suites sharing the SparkContext; the status tracker is fed
    // asynchronously, so poll until the group's job list stops growing.
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val path = tmpDir("ivf-audit-jobs")
    Similarity.buildIvfIndexOf(vecs, path, iters = 1, cells = 4)
    def jobsOf(groupId: String, panel: Seq[Long]): Int = {
      spark.sparkContext.setJobGroup(groupId, "audit job-count probe")
      try Similarity.auditIvfIndex(spark, path, panel, nprobe = 2, k = 3)
        .collect()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 15000000000L
      def n() = spark.sparkContext.statusTracker
        .getJobIdsForGroup(groupId).length
      var last = -1
      var cur = n()
      while ((cur != last || cur == 0) && System.nanoTime() < deadline) {
        last = cur
        Thread.sleep(200)
        cur = n()
      }
      cur
    }
    val j1 = jobsOf("ivf-audit-p1", Seq(0L))
    val j3 = jobsOf("ivf-audit-p3", Seq(0L, 1L, 2L))
    assert(j1 >= 1, "status tracker never saw the audit's jobs")
    assert(j3 <= j1 + 1,
      s"audit job count grew with panel size: panel=1 → $j1, panel=3 → $j3")
  }

  test("driver-side cell ranking is bit-identical to the plan-side ranking") {
    // the r10 verdict's ss11 fix moves the per-probe centroid ranking off
    // the cluster; this pins that rankCellsDriverSide replays guardedCos +
    // (ccos desc, clabel) EXACTLY — full ordering, not just the top cut
    import graft.functions.ArrayDot.dotLong
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val path = tmpDir("ivf-rank-parity")
    Similarity.buildIvfIndexOf(vecs, path, iters = 1, cells = 7)
    val q0 = vecs.where(col("vec_id") === 3).select("embedding").head()
      .getSeq[Float](0).toArray
    val q = q0.map(v => new java.math.BigDecimal(v.toDouble * 1000.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()).toSeq
    val qn2 = q.map(x => x * x).sum
    val cents = spark.read.parquet(s"$path/_centroids")
    val planSide = cents
      .withColumn("ccos",
        when(col("cn2") > 0 && lit(qn2) > 0,
          dotLong(col("cvec"), typedLit(q)).cast("double") /
            sqrt(col("cn2").cast("double") * lit(qn2).cast("double")))
          .otherwise(lit(-1.0)))
      .orderBy(col("ccos").desc, col("clabel"))
      .select("clabel").collect().map(_.getLong(0)).toSeq
    val rows = cents.collect().map(r => Similarity.CentroidRow(
      r.getAs[Long]("clabel"), r.getAs[Seq[Long]]("cvec").toArray,
      r.getAs[Long]("cn2")))
    val driverSide = Similarity.rankCellsDriverSide(rows, q, rows.length)
    assert(driverSide == planSide,
      s"driver ranking $driverSide diverges from plan ranking $planSide")
  }

  test("quantizer cache: warm probes reuse it; rebuild at the same path invalidates") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val path = tmpDir("ivf-cache")
    Similarity.buildIvfIndexOf(all.where(col("vec_id") < 300), path,
      iters = 1, cells = 5)
    val q0 = all.where(col("vec_id") === 1).select("embedding").head()
      .getSeq[Float](0).toArray
    Similarity.clearQuantizerCache()
    val cold = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(Similarity.quantizerCacheSize >= 1, "probe did not warm the cache")
    // warm probe: same answer, no artifact re-fetch (entry count stable)
    val n = Similarity.quantizerCacheSize
    val warm = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(warm == cold && Similarity.quantizerCacheSize == n)
    // in-place rebuild over a DIFFERENT corpus slice rewrites _centroids
    // at the same path: the listing signature must invalidate the entry,
    // so a stale-cache probe equals a cold-cache probe exactly
    Similarity.buildIvfIndexOf(all.where(col("vec_id") >= 300), path,
      iters = 1, cells = 5)
    val stale = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    Similarity.clearQuantizerCache()
    val fresh = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(stale == fresh,
      "rebuild at the same path served a stale cached quantizer")
    assert(stale != cold, "rebuild fixture failed to change the ranking " +
      "input (test would pass vacuously)")
  }

  test("nonce invalidation: a rewrite preserving every (name, len, mtime) still reloads") {
    // The r11 metadata-collision window: an in-place retrain that rewrites
    // part files with identical names/lengths inside the filesystem's
    // mtime granularity leaves the LISTING signature unchanged — only the
    // `_write_nonce` CONTENT fold can invalidate. This constructs that
    // exact collision: two versions of `_centroids` written under a
    // controlled writer (uncompressed, no dictionary, one part file with
    // a pinned name and mtime) whose listings are asserted byte-identical,
    // differing only in row content and nonce bytes.
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val path = tmpDir("ivf-nonce")
    Similarity.buildIvfIndexOf(all, path, iters = 1, cells = 5)
    val centDir = new java.io.File(s"$path/_centroids")
    val orig = spark.read.parquet(centDir.toString)
      .select("clabel", "cvec", "cn2").orderBy("clabel").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
    val T0 = 1700000000000L
    def writeVersion(rows: Seq[(Long, Seq[Long], Long)]): Unit = {
      import spark.implicits._
      val tmp = tmpDir("ivf-nonce-stage")
      // dictionary encoding OFF (belt and suspenders: writer option AND
      // hadoop conf) — PLAIN fixed-width leaves make the two versions'
      // part files byte-length-identical, which the listing assert below
      // depends on; dictionary index pages RLE-compress value-order-
      // dependently and could diverge
      // page CRCs also off: PageHeader.crc is a zigzag VARINT, so its
      // byte length depends on the checksum VALUE — one content-dependent
      // byte of file length (measured: 3739 vs 3740) that would leak the
      // rewrite into the listing
      val hc = spark.sparkContext.hadoopConfiguration
      val knobs = Seq("parquet.enable.dictionary" -> "false",
        "parquet.page.write-checksum.enabled" -> "false")
      val prev = knobs.map { case (k, _) => k -> hc.get(k) }
      knobs.foreach { case (k, v) => hc.set(k, v) }
      try rows.toDF("clabel", "cvec", "cn2").coalesce(1).write
        .mode("overwrite")
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.page.write-checksum.enabled", "false")
        .parquet(tmp)
      finally prev.foreach { case (k, v) =>
        if (v == null) hc.unset(k) else hc.set(k, v)
      }
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      org.apache.commons.io.FileUtils.deleteDirectory(centDir)
      centDir.mkdirs()
      val dst = new java.io.File(centDir, "part-0.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(T0)
      val nonce = new java.io.File(centDir, "_write_nonce")
      java.nio.file.Files.write(nonce.toPath,
        java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
      nonce.setLastModified(T0)
    }
    def listing: Set[(String, Long, Long)] = centDir.listFiles()
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
    val q0 = all.where(col("vec_id") === 1).select("embedding").head()
      .getSeq[Float](0).toArray

    writeVersion(orig)
    val l1 = listing
    Similarity.clearQuantizerCache()
    val cold = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    val loadsCold = Similarity.quantizerCacheLoads.get()
    val warm = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(warm == cold)
    assert(Similarity.quantizerCacheLoads.get() == loadsCold,
      "a warm probe re-loaded the quantizer")

    // the retrain: REVERSED cell→centroid mapping (same value multiset, so
    // the uncompressed/no-dictionary file is byte-length-identical), new
    // nonce content, every (name, len, mtime) pinned back to version 1's
    val swapped = orig.map(_._1).zip(orig.map(t => (t._2, t._3)).reverse)
      .map { case (cl, (cv, cn)) => (cl, cv, cn) }
    writeVersion(swapped)
    assert(listing == l1,
      s"fixture failed: the rewrite changed the listing\n$l1\nvs\n$listing" +
        " — the nonce path is not what this run exercised")
    val stale = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(Similarity.quantizerCacheLoads.get() > loadsCold,
      "identical-listing rewrite did NOT reload — the nonce fold is dead")
    Similarity.clearQuantizerCache()
    val fresh = Similarity.probeIvfIndex(spark, path, q0, nprobe = 2, k = 5)
      .collect().toSeq
    assert(stale == fresh, "the reload served something other than the new quantizer")
    assert(stale != cold,
      "swapping centroids did not change the probe — vacuous fixture")
  }

  test("quantizer cache: LRU eviction at the bound; evicted entries re-load, survivors hit") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val paths = (0 until 3).map { i =>
      val p = tmpDir(s"ivf-lru$i")
      Similarity.buildIvfIndexOf(all.where(col("vec_id") % 3 === i),
        p, iters = 1, cells = 3)
      p
    }
    val q0 = all.where(col("vec_id") === 1).select("embedding").head()
      .getSeq[Float](0).toArray
    Similarity.clearQuantizerCache()
    paths.foreach(p =>
      Similarity.probeIvfIndex(spark, p, q0, nprobe = 1, k = 3).collect())
    assert(Similarity.quantizerCacheSize == 3)
    // touch paths(0): most-recent; paths(1) becomes the LRU entry
    Similarity.probeIvfIndex(spark, paths(0), q0, nprobe = 1, k = 3).collect()
    val loads0 = Similarity.quantizerCacheLoads.get()
    Similarity.pruneQuantizerCache(2)
    assert(Similarity.quantizerCacheSize == 2, "prune did not enforce the bound")
    // survivors still hit the cache (no reload)...
    Similarity.probeIvfIndex(spark, paths(0), q0, nprobe = 1, k = 3).collect()
    Similarity.probeIvfIndex(spark, paths(2), q0, nprobe = 1, k = 3).collect()
    assert(Similarity.quantizerCacheLoads.get() == loads0,
      "prune evicted a most-recently-used entry")
    // ...and the evicted LRU re-loads on next use
    Similarity.probeIvfIndex(spark, paths(1), q0, nprobe = 1, k = 3).collect()
    assert(Similarity.quantizerCacheLoads.get() == loads0 + 1,
      "the evicted entry did not re-load")
    Similarity.clearQuantizerCache()
  }

  test("residual PQ: full probe + full rerank ≡ exact; ADC recall ≥ raw PQ at equal m/nprobe") {
    val all = t(spark, sf, "embeddings")
    val path = tmpDir("ivfrpq")
    Similarity.buildIvfIndexOf(all, path, iters = 1, seedCol = Some("label"))
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    Similarity.addResidualPqToIvfIndex(spark, path, m = 4)
    // the _rpq artifacts exist and stay invisible to postings reads
    assert(spark.read.parquet(s"$path/_rpq_codebooks").count() >= 1)
    assert(spark.read.parquet(path).columns.toSet
      == Set("vec_id", "cell", "q", "n2"))
    val nCells = spark.read.parquet(s"$path/_centroids").count().toInt

    // degenerate-parameter identity, same proof shape as raw IVF+PQ:
    // probing every cell with a corpus-sized rerank reproduces exact
    val q0 = all.where(col("vec_id") === 0).select("embedding").head()
      .getSeq[Float](0).toArray
    val exact0 = Similarity.probeIvfIndex(spark, path, q0, nprobe = nCells,
      k = 10, excludeIds = Seq(0L)).collect().toSeq
    val full = Similarity.probeIvfResidualPqIndex(spark, path, q0,
      nprobe = nCells, k = 10, rerank = 500, excludeIds = Seq(0L))
      .collect().toSeq
    assert(full == exact0, "full probe + full rerank diverges from exact")

    // the codes scan is partition-pruned to the probed cells
    val adc = Similarity.probeIvfResidualPqIndex(spark, path, q0,
      nprobe = 2, k = 10, excludeIds = Seq(0L))
    val plan = adc.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[.*cell.* IN \\(".r
      .findFirstIn(plan).isDefined, s"rpq codes scan not pruned:\n$plan")

    // the r12 directive's gate: ADC-only recall (no rerank mask) on an
    // audit panel, residual ≥ raw at equal m, nprobe — residual codewords
    // spend the same bytes on within-cell structure, so reconstruction is
    // better-centered (Jégou et al. §III-C). Probed at nprobe = ALL cells
    // (equal for both probes): at a pruned nprobe both recalls are capped
    // by which cells the SHARED coarse quantizer picked, and the encoding
    // under test stops being what the number measures.
    val panel = all.where(col("vec_id") < 8)
      .select("vec_id", "embedding").collect()
    var rawHits = 0; var resHits = 0
    panel.foreach { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Float](1).toArray
      val exact = Similarity.probeIvfIndex(spark, path, q, nprobe = nCells,
        k = 10, excludeIds = Seq(qid)).collect().map(_.getLong(0)).toSet
      val raw = Similarity.probeIvfPqIndex(spark, path, q, nprobe = nCells,
        k = 10, excludeIds = Seq(qid)).collect().map(_.getLong(0)).toSet
      val res = Similarity.probeIvfResidualPqIndex(spark, path, q,
        nprobe = nCells, k = 10, excludeIds = Seq(qid)).collect()
        .map(_.getLong(0)).toSet
      rawHits += (exact & raw).size
      resHits += (exact & res).size
    }
    info(f"ADC recall@10 over ${panel.length} queries: raw PQ ${rawHits / (10.0 * panel.length)}%.3f, residual PQ ${resHits / (10.0 * panel.length)}%.3f")
    assert(resHits >= rawHits,
      s"residual PQ hits $resHits fell below raw PQ $rawHits (of ${10 * panel.length})")
  }

  /** The `v<N>` directories under a versioned root, sorted. */
  private def versionDirs(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("v[0-9]+"))
      .map(_.getName).sorted

  private def pointer(root: String): String =
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_current")).trim

  test("refreshPqCodes re-encodes residual PQ too; an appended id becomes residual-ADC visible") {
    val all = t(spark, sf, "embeddings")
    val base = all.where(col("vec_id") % 5 =!= 0)
    val fresh = all.where(col("vec_id") % 5 === 0)
    val path = tmpDir("ivfrpq-refresh")
    Similarity.buildIvfIndexOf(base, path, iters = 1, seedCol = Some("label"))
    Similarity.addPqToIvfIndex(spark, path, m = 4)
    Similarity.addResidualPqToIvfIndex(spark, path, m = 4)
    Similarity.appendToIvfIndex(spark, path, fresh)
    val someFresh = fresh.orderBy("vec_id").limit(1)
      .select("vec_id", "embedding").head()
    val fid = someFresh.getLong(0)
    val fq = someFresh.getSeq[Float](1).toArray
    val nCells = spark.read.parquet(s"$path/_centroids").count().toInt
    val everything = all.count().toInt
    def adcIds(probe: (Array[Float], Int, Int) => org.apache.spark.sql.DataFrame) =
      probe(fq, nCells, everything).collect().map(_.getLong(0)).toSet
    val residual = (q: Array[Float], np: Int, k: Int) =>
      Similarity.probeIvfResidualPqIndex(spark, path, q, nprobe = np, k = k)
    val raw = (q: Array[Float], np: Int, k: Int) =>
      Similarity.probeIvfPqIndex(spark, path, q, nprobe = np, k = k)
    assert(!adcIds(residual).contains(fid), "un-encoded append leaked into residual ADC")
    assert(Similarity.refreshPqCodes(spark, path))
    // both code sets now carry the appended row
    assert(adcIds(raw).contains(fid), "refresh left raw PQ codes stale")
    assert(adcIds(residual).contains(fid), "refresh left residual PQ codes stale")
    // m was inferred per code set: both still have 4 subspaces
    Seq("_pq_codebooks", "_rpq_codebooks").foreach { cb =>
      assert(spark.read.parquet(s"$path/$cb").agg(max("sub")).head().getInt(0) == 3, cb)
    }
  }

  test("gated deployment whose audit throws on a fresh root leaves no version serving") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val root = tmpDir("ivf-gated-throws")
    // a panel id the index does not hold: the audit's panel check throws
    intercept[IllegalArgumentException] {
      Similarity.deployGatedIvfIndex(all, root, iters = 1,
        panelIds = Seq(0L, 987654321L), nprobe = 10, k = 5, floorPct = 0.0)
    }
    assert(versionDirs(root).isEmpty, s"left behind: ${versionDirs(root)}")
    assert(!new java.io.File(s"$root/_current").exists())
    assert(!Similarity.resolveIndexDir(spark, root).matches(".*/v[0-9]+"))
  }

  test("gated deployment whose audit throws keeps the serving version") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val root = tmpDir("ivf-gated-throws-live")
    val ok = Similarity.deployGatedIvfIndex(all, root, iters = 1,
      panelIds = Seq(0L, 1L), nprobe = 10, k = 5, floorPct = 100.0)
    assert(ok.deployed && ok.version == 1L)
    intercept[IllegalArgumentException] {
      Similarity.deployGatedIvfIndex(all, root, iters = 1,
        panelIds = Seq(0L, 987654321L), nprobe = 10, k = 5, floorPct = 0.0)
    }
    assert(pointer(root) == "v1")
    assert(versionDirs(root) == Seq("v1"), s"left behind: ${versionDirs(root)}")
    assert(Similarity.resolveIndexDir(spark, root).endsWith("/v1"))
  }

  test("versioned builds and passing gated deploys keep only the live and previous versions") {
    val all = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val built = tmpDir("ivf-retain-built")
    (1 to 3).foreach { i =>
      Similarity.buildIvfIndexVersionedOf(all, built, iters = 1, cells = 4)
      assert(pointer(built) == s"v$i")
    }
    assert(versionDirs(built) == Seq("v2", "v3"))
    val gated = tmpDir("ivf-retain-gated")
    (1 to 3).foreach { i =>
      val r = Similarity.deployGatedIvfIndex(all, gated, iters = 1,
        panelIds = Seq(0L, 1L), nprobe = 4, k = 5, floorPct = 100.0,
        cells = 4)
      assert(r.deployed && r.version == i.toLong)
    }
    assert(versionDirs(gated) == Seq("v2", "v3"))
    assert(Similarity.resolveIndexDir(spark, gated).endsWith("/v3"))
  }

  test("the probe quantizer equals quantize_milli on random floats, ties included") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val ties = Seq.fill(2000)((2 * rnd.nextInt(1 << 20) + 1) / 16.0f)
      .flatMap(f => Seq(f, -f)) // odd multiples of 1/16: ×1000 ends in .5
    val uniform = Seq.fill(4000)((rnd.nextDouble() * 4 - 2).toFloat)
    val bits = Iterator.continually(java.lang.Float.intBitsToFloat(rnd.nextInt()))
      .filter(f => !f.isNaN && !f.isInfinite).take(4000).toSeq
    val floats = (ties ++ uniform ++ bits ++ Seq(0.0f, -0.0f, 0.0005f,
      -0.0005f, 1.0005f, Float.MinPositiveValue)).toArray
    def planSide(v: org.apache.spark.sql.DataFrame) =
      v.select(graft.functions.QuantizeMilli.quantize(col("v")))
        .head().getSeq[Long](0)
    val driverSide = Similarity.quantizeQuery(floats)
    // a local relation evaluates the expression interpreted; an RDD-backed
    // one runs its generated code
    assert(driverSide == planSide(Seq(Tuple1(floats)).toDF("v")))
    assert(driverSide ==
      planSide(spark.sparkContext.parallelize(Seq(Tuple1(floats)), 1).toDF("v")))
    // the exact-decimal HALF_UP rule probes used before agrees wherever
    // ×1000 fits a long, so probes quantize as they always did
    floats.zip(driverSide).filter(t => math.abs(t._1.toDouble) < 1e15)
      .foreach { case (f, q) =>
        assert(q == new java.math.BigDecimal(f.toDouble * 1000.0)
          .setScale(0, java.math.RoundingMode.HALF_UP).longValue(), s"$f")
      }
  }
}
