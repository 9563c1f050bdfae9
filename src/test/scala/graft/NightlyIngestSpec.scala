package graft

import org.apache.spark.sql.functions._
import graft.examples.NightlyIngestExample
import graft.sources.Tables.t

/** The nightly-batch on-ramp: two nights over overlapping batches must
  * admit each document exactly once, grow the curated store append-only,
  * and keep the ANN index in step — without reprocessing history. */
class NightlyIngestSpec extends SparkSpec {

  test("two nights: standing fingerprints reject re-sent docs; store and index grow in step") {
    val docs = t(spark, sf, "documents")
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val curated = tmpDir("nightly") + "/curated"
    val index = tmpDir("nightly") + "/index"

    // night 1: docs 0–249 (the fixture contains intra-batch duplicates —
    // first-in-batch wins, the rest reject)
    val n1 = docs.where(col("doc_id") < 250)
    val r1 = PinAudit.auditedOrThrow(spark) {
      NightlyIngestExample.ingestNight(spark, n1,
        vecs.where(col("vec_id") < 250), curated, index)
    }
    assert(r1.admitted + r1.rejected == 250)
    assert(r1.admitted > 0 && !r1.indexRetrained)
    val store1 = spark.read.parquet(curated)
    assert(store1.count() == r1.admitted - r1.belowQuality)

    // night 2: docs 0–299 re-sent — everything night 1 admitted (or that
    // shares its fingerprint) must reject against the STANDING store;
    // only genuinely new content (ids 250–299, minus cross-night dups)
    // can be admitted
    val n2 = docs.where(col("doc_id") < 300)
    val r2 = PinAudit.auditedOrThrow(spark) {
      NightlyIngestExample.ingestNight(spark, n2,
        vecs.where(col("vec_id") < 300), curated, index)
    }
    assert(r2.admitted + r2.rejected == 300)
    assert(r2.admitted <= 50, s"re-sent docs were re-admitted: $r2")
    val store2 = spark.read.parquet(curated)
    // append-only growth by exactly night 2's survivors
    assert(store2.count() == store1.count() + r2.admitted - r2.belowQuality)
    // one admission per document ever: ids unique, quality gate holds
    assert(store2.select("doc_id").distinct().count() == store2.count())
    assert(store2.where(col("quality") < 0.3).isEmpty)
    // every night-2 addition is genuinely new content
    val added = store2.join(store1.select("doc_id"), Seq("doc_id"),
      "left_anti")
    assert(added.where(col("doc_id") < 250).isEmpty)

    // the index holds exactly the store's documents' vectors
    assert(spark.read.parquet(index).count() == store2.count())
    // and a night-2 survivor's own embedding retrieves it at cosine 1.0
    val probe = added.orderBy("doc_id").limit(1).select("doc_id").head()
      .getLong(0)
    val qv = vecs.where(col("vec_id") === probe).select("embedding")
      .head().getSeq[Float](0).toArray
    val hit = Similarityprobe(qv, index)
    assert(hit.getLong(0) == probe && hit.getDouble(1) == 1.0)
  }

  private def Similarityprobe(qv: Array[Float],
      index: String): org.apache.spark.sql.Row =
    graft.operators.Similarity.probeIvfIndex(spark, index, qv,
      nprobe = 10, k = 1).head()

  test("near-dup ledger lifecycle: night 2's near-duplicate of a night-1 doc is caught") {
    import spark.implicits._
    val docs = t(spark, sf, "documents")
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val curated = tmpDir("nightly-ndl") + "/curated"
    val index = tmpDir("nightly-ndl") + "/index"
    val ledger = "nightly_ndl_spec"
    // self-clean: a prior crashed run can leave the warehouse DIRECTORY
    // behind after the catalog forgot the table — DROP alone then fails
    // with LOCATION_ALREADY_EXISTS (the shared-spark-warehouse state
    // class of cross-run flake). Remove both.
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    Seq(s"${ledger}_bands", s"${ledger}_sets").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmRf(new java.io.File(s"spark-warehouse/$t"))
    }

    // night 1 bootstraps the banded ledger from its survivors
    val n1 = docs.where(col("doc_id") < 100)
    val r1 = PinAudit.auditedOrThrow(spark) {
      NightlyIngestExample.ingestNight(spark, n1,
        vecs.where(col("vec_id") < 100), curated, index,
        nearDupLedger = Some(ledger))
    }
    assert(r1.nearDupRejected == 0L) // no standing ledger on night 1
    assert(spark.catalog.tableExists(s"${ledger}_bands"))
    val store1 = spark.read.parquet(curated)
    val bands1 = spark.table(s"${ledger}_bands").count()

    // night 2: a NEAR-duplicate of a night-1 CURATED doc — same text with
    // one mid-text token swapped, so the exact fingerprint differs (it
    // passes the fp ledger) but 2-gram Jaccard stays ≈0.9 — plus one
    // genuinely fresh doc (id 150, unseen in night 1)
    // donor with quality headroom: the one-token swap moves quality by
    // ≤ 0.5/len, so ≥ 0.4 guarantees the mutant passes the 0.3 gate too
    val donor = store1.where(col("quality") >= 0.4).orderBy("doc_id")
      .limit(1).select("doc_id", "lang", "source", "text").head()
    val ws = donor.getString(3).trim.split("\\s+")
    val mutated = (ws.take(ws.length / 2) ++ Array("zzzmutant") ++
      ws.drop(ws.length / 2 + 1)).mkString(" ")
    val n2 = docs.where(col("doc_id") === 150)
      .select("doc_id", "lang", "source", "text")
      .unionByName(Seq((1000L, donor.getString(1), donor.getString(2),
        mutated)).toDF("doc_id", "lang", "source", "text"))
    val r2 = PinAudit.auditedOrThrow(spark) {
      NightlyIngestExample.ingestNight(spark, n2,
        vecs.where(col("vec_id") === 150), curated, index,
        nearDupLedger = Some(ledger))
    }
    assert(r2.nearDupRejected == 1L,
      s"the planted near-dup must be caught by the standing ledger: $r2")
    val store2 = spark.read.parquet(curated)
    assert(store2.where(col("doc_id") === 1000L).isEmpty,
      "near-dup must not reach the curated store")
    // the ledger grew by night 2's KEPT docs only (near-dup excluded)
    val kept2 = store2.count() - store1.count()
    assert(spark.table(s"${ledger}_bands")
      .where(col("doc_id") === 1000L).isEmpty,
      "a rejected near-dup must not enter the ledger")
    assert(spark.table(s"${ledger}_bands").count() == bands1 + kept2 * 8,
      "ledger bands must grow by exactly the kept docs' 8 bands each")
  }

  test("reconcileNight leaves none of its own pins after it returns") {
    val docs = t(spark, sf, "documents").where(col("doc_id") < 200)
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    val root = tmpDir("nightly-reconcile-pins")
    val (curated, index) = (s"$root/curated", s"$root/index")
    NightlyIngestExample.ingestNight(spark, docs,
      vecs.where(col("vec_id") < 200), curated, index)
    def reconcile(): SparkSpec.Pins = {
      val (run, pins) = pinsLeftBy(settleTo = 0) {
        NightlyIngestExample.reconcileNight(spark, curated, index, vecs)
      }
      run.get
      assert(pins.taken.nonEmpty, "reconcile took no pins")
      pins
    }
    // an index exists: the store ⋈ index anti-join is pinned (empty here)
    val append = reconcile()
    assert(append.live.isEmpty, s"append path left pins ${append.live}")
    // no index at all: the store's vectors build one
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(index))
    val build = reconcile()
    assert(build.live.isEmpty, s"build path left pins ${build.live}")
    assert(spark.read.parquet(index).count() ==
      spark.read.parquet(curated).count())
  }

  test("crash matrix: reconcile + re-run converges to the never-crashed state after EVERY stage boundary") {
    // the r10 directive: the crash-ordering argument was documented, not
    // failure-injected. Here the night is killed after each of its five
    // stage boundaries (onStage hook), repaired with reconcileNight, and
    // re-run — and the resulting store / fp ledger / near-dup ledger /
    // index must be IDENTICAL to a golden run that never crashed:
    // exactly-once admission, no self-rejection, no lost downstream
    // artifact.
    val docs = t(spark, sf, "documents")
    val vecs = t(spark, sf, "embeddings").select("vec_id", "embedding")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    def cleanTables(name: String): Unit =
      Seq(s"${name}_bands", s"${name}_sets").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        rmRf(new java.io.File(s"spark-warehouse/$t"))
      }
    val n1 = docs.where(col("doc_id") < 200)
    val v1 = vecs.where(col("vec_id") < 200)
    val n2 = docs.where(col("doc_id") < 300)
    val v2 = vecs.where(col("vec_id") < 300)

    final case class State(storeIds: Seq[Long], fpSet: Set[String],
        bandDocs: Set[Long], indexIds: Set[Long])
    def stateOf(curated: String, index: String, ledger: String): State = {
      val store = spark.read.parquet(curated)
      State(
        store.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
        spark.read.parquet(s"$curated/_fingerprints")
          .collect().map(_.getString(0)).toSet,
        spark.table(s"${ledger}_bands").select("doc_id")
          .collect().map(_.getLong(0)).toSet,
        spark.read.parquet(graft.operators.Similarity
          .resolveIndexDir(spark, index))
          .select("vec_id").collect().map(_.getLong(0)).toSet)
    }

    // the golden never-crashed run
    val gRoot = tmpDir("nightly-crash-golden")
    val gLedger = "crash_ndl_golden"
    cleanTables(gLedger)
    NightlyIngestExample.ingestNight(spark, n1, v1, s"$gRoot/curated",
      s"$gRoot/index", nearDupLedger = Some(gLedger), ledgerBuckets = 4)
    NightlyIngestExample.ingestNight(spark, n2, v2, s"$gRoot/curated",
      s"$gRoot/index", nearDupLedger = Some(gLedger), ledgerBuckets = 4)
    val golden = stateOf(s"$gRoot/curated", s"$gRoot/index", gLedger)
    assert(golden.storeIds.distinct.size == golden.storeIds.size)

    val boundaries = Seq("store-append", "fp-ledger-append",
      "index-maintained", "pq-refreshed", "neardup-ledger-grown")
    for (b <- boundaries) {
      val root = tmpDir(s"nightly-crash-$b")
      val curated = s"$root/curated"; val index = s"$root/index"
      val ledger = s"crash_ndl_${b.replace('-', '_')}"
      cleanTables(ledger)
      NightlyIngestExample.ingestNight(spark, n1, v1, curated, index,
        nearDupLedger = Some(ledger), ledgerBuckets = 4)
      // night 2 dies immediately after boundary `b` commits
      val boom = intercept[RuntimeException] {
        NightlyIngestExample.ingestNight(spark, n2, v2, curated, index,
          nearDupLedger = Some(ledger), ledgerBuckets = 4,
          onStage = s => if (s == b)
            throw new RuntimeException(s"injected crash after $s"))
      }
      assert(boom.getMessage.contains(b), s"wrong crash: $boom")
      // repair from the store, re-run the SAME night
      NightlyIngestExample.reconcileNight(spark, curated, index, vecs,
        Some(ledger), ledgerBuckets = 4)
      val r = NightlyIngestExample.ingestNight(spark, n2, v2, curated,
        index, nearDupLedger = Some(ledger), ledgerBuckets = 4)
      val got = stateOf(curated, index, ledger)
      // exactly-once admission: the re-run admitted nothing twice
      assert(got.storeIds.distinct.size == got.storeIds.size,
        s"[$b] store holds duplicate doc_ids after reconcile + re-run")
      // no self-rejection + full convergence: every artifact equals the
      // never-crashed run's
      assert(got.storeIds == golden.storeIds,
        s"[$b] store diverges from the never-crashed run")
      assert(got.fpSet == golden.fpSet,
        s"[$b] fingerprint ledger diverges from the never-crashed run")
      assert(got.bandDocs == golden.bandDocs,
        s"[$b] near-dup ledger diverges from the never-crashed run")
      assert(got.indexIds == golden.indexIds,
        s"[$b] ANN index diverges from the never-crashed run")
      // and nothing that was stored before the crash was re-admitted
      assert(r.admitted + r.rejected == 300, s"[$b] $r")
      cleanTables(ledger)
    }
    cleanTables(gLedger)
  }
}
