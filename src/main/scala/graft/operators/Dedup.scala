package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** Deduplication operators for training-data pipelines (SURVEY.md §7.6):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash — over `documents.text`.
  *
  * Scale design (the reason each variant exists):
  *  - dd01 exact: one hash-groupBy shuffle on a 32-byte fingerprint; at
  *    100 TB the shuffle carries (fp, doc_id) pairs only, never the text.
  *  - dd02 n-gram Jaccard: exact all-pairs scoring with per-doc sorted
  *    hash-set arrays and a native two-pointer intersection expression —
  *    zero shuffle, pure codegen. (An inverted-index join on shingles costs
  *    Σ_shingle df(s)² shuffled rows and loses badly when the vocabulary is
  *    hot; measured 5× slower here.) Quadratic in documents by nature.
  *  - dd03 MinHash+LSH: the scale path. K=16 min-wise hashes → 8 bands of 2;
  *    candidate pairs only where a band collides, then exact-Jaccard
  *    verification of candidates only. Hash family is md5-derived modular
  *    hashing — deterministic and engine-portable, so even the probabilistic
  *    candidate set is bit-identical between Spark and the DuckDB oracle.
  *  - dd04/dd05 SimHash: 60-bit signatures; near-dup = Hamming ≤ 4 found via
  *    5×12-bit band blocking, which is EXACT for Hamming ≤ 4 (pigeonhole:
  *    ≤ 4 differing bits touch at most 4 of the 5 bands, so one band always
  *    collides) — proven banded == brute force in PipelinesSpec.
  *
  * All hashing goes through md5 hex (identical in every engine); the only
  * numeric tower is int64 modular arithmetic — no float drift anywhere until
  * the final ROUND(jaccard, 3) presentation column.
  */
object Dedup {

  /** Modulus for min-wise hashing (2^31 − 1, prime). */
  private val P = 2147483647L
  private val K = 16 // minhash signature length
  private val R = 2  // rows per band → 8 bands

  /** Distinct word n-gram shingles per doc: (doc_id, s). Per-doc dedup is
    * `array_distinct` BEFORE the explode — a map-only operation — never an
    * exploded `.distinct()`, which would shuffle every shingle OCCURRENCE
    * of the corpus just to drop within-document repeats (cross-document
    * rows were never mergeable anyway: doc_id is in the key). At 100 TB
    * that distinct-shuffle is the single largest data movement in the
    * whole dedup family; this formulation has none. */
  private[operators] def ngrams(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    ngramsOf(t(spark, dir, "documents"), n)

  /** Same shingling over a caller-provided documents frame — lets a
    * consumer tokenize a SUBSET (e.g. only benchmark docs) without paying
    * a full-corpus gram pass it will immediately filter away. */
  private[operators] def ngramsOf(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1, s"ngram width: $n")
    // native n-gram builder: the transform/array_join lambda dropped the
    // per-row shingle projection out of whole-stage codegen (r16 lambda
    // audit); coalesce keeps the composed form's null-ws -> [] mapping
    val grams = coalesce(
      graft.functions.NgramJoin.ngrams(col("ws"), n), array())
    docs
      .select(col("doc_id"), TextAnalysis.toks.as("ws"))
      .select(col("doc_id"), explode(array_distinct(grams)).as("s"))
  }

  /** The dedup family's word-bigram shingling (dd02/dd03 contract). */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    ngrams(spark, dir, 2)

  /** The shared engine-portable md5→int64 recipe. */
  private def md5Long(s: Column, hexChars: Int): Column =
    graft.functions.Hashing.md5Long(s, hexChars)

  /** dd01 — exact dedup: normalize → fingerprint → keep the min doc_id per
    * fingerprint group. Min-per-group via groupBy + join back, NOT an
    * unbounded window over fp: a window buffers every row of a fingerprint
    * group in one task, so one massively-duplicated document (the thing a
    * dedup pass exists to find) would pin a single task with its whole
    * group. The aggregate is map-side combined (one candidate per
    * fingerprint per input partition crosses the wire) and AQE's skew-join
    * split handles a hot fingerprint on the join side. */
  def dd01Exact(spark: SparkSession, dir: String): DataFrame = {
    // pinned (r17): the min-per-group aggregate AND the keep join both
    // read this — unpinned, the fingerprint scan ran once per consumer
    // (and at 100 TB re-read the corpus text; the pin is 40 B/doc)
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .transform(graft.Materialize.pin)
    val minPer = fps.groupBy("fp").agg(min(col("doc_id")).as("__mn"))
    fps.join(minPer, "fp")
      .withColumn("keep", col("doc_id") === col("__mn"))
      .select("doc_id", "fp", "keep")
      .orderBy("doc_id")
  }

  /** dd14 — SOFT dedup: duplicate-count DOWNWEIGHTING instead of dropping.
    * Dropping all-but-one copy (dd01) loses the signal that a document was
    * popular enough to be mirrored; training pipelines that want to keep
    * one copy but counteract the over-representation weight each document
    * by 1/n over its exact-duplicate group (the sampling-weight view of
    * dedup). Downstream, `weight` is either a loss weight handed to the
    * trainer or a deterministic keep probability via the salted-bucket
    * machinery the sampling family uses (keep iff
    * `bucket(id) < weight·1000` — expected copies per duplicate group
    * = 1 at any group size, and the decision stays a document property).
    *
    * Scale shape: identical to dd01's economics — one map-side-combined
    * (fp, count) aggregate where a fingerprint duplicated 10⁶ times sends
    * one candidate per input partition, then an AQE-skew-handled join
    * attaches n back. No window over fp (a hot fingerprint group never
    * buffers in one task), document text never moves. */
  def dd14SoftDedup(spark: SparkSession, dir: String): DataFrame = {
    // pinned (r17): same two-consumer shape as dd01
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .transform(graft.Materialize.pin)
    val counts = fps.groupBy("fp").agg(count(lit(1)).as("n_dups"))
    fps.join(counts, "fp")
      .withColumn("weight", round(lit(1.0) / col("n_dups"), 4))
      .select("doc_id", "n_dups", "weight")
      .orderBy("doc_id")
  }

  /** Distinct n-grams hashed to int64 — all set operations downstream run
    * on fixed-width longs, not strings (cheaper movement, codegen-friendly
    * comparisons). Collision probability over |shingle vocab|² / 2⁶⁴ is
    * negligible at any realistic corpus. */
  private[operators] def hashedNgrams(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    ngrams(spark, dir, n).select(col("doc_id"), xxhash64(col("s")).as("hs"))

  private[operators] def hashedNgramsOf(docs: DataFrame, n: Int): DataFrame =
    ngramsOf(docs, n).select(col("doc_id"), xxhash64(col("s")).as("hs"))

  private def hashedShingles(spark: SparkSession, dir: String): DataFrame =
    hashedNgrams(spark, dir, 2)

  /** Each doc's shingle set as ONE sorted array<bigint> row. Intersections
    * are then a codegen'd two-pointer merge per pair
    * ([[graft.functions.ArrayIntersect]]) — no exploded join, no
    * Σ|A∩B|-row shuffle. */
  private def shingleSets(spark: SparkSession, dir: String): DataFrame =
    hashedShingles(spark, dir)
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("hs"))).as("set"))
      // consumed twice (streamed side + broadcast side of the pair join);
      // materialize once instead of replicating the shingle pipeline
      .transform(graft.Materialize.pin)

  /** Scored candidate pairs: size prefilter, then the codegen'd two-pointer
    * intersection. c ≤ min(|A|,|B|) implies J ≤ min/max, so pairs with
    * min/max < sizeRatioMin can never reach that Jaccard — the O(|A|+|B|)
    * merge is skipped for size-mismatched pairs at the cost of two
    * comparisons. Emits the raw Jaccard as `jraw`. */
  private def scoredPairs(pairs: DataFrame, sizeRatioMin: Double): DataFrame = {
    import graft.functions.ArrayIntersect.intersectCountAtLeast
    // early-exit intersection (r16): every consumer cuts at
    // jraw ≥ sizeRatioMin downstream, so the merge may abort with −1 the
    // moment a pair provably cannot reach that Jaccard — the kept-pair
    // set and every kept c/jraw value are bit-identical to the exhaustive
    // count (see ArrayIntersectAtLeastLong's exactness guard), while the
    // dominant non-matching pairs stop scanning at ~(1−J/(1+J))·|set|
    def intersectCount(a: Column, b: Column): Column =
      intersectCountAtLeast(a, b, sizeRatioMin)
    pairs
      .withColumn("na", size(col("seta")).cast("long"))
      .withColumn("nb", size(col("setb")).cast("long"))
      .where(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")) >= sizeRatioMin)
      .withColumn("c", intersectCount(col("seta"), col("setb")))
      .withColumn("jraw",
        col("c").cast("double") / (col("na") + col("nb") - col("c")))
  }

  /** Jaccard ≥ threshold (raw-value cut, oracle-parity for dd02/dd03). */
  private def jaccardOfPairs(pairs: DataFrame, threshold: Double): DataFrame =
    scoredPairs(pairs, threshold)
      .where(col("jraw") >= threshold)
      .select(col("ida"), col("idb"), round(col("jraw"), 3).as("jaccard"))
      .orderBy("ida", "idb")

  /** dd02 — n-gram Jaccard near-dup, exact: all pairs scored by the native
    * sorted-merge intersection. The doc-set side broadcasts (|docs|·|set|·8 B);
    * the pair loop is O(n²·set) primitive ops with zero shuffle. Quadratic by
    * nature — the exact baseline; dd03 is the sub-quadratic scale path. The
    * broadcast() hint is deliberate and stays: a corpus small enough to score
    * all-pairs is by definition small enough to broadcast; at scale use dd03,
    * whose candidate-attach joins carry no mandatory broadcast. */
  private def allPairs(spark: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(spark, dir)
    // repartition the STREAMED side: the doc corpus arrives as few parquet
    // splits, and a nested-loop pair join is only as parallel as the
    // streamed side's partition count
    val a = sets.select(col("doc_id").as("ida"), col("set").as("seta"))
      .repartition(spark.sparkContext.defaultParallelism * 8, col("ida"))
    val b = sets.select(col("doc_id").as("idb"), col("set").as("setb"))
    a.join(broadcast(b), col("ida") < col("idb"))
  }

  def dd02NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(spark, dir, 0.3)

  /** Library surface: exact all-pairs Jaccard at a caller-chosen threshold
    * (the declared query pins 0.3 for the oracle). */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    jaccardOfPairs(allPairs(spark, dir), threshold)

  /** Same exact arm over a caller-provided documents frame — the
    * subset/panel surface (dd19/dd20's recipe): a pair's Jaccard depends
    * on nothing outside the pair, so the exact ground truth on a
    * deterministic id panel is a valid per-pair certificate at any
    * corpus scale while the quadratic cost shrinks by the panel
    * fraction squared. Used by the r16 sf10 gate to certify dd02's
    * exact arm where the full 1.25e11-pair run is documented-infeasible
    * (measured: killed at 25 CPU-hours with no completion). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = ngramsOf(docs, 2)
      .select(col("doc_id"), xxhash64(col("s")).as("hs"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("hs"))).as("set"))
      .transform(graft.Materialize.pin)
    val a = sets.select(col("doc_id").as("ida"), col("set").as("seta"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 8,
        col("ida"))
    val b = sets.select(col("doc_id").as("idb"), col("set").as("setb"))
    jaccardOfPairs(a.join(broadcast(b), col("ida") < col("idb")), threshold)
  }

  /** Near-dup LOSERS at rounded Jaccard ≥ `roundedMin` — the curation-path
    * variant, routed through the MinHash-LSH banded candidates (the dd03
    * scale path) instead of the quadratic all-pairs join: at J ≥ 0.9 a
    * band of 2 collides with prob 0.81, so ≥1-of-8 bands ≈ 0.99997 per-pair
    * recall — and the md5-derived hash family is deterministic, so the
    * candidate set (and hence the result) is bit-identical to the oracle,
    * which computes the same banding. The size prefilter is pushed down to
    * the strict threshold (J ≥ 0.9 needs min/max ≥ 0.8995, so the −0.01
    * margin skips the merge for nearly every size-mismatched candidate), and
    * the final filter is on the ROUNDED value, matching the oracle's cut. */
  private[operators] def lshNearDupLosers(spark: SparkSession, dir: String,
      roundedMin: Double): DataFrame =
    scoredPairs(minhashCandidatePairs(spark, dir), roundedMin - 0.01)
      .where(round(col("jraw"), 3) >= roundedMin)
      .select(col("idb").as("doc_id")).distinct()

  /** MinHash-LSH candidate pairs with both shingle sets attached:
    * (ida, idb, seta, setb). Shingle → K min-wise hashes → band-bucket
    * equi-join; the banding join shuffles only (band, k1, k2, doc_id)
    * tuples — at 100 TB this is the formulation that survives; an inverted
    * index does not once document frequency grows. Shared by dd03 and the
    * curation pipeline's near-dup removal. */
  private def minhashCandidatePairs(spark: SparkSession, dir: String): DataFrame =
    minhashCandidatePairsOf(t(spark, dir, "documents"))

  /** Per-document MinHash state — (doc_id, sorted shingle set, m1..mK) —
    * materialized ONCE: the sig frame feeds the band join (both sides for
    * the self-join case) AND the set-attach joins — left as a pure plan
    * the whole shingle pipeline is replicated 4-8x (verified: 8 parquet
    * scans). Materialize.pin defaults to localCheckpoint (fast, not
    * recomputable after executor loss — right for this bounded
    * |docs|-row aggregate); spot-instance deployments flip
    * spark.graft.reliableCheckpoint=true. */
  private[graft] def minhashSigOf(docs: DataFrame): DataFrame = {
    val sh = ngramsOf(docs, 2)
    val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("hs"),
      (md5Long(col("s"), 15) % P).as("hm"))
    // one pass per doc: the sorted shingle set AND all K minhashes
    val sigCols = (1 to K).map { j =>
      val a = (j * 2654435761L) % P
      val b = (j * 40503L + 7) % P
      min((lit(a) * col("hm") + lit(b)) % P).as(s"m$j")
    }
    hashed.groupBy("doc_id")
      .agg(sort_array(collect_set(col("hs"))).as("set"), sigCols: _*)
      .transform(graft.Materialize.pin)
  }

  /** MAP-ONLY per-row MinHash signature — value-identical to
    * [[minhashSigOf]] (same word-bigram shingles, same md5→permutation
    * hash chain, same (a_j, b_j) constants, same sorted xxhash64 shingle
    * set) but computed entirely WITHIN each row: no explode, no groupBy,
    * no Materialize pin — the formulation a STREAMING frame can carry
    * through a stream-static candidate join. Appends `set` + m1..mK to
    * the input columns. Docs with < 2 tokens have an empty `set` and
    * NULL minhashes (array_min of empty) — callers filter them out; a
    * shingle-less doc cannot near-dup anything. Identity with the batch
    * signature is asserted in StreamingSpec (same docs → same sets,
    * same minhashes). */
  private[graft] def rowSigOf(docs: DataFrame): DataFrame = {
    import graft.operators.TextAnalysis.toks
    // native bigram builder (see ngramsOf): lambda-free on the hot path
    val grams = coalesce(graft.functions.NgramJoin.ngrams(toks, 2),
      array().cast("array<string>"))
    val sigCols = (1 to K).map { j =>
      val a = (j * 2654435761L) % P
      val b = (j * 40503L + 7) % P
      array_min(transform(col("__hm"),
        h => (lit(a) * h + lit(b)) % P)).as(s"m$j")
    }
    val keep = docs.columns.map(col).toSeq
    docs
      .withColumn("__g", array_distinct(grams))
      .withColumn("__hm", transform(col("__g"),
        s => graft.functions.Hashing.md5Long(s, 15) % P))
      .select(keep ++ Seq(sort_array(array_distinct(
        transform(col("__g"), s => xxhash64(s)))).as("set")) ++ sigCols: _*)
  }

  /** Band explode of a [[rowSigOf]]/[[minhashSigOf]] frame that CARRIES
    * caller columns (the streaming path needs `set` to ride along to the
    * verify join — a batch frame would just re-join it, a stream cannot
    * self-join). */
  private[graft] def rowBandsOf(sig: DataFrame,
      keep: Seq[String]): DataFrame = {
    val bandStructs = (0 until K / R).map { b =>
      struct(lit(b).as("band"), col(s"m${2 * b + 1}").as("k1"),
        col(s"m${2 * b + 2}").as("k2"))
    }
    sig.select(keep.map(col) :+
      explode(array(bandStructs: _*)).as("bd"): _*)
      .select(keep.map(col) :+ col("bd.band") :+ col("bd.k1") :+
        col("bd.k2"): _*)
  }

  /** Scored pair stream for the streaming alert path: candidates with
    * both sets attached → size-prefiltered exact Jaccard (the
    * [[scoredPairs]] machinery, exposed for graft.streaming). */
  private[graft] def scoredPairsOf(pairs: DataFrame,
      threshold: Double): DataFrame = scoredPairs(pairs, threshold)

  /** Banded LSH keys of a sig frame: (doc_id, band, k1, k2) — K/R rows
    * per document, the 32 B tuples that ARE the only thing the candidate
    * join shuffles. */
  private def bandsOfSig(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until K / R).map { b =>
      struct(lit(b).as("band"), col(s"m${2 * b + 1}").as("k1"),
        col(s"m${2 * b + 2}").as("k2"))
    }
    sig.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("bd.band"), col("bd.k1"), col("bd.k2"))
  }

  /** Distinct banded-collision id pairs (ida < idb) of a sig frame — the
    * raw candidate retrieval step, before any exact verification. Split
    * out so dd19's recall audit can measure THIS step alone. */
  private def candidateIdsOfSig(sig: DataFrame): DataFrame = {
    val bands = bandsOfSig(sig)
    bands.select(col("doc_id").as("ida"), col("band"), col("k1"), col("k2"))
      .join(bands.select(col("doc_id").as("idb"), col("band"), col("k1"), col("k2")),
        Seq("band", "k1", "k2"))
      .where(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
  }

  private def minhashCandidatePairsOf(docs: DataFrame): DataFrame = {
    val sig = minhashSigOf(docs)
    val cand = candidateIdsOfSig(sig)
    // Attach both shingle sets so callers can verify candidates exactly.
    // Deliberately NO broadcast() hint: `sets` is one row per DOCUMENT, so a
    // mandatory broadcast hard-fails at the 8 GB limit long before 100 TB.
    // As plain equi-joins AQE still broadcasts whichever side is actually
    // small at runtime (post-banding that's the candidate frame), and a
    // shuffle hash join handles the big case.
    val sets = sig.select(col("doc_id"), col("set"))
    cand
      .join(sets.select(col("doc_id").as("ida"), col("set").as("seta")),
        Seq("ida"))
      .join(sets.select(col("doc_id").as("idb"), col("set").as("setb")),
        Seq("idb"))
  }

  /** dd03 — MinHash+LSH near-dup: banded candidates, then exact-Jaccard
    * verification of the (tiny) candidate set only, via the native
    * sorted-merge intersection on the per-doc sets. */
  def dd03MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashNearDups(spark, dir, 0.3)

  /** Library surface: MinHash-LSH near-dup pairs at a caller-chosen
    * Jaccard threshold (the declared query pins 0.3 for the oracle).
    * Recall of the banded candidate step rises with the threshold — at
    * J ≥ 0.9 it is ≈ 0.99997 per pair (see lshNearDupLosers). */
  def minhashNearDups(spark: SparkSession, dir: String,
      threshold: Double): DataFrame =
    minhashNearDupsOf(t(spark, dir, "documents"), threshold)

  /** Generic library surface: MinHash-LSH near-dup pairs over ANY frame
    * bearing (doc_id, text) — the testdata entry points above are thin
    * wrappers over this. Same banding, same verified-candidates contract. */
  def minhashNearDupsOf(docs: DataFrame, threshold: Double): DataFrame =
    jaccardOfPairs(minhashCandidatePairsOf(docs), threshold)

  /** dd19 — LSH RECALL AUDIT: empirical per-Jaccard-decile recall of the
    * banded MinHash CANDIDATE step (dd03's sub-quadratic retrieval) against
    * the exact all-pairs ground truth (dd02's arm). This is the design
    * audit every banding deployment owes: the 8-bands-of-2 family's
    * theoretical catch probability 1−(1−J²)⁸ is ~0.53 at J=0.3 and
    * ~0.99997 at J=0.9, so a corpus deduped at a LOW threshold through
    * dd03 silently loses barely-similar pairs — this query MEASURES that
    * curve on the actual corpus instead of trusting the formula (ss17's
    * role, for the dedup ladder). Deciles are cut with INTEGER arithmetic
    * ((10·|A∩B|) div |A∪B|) so bucket boundaries cannot drift between
    * engines, and recall is an ExactPresent.roundDiv.
    *
    * Scale stance: the exact arm is dd02's quadratic all-pairs BY DESIGN —
    * ground truth has no sub-quadratic shortcut. At 100 TB the audit runs
    * on a sampled panel (feed `lshRecallAuditOf` a sp01-style deterministic
    * sample); the LSH arm it grades is the full-corpus-shaped plan either
    * way. Output is ≤ 8 rows (deciles 3..10 at the 0.3 threshold). */
  def dd19LshRecallAudit(spark: SparkSession, dir: String): DataFrame =
    lshRecallAuditOf(t(spark, dir, "documents"), 0.3)

  /** dd20 — the SAMPLED-PANEL edition of dd19: the audit's scale path.
    * The exact ground-truth arm is restricted to pairs whose BOTH
    * endpoints fall in a deterministic salted-md5 panel (sp01's split
    * rule, `perMille`/1000 of the corpus), so its cost is
    * (perMille/1000)²·N² — at 100 TB pick a panel of ~10⁶ docs and the
    * exact arm is a bounded broadcast join while the LSH arm under audit
    * stays the FULL-corpus banded plan, identical in shape to the dd03
    * production path it grades. Per-decile recall over panel pairs is an
    * unbiased estimate of corpus recall (the panel rule is independent
    * of content; each qualifying pair is sampled with probability
    * (perMille/1000)²). perMille=500 at the declared scale keeps every
    * decile populated; the estimator, not the constant, is the point. */
  def dd20LshRecallSampled(spark: SparkSession, dir: String): DataFrame =
    lshRecallAuditSampled(t(spark, dir, "documents"), 0.3, 500)

  /** Generic library surface: the LSH recall audit over ANY (doc_id, text)
    * frame at a caller-chosen ground-truth Jaccard threshold. */
  def lshRecallAuditOf(docs: DataFrame, threshold: Double): DataFrame =
    lshRecallAudit(docs, threshold, panelPerMille = None)

  /** [[lshRecallAuditOf]] with the exact arm confined to a deterministic
    * hash panel — the executable form of dd19's "sample the panel at
    * scale" scaladoc. The LSH candidate arm still runs over the FULL
    * corpus. */
  def lshRecallAuditSampled(docs: DataFrame, threshold: Double,
      perMille: Int): DataFrame = {
    require(perMille >= 1 && perMille <= 1000, s"perMille: $perMille")
    lshRecallAudit(docs, threshold, Some(perMille))
  }

  private def inPanel(id: Column, perMille: Int): Column =
    (graft.functions.Hashing.md5Long(
      concat(lit("ddpanel:"), id.cast("string")), 15) % 1000) < perMille

  private def lshRecallAudit(docs: DataFrame, threshold: Double,
      panelPerMille: Option[Int]): DataFrame = {
    // ONE signature scan feeds three consumers (both sides of the exact
    // pair join + the banded candidate arm); minhashSigOf already pins
    // internally (it ends with .transform(Materialize.pin)), which
    // satisfies the multi-consumer rule — wrapping it again would
    // localCheckpoint the heaviest intermediate twice.
    val sig = minhashSigOf(docs)
    val panel = sig.select(col("doc_id"), col("set"))
    val sets = panelPerMille.fold(panel)(pm =>
      panel.where(inPanel(col("doc_id"), pm)))
    val a = sets.select(col("doc_id").as("ida"), col("set").as("seta"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 8,
        col("ida"))
    val b = sets.select(col("doc_id").as("idb"), col("set").as("setb"))
    val exact = scoredPairs(a.join(broadcast(b), col("ida") < col("idb")),
        threshold)
      .where(col("jraw") >= threshold)
    // full-corpus banding either way (the plan under audit); with a
    // panel, prune the probe side to panel pairs by EXPRESSION (no join —
    // the left join below would drop non-panel candidates anyway, this
    // just keeps them out of the shuffle)
    val caughtAll = candidateIdsOfSig(sig)
    val caught = panelPerMille.fold(caughtAll)(pm =>
        caughtAll.where(inPanel(col("ida"), pm) && inPanel(col("idb"), pm)))
      .withColumn("hit", lit(1L))
    exact.join(caught, Seq("ida", "idb"), "left")
      .withColumn("bucket", expr("(10 * c) div (na + nb - c)").cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .withColumn("recall",
        ExactPresent.roundDiv(col("n_caught"), col("n_exact"), 3))
      .orderBy("bucket")
  }

  /** dd07 — passage-level exact dedup (the boilerplate-removal shape:
    * repeated headers/footers/templates recur across documents even when
    * whole documents differ). Each document's token stream is split into
    * non-overlapping `passageTokens`-token passages — a map-only
    * slice/array_join over the token array, no shuffle — and a passage
    * instance counts as duplicated when its text occurs anywhere else in
    * the corpus (≥ 2 occurrences corpus-wide). One shuffle on the 64-bit
    * passage hash to count occurrences (map-side combined), one join back
    * on the same hash; the document text never crosses the wire. */
  def dd07PassageDedup(spark: SparkSession, dir: String): DataFrame =
    passageDedup(spark, dir, passageTokens = 20)

  /** Library surface: passage dedup at a caller-chosen passage length (the
    * declared query pins 20 tokens for the oracle). */
  def passageDedup(spark: SparkSession, dir: String,
      passageTokens: Int): DataFrame =
    passageDedupOf(t(spark, dir, "documents"), passageTokens)

  /** Generic library surface: passage dedup over ANY (doc_id, text)
    * frame. */
  /** Non-overlapping `p`-token passages of the token array `ws` — the ONE
    * chunking definition dd07 (detection) and dd15 (removal) share, so
    * "duplicated passage" and "removed passage" can never disagree.
    * The empty-token-array guard matters: sequence(0, -1) auto-infers step
    * −1 and yields [0, −1] — two phantom passages where the oracle's
    * range(0, 0) yields none. Unreachable through the declared queries
    * (split(trim(text)) is never empty) but live for the library surface. */
  private[operators] def passageChunks(p: Int): Column =
    when(size(col("ws")) >= 1, transform(
      sequence(lit(0), expr(s"(size(ws) + ${p - 1}) div $p") - 1),
      c => array_join(slice(col("ws"), c * p + 1, lit(p)), " ")))
      .otherwise(array())

  def passageDedupOf(docs: DataFrame, passageTokens: Int): DataFrame = {
    require(passageTokens >= 1, s"passageTokens: $passageTokens")
    val chunks = passageChunks(passageTokens)
    // the shuffle key is the passage's 64-bit HASH, not the passage string
    // — the count groupBy and the occurrence join then move 16 B rows
    // instead of ~20-token text (passages cover ~the whole corpus, so a
    // string-keyed shuffle would move the corpus twice). Same collision
    // stance as hashedShingles: |distinct passages|²/2⁶⁴ is negligible,
    // and the hash is engine-internal (outputs carry only counts).
    val passages = docs
      .select(col("doc_id"), TextAnalysis.toks.as("ws"))
      .select(col("doc_id"), explode(chunks).as("passage"))
      .select(col("doc_id"), xxhash64(col("passage")).as("ph"))
      // pinned (r17): occurrence count + join both read this; unpinned,
      // the tokenize+chunk pass ran twice (16 B/passage pin, text-free)
      .transform(graft.Materialize.pin)
    val counts = passages.groupBy("ph").agg(count(lit(1)).as("occ"))
    passages.join(counts, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_passages"))
      .orderBy("doc_id")
  }

  /** dd15 — duplicate-passage REMOVAL: the ACTION step after dd07's
    * detection. Each repeated passage survives exactly once corpus-wide —
    * at its canonical occurrence, the (doc_id, idx)-least one — and every
    * other copy is cut from its document's rebuilt text (the repeated-
    * boilerplate scrub C4-style pipelines run, made deterministic: which
    * copy survives is a pure data property, so retries and engines agree).
    * Within-document repeats collapse to the first occurrence by the same
    * rule. Documents reduced to nothing report clean_text = NULL.
    *
    * Scale shape: every shuffle keyed by the passage HASH is text-free —
    * the arbitration pipeline moves only (doc_id, idx, ph) 24 B rows: one
    * map-side-combined MIN for the canonical occurrence, one hash-join
    * back for the kept flags, one doc_id regroup of bare indices. Passage
    * TEXT crosses the wire exactly once, in the final doc_id-keyed
    * re-attach join, whose group size is the DOCUMENT (bounded by
    * construction), not the passage's corpus-wide occurrence count — a
    * million-fold boilerplate passage shuffles a million 24 B keys but
    * its text travels once per retaining document. (The round-8 shape
    * carried the passage string through the ph-join; at corpus scale the
    * canonical side is not broadcastable — distinct passages ≈ corpus —
    * so the sort-merge join shuffled the whole corpus text by hash,
    * doubling the wire bill. PlanAuditSpec now pins the text-free
    * invariant: no string column below any ph-keyed exchange.)
    * Canonical selection is a MIN over struct(doc_id, idx) —
    * lexicographic, exact at ANY doc_id/idx range; no packed-key
    * arithmetic, no overflow bound (the round-8 doc_id·2²⁰+idx packing
    * silently wrapped negative past doc_id ≥ 2⁴³ — the advisor's ScaleUp
    * replica finding). Hash-collision stance matches dd07: a 64-bit
    * collision could mis-cut one passage; |distinct passages|²/2⁶⁴ is
    * negligible and the declared oracle agrees on the fixture by
    * construction. */
  def dd15PassageScrub(spark: SparkSession, dir: String): DataFrame =
    passageScrubOf(t(spark, dir, "documents"), passageTokens = 20)

  /** Library surface: passage scrub over ANY (doc_id, text) frame at a
    * caller-chosen passage length (the declared query pins 20). */
  def passageScrubOf(docs: DataFrame, passageTokens: Int): DataFrame = {
    require(passageTokens >= 1, s"passageTokens: $passageTokens")
    // per-document passage ARRAY, computed once as the chunking source of
    // truth for both the text-free arbitration and the text re-attach
    val chunked = docs
      .select(col("doc_id"), TextAnalysis.toks.as("ws"))
      .select(col("doc_id"), passageChunks(passageTokens).as("ps"))
    // text-free arbitration: hash each passage IN PLACE (inside the
    // array, before any explode), then carry only (doc_id, idx, ph)
    val keyed = chunked
      .select(col("doc_id"),
        posexplode(transform(col("ps"), p => xxhash64(p)))
          .as(Seq("idx", "ph")))
      // pinned (r17): canonical-occurrence MIN and the kept join both
      // read this 24 B/passage frame; the text-bearing `chunked` above
      // stays lazy (a corpus-text pin is the wrong trade — see
      // writeNearDupLedger's stance)
      .transform(graft.Materialize.pin)
    val canon = keyed.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("idx"))).as("canon"))
    val kept = keyed.join(canon, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_passages"),
        sum(when(struct(col("doc_id"), col("idx")) === col("canon"), 1L)
          .otherwise(0L)).as("n_kept"),
        sort_array(collect_list(
          when(struct(col("doc_id"), col("idx")) === col("canon"),
            col("idx")))).as("__kept_idx"))
    // the ONE place text moves: a doc_id-keyed equi-join re-attaching the
    // per-document passage array to its kept indices (both sides already
    // doc-grained — group size is the document)
    kept.join(chunked, "doc_id")
      .select(col("doc_id"), col("n_passages"), col("n_kept"),
        when(size(col("__kept_idx")) > 0, array_join(
          transform(col("__kept_idx"),
            i => element_at(col("ps"), i + 1)), " "))
          .as("clean_text"))
      .orderBy("doc_id")
  }

  /** dd09 — duplicated-SPAN detection at stride 1 (the exact-substring
    * dedup shape: a duplicated run of ≥ w tokens is flagged wherever it
    * starts, not only when it lands on a passage boundary — the
    * alignment-free sibling of dd07, which a copied paragraph straddling
    * two chunks slips past). Every w-token sliding window of every
    * document is hashed — a map-only transform over the token array, w×
    * the token count in 8 B hashes, no text — then one map-side-combined
    * count shuffle on the 64-bit window hash and one join back. A window
    * instance is duplicated when its text occurs anywhere else in the
    * corpus (within-document repeats included, matching the oracle).
    * Documents shorter than w have zero windows and are reported with
    * zero counts (left join), not dropped. Scale note: the blow-up factor
    * vs dd07 is exactly w (every token starts a window instead of every
    * w-th) — this is the honest cost of alignment-free detection and it
    * rides the cheapest possible shape: 16 B (hash, id) rows, map-side
    * combined. The suffix-array formulation trades that w× for sort
    * passes; at w ≈ 20–50 the hashed-window pipeline shuffles less than
    * the corpus-wide suffix sort and needs no custom operator. */
  def dd09DuplicateSpans(spark: SparkSession, dir: String): DataFrame =
    duplicateSpans(spark, dir, windowTokens = 20)

  /** Library surface: duplicated-span detection at a caller-chosen window
    * width (the declared query pins 20 tokens for the oracle). */
  def duplicateSpans(spark: SparkSession, dir: String,
      windowTokens: Int): DataFrame =
    duplicateSpansOf(t(spark, dir, "documents"), windowTokens)

  /** Generic library surface: duplicated-span detection over ANY
    * (doc_id, text) frame. */
  def duplicateSpansOf(docs: DataFrame, windowTokens: Int): DataFrame = {
    require(windowTokens >= 1, s"windowTokens: $windowTokens")
    val w = windowTokens
    val wins = when(size(col("ws")) >= w, transform(
      sequence(lit(1), size(col("ws")) - (w - 1)),
      i => xxhash64(array_join(slice(col("ws"), i, lit(w)), " "))))
      .otherwise(array().cast("array<bigint>"))
    val spans = docs
      .select(col("doc_id"), TextAnalysis.toks.as("ws"))
      .select(col("doc_id"), explode(wins).as("wh"))
    val counts = spans.groupBy("wh").agg(count(lit(1)).as("occ"))
    val agg = spans.join(counts, "wh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"))
      .orderBy("doc_id")
  }

  /** Lead fingerprint: md5 of the first `n` whitespace tokens — the
    * header/lead-paragraph dedup key (mirrored articles, templated pages
    * and syndicated copies share their lead long before they share the
    * whole body). */
  private def leadFingerprint(n: Int): Column =
    md5(array_join(slice(TextAnalysis.toks, 1, n), " "))

  /** dd08 — INCREMENTAL ingest dedup: the nightly-batch shape. A corpus
    * that already exists is never re-deduped wholesale; each incoming
    * batch is admitted iff (a) its key is unseen in the historical
    * fingerprint table AND (b) it is the first holder of that key within
    * the batch itself. The declared query splits the fixture by doc_id
    * parity (evens = historical corpus, odds = tonight's batch) and keys
    * on the lead-10-token fingerprint.
    *
    * Scale shape: only (fp, doc_id) pairs move — the historical side is
    * billions of 24 B rows joined on fp (shuffle hash join), the incoming
    * batch is small, and the text of either side never crosses the wire.
    * Store the historical fingerprint table bucketed on fp
    * ([[graft.sources.Sink.writeBucketed]]) and the nightly join does not
    * even shuffle the big side. */
  def dd08IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), leadFingerprint(10).as("fp"))
    incrementalAdmit(fps.where(col("doc_id") % 2 === 0),
      fps.where(col("doc_id") % 2 === 1))
      .orderBy("doc_id")
  }

  /** Library surface: admit `incoming` (doc_id, fp) rows against an
    * `existing` frame bearing an fp column — admitted = unseen-in-existing
    * ∧ first-in-batch. First-in-batch is min-per-group + join back (the
    * dd01 rationale: no unbounded window over a hot fingerprint). A null
    * fp means "no computable key": such rows are ADMITTED verbatim (dedup
    * cannot claim they duplicate anything) and are never recorded as
    * seen — every join below is null-safe precisely so they surface in
    * the output instead of silently vanishing from an equi-join. */
  def incrementalAdmit(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val clash = incoming.columns.intersect(Seq("__seen", "__mn", "__fpm"))
    require(clash.isEmpty,
      s"incrementalAdmit reserves internal columns __seen, __mn, __fpm; " +
        s"rename input columns: ${clash.mkString(", ")}")
    val seen = existing.select(col("fp")).where(col("fp").isNotNull)
      .distinct().withColumn("__seen", lit(true))
    val minPer = incoming.groupBy("fp").agg(min(col("doc_id")).as("__mn"))
      .withColumnRenamed("fp", "__fpm")
    incoming.join(seen, Seq("fp"), "left")
      .join(minPer, col("fp") <=> col("__fpm"))
      .select(col("doc_id"), col("fp"),
        (col("fp").isNull ||
          (col("__seen").isNull && col("doc_id") === col("__mn")))
          .as("admitted"))
  }

  /** dd16 — incremental NEAR-dup admission: the ongoing-crawl sibling of
    * dd08, closing the family's gap — dd08/dd10 admit on exact
    * fingerprints, so a re-crawl that changed one sentence sails through;
    * this admits a batch document only if NO ledger document is Jaccard-
    * near it. Candidates come from the SAME banded MinHash-LSH tables as
    * dd03, but joined ACROSS frames (batch bands ⋈ ledger bands) instead
    * of self-joined, and only candidates are verified exactly — identical
    * recall math (at J ≥ 0.9, ≥1-of-8 band collision ≈ 0.99997/pair;
    * deterministic md5-family hashes make the candidate set — and hence
    * the oracle — bit-exact).
    *
    * Scale shape: each nightly batch moves its own band tuples (K/R · 32 B
    * per doc) against a ledger whose band table is PRECOMPUTED and stored
    * bucketed on (band, k1, k2) ([[graft.sources.Sink.writeBucketed]]) —
    * the nightly join then shuffles only the batch side, exactly dd10's
    * economics transposed to near-dup keys. Exact verification touches
    * candidates only; neither side's text ever moves (shingle SETS move
    * for candidates — bounded by candidate volume, not corpus). The
    * declared query splits the fixture by doc_id parity (evens = ledger,
    * odds = tonight's batch) and reports per batch doc: its band-collision
    * candidate count and the admission verdict. */
  def dd16NearDupAdmit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    nearDupAdmitOf(docs.where(col("doc_id") % 2 === 1),
      docs.where(col("doc_id") % 2 === 0), threshold = 0.3)
      .orderBy("doc_id")
  }

  /** Library surface: near-dup admission of `batch` against `ledger` at a
    * caller-chosen Jaccard threshold (the declared query pins 0.3).
    * Output: one row per batch document — (doc_id, n_candidates,
    * admitted); `n_candidates` counts distinct ledger documents sharing
    * ≥1 LSH band (the exact-verification workload this batch paid), and
    * `admitted` is false iff some candidate verified at J ≥ threshold. */
  def nearDupAdmitOf(batch: DataFrame, ledger: DataFrame,
      threshold: Double): DataFrame = {
    val sigL = minhashSigOf(ledger)
    admitAgainst(batch, bandsOfSig(sigL),
      sigL.select(col("doc_id"), col("set")), threshold)
  }

  /** The admission core shared by the recompute path ([[nearDupAdmitOf]])
    * and the persistent-ledger path ([[nearDupAdmitAgainstLedger]]): only
    * where the LEDGER's band/set frames come from differs. */
  private def admitAgainst(batch: DataFrame, ledgerBands: DataFrame,
      ledgerSets: DataFrame, threshold: Double): DataFrame = {
    // the BATCH side signs IN ROW ([[rowSigOf]] — value-identical to
    // minhashSigOf, PropertiesSpec-pinned): map-only, so the nightly
    // batch pays no shingle explode+groupBy shuffle AND no Materialize
    // pin survives the call (the groupBy signature's pin was a leak per
    // nightly admission — the result frame kept it reachable but no
    // caller could release it). The ledger side stays the persisted /
    // groupBy signature — that is the side with reuse to amortize.
    // Shingle-less docs carry empty sets + null minhashes: their band
    // rows can't equi-join (null keys), so they admit with 0 candidates,
    // exactly as minhashSigOf's dropped-row behavior admitted them.
    val sigB = rowSigOf(batch)
      .select((Seq("doc_id", "set") ++ (1 to K).map(i => s"m$i"))
        .map(col): _*)
    val cand = bandsOfSig(sigB)
      .select(col("doc_id").as("ida"), col("band"), col("k1"), col("k2"))
      .join(ledgerBands
        .select(col("doc_id").as("idb"), col("band"), col("k1"), col("k2")),
        Seq("band", "k1", "k2"))
      .select("ida", "idb").distinct()
    // attach both shingle sets — candidates only; same no-broadcast-hint
    // stance as the self-join path (AQE picks the actually-small side)
    val pairs = cand
      .join(sigB.select(col("doc_id").as("ida"), col("set").as("seta")),
        Seq("ida"))
      .join(ledgerSets.select(col("doc_id").as("idb"), col("set").as("setb")),
        Seq("idb"))
    val hit = scoredPairs(pairs, threshold)
      .where(col("jraw") >= threshold)
      .select(col("ida")).distinct().withColumn("__hit", lit(true))
    val nc = cand.groupBy("ida").agg(count(lit(1)).as("n_candidates"))
    batch.select(col("doc_id"))
      .join(nc.withColumnRenamed("ida", "doc_id"), Seq("doc_id"), "left")
      .join(hit.withColumnRenamed("ida", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("__hit").isNull.as("admitted"))
  }

  /** Persist a ledger's MinHash state so nightly admissions never
    * recompute (or reshuffle) the corpus side: two bucketed tables —
    * `<name>_bands` bucketed on the (band, k1, k2) join key, so the
    * candidate join reads the ledger PRE-BUCKETED with zero Exchange and
    * shuffles only tonight's batch into the same bucketing (asserted in
    * PipelinesSpec), and `<name>_sets` bucketed on doc_id for the
    * exact-verify set attach. This is the dd16 scaladoc's scale claim
    * made executable — the persistent-index pattern the IVF family uses
    * (Similarity.scala), applied to the dedup ledger. Rebuild =
    * overwrite; grow-the-ledger = append admitted batches via a rerun or
    * an incremental insertInto with the same bucketing. */
  def writeNearDupLedger(docs: DataFrame, name: String,
      buckets: Int = 32): Unit = graft.Materialize.scoped {
    val sig = minhashSigOf(docs)
    graft.sources.Sink.writeBucketed(bandsOfSig(sig), s"${name}_bands",
      buckets, bucketCols = Seq("band", "k1", "k2"))
    graft.sources.Sink.writeBucketed(
      sig.select(col("doc_id"), col("set")), s"${name}_sets",
      buckets, bucketCols = Seq("doc_id"))
  }

  /** GROW a [[writeNearDupLedger]] ledger with a night's admitted docs:
    * append their band and set rows into the same bucketing, so
    * tomorrow's admission join still reads the ledger pre-bucketed with
    * zero Exchange. This is the lifecycle step between nightly runs —
    * without it the ledger is frozen at bootstrap and a near-dup of LAST
    * night's admission sails through tonight.
    *
    * The bucket count is read from the EXISTING table's catalog entry,
    * not taken as a parameter: a ledger bootstrapped with any bucket
    * count grows correctly forever, instead of a hard-coded default
    * tripping Spark's bucket-spec mismatch check on every append to a
    * non-default ledger (the r10 advisor finding). */
  def growNearDupLedger(docs: DataFrame, name: String): Unit =
      graft.Materialize.scoped {
    val spark = docs.sparkSession
    val buckets = spark.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_bands"))
      .bucketSpec.map(_.numBuckets)
      .getOrElse(throw new IllegalStateException(
        s"growNearDupLedger: table ${name}_bands exists but carries no " +
          "bucket spec — it was not written by writeNearDupLedger"))
    val sig = minhashSigOf(docs)
    graft.sources.Sink.writeBucketed(bandsOfSig(sig), s"${name}_bands",
      buckets, bucketCols = Seq("band", "k1", "k2"), mode = "append")
    graft.sources.Sink.writeBucketed(
      sig.select(col("doc_id"), col("set")), s"${name}_sets",
      buckets, bucketCols = Seq("doc_id"), mode = "append")
  }

  /** Near-dup admission against a [[writeNearDupLedger]] ledger — result
    * is row-identical to [[nearDupAdmitOf]] on the same corpus (asserted
    * in PipelinesSpec); only the ledger's cost disappears. */
  def nearDupAdmitAgainstLedger(spark: SparkSession, batch: DataFrame,
      name: String, threshold: Double): DataFrame =
    admitAgainst(batch, spark.table(s"${name}_bands"),
      spark.table(s"${name}_sets"), threshold)

  /** dd10 — BLOOM-accelerated incremental admission: same semantics as
    * dd08 (admitted = unseen-in-ledger ∧ first-in-batch), different ledger
    * cost model. dd08's join touches every ledger (fp, id) row; at 100 TB
    * the ledger side is billions of rows shuffled (or bucket-joined) for a
    * nightly batch of millions. Here the NIGHTLY BATCH's fingerprint keys
    * are folded into a Bloom filter (a few MB for millions of keys at 1%
    * fpp — the SMALL side, by nightly construction), the filter rides the
    * ledger scan as a codegen'd predicate, and only ledger rows that might
    * collide with tonight's keys survive to the exact join — the ledger
    * contribution drops from |ledger| joined rows to |batch ∩ ledger| +
    * fpp·|ledger| scanned-and-dropped rows, with no shuffle of the misses.
    * False positives are killed by the exact join; no false negatives
    * exist, so the result is IDENTICAL to [[incrementalAdmit]] — asserted
    * row-for-row in PipelinesSpec, and the declared query shares dd08's
    * oracle. */
  def dd10BloomAdmit(spark: SparkSession, dir: String): DataFrame = {
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), leadFingerprint(10).as("fp"))
    bloomAdmit(fps.where(col("doc_id") % 2 === 0),
      fps.where(col("doc_id") % 2 === 1))
      .orderBy("doc_id")
  }

  /** Library surface: [[incrementalAdmit]] with a Bloom pre-filter on the
    * `existing` ledger. The filter is built over `incoming`'s 60-bit md5
    * fingerprint keys with one distributed fold (`treeAggregate` — bit
    * sets OR together, so the filter is order- and partition-independent);
    * `expectedItems < 0` sizes it from a count of the incoming side (one
    * cheap extra job on the small side — pass the known batch size to skip
    * it). Null-fp rows keep dd08's contract: admitted verbatim, never
    * recorded as seen, and never consulted against the filter. */
  def bloomAdmit(existing: DataFrame, incoming: DataFrame,
      fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val spark = incoming.sparkSession
    import spark.implicits._
    val key = graft.functions.Hashing.md5Long(col("fp"), 15)
    val keys = incoming.where(col("fp").isNotNull).select(key.as("k"))
    val n = if (expectedItems >= 0) expectedItems else keys.count()
    val bf = keys.as[Long].rdd.treeAggregate(
      BloomFilter.create(math.max(n, 1L), fpp))(
      (f, v) => { f.putLong(v); f }, (a, b) => { a.mergeInPlace(b); a })
    val pruned = existing.where(col("fp").isNotNull &&
      graft.functions.BloomMightContain.mightContainLong(key, bf))
    incrementalAdmit(pruned, incoming)
  }

  /** dd11 — WINNOWING fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): hash every k-token gram positionally,
    * slide a w-hash window over the stream, keep each window's MINIMUM,
    * and the distinct kept hashes are the document's sketch. The
    * winnowing GUARANTEE — the reason this beats sampling every j-th
    * gram — is that ANY shared token run of ≥ w+k−1 tokens between two
    * documents yields ≥ 1 shared fingerprint, at a sketch density of
    * ~2/(w+1) of the gram stream. In the dedup family this is the
    * CONTAINMENT detector: t04 (one hash) catches identical documents,
    * dd03 (MinHash) catches high whole-document set similarity, dd09
    * catches spans at full w× gram cost — winnowing catches a copied
    * paragraph inside an otherwise-different document at a fraction of
    * dd09's emission volume, with a provable no-miss floor.
    *
    * Scale shape: map-only — two per-row array transforms, no explode of
    * the gram stream, no shuffle at all before the final (doc_id, fp)
    * emission, which is dd01's 16 B-row join economics thinned to
    * ~2/(w+1) density. The lambda pipeline evaluates interpretively
    * (outside codegen) — the honest price of zero shuffle; work is a few
    * hash+min ops per token, scan-bound in practice. Docs shorter than k
    * tokens have no grams and emit nothing; docs with 1..w−1 grams emit
    * the minimum of what they have (one truncated window), so every doc
    * with ≥ k tokens stays sketchable. */
  def dd11Winnow(spark: SparkSession, dir: String): DataFrame =
    winnowOf(t(spark, dir, "documents"), k = 3, w = 4)
      .orderBy("doc_id", "fp")

  /** Generic Of-surface: winnowing sketch over ANY (id, text) frame (the
    * declared query pins k=3/w=4 for the oracle). Emits one row per
    * distinct kept fingerprint: (id, fp). */
  def winnowOf(docs: DataFrame, k: Int, w: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1, s"k: $k")
    require(w >= 1, s"w: $w")
    val ws = split(lower(trim(col(textCol))), "\\s+")
    // The token and gram-hash arrays are BOUND AS LAMBDA VARIABLES via
    // single-element transform(array(…)) instead of withColumn aliases:
    // CollapseProject inlines an aliased expression into every use site,
    // so the window-min lambda (which reads the gram array per window)
    // would re-evaluate the whole O(tokens) md5 pass per WINDOW —
    // O(tokens²) md5s per row, measured 270 s at sf0.1. A lambda variable
    // is evaluated once and referenced cheaply: same plan shape, ~2 s.
    val fps = element_at(transform(array(ws), tok => {
      val grams = when(size(tok) >= k,
        transform(sequence(lit(1), size(tok) - (k - 1)),
          i => md5Long(array_join(slice(tok, i, lit(k)), " "), 15)))
        .otherwise(array().cast("array<bigint>"))
      // one window per position; fewer than w hashes → ONE truncated
      // window (slice clamps at the end); greatest(…, 1) keeps the
      // sequence ascending for the m < w case
      element_at(transform(array(grams), hs =>
        when(size(hs) >= 1,
          array_distinct(transform(
            sequence(lit(1), greatest(size(hs) - (w - 1), lit(1))),
            j => array_min(slice(hs, j, lit(w))))))
          .otherwise(hs)), 1)
    }), 1)
    docs.select(col(idCol), explode(fps).as("fp"))
  }

  /** dd12 — winnowing CONTAINMENT pairs: documents sharing ≥ `minShared`
    * winnow fingerprints (dd11's sketch, joined with itself). By the
    * winnowing guarantee, any two documents sharing a token run of
    * ≥ w+k−1 tokens appear here — the copied-paragraph / quote-chain /
    * syndication detector, where whole-document similarity (dd03) is low
    * and exact fingerprints (dd01) are blind. `n_shared` grades the
    * overlap: boilerplate pairs score low, substantial containment high.
    *
    * Scale shape: the sketch build is dd11's map-only pass; the pair
    * generation is a fingerprint-bucket self-join routed through
    * [[Skew.selfPairs]] — a boilerplate fingerprint shared by a million
    * documents is a hot KEY whose n² pair volume would otherwise land in
    * one task; salting bounds per-task groups with a provably identical
    * pair set. Shared-count aggregation is map-side combined on (ida,
    * idb). Nothing quadratic in the corpus exists: pair volume is
    * Σ_fp n_fp², the same Σ n_b² economics as every banded candidate
    * generator here. */
  def dd12WinnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOf(t(spark, dir, "documents"), k = 3, w = 4, minShared = 2)
      .orderBy("ida", "idb")

  /** Generic Of-surface: winnow-containment pairs over ANY (id, text)
    * frame (the declared query pins k=3/w=4/minShared=2). Emits
    * (ida, idb, n_shared) with ida < idb. */
  def winnowPairsOf(docs: DataFrame, k: Int, w: Int, minShared: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    winnowPairsOfSketch(winnowOf(docs, k, w, idCol, textCol), minShared,
      idCol)

  /** Pair mining over an ALREADY-BUILT winnow sketch — split out (r17) so
    * containment (dd17), which also needs per-doc sketch sizes, can build
    * the sketch ONCE instead of running the O(tokens·w) md5 pass twice. */
  private def winnowPairsOfSketch(fps: DataFrame, minShared: Long,
      idCol: String): DataFrame = {
    require(minShared >= 1, s"minShared: $minShared")
    Skew.selfPairs(fps, Seq("fp"), idCol, maxGroup = 4096)
      .select(col(s"a.$idCol").as("ida"), col(s"b.$idCol").as("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** dd17 — CONTAINMENT pairs: the ASYMMETRIC relation Jaccard misses.
    * A 50-token quote pasted into a 5000-token article has Jaccard ≈ 0.01
    * — invisible to dd03/dd05 at any sane threshold — but containment
    * |sketch(A) ∩ sketch(B)| / |sketch(smaller)| ≈ 1: the "document A
    * lives inside document B" signal (quote farms, scraped-article
    * wrappers, doc-in-doc aggregators). Built on the winnowing sketches:
    * a standalone document that appears verbatim inside a larger one
    * selects the IDENTICAL window minima for every window interior to the
    * shared run (Schleimer's guarantee), so true containment scores
    * exactly 1.0 — asserted on planted docs — and boilerplate overlap
    * scores low because it shares runs, not the whole sketch.
    *
    * Scale shape: dd12's banded pair economics unchanged (salted sketch
    * self-join, map-side-combined shared counts), plus one doc-count-sized
    * sketch-size frame attached BY ID — hint-free equi-joins, AQE
    * broadcasts the post-banding pair side while it is small. */
  def dd17Containment(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOf(t(spark, dir, "documents"), k = 3, w = 4,
      minShared = 2, minContainment = 0.25)
      .orderBy("ida", "idb")

  /** Library surface: containment-scored pairs over ANY (id, text) frame
    * (the declared query pins k=3/w=4/minShared=2/minContainment=0.25).
    * Emits (ida < idb, n_a, n_b, n_shared, containment) where containment
    * = n_shared / min(n_a, n_b) — 1.0 means the smaller sketch is wholly
    * inside the larger. */
  def containmentPairsOf(docs: DataFrame, k: Int, w: Int, minShared: Long,
      minContainment: Double, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minContainment >= 0.0 && minContainment <= 1.0,
      s"minContainment: $minContainment")
    // ONE sketch build feeds both the size frame and the pair miner (r17:
    // the old shape called winnowOf twice — the dominant per-row md5 pass
    // ran once per consumer). Pinned because the two consumers would
    // otherwise still replicate the pass; Skew.selfPairs' internal packed
    // pin then reads these blocks instead of recomputing.
    val fps = winnowOf(docs, k, w, idCol, textCol)
      .transform(graft.Materialize.pin)
    val sizes = fps.groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    winnowPairsOfSketch(fps, minShared, idCol)
      .join(sizes.select(col(idCol).as("ida"), col("__n").as("n_a")), "ida")
      .join(sizes.select(col(idCol).as("idb"), col("__n").as("n_b")), "idb")
      .withColumn("containment", round(
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 3))
      .where(col("containment") >= minContainment)
      .select("ida", "idb", "n_a", "n_b", "n_shared", "containment")
  }

  /** Per-doc 60-bit SimHash signature frame: (doc_id, simhash). 60 bits =
    * 15 md5 hex chars — the widest md5 prefix that stays positive in an
    * int64 in every engine; production-strength discrimination (a 32-bit
    * signature admits ~20% of all pairs as candidates at this corpus size;
    * 60 bits admits ~the true-positive rate). */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame = {
    // per-doc distinct tokens via map-only array_distinct — NOT an exploded
    // .distinct(), which would full-shuffle every token occurrence (same
    // rationale as shingles() above)
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(TextAnalysis.toks)).as("w"))
    val hashed = tok.withColumn("h", md5Long(col("w"), 15))
    // all 60 bit-sums in ONE aggregation: the shuffle carries 60 longs per
    // doc (map-side combined) instead of 60 exploded rows per TOKEN — at
    // 100 TB that's the difference between docs·480 B and tokens·60 rows.
    // Branch-free form: summing the raw bit s_j = Σ (h>>j)&1 instead of ±1
    // is the same signature (Σ±1 = 2·s_j − n ≥ 0 ⟺ 2·s_j ≥ n) without a
    // conditional per bit per token in the aggregation hot loop.
    val sums = (0 until 60).map(j =>
      sum(expr(s"shiftright(h, $j) & 1")).as(s"v$j")) :+
      count(lit(1)).as("vn")
    val sig = (0 until 60).map(j =>
      when(col(s"v$j") * 2 >= col("vn"), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    hashed.groupBy("doc_id")
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
    // No pin (r17): every consumer path is SINGLE-reader — dd04 sorts it,
    // and the band self-join reads it exactly once (hammingPairsOf derives
    // one bands frame from it, and Skew.selfPairs pins ITS packed frame
    // internally before fanning out to the join sides). The old pin
    // predated selfPairs' internal pin and had become a pure extra
    // materialization barrier (one localCheckpoint job + blocks per query).
  }

  /** dd04 — SimHash signatures (the per-document sketch). */
  def dd04Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).orderBy("doc_id")

  /** dd06 — near-dup CLUSTER assignment: connected components over the
    * dd05 Hamming ≤ 4 pair graph. Pairs alone aren't actionable in a
    * curation pipeline — "keep one per group" needs the transitive group —
    * so every document gets the smallest doc_id reachable through near-dup
    * edges as its cluster id (singletons label themselves). The component
    * search runs over the edge-TOUCHED subgraph only — per-round state is
    * proportional to the near-dup fraction of the corpus, not the corpus
    * (on a real corpus most documents are singletons and never enter the
    * loop); singletons are attached after the fixpoint with one left join. */
  def dd06NearDupClusters(spark: SparkSession, dir: String): DataFrame =
      graft.Materialize.scoped {
    // SYMMETRIC edge expansion as a map-only explode over the (unsorted)
    // dd05 pair pipeline — each pair row emits (a,b) and (b,a) in ONE
    // pass, so the pair set needs no pin of its own (r16 optimization:
    // the old two-branch unionAll read the pair frame twice, which forced
    // an extra full materialization of the pair set; the explode has a
    // single consumer and feeds the edge pin directly). The pair-distinct
    // inside simhashPairs stays even though min-label propagation is
    // duplicate-insensitive: measured A/B at sf0.1, paying one dedup
    // shuffle beats re-joining each duplicated edge (≤ 5× per shared
    // band) every propagation round.
    // Pin the SYMMETRIC edge frame hash-partitioned on the join key: the
    // propagation loop joins edges on ida every round, and a pinned leaf
    // advertising HashPartitioning(ida) satisfies the join's required
    // distribution — the E-sized side is shuffled ONCE here instead of
    // once per round (the frontier side, which shrinks round over round,
    // is the only thing that still moves)
    val edges = simhashPairs(spark, dir)
      .select(explode(array(
        struct(col("ida"), col("idb")),
        struct(col("idb").as("ida"), col("ida").as("idb")))).as("__e"))
      .select(col("__e.ida").as("ida"), col("__e.idb").as("idb"))
      .repartition(col("ida"))
      .transform(graft.Materialize.pin)
    val labels = connectedComponents(edges)
    t(spark, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .orderBy("doc_id")
  }

  /** Connected components over a SYMMETRIC edge frame (ida, idb): every
    * edge-touched node gets the smallest node id reachable from it, as
    * (doc_id, lbl). Two regimes, switched automatically:
    *
    * FAST PATH — frontier-driven min-label propagation with pointer
    * jumping. Each round, only nodes whose label improved last round offer
    * it to their neighbors (a label can only improve via a neighbor's
    * improvement, so messages from unchanged nodes are provably redundant):
    * the edge join touches Σ frontier-degree edges per round, a shrinking
    * fraction of E, for ~E log D total traffic instead of rounds·E. The
    * round is ONE fused job — messages UNION'd with every node's current
    * label (tagged with the pre-round label so the frontier falls out of
    * the same aggregate), min per node, then a pointer jump against the
    * PREVIOUS round's pinned labels (lbl ← min(lbl, prev-labels[lbl]);
    * monotone because a label always names a node whose label is ≤ it, and
    * fixpoint-preserving because at the component min the hop is the
    * identity — same ~log-diameter doubling as Shiloach–Vishkin
    * shortcutting, but the stepped frame is consumed ONCE, so nothing else
    * per round needs materializing). Convergence = the round improved no
    * label — an OBSERVED metric (CollectMetrics) collected during the
    * pin's own materialization, so detection costs zero extra jobs and
    * zero extra passes; the next round's frontier is a lazy filter over
    * the pinned frame.
    *
    * FALLBACK — after `propRounds` un-converged rounds, CONTRACT: collapse
    * the graph by the labels found so far (edges between current labels,
    * self-loops dropped) and recurse on the contracted graph with a
    * DOUBLED round budget, composing the final label through the
    * contraction mapping. The doubling is load-bearing: pointer jumping
    * doubles label reach per round but a contraction resets that doubling
    * (the contracted graph starts back at identity labels), so a FIXED
    * per-phase budget b advances a diameter-D path only ~2^b nodes per
    * phase — linear, not geometric. With the budget doubling, phase k
    * covers reach 2^(b·2^k), so total rounds across all phases ≈ 2·log₂ D
    * — the same asymptotics as uninterrupted propagation — while each
    * phase re-pins lineage and works on a strictly smaller graph (only
    * the still-unconverged components' labels). Adversarial diameter
    * (crawl chains, quote cascades) therefore degrades to more phases,
    * never to an exception, and a nightly 100 TB curation job cannot be
    * killed by one pathological component.
    *
    * Public library surface: works over ANY symmetric (ida, idb) edge
    * frame — near-dup graphs here, but equally link graphs or entity-
    * resolution matches. Property-tested against union-find on random
    * topologies with contraction forced (PipelinesSpec). */
  def connectedComponents(edges: DataFrame,
      propRounds: Int = 8): DataFrame =
    ccPhase(edges, propRounds, phase = 0)

  /** PARTITION-LOCAL pointer collapse (r17): union-find over the pointer
    * pairs (doc_id, lbl) that happen to share a partition, emitting each
    * node's partition-local component MINIMUM as its new label. This sits
    * BETWEEN the round's hop join and its pin, and is monotone-valid for
    * the same reason the single hop is: every pointer pair links two nodes
    * of the same real component, so the transitive minimum over any
    * SUBSET of pointer pairs still names a node reachable from (and
    * smaller than) the current label — the fixpoint (per-component min)
    * is untouched, only reached in fewer rounds. Complements the hop
    * join on the two regimes: the hop doubles reach GLOBALLY regardless
    * of partitioning (the adversarial-diameter guarantee at cluster
    * scale), while the local collapse closes whole pointer chains the
    * moment they co-locate — at bench/report scale, where AQE coalesces
    * the label frame into one or two partitions, a round becomes a full
    * component solve and the loop exits in seed + solve + confirm
    * (measured: dd06's 7 observed rounds → 3). Cost: one map-only pass
    * over the label-sized frame, no exchange (union-find needs no
    * particular distribution — whatever rows co-locate, collapse). */
  /** `stepped` is (doc_id, lbl, __prev, __edge). Rows with `__edge` set
    * (the first message round's raw-edge rows) join the union-find but
    * emit no label row. The tag is its own column because every Long is a
    * legal node id, so no `__prev` value can mark an edge row. */
  private def ccLocalJump(stepped: DataFrame): DataFrame = {
    val spark = stepped.sparkSession
    import spark.implicits._
    stepped.as[(Long, Long, Long, Boolean)]
      .mapPartitions { it =>
        val rows = it.toArray
        val parent = new java.util.HashMap[Long, Long](rows.length * 2)
        def find(x: Long): Long = {
          var r = x
          var p = parent.getOrDefault(r, r)
          while (p != r) { r = p; p = parent.getOrDefault(r, r) }
          var c = x // path compression: point the walked chain at the root
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        rows.foreach { case (d, l, _, _) =>
          val rd = find(d); val rl = find(l)
          if (rd < rl) parent.put(rl, rd)
          else if (rl < rd) parent.put(rd, rl)
        }
        rows.iterator.collect {
          case (d, _, p, false) => (d, find(d), p)
        }
      }
      .toDF("doc_id", "lbl", "__prev")
  }

  private def ccPhase(edges: DataFrame,
      propRounds: Int, phase: Int): DataFrame = graft.Materialize.scoped {
    require(propRounds >= 1, s"propRounds: $propRounds")
    // unreachable for data reasons (phase k alone covers diameter
    // 2^(propRounds·2^k), and the node count strictly decreases per
    // phase); guards against a logic bug turning into an infinite loop
    require(phase <= 64, "connectedComponents: 64 contraction phases — " +
      "node count must strictly decrease per phase; logic bug")
    // SEED = the old loop's ROUND 1, fused into one aggregate (r17): with
    // identity initial labels, round 1 computed min(self, min neighbor
    // SELF-label) = min(self, min neighbor id), and its pointer jump
    // hopped through identity labels — a no-op. That whole round is one
    // groupBy over the pinned edge frame — hash-partitioned on ida, so
    // the aggregate plans with ZERO exchange — replacing both the old
    // identity-labels pin (distinct + self-label, one edge-sized shuffle)
    // and the first full round (join + union + agg + hop join + pin).
    // State after the seed is bit-identical to the old state after
    // round 1; the round BUDGET check moves accordingly (the loop below
    // now runs propRounds − 1 message rounds before contracting — the
    // seed is this phase's first round).
    var labels = edges.groupBy(col("ida"))
      .agg(min(col("idb")).as("__mn"))
      .select(col("ida").as("doc_id"),
        least(col("ida"), col("__mn")).as("lbl"))
      .transform(graft.Materialize.pin)
    // seed frontier = nodes the seed improved (lbl < self); a node whose
    // id is below all its neighbors' offers nothing new in round 2 (its
    // round-1 message — its id — already reached every neighbor via the
    // seed's min). An edge-free graph is empty here and skips the loop.
    var frontier = labels.where(col("lbl") < col("doc_id"))
    var rounds = 1
    var converged = frontier.isEmpty
    while (!converged && rounds < propRounds) {
      rounds += 1
      // messages carry a null pre-round tag; each node's own current label
      // carries itself as the tag — after the min-aggregate, `__prev` is
      // exactly the node's pre-round label (one labels row per node), so
      // "did this round improve me" needs no join against a snapshot.
      // (r16 optimization round: a labels-stationary left-join rewrite —
      // message-min ⋈ labels ⋈ hop, 3 logical exchanges vs this shape's 5
      // — was built and MEASURED SLOWER at bench scale: 87 vs 73
      // stage-jobs on dd06, because each extra join spawns its own AQE
      // shuffle-stage jobs while this union feeds both branches through
      // ONE aggregate exchange, and pinned partitioning does not survive
      // AQE coalescing reliably enough for the joins to skip exchanges.
      // Kept the measured-faster shape.)
      val stepped = edges
        .join(frontier.select(col("doc_id").as("ida"), col("lbl")),
          Seq("ida"))
        .select(col("idb").as("doc_id"), col("lbl"),
          lit(null).cast("long").as("__prev"))
        .unionAll(labels.select(col("doc_id"), col("lbl"),
          col("lbl").as("__prev")))
        .groupBy("doc_id")
        .agg(min(col("lbl")).as("lbl"), max(col("__prev")).as("__prev"))
      // pointer jump against the previous round's PINNED labels: stepped
      // is consumed once, so the whole round is a single pinned job —
      // and the convergence scalar rides THAT job as an observed metric
      // (CollectMetrics during checkpoint materialization), so no
      // separate probe job or extra pass over the frame exists at all
      val obs = org.apache.spark.sql.Observation()
      val hopped = stepped
        .join(labels.select(col("doc_id").as("lbl"), col("lbl").as("__hop")),
          Seq("lbl"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("__hop"), col("lbl"))).as("lbl"),
          col("__prev"))
      // FIRST message round of each phase additionally feeds the raw edge
      // set through the local union-find (r17): pointer pairs alone only
      // record each node's current MINIMUM, so two pointer trees of one
      // component stay separate until messages bridge them one edge-hop
      // per round — the edges themselves are same-component certificates
      // the collapse can use directly. One rebalance exchange of E rows,
      // once per phase (AQE sizes the partitions: one partition at
      // report scale = a full component solve in this round; many at
      // cluster scale = per-partition star contraction), and every later
      // round stays message-sized. The __edge tag keeps edge rows out of
      // the emitted label set.
      val labelRows = hopped.withColumn("__edge", lit(false))
      val ufIn = if (rounds == 2)
        labelRows.unionAll(edges.select(col("ida").as("doc_id"),
          col("idb").as("lbl"), col("idb").as("__prev"),
          lit(true).as("__edge")))
          .hint("rebalance", "doc_id")
      else labelRows
      val merged = ccLocalJump(ufIn)
        .observe(obs,
          count(when(col("lbl") < col("__prev"), 1)).as("improved"))
        .transform(graft.Materialize.pin)
      // labels are monotone (the union includes the own-label row), so
      // "improved" is strictly-less — and zero improvements IS the fixpoint
      converged = obs.get("improved").asInstanceOf[Long] == 0L
      // merged is materialized (pin is eager) and carries every label, so
      // the previous round's pinned state is dead — free its blocks now
      // instead of letting round count become peak storage footprint
      graft.Materialize.unpin(labels)
      frontier = merged.where(col("lbl") < col("__prev"))
        .select(col("doc_id"), col("lbl"))
      labels = merged.select(col("doc_id"), col("lbl"))
    }
    if (converged) labels
    else {
      // contract by the labels found so far and recurse; compose through
      // the mapping. Components that already converged have no inter-label
      // edge and drop out of the sub-problem (coalesce keeps their label).
      // same treatment the top-level caller gives its edge frame: expand
      // the contracted pair set symmetrically in ONE map-only explode (no
      // separate cPairs pin — the explode has a single consumer) and pin
      // it hash-partitioned on the join key, so the sub-phase's (doubled)
      // rounds never re-exchange the edge side
      val cEdges = edges
        .join(labels.select(col("doc_id").as("ida"), col("lbl").as("__la")),
          Seq("ida"))
        .join(labels.select(col("doc_id").as("idb"), col("lbl").as("__lb")),
          Seq("idb"))
        .where(col("__la") =!= col("__lb"))
        .select(least(col("__la"), col("__lb")).as("ida"),
          greatest(col("__la"), col("__lb")).as("idb"))
        .distinct()
        .select(explode(array(
          struct(col("ida"), col("idb")),
          struct(col("idb").as("ida"), col("ida").as("idb")))).as("__e"))
        .select(col("__e.ida").as("ida"), col("__e.idb").as("idb"))
        .repartition(col("ida"))
        .transform(graft.Materialize.pin)
      val sub = ccPhase(cEdges, propRounds * 2, phase + 1)
      labels
        .join(sub.select(col("doc_id").as("lbl"), col("lbl").as("__sub")),
          Seq("lbl"), "left")
        .select(col("doc_id"),
          coalesce(col("__sub"), col("lbl")).as("lbl"))
    }
  }

  /** dd05 — SimHash near-dup pairs: block on 5×12-bit bands, verify
    * Hamming ≤ 4 via bit_count(xor). Pigeonhole: ≤4 differing bits touch at
    * most 4 of the 5 bands, so every Hamming ≤ 4 pair shares at least one
    * band verbatim — the blocking is EXACT (100% recall), not a trade-off.
    * The band self-join is salted ([[Skew.selfPairs]]) so a hot 12-bit
    * bucket (e.g. a boilerplate-heavy corpus slice) cannot pin one task. */
  def dd05SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashNearDups(spark, dir, maxHamming = 4).orderBy("ida", "idb")

  /** Library surface: SimHash near-dup pairs at a caller-chosen Hamming
    * radius. The 5×12-bit banding is EXACT (pigeonhole) only for radius
    * ≤ 4; a larger radius keeps the same blocking and becomes a recall
    * trade — callers must opt in via `approximate = true` (see
    * [[hammingPairsOf]]). */
  def simhashNearDups(spark: SparkSession, dir: String,
      maxHamming: Int, approximate: Boolean = false): DataFrame = {
    simhashPairs(spark, dir, maxHamming, approximate)
  }

  /** The unsorted Hamming ≤ 4 pair set — dd05 adds the presentation sort;
    * dd06 consumes it sort-free (its edge expansion would discard the
    * ordering, but a pinned frame materializes it, so the sort must not be
    * in this shared core). */
  private def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 4, approximate: Boolean = false): DataFrame =
    hammingPairsOf(simhashSig(spark, dir), maxHamming,
      idCol = "doc_id", sigCol = "simhash", approximate = approximate)

  /** Library surface: banded Hamming-radius pairs over ANY (id, 60-bit
    * signature) frame — the blocking core shared by SimHash text near-dup
    * (dd05/dd06) and perceptual-hash media near-dup
    * ([[Multimodal.phashWith]] signatures ride this unchanged). 5×12-bit
    * bands: exact (pigeonhole) for radius ≤ 4; the band self-join is
    * salted ([[Skew.selfPairs]]) so one hot 12-bit bucket cannot pin a
    * task. Output: (ida, idb, hamming), ida < idb, distinct.
    *
    * Radius > 4 exceeds what 5 bands can guarantee (pigeonhole: 5 bands
    * catch every pair differing in ≤ 4 bits, but a pair at distance 5 can
    * spread one flipped bit into each band and collide in none) — the
    * result is then a recall-bounded SUBSET of the true pair set. That is
    * sometimes the right trade, but never silently: `approximate = true`
    * is required to unlock radii 5–60. */
  def hammingPairsOf(sigs: DataFrame, maxHamming: Int = 4,
      idCol: String = "doc_id", sigCol: String = "sig",
      approximate: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 60, s"radius: $maxHamming")
    require(maxHamming <= 4 || approximate,
      s"radius $maxHamming > 4: 5×12-bit banding returns an incomplete " +
        "pair set past Hamming 4 — pass approximate = true to opt in")
    val bands = sigs
      .select(col(idCol), col(sigCol),
        explode(sequence(lit(0), lit(4))).as("band"))
      .withColumn("bk", expr(s"shiftright($sigCol, band * 12) & 4095"))
    // hamming filter BEFORE distinct: it depends only on (ha, hb), so
    // filtering the (duplicated) band-collision rows first shrinks the
    // distinct's input by the filter selectivity
    Skew.selfPairs(bands, Seq("band", "bk"), idCol, maxGroup = 4096)
      .select(col(s"a.$idCol").as("ida"), col(s"a.$sigCol").as("ha"),
        col(s"b.$idCol").as("idb"), col(s"b.$sigCol").as("hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .where(col("hamming") <= maxHamming)
      .select("ida", "idb", "hamming").distinct()
  }

  /** dd13 — CONTENT-DEFINED chunking dedup (the FastCDC/rsync idea at
    * token granularity): chunk boundaries fall AFTER any token whose hash
    * is ≡ 0 (mod `divisor`) — a property of the CONTENT, not the offset —
    * so one inserted token shifts every later dd07 fixed-window passage
    * but here desynchronizes only the chunk it lands in; the stream
    * re-synchronizes at the next gate token. Expected chunk length =
    * `divisor` tokens. The cheap middle of the dedup dial: fixed windows
    * (dd07) miss shifted duplicates, stride-1 spans (dd09) pay w× row
    * blow-up, CDC chunks catch shifted duplication at ~1× cost.
    *
    * Scale shape: chunking is MAP-ONLY array work per row (boundary
    * positions, then slices, bound as lambda variables — the dd11 lesson:
    * aliased arrays re-inline per use under CollapseProject); the only
    * shuffle carries (chunk-hash, doc_id) 16 B rows for the occurrence
    * count + join back, exactly dd07's plan. Output counts ride the
    * engine-internal xxhash64 (counting by hash ≡ counting by string,
    * |chunks|²/2⁶⁴ collision odds — dd07's stance). */
  def dd13CdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunkDedupOf(t(spark, dir, "documents"), divisor = 8)

  /** Library surface: content-defined chunk dedup over ANY (doc_id, text)
    * frame at caller-chosen expected chunk length. */
  def cdcChunkDedupOf(docs: DataFrame, divisor: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(divisor >= 2, s"divisor: $divisor")
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val chunks = element_at(transform(array(ws), tok => {
      // gate positions: token i closes a chunk when md5(w_i) % divisor = 0
      val bps = filter(sequence(lit(1), size(tok)),
        i => graft.functions.Hashing.md5Long(element_at(tok, i), 15)
          % divisor === 0)
      element_at(transform(array(bps), bp => {
        val starts = concat(array(lit(1)), transform(bp, x => x + 1))
        val ends = concat(bp, array(size(tok)))
        // chunk c spans [starts(c), ends(c)]; a trailing gate token makes
        // an empty phantom tail (start = n+1 > end = n) — filtered out
        filter(transform(sequence(lit(1), size(bp) + 1), c =>
          when(element_at(starts, c) <= element_at(ends, c),
            array_join(slice(tok, element_at(starts, c),
              element_at(ends, c) - element_at(starts, c) + 1), " "))
            .otherwise(lit(null).cast("string"))), x => x.isNotNull)
      }), 1)
    }), 1)
    val ch = docs.select(col(idCol), explode(chunks).as("chunk"))
      .select(col(idCol), xxhash64(col("chunk")).as("ch"))
      // pinned (r17): dd07's two-consumer shape — the CDC chunking pass
      // (the dominant per-row array work) otherwise runs twice
      .transform(graft.Materialize.pin)
    val counts = ch.groupBy("ch").agg(count(lit(1)).as("occ"))
    ch.join(counts, "ch")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy(idCol)
  }

  /** dd18 — INTRA-document repeated-passage scrub: dd15 removes passages
    * repeated ACROSS documents; this removes passages a document repeats
    * WITHIN itself (navigation chrome pasted between every section,
    * template boilerplate, generator loops — the self-repetition t07
    * measures but doesn't act on). Each passage survives at its FIRST
    * occurrence in the document; later copies are cut from the rebuilt
    * text. Chunking is the shared [[passageChunks]] definition, so
    * dd07/dd15/dd18 agree on what a passage is.
    *
    * Scale shape: the decision needs nothing outside the row, so this is
    * MAP-ONLY — zero shuffle at any corpus size (the presentation sort is
    * the one exchange; PlanAuditSpec pins it). First-occurrence is an
    * in-row `array_position` scan: O(chunks²) string compares per
    * document, bounded by document size — for pathological megadocs,
    * posexplode + a (doc_id, passage)-keyed min-index window is the
    * document-bounded escape hatch (dd15's regroup shape). */
  def dd18SelfScrub(spark: SparkSession, dir: String): DataFrame =
    selfScrubOf(graft.sources.Tables.t(spark, dir, "documents"),
      passageTokens = 20)

  /** Library surface: intra-document scrub over ANY (doc_id, text)
    * frame. */
  def selfScrubOf(docs: DataFrame, passageTokens: Int): DataFrame = {
    require(passageTokens >= 1, s"passageTokens: $passageTokens")
    docs
      .select(col("doc_id"), TextAnalysis.toks.as("ws"))
      .select(col("doc_id"), passageChunks(passageTokens).as("ps"))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_passages"),
        filter(col("ps"), (c, i) =>
          array_position(col("ps"), c) === (i + 1).cast("long"))
          .as("__kept"))
      .select(col("doc_id"), col("n_passages"),
        size(col("__kept")).cast("long").as("n_kept"),
        array_join(col("__kept"), " ").as("text_out"))
      .orderBy("doc_id")
  }
}
