package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.sources.Tables.t

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * SURVEY.md §7.6 north-star: brute-force cosine top-k as the exact baseline,
  * all-pairs near-dup, and a random-hyperplane-LSH bucketed ANN as the
  * scale path.
  *
  * Engine-portability trick that also helps at scale: vectors are quantized
  * to int64 (round(x·1000)) BEFORE any arithmetic, so dot products and norms
  * are exact integer math — bit-identical between Spark and the DuckDB
  * oracle regardless of summation order, and codegen-friendly (no FP
  * reduction-order concerns under parallelism). Only the final cosine is a
  * double, rounded to 4 decimals for presentation/ordering.
  *
  * Scale notes:
  *  - ss01 top-k: the query vector broadcasts (one row); the scan is
  *    embarrassingly parallel; TakeOrderedAndProject keeps only k rows per
  *    partition. This is the right plan at any corpus size for a single query.
  *  - ss02 all-pairs: BroadcastNestedLoopJoin with the quantized-array side
  *    broadcast (n·64·8 bytes — 2.5 MB at sf0.1). Quadratic by nature; at
  *    real scale use ss03's bucketing (or IVF) to bound the candidate set.
  *  - ss03 LSH-ANN: 8 deterministic integer hyperplanes → 8-bit bucket;
  *    candidates = same bucket as the query; exact cosine re-rank of the
  *    candidates only. The hyperplanes are a fixed integer formula, not RNG,
  *    so the bucketing is reproducible across engines and runs.
  */
object Similarity {

  /** Quantized vector: array<long> of round(x·1000). Native expression
    * (one codegen'd loop) — the `transform(c, x => round(...))` lambda
    * it replaces dropped every quantizing projection out of whole-stage
    * codegen (r16 lambda audit; the CountInSet mechanism). */
  private[graft] def quantizedOf(c: Column): Column =
    graft.functions.QuantizeMilli.quantize(c)

  private def quantized: Column = quantizedOf(col("embedding"))

  /** Quantized corpus: (vec_id, q: array<long>, n2: |q|²). */
  private[operators] def corpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    t(spark, dir, "embeddings")
      .select(col("vec_id"), quantized.as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
  }

  /** Guarded cosine from an integer dot and two squared norms: degenerate
    * (zero-norm) sides get a defined −1.0 instead of the 0/0 = NaN that
    * Spark's descending sort would rank FIRST — without this, one all-zero
    * quantized vector becomes every query's top neighbor. Shared by every
    * ranking path that can see caller data (the declared fixture queries
    * have no zero norms, so oracle parity is unaffected — same sanctioned
    * divergence as assignStep's guard). */
  private[graft] def guardedCos(dot: Column, n2a: Column, n2b: Column): Column =
    when(n2a > 0 && n2b > 0,
      dot.cast("double") / sqrt(n2a.cast("double") * n2b.cast("double")))
      .otherwise(lit(-1.0))

  /** ss01 — exact cosine top-10 neighbors of vec_id 0 (brute force): one
    * broadcast of the query vector, one scan of the corpus with the native
    * dot product, TakeOrderedAndProject keeps k rows per partition. */
  def ss01CosineTopK(spark: SparkSession, dir: String): DataFrame =
    exactCosineTopK(spark, dir, 10)

  /** ss02 — embedding-cosine near-dup: all pairs with cosine ≥ 0.4. Array
    * formulation: the broadcast-nested-loop join streams quantized vectors,
    * and the dot product is the native codegen'd [[graft.functions.ArrayDot]]
    * expression — a tight primitive loop with no per-pair allocation (a
    * zip_with/aggregate lambda pair is ~20× slower here because higher-order
    * functions evaluate interpretively outside whole-stage codegen). */
  def ss02NearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val qv = corpus(spark, dir)
    // repartition the streamed side — the corpus is few parquet splits and a
    // nested-loop pair join parallelizes only over streamed partitions
    val a = qv.select(col("vec_id").as("ida"), col("q").as("qa"), col("n2").as("na"))
      .repartition(spark.sparkContext.defaultParallelism * 8, col("ida"))
    val b = qv.select(col("vec_id").as("idb"), col("q").as("qb"), col("n2").as("nb"))
    val cosine = col("dot").cast("double") /
      sqrt(col("na").cast("double") * col("nb").cast("double"))
    a.join(broadcast(b), col("ida") < col("idb"))
      .withColumn("dot", dotLong(col("qa"), col("qb")))
      .withColumn("c", cosine)
      .where(col("c") >= 0.4)
      .select(col("ida"), col("idb"), round(col("c"), 4).as("cos"))
      .orderBy("ida", "idb")
  }

  /** 8-sign-bit bucket from deterministic integer hyperplanes
    * w(i,j) = ((i+1)(j+7)·2654435761 mod 97) − 48, planes j = `firstPlane`
    * to `firstPlane`+7. Different `firstPlane` values give independent hash
    * tables from the same formula. */
  private[graft] def hyperplaneBucket(firstPlane: Int = 0, dims: Int = 64): Column = {
    import graft.functions.ArrayDot.dotLong
    val planes = (firstPlane until firstPlane + 8).map { j =>
      array((0 until dims).map(i =>
        lit(((i + 1).toLong * (j + 7) * 2654435761L) % 97 - 48)): _*)
    }
    planes.zipWithIndex.map { case (w, j) =>
      when(dotLong(col("q"), w) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Probe set for one hash table: the bucket itself plus every bucket
    * within Hamming distance 2 (8 one-bit + 28 two-bit flips = 37 of 256) —
    * the buckets a near neighbor most likely lands in when one or two
    * hyperplane signs disagree. */
  private def probeSet(bucket: Column): Column = {
    val flips: Seq[Column] =
      (0 until 8).map(j => bucket.bitwiseXOR(lit(1L << j))) ++
        (for (j <- 0 until 8; k <- (j + 1) until 8)
          yield bucket.bitwiseXOR(lit((1L << j) | (1L << k))))
    array(bucket +: flips: _*)
  }

  /** ss03 — multi-probe, multi-table LSH ANN: two independent 8-bit
    * hyperplane tables (planes 0–7 and 8–15), each probed at Hamming ≤ 2
    * (37 of 256 buckets); a candidate is any vector hitting either table's
    * probe set, exact-cosine re-ranked. Two tables double the index columns
    * but compound recall (a neighbor must be far from the query in BOTH
    * sign-patterns to be missed); the measured recall floor vs the exact
    * ss01 top-k is asserted in PipelinesSpec. The probe frames are 37 rows
    * each, derived from the single query vector — broadcast by construction
    * at any corpus size (unlike a corpus-sized frame, hinting them is
    * safe). Candidate generation per table is an equi-join on the bucket
    * id; at 100 TB the scan cost is the probed buckets' occupancy
    * (2·37/256 ≈ 29% of one table's rows worst-case on uniform buckets),
    * and the re-rank touches candidates only. */
  def ss03LshAnn(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val qv = corpus(spark, dir)
      .withColumn("b1", hyperplaneBucket(0))
      .withColumn("b2", hyperplaneBucket(8))
      // both tables' candidate joins consume this; materialize once
      .transform(graft.Materialize.pin)
    val query = qv.where(col("vec_id") === 0)
      .select(col("q").as("qq"), col("n2").as("qn2"),
        col("b1").as("qb1"), col("b2").as("qb2"))
    def candidates(bucketCol: String, queryBucket: String): DataFrame = {
      val probes = query.select(
        explode(probeSet(col(queryBucket))).as(bucketCol))
      // a vector's bucket equals at most ONE probe value (probes are
      // pairwise distinct), so the equi-join introduces no duplicates
      qv.where(col("vec_id") =!= 0)
        .join(broadcast(probes), Seq(bucketCol))
        .select("vec_id")
    }
    val cand = candidates("b1", "qb1")
      .unionAll(candidates("b2", "qb2")).distinct()
    qv.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(query.select(col("qq"), col("qn2"))))
      .select(col("vec_id"),
        round(dotLong(col("q"), col("qq")).cast("double") /
          sqrt(col("qn2").cast("double") * col("n2").cast("double")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** ss04 — LSH-bucketed near-dup pairs: the sub-quadratic scale path for
    * ss02 (exactly as dd03 is for dd02). Candidate pairs share an 8-bit
    * bucket in either of two independent hyperplane tables — per table an
    * equi-join on the bucket id, so pair volume is Σ_bucket n_b² instead of
    * n² — then exact cosine on candidates only. Deterministic hyperplanes ⇒
    * the probabilistic candidate set is bit-reproducible against the
    * oracle. Each self-join goes through [[Skew.selfPairs]]: a hot bucket
    * (embeddings cluster hard — one dense region can hold a large fraction
    * of the corpus) is salted into bounded cells instead of pinning one
    * task with its n_b² pairs.
    *
    * Recall characteristics (sign-agreement probability 1 − θ/π per
    * plane, so one 8-plane table collides with p₈ = (1 − θ/π)⁸ and T
    * tables recall 1 − (1 − p₈)^T): at cos 0.995 — the true
    * near-DUPLICATE regime this miner exists for — p₈ ≈ 0.77 and two
    * tables ≈ 0.95; at cos 0.99, ≈ 0.90; at cos 0.9 the pair angle is
    * already 26° and two tables recall only ≈ 0.50 (≈ 7 tables for 90%).
    * Both regimes are measured against planted pairs in PipelinesSpec
    * (hard floor 0.8 at cos ≈ 0.995). At this fixture's deliberately
    * loose cos ≥ 0.4 presentation threshold, per-table collision is only
    * ~2.5%, so the emitted set is sparse — the subset relation vs exact
    * ss02 and the oracle hash keep it honest; tighten recall by adding
    * tables (union more `tableCands`), never by widening buckets (bucket
    * occupancy, and with it Σ n_b², explodes). */
  def ss04LshNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    // same two independent tables as ss03: a near-dup pair is a candidate
    // if it shares a bucket in EITHER — recall compounds exactly as in the
    // single-query ANN, and each table's self-join stays a salted
    // equi-join (Σ_b n_b² per table, never an OR-condition join, which
    // would plan as a nested loop)
    val qv = corpus(spark, dir)
      .withColumn("b1", hyperplaneBucket(0))
      .withColumn("b2", hyperplaneBucket(8))
      .transform(graft.Materialize.pin)
    val cosine = col("dot").cast("double") /
      sqrt(col("na").cast("double") * col("nb").cast("double"))
    def tableCands(bucket: String): DataFrame =
      Skew.selfPairs(
        qv.select(col("vec_id"), col("q"), col("n2"), col(bucket)),
        Seq(bucket), "vec_id", maxGroup = 4096)
        .select(col("a.vec_id").as("ida"), col("a.q").as("qa"),
          col("a.n2").as("na"), col("b.vec_id").as("idb"),
          col("b.q").as("qb"), col("b.n2").as("nb"))
    tableCands("b1").unionAll(tableCands("b2"))
      .withColumn("dot", dotLong(col("qa"), col("qb")))
      .withColumn("c", cosine)
      .where(col("c") >= 0.4)
      .select(col("ida"), col("idb"), round(col("c"), 4).as("cos"))
      // a pair caught by both tables scores identically — distinct collapses
      .distinct()
      .orderBy("ida", "idb")
  }

  /** ss08 — exact k-NN JOIN: for every query vector, its k nearest corpus
    * vectors by cosine — the BATCH retrieval shape (embedding-level
    * decontamination of a training corpus against an eval set, hard-
    * negative mining, retrieval eval) where ss01 is one query, this is a
    * query TABLE. The declared query treats vec_id % 50 == 0 as the query
    * batch (10 of 500 at sf0.01) with k = 3.
    *
    * This is the exact baseline: the query batch BROADCASTS (a batch is
    * small by definition — for query sets that outgrow a broadcast, use
    * [[ivfKnnJoin]], whose probe is an equi-join) and the corpus is
    * scanned once, map-only, with the per-query top-k planned as
    * WindowGroupLimit (row_number alone in its window node): every
    * partition pre-prunes to k candidates per query BEFORE the shuffle,
    * so the movement is |Q|·k·partitions, never |Q|·|corpus|. */
  def ss08KnnJoin(spark: SparkSession, dir: String): DataFrame =
    knnJoin(spark, dir, col("vec_id") % 50 === 0, k = 3)

  /** Quantized corpus with the query flag evaluated against the FULL
    * embeddings row (vec_id, embedding, label) BEFORE projection — so
    * `col("label") === 0` is as valid a query predicate as doc-id
    * arithmetic. Pinned: the query side and the corpus side both read it. */
  private def flaggedCorpus(spark: SparkSession, dir: String,
      isQuery: Column): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    t(spark, dir, "embeddings")
      // NULL-predicate rows (e.g. label === 0 on a null label) must land
      // in the CORPUS side, not vanish from both sides of the split —
      // same stance as decontaminate's "null means not-benchmark"
      .withColumn("__isq", coalesce(isQuery, lit(false)))
      .select(col("vec_id"), col("label"), quantized.as("q"), col("__isq"))
      .withColumn("n2", dotLong(col("q"), col("q")))
      .transform(graft.Materialize.pin)
  }

  /** Library surface: exact k-NN join at a caller-chosen query predicate
    * (evaluated over the full embeddings row) and k. Ordering (raw cosine
    * DESC, vec_id) is total, so the kept neighbor set is deterministic and
    * engine-portable; integer dot products make the raw cosine doubles
    * bit-identical across engines. */
  def knnJoin(spark: SparkSession, dir: String, isQuery: Column,
      k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k: $k")
    val c = flaggedCorpus(spark, dir, isQuery)
    val q = c.where(col("__isq")).select(col("vec_id").as("qid"),
      col("q").as("qq"), col("n2").as("qn2"))
    val w = Window.partitionBy("qid")
      .orderBy(col("c").desc, col("vec_id"))
    c.where(!col("__isq"))
      .crossJoin(broadcast(q))
      .withColumn("c",
        guardedCos(dotLong(col("q"), col("qq")), col("qn2"), col("n2")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"),
        round(col("c"), 4).as("cos"))
      .orderBy("qid", "rk")
  }

  /** The k-NN join's scale path: IVF-probe instead of scanning the whole
    * corpus per query. Corpus vectors keep their label cells; each query
    * ranks the |cells|-row centroid table (broadcast by construction) and
    * probes its top `nprobe` cells; candidates come from an EQUI-JOIN of
    * probed (qid, cell) rows against the corpus on the cell id — per-query
    * work is the probed cells' occupancy (~nprobe/|cells| of the corpus),
    * and nothing quadratic or corpus-broadcast exists anywhere. Same
    * recall trade as ss06, measured against the exact join in
    * PipelinesSpec. */
  def ivfKnnJoin(spark: SparkSession, dir: String, isQuery: Column,
      k: Int, nprobe: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && nprobe >= 1, s"k: $k nprobe: $nprobe")
    val emb = flaggedCorpus(spark, dir, isQuery)
    val corp = emb.where(!col("__isq"))
    val cent = centroidsOf(corp,
      corp.select(col("vec_id"), col("label").as("cell")))
    val q = emb.where(col("__isq")).select(col("vec_id").as("qid"),
      col("q").as("qq"), col("n2").as("qn2"))
    val probed = q.crossJoin(broadcast(cent))
      .withColumn("ccos",
        guardedCos(dotLong(col("qq"), col("cvec")), col("qn2"), col("cn2")))
      .withColumn("crk", row_number().over(
        Window.partitionBy("qid").orderBy(col("ccos").desc, col("clabel"))))
      .where(col("crk") <= nprobe)
      .select(col("qid"), col("qq"), col("qn2"), col("clabel").as("cell"))
    probed.join(corp.withColumnRenamed("label", "cell"), Seq("cell"))
      .withColumn("c",
        guardedCos(dotLong(col("q"), col("qq")), col("qn2"), col("n2")))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("c").desc, col("vec_id"))))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"),
        round(col("c"), 4).as("cos"))
      .orderBy("qid", "rk")
  }

  /** Max cosine of every corpus vector against a BENCHMARK set (rows where
    * `isBenchmark` holds — evaluated over the full embeddings row, null ⇒
    * not-benchmark): the embedding-level decontamination primitive (c06).
    * Exact form: the benchmark set broadcasts (an eval suite is small by
    * definition), the corpus is scanned once map-only, and the per-vector
    * max is a map-side-combined aggregate — the shuffle carries one row
    * per corpus vector, never the |corpus|·|bench| products. Corpus
    * vectors are LEFT-joined back, so with an empty benchmark set every
    * vector surfaces with a null max_cos (nothing is contaminated) rather
    * than vanishing. For benchmark sets that outgrow a broadcast, route
    * through [[ivfKnnJoin]] and keep rank-1 instead. */
  def benchmarkMaxCos(spark: SparkSession, dir: String,
      isBenchmark: Column): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val c = flaggedCorpus(spark, dir, isBenchmark)
    val corpus = c.where(!col("__isq"))
    val bench = c.where(col("__isq"))
      .select(col("q").as("bq"), col("n2").as("bn2"))
    val scored = corpus
      .crossJoin(broadcast(bench))
      .withColumn("c",
        guardedCos(dotLong(col("q"), col("bq")), col("bn2"), col("n2")))
      .groupBy("vec_id")
      .agg(round(max(col("c")), 4).as("max_cos"))
    corpus.select("vec_id", "label")
      .join(scored, Seq("vec_id"), "left")
  }

  // ---- product quantization (the ANN MEMORY story) ---------------------
  // IVF bounds how much of the corpus a probe SCANS; PQ bounds how many
  // bytes each scanned vector COSTS. A 64-dim float vector (256 B) encodes
  // to m sub-codebook ids (m bytes at ≤256 codewords) — 64× smaller, so
  // the candidate set of a 100 TB ANN probe fits in executor memory and
  // scoring never touches the raw vectors (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011). Spherical
  // flavor: sub-codeword assignment is argmax COSINE per subspace —
  // reusing the exact integer dot + guarded-cosine recipe the k-means
  // family already hash-matches against the oracle.

  /** The shared PQ prefix: per-vector subspace slices and the per-(seed
    * label, subspace) integer sum-codebooks. `subs` is pinned — the
    * codebook build and every downstream encode/probe join read it (same
    * ContextCleaner pin contract as t13's tf frame). */
  private def pqParts(vecs: DataFrame, m: Int, idCol: String,
      embCol: String, seedCol: String): (DataFrame, DataFrame) =
    pqPartsQ(vecs.select(col(idCol).cast("long").as("vec_id"),
      col(seedCol).cast("long").as("label"),
      quantizedOf(col(embCol)).as("q")), m)

  /** [[pqParts]] over an ALREADY-quantized (vec_id, label, q) frame — the
    * persistent-index paths start here, since postings store `q`. */
  private def pqPartsQ(quant: DataFrame, m: Int): (DataFrame, DataFrame) = {
    import graft.functions.ArrayDot.dotLong
    require(m >= 1, s"m: $m")
    val subs = quant
      // m must divide the dimension (the FAISS precondition): integer
      // sd = dim/m would otherwise silently DROP the last dim%m
      // components from every subspace — codes and norms would describe
      // a truncated vector. Checked in-plan (codegen'd, free) because
      // the frame's dim isn't knowable on the driver.
      .withColumn("q", when(size(col("q")) % m === 0, col("q"))
        .otherwise(raise_error(concat(
          lit(s"pq: m=$m does not divide dim="), size(col("q"))))))
      .select(col("vec_id"), col("label"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"), col("q"))
      .withColumn("sd", (size(col("q")) / m).cast("int"))
      .withColumn("qs", slice(col("q"), col("sub") * col("sd") + 1, col("sd")))
      .withColumn("n2s", dotLong(col("qs"), col("qs")))
      .select("vec_id", "label", "sub", "qs", "n2s")
      .transform(graft.Materialize.pin)
    // sub-codebooks: integer sum-centroids per (label, sub) — the same
    // scale-invariant cosine trick as centroidsOf, one per subspace
    val cb = subs
      .select(col("label"), col("sub"), posexplode(col("qs")).as(Seq("i", "qi")))
      .groupBy("label", "sub", "i").agg(sum(col("qi")).as("cq"))
      .groupBy("label", "sub")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("cq")))),
        s => s.getField("cq")).as("cvec"))
      .withColumn("cn2", dotLong(col("cvec"), col("cvec")))
      .select(col("sub"), col("label").as("clabel"), col("cvec"), col("cn2"))
    (subs, cb)
  }

  /** Encode against the given (subs, cb): one row per (vec, subspace) with
    * the argmax-cosine codeword — broadcast codebook, map-side-collapsed
    * max_by, shuffle carries D·m rows, never D·m·k. */
  private def pqEncode(subs: DataFrame, cb: DataFrame): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    subs.join(broadcast(cb), Seq("sub"))
      .withColumn("ccos",
        guardedCos(dotLong(col("qs"), col("cvec")), col("n2s"), col("cn2")))
      .groupBy("vec_id", "sub")
      .agg(max_by(
        struct(col("clabel"), round(col("ccos"), 4).as("rcos")),
        struct(col("ccos"), -col("clabel"))).as("best"))
      .select(col("vec_id"), col("sub"),
        col("best.clabel").as("code"), col("best.rcos").as("cos"))
  }

  /** Generic Of-surface: PQ-encode ANY (id, embedding) frame into m
    * subspace codeword ids (long form: one row per (vec, sub)). Codebooks
    * seed from `seedCol` exactly as the IVF family does; a production
    * encoder persists `cb` beside the codes the way `_centroids` rides the
    * IVF index. */
  def pqEncodeOf(vecs: DataFrame, m: Int, idCol: String = "vec_id",
      embCol: String = "embedding", seedCol: String = "label"): DataFrame = {
    val (subs, cb) = pqParts(vecs, m, idCol, embCol, seedCol)
    pqEncode(subs, cb)
  }

  /** ss09 — PQ encoding of the embeddings corpus: m=4 subspaces of 16
    * dims, codebooks seeded by the label cells. Output (vec_id, sub, code,
    * cos) — `cos` is the sub-vector's cosine to its codeword, the
    * per-subspace quantization-quality signal (its corpus mean is the PQ
    * analogue of the IVF drift probe). */
  def ss09PqEncode(spark: SparkSession, dir: String): DataFrame =
    pqEncodeOf(t(spark, dir, "embeddings"), m = 4)
      .orderBy("vec_id", "sub")

  /** ss10 — asymmetric-distance (ADC) top-k over PQ codes: the query stays
    * EXACT, every corpus vector is scored from its codes alone. Per
    * subspace, dot(query_sub, codeword) is a k·m-row lookup table
    * (broadcast by construction — this is the table a real ADC scan keeps
    * in L1); a vector's approximate cosine is
    * Σ_sub lut(sub, code) / (|q| · |x̂|), x̂ = concatenated codewords. The
    * scan reads CODES only — at 100 TB that is m bytes per vector instead
    * of 256, and the shuffle carries (vec_id, partial) map-side combined.
    * Recall vs the exact ss01 ranking is measured in PipelinesSpec. */
  def ss10PqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopK(spark, dir, queryId = 0L, m = 4, k = 10)

  /** Library surface: ADC top-k at caller parameters (the declared query
    * pins queryId=0, m=4, k=10 for the oracle). */
  def pqAdcTopK(spark: SparkSession, dir: String, queryId: Long, m: Int,
      k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(k >= 1, s"k: $k")
    val (subs, cb) = pqParts(t(spark, dir, "embeddings"), m,
      "vec_id", "embedding", "label")
    val codes = pqEncode(subs, cb)
    val qsub = subs.where(col("vec_id") === queryId)
      .select(col("sub"), col("qs").as("qqs"))
    val lut = cb.join(qsub, Seq("sub"))
      .select(col("sub"), col("clabel").as("code"),
        dotLong(col("qqs"), col("cvec")).as("qdot"), col("cn2"))
    val qn2 = subs.where(col("vec_id") === queryId)
      .agg(sum(col("n2s")).as("qn2"))
    codes.where(col("vec_id") =!= queryId)
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("qdot")).as("adot"), sum(col("cn2")).as("an2"))
      .crossJoin(broadcast(qn2))
      .select(col("vec_id"),
        round(guardedCos(col("adot"), col("qn2"), col("an2")), 4).as("acos"))
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(k)
  }

  /** ss11 — ADC shortlist + exact re-rank: the two-stage retrieval shape a
    * production PQ deployment actually runs (ss10 alone is the memory
    * story, not the quality story). Stage 1 scores the WHOLE corpus from
    * codes (m bytes per vector); stage 2 fetches raw vectors for the
    * R-candidate shortlist only and re-ranks with the exact integer-dot
    * cosine. At 100 TB the exact math and the raw-vector reads touch R
    * rows, not the corpus — the shortlist broadcasts into the vector store
    * as a stored-side broadcast-hash join, so no corpus shuffle either.
    * Recall vs exact ss01 is asserted in PipelinesSpec: re-ranking repairs
    * most of what raw ADC loses at m=4. */
  def ss11PqRerank(spark: SparkSession, dir: String): DataFrame =
    pqAdcRerank(spark, dir, queryId = 0L, m = 4, shortlist = 100, k = 10)

  /** Library surface: ADC-shortlist-then-exact-rerank at caller
    * parameters. `shortlist` is the ADC candidate count R (the recall
    * knob: raise R to trade candidate I/O for recall, k stays the
    * result size). Same lazy-pin contract as [[pqEncodeOf]]. */
  def pqAdcRerank(spark: SparkSession, dir: String, queryId: Long, m: Int,
      shortlist: Int, k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val cands = pqAdcTopK(spark, dir, queryId, m, shortlist).select("vec_id")
    val qv = corpus(spark, dir)
    val query = qv.where(col("vec_id") === queryId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    qv.join(broadcast(cands), Seq("vec_id"))
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        round(guardedCos(dotLong(col("q"), col("qq")), col("qn2"),
          col("n2")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** ss12 — SCALAR (int8) quantization ADC top-k: the simpler, higher-
    * fidelity sibling of PQ (ss10) — each DIMENSION is affine-quantized to
    * an 8-bit code against per-dimension corpus min/max, so a vector is
    * d bytes instead of d floats (8× smaller; PQ at m=4 is 16× smaller but
    * lossier — the two ends of the compression/recall dial, same query
    * API). The query stays exact; candidates are scored against their
    * RECONSTRUCTION — asymmetric distance, like ss10.
    *
    * Scale shape: the quantizer is the 64-row per-dimension (lo, hi)
    * table — learned in one map-side-combined min/max pass, broadcast
    * back; encode + score is one more scan with two broadcast joins (the
    * 64-row stats and the 64-row query) and a (vec_id, int64) aggregate.
    * Nothing corpus-sized shuffles or broadcasts.
    *
    * Engine portability: codes and reconstructions are defined on the
    * int64-quantized corpus (round(x·1000), family convention), so both
    * are single double divisions of EXACT integers rounded back to int64
    * — dots and norms are then exact integer sums, bit-identical across
    * engines regardless of summation order. */
  def ss12SqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    sqAdcTopKOf(t(spark, dir, "embeddings"), queryId = 0L, k = 10)

  /** Library surface: scalar-quantization ADC top-k over ANY (id, vector)
    * frame. Flat dimensions (hi == lo) encode as code 0 and reconstruct
    * exactly to `lo` — a constant dimension costs zero quantization
    * error. Degenerate reconstructed norms ride [[guardedCos]] (−1.0,
    * never NaN-first) — fixture-absent, oracle parity unaffected. */
  def sqAdcTopKOf(vecs: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k: $k")
    val el = vecs.select(col(idCol).as("vec_id"),
      posexplode(quantizedOf(col(vecCol))).as(Seq("i", "q")))
    val st = el.groupBy("i").agg(min("q").as("lo"), max("q").as("hi"))
    val q0 = el.where(col("vec_id") === queryId)
      .select(col("i"), col("q").as("q0"))
    val qn2 = el.where(col("vec_id") === queryId)
      .agg(sum(expr("q * q")).as("qn2"))
    // code ∈ [0, 255]: one double division of exact ints, rounded back
    val code = expr("CASE WHEN hi > lo THEN CAST(ROUND(CAST((q - lo) * " +
      "255 AS DOUBLE) / (hi - lo)) AS BIGINT) ELSE 0 END")
    val recon = expr("CASE WHEN hi > lo THEN CAST(ROUND(lo + " +
      "CAST(c * (hi - lo) AS DOUBLE) / 255.0) AS BIGINT) ELSE lo END")
    el.where(col("vec_id") =!= queryId)
      .join(broadcast(st), "i")
      .withColumn("c", code)
      .withColumn("r", recon)
      .join(broadcast(q0), "i")
      .groupBy("vec_id")
      .agg(sum(expr("r * q0")).as("dot"), sum(expr("r * r")).as("n2"))
      .crossJoin(broadcast(qn2))
      .select(col("vec_id"),
        round(guardedCos(col("dot"), col("qn2"), col("n2")), 4).as("acos"))
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(k)
  }

  /** ss13 — maximum-inner-product (MIPS) top-k: the retrieval objective of
    * recommendation / learned-sparse models, where magnitude IS signal —
    * cosine's normalization (ss01) deliberately erases it. Score = raw
    * integer dot of the int64-quantized vectors, so results are EXACT
    * (no rounding step at all — the only fully integer ranking in the
    * family).
    *
    * Scale shape: identical to ss01 — one-row query broadcast, one
    * embarrassingly-parallel corpus scan through the codegen'd
    * [[graft.functions.ArrayDot]] primitive, TakeOrderedAndProject keeps
    * k per partition. For a bucketed scale path, the standard reduction
    * [Bachrach et al., RecSys'14] appends the norm-completion dimension
    * √(M²−|x|²) to make MIPS a cosine problem — then ss03/ss06 buckets
    * apply unchanged; the exact scan here is the verifier of that path. */
  def ss13MipsTopK(spark: SparkSession, dir: String): DataFrame =
    mipsTopKOf(t(spark, dir, "embeddings"), queryId = 0L, k = 10)

  /** Library surface: exact MIPS top-k over ANY (id, vector) frame. */
  def mipsTopKOf(vecs: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(k >= 1, s"k: $k")
    val qv = vecs.select(col(idCol).as("vec_id"), quantizedOf(col(vecCol)).as("q"))
    val query = qv.where(col("vec_id") === queryId).select(col("q").as("qq"))
    qv.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(query))
      .select(col("vec_id"), dotLong(col("q"), col("qq")).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }

  /** ss14 — BUCKETED MIPS top-k: the scale path ss13's doc promises, now
    * implemented. The norm-augmentation reduction [Bachrach et al.,
    * RecSys'14]: append one coordinate a(x) = √(M² − ‖x‖²) to every corpus
    * vector (M² = max corpus ‖x‖²) and 0 to the query — every augmented
    * corpus vector then has norm exactly M, so cosine against the
    * augmented query is x·q / (M·‖q‖): MONOTONE in the inner product.
    * MIPS becomes a cosine-ANN problem and ss03's machinery applies
    * verbatim: the same two 8-plane hyperplane tables (now 65-dim — the
    * plane formula extends to i = 64 unchanged), the same Hamming ≤ 2
    * multi-probe, candidates from either table, then an EXACT integer-dot
    * re-rank of candidates only (the augmented coordinate contributes
    * q_aug·0 = 0, so the candidate dot IS the true MIPS score — no
    * approximation survives into the ranking, only into recall).
    *
    * Scale shape, same argument as ss03: probe frames are 37 rows derived
    * from one query row (broadcast by construction at any corpus size);
    * candidate generation is an equi-join on the bucket id touching
    * ~2·37/256 ≈ 29% of rows worst-case; re-rank touches candidates only.
    * The augmentation itself is one map-only pass plus a broadcast of the
    * single-row max-norm aggregate — nothing corpus-sized moves. Recall
    * floor vs the exact ss13 scan is asserted in PipelinesSpec (the
    * high-norm vectors MIPS favors get SMALL augmented coordinates, i.e.
    * they sit closest to the augmented-query hemisphere — the reduction
    * concentrates probability exactly where the answer lives). */
  def ss14MipsBucketed(spark: SparkSession, dir: String): DataFrame =
    mipsTopKBucketed(t(spark, dir, "embeddings"), queryId = 0L, k = 10)

  /** Library surface: norm-augmented LSH-bucketed MIPS top-k over ANY
    * (id, vector) frame. Exact re-rank over bucketed candidates. */
  def mipsTopKBucketed(vecs: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(k >= 1, s"k: $k")
    val base = vecs
      .select(col(idCol).as("vec_id"), quantizedOf(col(vecCol)).as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
    // single-row aggregate rides the plan as a broadcast — no collect
    val m2 = base.agg(max(col("n2")).as("m2"))
    val aug = base.crossJoin(broadcast(m2))
      // round(√(M²−‖x‖²)): integer quantization of the completion term
      // only perturbs BUCKETING (candidate recall), never the final score
      .withColumn("q", concat(col("q"), array(
        when(col("vec_id") === queryId, lit(0L)).otherwise(
          round(sqrt((col("m2") - col("n2")).cast("double"))).cast("long")))))
      .withColumn("b1", hyperplaneBucket(0, dims = 65))
      .withColumn("b2", hyperplaneBucket(8, dims = 65))
      .select("vec_id", "q", "b1", "b2")
      .transform(graft.Materialize.pin)
    val query = aug.where(col("vec_id") === queryId)
      .select(col("q").as("qq"), col("b1").as("qb1"), col("b2").as("qb2"))
    def candidates(bucketCol: String, queryBucket: String): DataFrame = {
      val probes = query.select(
        explode(probeSet(col(queryBucket))).as(bucketCol))
      aug.where(col("vec_id") =!= queryId)
        .join(broadcast(probes), Seq(bucketCol))
        .select("vec_id")
    }
    val cand = candidates("b1", "qb1")
      .unionAll(candidates("b2", "qb2")).distinct()
    aug.join(cand, Seq("vec_id"))
      .crossJoin(broadcast(query.select(col("qq"))))
      // augmented dot = true dot: the query's 65th coordinate is 0
      .select(col("vec_id"), dotLong(col("q"), col("qq")).as("dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }

  /** ss06 — IVF-style ANN: the label partition acts as the coarse quantizer
    * (what ss05's centroids exist FOR). Centroid = component-wise integer
    * SUM per cell — cosine against a sum-vector ranks identically to the
    * mean-vector (scale invariance), so the whole coarse ranking stays in
    * exact integer arithmetic. The query ranks the cells by centroid
    * cosine, probes the top `nprobe = 2` of them, and exact-cosine re-ranks
    * only those cells' members.
    *
    * Scale shape: the centroid table is |cells| rows (tiny — broadcast by
    * construction), cell selection is a driver-free top-k over it, and the
    * candidate scan is an equi-join on the label — the probed fraction of
    * the corpus (~nprobe/|cells|) is the only data touched, with no
    * per-vector hash tables to store (the IVF-vs-LSH trade: cheaper index,
    * data-adaptive cells). A production IVF would k-means its cells; the
    * pre-labeled corpus stands in for the assignment step here. */
  def ss06IvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = embCorpus(spark, dir)
    ivfAnnOn(emb, emb.select(col("vec_id"), col("label").as("cell")),
      nprobe = 2)
  }

  /** IVF ANN over TRAINED cells: refine the seed labels with `iters`
    * Lloyd rounds (kmeansFit) before probing — the full production IVF
    * recipe ss06's doc promises, where the coarse quantizer is learned
    * from the data rather than inherited from labels. Same probe/re-rank
    * core as ss06, so quality differences are attributable to the cells
    * alone. */
  def ivfAnnTrained(spark: SparkSession, dir: String, iters: Int,
      nprobe: Int): DataFrame = {
    val emb = embCorpus(spark, dir)
    val cells = kmeansFitOn(emb, iters)
      .select(col("vec_id"), col("assigned").as("cell"))
    ivfAnnOn(emb, cells, nprobe)
  }

  /** ss15 — FILTERED ANN: nearest neighbors UNDER A METADATA PREDICATE
    * (the production vector-search shape: "similar documents, but only
    * lang=en / only after 2024 / only this tenant"). The predicate is
    * pushed into the posting scan — it prunes rows BEFORE the exact
    * re-rank pays for them — while cell ranking stays corpus-wide (cells
    * are a geometry property; filtering them would skew the probe order).
    * The declared query over-probes (nprobe 4 vs ss06's 2) — the standard
    * compensation for post-filter selectivity thinning each cell's
    * candidate yield; a highly selective predicate at 100 TB wants
    * nprobe scaled by ~1/selectivity, or the dedicated partition layout
    * ([[buildIvfIndex]] with the filter column in the path) when one
    * predicate dominates the workload. */
  def ss15FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = embCorpus(spark, dir)
    ivfAnnOn(emb, emb.select(col("vec_id"), col("label").as("cell")),
      nprobe = 4, filter = Some(col("vec_id") % 3 === 0))
  }

  /** The parameterized IVF core: build centroids of `cells` (one shared
    * recipe with the k-means trainer — the quantizer cannot drift between
    * index and training), rank cells by centroid cosine against the query
    * vector, probe the top `nprobe`, exact-cosine re-rank only their
    * members (optionally pre-filtered by a metadata predicate — the
    * filtered-ANN shape). The centroid and probed-cell frames are |cells|
    * and `nprobe` rows — broadcast by construction at any corpus size. */
  private def ivfAnnOn(emb: DataFrame, cells: DataFrame,
      nprobe: Int, filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val cent = centroidsOf(emb, cells)
    val query = emb.where(col("vec_id") === 0)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    val probed = cent.crossJoin(broadcast(query))
      .withColumn("ccos",
        guardedCos(dotLong(col("cvec"), col("qq")), col("cn2"), col("qn2")))
      .orderBy(col("ccos").desc, col("clabel"))
      .limit(nprobe)
      .select(col("clabel").as("cell"))
    val postings = emb.join(cells, Seq("vec_id"))
      .where(col("vec_id") =!= 0)
    filter.fold(postings)(postings.where)
      .join(broadcast(probed), Seq("cell"))
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        round(guardedCos(dotLong(col("q"), col("qq")),
          col("qn2"), col("n2")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** Persist a trained IVF index as a cell-PARTITIONED parquet layout —
    * the build-once / probe-many ANN deployment shape. One directory:
    *
    *  - `<path>/cell=<c>/`: (vec_id, q, n2) per cell — the physical
    *    layout IS the index: a probe filters `cell IN (<literals>)` and
    *    the scan lists ONLY the probed cells' directories
    *    (`PartitionFilters` in the plan, asserted in the spec). At 100 TB
    *    with 4096 cells and nprobe = 8, a probe touches ~0.2% of the
    *    corpus bytes with no external index structure — parquet +
    *    directory partitioning do all of it. Directory partition pruning
    *    is chosen over a bucketed-table layout deliberately: bucket-file
    *    pruning rides the bucketed SCAN, which the planner's
    *    DisableUnnecessaryBucketedScan rule turns off when no downstream
    *    join needs the distribution — exactly the probe's shape — whereas
    *    partition pruning is unconditional.
    *  - `<path>/_centroids/`: (clabel, cvec, cn2) — |cells| rows, the
    *    coarse quantizer (shared recipe with the k-means trainer). The
    *    underscore prefix keeps it invisible to the data scan's file
    *    index, so index and quantizer travel as one self-contained
    *    directory.
    *
    * `iters` = 0 keeps the seed (label) cells; ≥ 1 refines them with
    * Lloyd rounds first. */
  def buildIvfIndex(spark: SparkSession, dir: String, path: String,
      iters: Int): Unit =
    graft.Materialize.scoped(buildIndexFrom(embCorpus(spark, dir), path, iters))

  /** Generic build over a caller frame (`idCol` castable to long, `embCol`
    * array<float/double>) — the library form of [[buildIvfIndex]]. Cell
    * seeds come from `seedCol` when given, else `pmod(id, cells)`;
    * `iters` ≥ 1 Lloyd rounds refine either seeding. */
  def buildIvfIndexOf(vecs: DataFrame, path: String, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      seedCol: Option[String] = None,
      cells: Int = 10): Unit = graft.Materialize.scoped {
    import graft.functions.ArrayDot.dotLong
    require(cells >= 1, s"cells: $cells")
    val seed = seedCol.map(col)
      .getOrElse(pmod(col(idCol).cast("long"), lit(cells.toLong)))
    val emb = vecs
      .select(col(idCol).cast("long").as("vec_id"), seed.as("label"),
        quantizedOf(col(embCol)).as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
      .transform(graft.Materialize.pin)
    buildIndexFrom(emb, path, iters)
  }

  /** Train-then-add (the FAISS lifecycle): Lloyd rounds train the coarse
    * quantizer, then EVERY vector is re-assigned against the final saved
    * centroids before writing. The invariant this buys — stored cell ==
    * argmax over stored `_centroids` for every row — is what makes
    * incremental maintenance coherent: [[appendToIvfIndex]] uses the same
    * assignment rule, so append-then-probe ≡ rebuild-then-probe exactly
    * (cell-by-cell content equality, proven in IvfIndexSpec). Without the
    * add-step, stored cells lag the stored centroids by one Lloyd
    * half-round and appended rows would follow a different rule than
    * built rows. Its callers' scopes free the build's pins. */
  private def buildIndexFrom(emb: DataFrame, path: String,
      iters: Int): Unit = {
    require(iters >= 0, s"iters: $iters")
    val trained =
      if (iters == 0) emb.select(col("vec_id"), col("label").as("cell"))
      else kmeansFitOn(emb, iters)
        .select(col("vec_id"), col("assigned").as("cell"))
    // consumed by the _centroids write AND the add-step broadcast
    val cent = graft.Materialize.pin(centroidsOf(emb, trained))
    val added = assignStep(emb, cent)
      .select(col("vec_id"), col("assigned").as("cell"), col("q"), col("n2"))
    graft.sources.Sink.writeCurated(
      added, path, partitionCols = Seq("cell"), sortCols = Seq("vec_id"))
    cent.write.mode("overwrite").parquet(s"$path/_centroids")
    // invalidation marker for the driver-side quantizer cache: a rewrite
    // that preserves every (name, len, mtime) still flips this content
    writeNonce(fsOf(emb.sparkSession, path), s"$path/_centroids")
  }

  // ---- versioned index layout (reader-safe retrain swap) ---------------
  // A flat index directory cannot be atomically replaced on a generic
  // filesystem: maintainIvfIndex's rename-based retrain swap has a brief
  // window where `path` does not exist, so concurrent probes must be
  // quiesced. The VERSIONED layout removes that operational constraint:
  //
  //   <root>/_current        one line: the live version's subdir name
  //   <root>/v<N>/           a complete flat index (cell=…/ + _centroids/)
  //
  // Readers resolve through `_current`. Every new version goes through ONE
  // publish step ([[publishVersion]]): number v<N+1> once, build it
  // COMPLETELY, and only if it is accepted (always, for a plain build or a
  // retrain; above the recall floor, for a gated deploy) flip the pointer
  // (single-file rename — atomic where the FS gives atomic rename, and
  // self-healing everywhere else: while the pointer is momentarily absent,
  // readers fall back to the highest COMPLETE version, which after the
  // build finishes IS the new one). A rejected candidate, or one whose
  // build, audit or flip throws, is deleted, so it never serves. Retention:
  // the new version and the one that was live before the flip (what
  // [[resolveIndexDir]] returned, so a lost pointer still names the right
  // one) are kept, so probes that resolved just before the flip finish
  // their scan on intact files; every other version is deleted. Every
  // existing surface (probe/assign/append/maintain) accepts either
  // layout — resolution is per-call, so long-lived callers pick up a flip
  // on their next call.
  //
  // WRITER CONTRACT: the versioned layout makes READERS safe under a
  // concurrent retrain; writers (append / maintain / PQ encode) must be
  // serialized per index root. Each write resolves `_current` once, so a
  // write racing a retrain flip lands in the superseded v<N> and is
  // silently deleted by the next retrain's cleanup. Every writer here
  // re-resolves the pointer AFTER its write ([[ensurePointerUnmoved]])
  // and fails loudly if it moved — turning a silent lost write into a
  // retriable error — but detection is not prevention: a flip can still
  // land in the check-to-return window, so one-writer-at-a-time remains
  // the operational contract (a nightly job satisfies it trivially).

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A version dir is COMPLETE once its quantizer exists — `_centroids` is
    * the LAST artifact [[buildIndexFrom]] writes, so its presence implies
    * the postings beneath it are fully written. */
  private def isComplete(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(dir, "_centroids"))

  private val VersionRe = "v([0-9]+)".r

  /** Complete versions under `root`, ascending by number. */
  private def versionsOf(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case VersionRe(n) if isComplete(fs, st.getPath) =>
            Some((n.toLong, st.getPath))
          case _ => None
        }
      }
      .sortBy(_._1)

  /** Resolve an index path to the directory actually holding postings +
    * `_centroids`. Flat layouts resolve to themselves; a versioned root
    * resolves through `_current`, falling back to the highest complete
    * `v<N>` when the pointer is mid-flip or names an incomplete dir.
    * Public so operational tooling can log what a probe actually read. */
  def resolveIndexDir(spark: SparkSession, path: String): String = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val cur = new org.apache.hadoop.fs.Path(root, "_current")
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      val name =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      val dir = new org.apache.hadoop.fs.Path(root, name)
      if (name.nonEmpty && isComplete(fs, dir)) return dir.toString
    }
    versionsOf(fs, root).lastOption match {
      case Some((_, dir)) => dir.toString
      case None => path // flat layout
    }
  }

  /** Writer-side half of the versioned-layout contract (see the layout
    * comment above): called AFTER a write that resolved `path` to `live`.
    * A concurrent retrain flip means the write landed in a superseded
    * version destined for cleanup — fail loudly so the caller re-runs
    * against the new version instead of losing the write silently. */
  private def ensurePointerUnmoved(spark: SparkSession, path: String,
      live: String): Unit = {
    val now = resolveIndexDir(spark, path)
    if (now != live)
      throw new IllegalStateException(
        s"IVF index $path: live version moved from $live to $now during " +
          "a write — the written rows landed in a superseded version and " +
          "the next retrain cleanup would drop them. Writers must be " +
          "serialized per index root; re-run this write.")
  }

  /** Point `root/_current` at `name`. Write-tmp-then-rename: the pointer
    * file is either the old complete line, absent (readers fall back to
    * the highest complete version), or the new complete line — never a
    * partial write. */
  private def writePointer(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, name: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(root, "_current.tmp")
    val cur = new org.apache.hadoop.fs.Path(root, "_current")
    val out = fs.create(tmp, true)
    try out.write(name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(cur, false)
    if (!fs.rename(tmp, cur))
      throw new java.io.IOException(
        s"IVF versioned layout: cannot publish pointer $cur -> $name " +
          "(readers fall back to the highest complete version)")
  }

  /** The one publish step of the versioned layout (see the layout comment
    * above): number the next version `v<N>` once, `build` it into
    * `<root>/v<N>`, and when `accept` passes on what the build returned,
    * flip `_current` to it and delete every version except `v<N>` and the
    * one live before the flip. A rejected candidate is deleted; a throw
    * from the build, the gate or the flip deletes it and rethrows.
    * Returns (N, the build's value, whether it was published). */
  private def publishVersion[A](spark: SparkSession, root: String)(
      build: String => A)(accept: A => Boolean): (Long, A, Boolean) = {
    val fs = fsOf(spark, root)
    val rootP = new org.apache.hadoop.fs.Path(root)
    val live = Some(resolveIndexDir(spark, root)).filter(_ != root)
      .map(new org.apache.hadoop.fs.Path(_).getName)
    val next = versionsOf(fs, rootP).lastOption.map(_._1 + 1).getOrElse(1L)
    val name = s"v$next"
    val candidate = new org.apache.hadoop.fs.Path(rootP, name)
    val (out, published) =
      try {
        val out = build(candidate.toString)
        val ok = accept(out)
        if (ok) writePointer(fs, rootP, name) else fs.delete(candidate, true)
        (out, ok)
      } catch { case e: Throwable => fs.delete(candidate, true); throw e }
    if (published)
      versionsOf(fs, rootP)
        .filterNot { case (_, dir) =>
          dir.getName == name || live.contains(dir.getName) }
        .foreach { case (_, dir) => fs.delete(dir, true) }
    (next, out, published)
  }

  /** Build a NEW versioned index at `root` (first version `v1`), or publish
    * the next version over an existing root: the new version serves, the
    * previously live one is kept for one grace round, and older versions
    * are deleted ([[publishVersion]]). Same parameters and training
    * lifecycle as [[buildIvfIndexOf]]; the flat single-directory build
    * remains available for quiesced deployments. */
  def buildIvfIndexVersionedOf(vecs: DataFrame, root: String, iters: Int,
      idCol: String = "vec_id", embCol: String = "embedding",
      seedCol: Option[String] = None, cells: Int = 10): Unit =
    publishVersion(vecs.sparkSession, root)(
      buildIvfIndexOf(vecs, _, iters, idCol, embCol, seedCol, cells))(_ => true)

  // ---- driver-side quantizer cache (probe fixed-overhead killer) ------
  // A probe needs two SMALL driver-resident artifacts before its one real
  // job (the pruned postings/codes scan): the `_centroids` cell ranking
  // and, for PQ, the `_pq_codebooks` LUT input. Fetching each as a Spark
  // job per probe call means a probe-many deployment pays two scheduler
  // round-trips of pure fixed overhead per query — exactly the
  // cross-JVM-sensitive cost the r10 verdict flagged on ss11. The cache
  // keys on the RESOLVED index dir (a versioned pointer flip changes the
  // key, so deploys invalidate for free) PLUS a content signature of the
  // artifact directory: the file listing (names, lengths, mtimes — one
  // namenode listStatus) FOLDED WITH the `_write_nonce` marker the index
  // writer drops after every artifact rewrite. The nonce closes the
  // advisor's metadata-collision window: an in-place retrain that rewrites
  // part files with identical names/lengths inside the filesystem's mtime
  // granularity (1 s on many local/object stores) still flips the nonce
  // CONTENT, so the signature changes even when the listing doesn't.
  // Values are |cells|- and m·|cells|-row arrays — the same rows the old
  // per-call collect shipped to the driver anyway — and the map is
  // LRU-bounded (superseded version dirs age out instead of accumulating
  // for the JVM's lifetime).

  private val quantizerCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Long, AnyRef)]() // (signature, lastUsed tick, value)
  private val quantizerCacheClock = new java.util.concurrent.atomic.AtomicLong
  private val QuantizerCacheMaxEntries = 64
  /** Cache (re)loads — a test hook proving nonce-content invalidation:
    * a reload observed while (name, len, mtime) are all unchanged can only
    * have come from the nonce fold. */
  private[graft] val quantizerCacheLoads =
    new java.util.concurrent.atomic.AtomicLong

  /** The writer-side half of the invalidation contract: dropped into an
    * artifact directory AFTER its parquet rewrite completes. Underscore
    * prefix keeps parquet readers blind to it. */
  private[graft] val NonceFile = "_write_nonce"
  private def writeNonce(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, NonceFile), true)
    try out.write(java.util.UUID.randomUUID().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Content signature of one artifact directory: order-independent over
    * (name, len, mtime) of its immediate files, folded with the
    * `_write_nonce` CONTENT when present. One listStatus RPC plus one
    * 36-byte read — no Spark job. Indexes built before the nonce existed
    * degrade to the listing-only signature. */
  private def dirSignature(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    var h = 1125899906842597L
    fs.listStatus(dir).sortBy(_.getPath.getName).foreach { s =>
      h = h * 31 + s.getPath.getName.hashCode
      h = h * 31 + s.getLen
      h = h * 31 + s.getModificationTime
    }
    val nonce = new org.apache.hadoop.fs.Path(dir, NonceFile)
    // exists→open is a TOCTOU window: maintainIvfIndex's versioned
    // cleanup deletes superseded dirs concurrently with probes, so the
    // nonce can vanish between the two calls. A vanished nonce degrades
    // to the listing-only signature — the same contract as indexes built
    // before the nonce existed — instead of failing the probe.
    if (fs.exists(nonce)) {
      try {
        val in = fs.open(nonce)
        val body = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toString("UTF-8")
        } finally in.close()
        h = h * 31 + body.hashCode
      } catch { case _: java.io.FileNotFoundException => () }
    }
    h
  }

  private def cachedArtifact[T <: AnyRef](spark: SparkSession,
      dir: String)(load: => T): T = {
    val sig = dirSignature(fsOf(spark, dir),
      new org.apache.hadoop.fs.Path(dir))
    val tick = quantizerCacheClock.incrementAndGet()
    val hit = quantizerCache.get(dir)
    if (hit != null && hit._1 == sig) {
      quantizerCache.put(dir, (sig, tick, hit._3))
      hit._3.asInstanceOf[T]
    } else {
      quantizerCacheLoads.incrementAndGet()
      val v = load
      quantizerCache.put(dir, (sig, tick, v))
      pruneQuantizerCache(QuantizerCacheMaxEntries)
      v
    }
  }

  /** Drop least-recently-used entries until at most `max` remain —
    * superseded version dirs age out; the bound caps driver memory at
    * `max` quantizer tables regardless of deploy count. */
  private[graft] def pruneQuantizerCache(max: Int): Unit =
    while (quantizerCache.size() > max) {
      import scala.jdk.CollectionConverters._
      val lru = quantizerCache.entrySet().asScala
        .minByOption(_.getValue._2)
      lru.foreach(e => quantizerCache.remove(e.getKey, e.getValue))
    }

  /** Test/ops hook: number of live cache entries (and a full drop). */
  private[graft] def quantizerCacheSize: Int = quantizerCache.size()
  private[graft] def clearQuantizerCache(): Unit = quantizerCache.clear()

  private[graft] final case class CentroidRow(clabel: Long,
      cvec: Array[Long], cn2: Long)

  private def cachedCentroids(spark: SparkSession,
      path0: String): Array[CentroidRow] =
    cachedArtifact(spark, s"$path0/_centroids") {
      Tables.parquet(spark, s"$path0/_centroids")
        .select(col("clabel").cast("long"), col("cvec"),
          col("cn2").cast("long"))
        .collect()
        .map(r => CentroidRow(r.getLong(0), r.getSeq[Long](1).toArray,
          r.getLong(2)))
    }

  private[graft] final case class CodebookRow(sub: Int, code: Long,
      cvec: Array[Long], cn2: Long)

  /** The one codebook loader, for either code set: a clear error names
    * the encoder to run when the index carries no such codebooks. */
  private def cachedCodebooks(spark: SparkSession, path0: String,
      set: CodeSet): Array[CodebookRow] = {
    val dir = set.codebooks(path0)
    val missing = s"no ${set.codebooksName} at $path0 — run ${set.adder} first"
    require(fsOf(spark, path0).exists(new org.apache.hadoop.fs.Path(dir)),
      missing)
    val rows = cachedArtifact(spark, dir) {
      Tables.parquet(spark, dir)
        .select(col("sub").cast("int"), col("clabel").cast("long"),
          col("cvec"), col("cn2").cast("long"))
        .collect()
        .map(r => CodebookRow(r.getInt(0), r.getLong(1),
          r.getSeq[Long](2).toArray, r.getLong(3)))
    }
    require(rows.nonEmpty, missing)
    rows
  }

  /** Driver replay of the plan-side cell ranking: dot accumulated in Long
    * element order (ArrayDotLong's loop), cosine as
    * dot / sqrt(double(cn2) * double(qn2)) with [[guardedCos]]'s −1.0
    * degenerate guard, ties to the smaller clabel — bit-identical IEEE
    * arithmetic to the expression tree it replaces, pinned by
    * IvfIndexSpec's ranking-parity test. */
  private[graft] def rankCellsDriverSide(cents: Array[CentroidRow],
      q: Seq[Long], nprobe: Int): Seq[Long] = {
    val qa = q.toArray
    val qn2 = dotFrom(qa, 0, qa)
    cents.map { c =>
      val dot = dotFrom(qa, 0, c.cvec)
      val ccos = if (c.cn2 > 0 && qn2 > 0)
        dot.toDouble / math.sqrt(c.cn2.toDouble * qn2.toDouble)
      else -1.0
      (ccos, c.clabel)
    }.sortBy { case (ccos, clabel) => (-ccos, clabel) }
      .take(nprobe).map(_._2).toSeq
  }

  /** Assign caller vectors to a persisted index's FROZEN coarse quantizer:
    * (vec_id, cell, q, n2, cos) — the same broadcast-argmax recipe as the
    * trainer's assignment step (|cells|-row centroid table broadcasts by
    * construction; the shuffle carries D rows, never D·k; ties break to
    * the smallest cell label so the argmax is total). */
  def assignToIvfIndex(spark: SparkSession, path: String, vecs: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val cent =
      Tables.parquet(spark, s"${resolveIndexDir(spark, path)}/_centroids")
    vecs
      .select(col(idCol).cast("long").as("vec_id"), lit(0L).as("label"),
        quantizedOf(col(embCol)).as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
      .transform(assignStep(_, cent))
      .select(col("vec_id"), col("assigned").as("cell"), col("q"),
        col("n2"), col("cos"))
  }

  /** Append outcome: assignment-quality stats the caller uses as the
    * re-train signal — when `meanCos` drifts materially below the values
    * seen at build time (the corpus distribution moved away from the
    * frozen quantizer), stop appending and re-train with
    * [[buildIvfIndexOf]]; cells only grow lopsided, they never re-balance
    * on their own. */
  final case class IvfAppendStats(nAppended: Long, meanCos: Double,
      minCos: Double)

  /** Shared by append and maintain so the two paths cannot drift: the
    * stats extraction and the one-true append layout. */
  private def appendStats(assigned: DataFrame): IvfAppendStats = {
    val r = assigned.agg(count(lit(1)), avg("cos"), min("cos")).head()
    IvfAppendStats(r.getLong(0),
      if (r.isNullAt(1)) Double.NaN else r.getDouble(1),
      if (r.isNullAt(2)) Double.NaN else r.getDouble(2))
  }

  private def appendAssigned(assigned: DataFrame, path: String): Unit =
    graft.sources.Sink.writeCurated(
      assigned.select("vec_id", "cell", "q", "n2"),
      path, partitionCols = Seq("cell"), sortCols = Seq("vec_id"),
      mode = "append")

  /** Incremental IVF maintenance — the nightly-corpus (dd08) shape: assign
    * NEW vectors to the existing frozen quantizer and append them into the
    * cell-partitioned layout (new files inside existing `cell=` dirs; the
    * probe path and its partition pruning are unchanged). `_centroids` is
    * NOT rewritten — append ≡ rebuild holds exactly while the quantizer is
    * frozen. Caller owns vec_id uniqueness across the base corpus and all
    * appends (same contract as any postings file). */
  def appendToIvfIndex(spark: SparkSession, path: String, vecs: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfAppendStats = graft.Materialize.scoped {
    val live = resolveIndexDir(spark, path)
    val assigned = graft.Materialize.pin(
      assignToIvfIndex(spark, live, vecs, idCol, embCol))
    appendAssigned(assigned, live)
    ensurePointerUnmoved(spark, path, live)
    appendStats(assigned)
  }

  /** What one maintenance round did: appended in place, or re-trained. */
  final case class IvfMaintenance(retrained: Boolean, stats: IvfAppendStats)

  /** The full nightly-maintenance policy in one call: APPEND the new
    * vectors while they still fit the frozen quantizer, RE-TRAIN when the
    * corpus distribution has drifted away from it. Drift test: the new
    * batch's mean assigned-centroid cosine below `retrainBelow` ⇒ the
    * quantizer no longer describes the data (cells only grow lopsided on
    * their own — appends never re-balance), so rebuild the whole index
    * (old rows + the new batch) with `iters` Lloyd rounds into `path`.
    * The decision probe costs one assignment pass over ONLY the new
    * batch; the rebuild, when taken, re-reads the stored (q, n2) postings
    * — vectors are not re-quantized, and the ×1000 quantization is
    * idempotent by construction, so a rebuild round-trips exactly.
    * Choose `retrainBelow` from the build-time assignment quality (e.g.
    * its mean minus a margin). Cosines range over [−1, 1] (degenerate
    * vectors score −1), so 0.0 does NOT disable re-training — an
    * anti-correlated batch has a negative mean; pass
    * `Double.NegativeInfinity` (the default) to always append. */
  def maintainIvfIndex(spark: SparkSession, path: String, vecs: DataFrame,
      retrainBelow: Double = Double.NegativeInfinity, iters: Int = 1,
      idCol: String = "vec_id",
      embCol: String = "embedding"): IvfMaintenance = graft.Materialize.scoped {
    val live = resolveIndexDir(spark, path)
    val versioned = live != path
    val assigned = graft.Materialize.pin(
      assignToIvfIndex(spark, live, vecs, idCol, embCol))
    val stats = appendStats(assigned)
    if (stats.nAppended > 0 && stats.meanCos < retrainBelow) {
      // drifted: rebuild from stored postings + the (already-quantized)
      // new batch, seeded by the current cells so training warm-starts
      val old = Tables.parquet(spark, live)
        .select(col("vec_id"), col("cell").as("label"), col("q"),
          col("n2"))
      val fresh = assigned
        .select(col("vec_id"), col("cell").as("label"), col("q"),
          col("n2"))
      val grown = graft.Materialize.pin(old.unionByName(fresh))
      if (versioned) // reader-safe swap: the one publish step
        publishVersion(spark, path)(buildIndexFrom(grown, _, iters))(_ => true)
      else {
        val tmp = path + ".retrain"
        buildIndexFrom(grown, tmp, iters)
        // FLAT-layout fallback swap: old → .old, tmp → live, drop .old.
        // Two renames, so there IS a brief window where `path` does not
        // exist (generic filesystems have no atomic directory swap) —
        // run maintenance while probes are quiesced (use the VERSIONED
        // layout when probes cannot be quiesced), and on a crash
        // mid-swap recover by renaming `.old` (or `.retrain`) back into
        // place; readers of a missing index must fail loudly, never
        // rebuild from scratch (NightlyIngestExample checks exactly
        // this). Hadoop FileSystem.rename signals failure by returning
        // FALSE, not throwing — every step checks, because a silent
        // false after staging the old index aside would destroy it
        // while reporting success.
        val fs = fsOf(spark, path)
        def mv(a: String, b: String): Boolean =
          fs.rename(new org.apache.hadoop.fs.Path(a),
            new org.apache.hadoop.fs.Path(b))
        val bak = path + ".old"
        fs.delete(new org.apache.hadoop.fs.Path(bak), true)
        if (!mv(path, bak))
          throw new java.io.IOException(
            s"IVF retrain: cannot stage $path aside; rebuilt index left at $tmp")
        if (!mv(tmp, path)) {
          val restored = mv(bak, path) // roll back — keep the old index live
          throw new java.io.IOException(
            if (restored)
              s"IVF retrain: swap failed; old index restored, rebuild left at $tmp"
            else
              s"IVF retrain: swap AND rollback failed — no live index at " +
                s"$path; recover manually from $bak or $tmp")
        }
        fs.delete(new org.apache.hadoop.fs.Path(bak), true)
      }
      IvfMaintenance(retrained = true, stats)
    } else {
      if (stats.nAppended > 0) {
        appendAssigned(assigned, live)
        ensurePointerUnmoved(spark, path, live)
      }
      IvfMaintenance(retrained = false, stats)
    }
  }

  /** Probe a persisted index with a caller-supplied float vector: rank
    * cells by centroid cosine (|cells|-row scan), COLLECT the top-nprobe
    * cell ids (a bounded nprobe-scalar collect — the literal IN list is
    * what lets the scan prune partitions; a join would list every cell
    * directory), then exact-cosine re-rank only those cells' members.
    * Quantization is the build side's own rule ([[quantizeQuery]]) so a
    * probe vector equal to an indexed vector scores 1.0. */
  def probeIvfIndex(spark: SparkSession, path: String,
      query: Array[Float], nprobe: Int, k: Int,
      excludeIds: Seq[Long] = Seq.empty): DataFrame =
    probeIvfIndexQ(spark, path, quantizeQuery(query), nprobe, k, excludeIds)

  /** The probe core over an ALREADY-QUANTIZED query vector — the
    * arithmetic [[auditIvfIndex]] replays plan-side, kept callable for
    * single-query probes where a stored vector must probe as exactly
    * itself (a float round-trip could move a component by one quantum).
    *
    * Cell ranking runs DRIVER-SIDE over the cached `_centroids` rows
    * ([[rankCellsDriverSide]] — bit-identical arithmetic, parity-pinned):
    * a warm probe is ONE Spark job (the partition-pruned postings scan)
    * instead of a centroid-scan job + collect + postings job. */
  def probeIvfIndexQ(spark: SparkSession, path: String,
      q: Seq[Long], nprobe: Int, k: Int,
      excludeIds: Seq[Long] = Seq.empty): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe/k: $nprobe/$k")
    val path0 = resolveIndexDir(spark, path)
    val cells = rankCellsDriverSide(cachedCentroids(spark, path0), q, nprobe)
    exactTopK(cellScan(spark, path0, cells, excludeIds), q, k)
  }

  /** The probe quantizer: `quantize_milli`'s scalar rule per component, so
    * a probe vector quantizes exactly as the build side stored it. */
  private[graft] def quantizeQuery(query: Array[Float]): Seq[Long] =
    query.map(v => graft.functions.QuantizeMilli.milli(v.toDouble)).toSeq

  /** `q` · `v` over `v.length` components of `q` from `from` — the driver
    * dot behind cell ranking, the ADC LUT and the residual cell term. */
  private def dotFrom(q: Array[Long], from: Int, v: Array[Long]): Long = {
    val n = math.min(v.length, q.length - from)
    var s = 0L; var i = 0
    while (i < n) { s += q(from + i) * v(i); i += 1 }
    s
  }

  /** The cell-pruned scan every probe reads: the literal `cell IN (…)`
    * list becomes the scan's PartitionFilters, and `excludeIds` drops
    * the caller's own ids before anything is scored. */
  private def cellScan(spark: SparkSession, dir: String, cells: Seq[Long],
      excludeIds: Seq[Long]): DataFrame = {
    val probed = Tables.parquet(spark, dir)
      .where(col("cell").isInCollection(cells))
    if (excludeIds.isEmpty) probed
    else probed.where(!col("vec_id").isInCollection(excludeIds))
  }

  /** Exact cosine top-k of `postings` (vec_id, q, n2) against `q`, rounded
    * before ranking as every probe path ranks. */
  private def exactTopK(postings: DataFrame, q: Seq[Long], k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val qa = q.toArray
    postings
      .select(col("vec_id"),
        round(guardedCos(dotLong(col("q"), typedLit(q)),
          lit(dotFrom(qa, 0, qa)), col("n2")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-query top-k of a scored `(qid, vec_id, cos)` frame, ties broken
    * by `vec_id`; returns `(qid, vec_id)`. Spark plans `row_number() ≤ k`
    * as a partial WindowGroupLimit before the `qid` exchange and a final
    * one after it, so each input partition ships at most k rows per query
    * and no window partition is corpus-sized (PlanAuditSpec). */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    scored.withColumn("rk", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("vec_id"))))
      .where(col("rk") <= k)
      .select("qid", "vec_id")
  }

  /** RECALL AUDIT of a persisted IVF index (ss17's audit, index
    * edition): for a panel of the index's OWN stored vectors, measured
    * recall@k of the probe path (nprobe cells) against exact search over
    * all postings. Panel members score with [[probeIvfIndexQ]]'s exact
    * arithmetic (already-quantized vectors, round-then-rank) so a stored
    * vector queries as exactly itself. Output per panel member:
    * (qid, hits, recall_pct).
    *
    * ONE plan, not a driver loop (r9 directive #4): the whole panel
    * rides a single job — broadcast panel × centroids for per-qid cell
    * ranking, a cell equi-join for the approx arm, one shared full
    * postings scan for the exact arm, and a pruned per-query top-k
    * ([[topKPerQuery]]) so no task ever windows a corpus-sized partition. A
    * 1000-member audit is one job; the old shape was 2000 serial ones.
    * The single driver collect is the bounded panel fetch. */
  def auditIvfIndex(spark: SparkSession, path: String,
      panelIds: Seq[Long], nprobe: Int, k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(panelIds.nonEmpty, "empty audit panel")
    require(nprobe >= 1 && k >= 1, s"nprobe/k: $nprobe/$k")
    val path0 = resolveIndexDir(spark, path)
    val postings = Tables.parquet(spark, path0)
    // THE one bounded driver collect of the audit: |panel| stored
    // vectors, fetched once so the panel becomes a local relation (the
    // exact-search probe set) instead of re-filtering the postings scan
    // per use — and so the missing-id validation rides the same job.
    val panelRows = postings.where(col("vec_id").isInCollection(panelIds))
      .select("vec_id", "q", "n2").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2)))
    require(panelRows.length == panelIds.distinct.length,
      s"audit panel ids missing from the index: wanted ${panelIds.size}, " +
        s"found ${panelRows.length}")
    val panel = panelRows.toSeq.toDF("qid", "qq", "qn2")
    // Panel-wide cell ranking: centroids × panel is (cells · |panel|)
    // rows — the per-qid nprobe cut is a window over ≤ cells rows.
    val cellRank = Window.partitionBy("qid")
      .orderBy(col("ccos").desc, col("clabel"))
    val probeCells = Tables.parquet(spark, s"$path0/_centroids")
      .crossJoin(broadcast(panel))
      .select(col("qid"),
        guardedCos(dotLong(col("cvec"), col("qq")), col("cn2"), col("qn2"))
          .as("ccos"),
        col("clabel"))
      .withColumn("rk", row_number().over(cellRank))
      .where(col("rk") <= nprobe)
      .select(col("qid"), col("clabel").as("cell"))
    // probeIvfIndexQ's score, panel-wide: round BEFORE ranking, as the
    // probe path does, so the audit replays the served ordering exactly
    val cosCol = round(
      guardedCos(dotLong(col("q"), col("qq")), col("qn2"), col("n2")), 4)
    // approx arm: only the nprobe cells' postings per qid (the equi-join
    // on cell prunes partitions — the same pruning the probe path gets
    // from its IN list); exact arm: the full postings scan, once, for
    // ALL panel members together — |panel|× cheaper than the old
    // 2-jobs-per-member driver loop.
    val approxK = topKPerQuery(postings
      .join(broadcast(probeCells), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .join(broadcast(panel), Seq("qid"))
      .select(col("qid"), col("vec_id"), cosCol.as("cos")), k)
    val exactK = topKPerQuery(postings.crossJoin(broadcast(panel))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosCol.as("cos")), k)
    val hits = exactK.join(approxK, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    panel.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        ((coalesce(col("hits"), lit(0L)) * lit(100L)) / lit(k))
          .cast("long").as("recall_pct"))
      .orderBy("qid")
  }

  /** One gated deployment round's outcome. */
  final case class IvfGateResult(version: Long, meanRecallPct: Double,
      deployed: Boolean)

  /** GATED versioned deployment — the production loop around
    * [[buildIvfIndexVersionedOf]]: build the NEXT version WITHOUT
    * flipping the `_current` pointer, audit ITS recall on a panel of its
    * own vectors, and flip only if mean recall ≥ `floorPct`. A failing
    * candidate, or one whose build or audit throws (the throw is
    * rethrown), is deleted and the previous version keeps serving: no
    * reader ever sees an unaudited index. A flip keeps the new version
    * and the one live before it and deletes every older version
    * ([[publishVersion]], the same retention as every versioned build).
    * This is the gate that stops a mis-parameterized retrain (too few
    * cells, too few Lloyd rounds, a garbage batch folded in) from
    * silently replacing a good index — recall is a property of the
    * quantizer on YOUR data, so it is measured, not assumed. */
  def deployGatedIvfIndex(vecs: DataFrame, root: String, iters: Int,
      panelIds: Seq[Long], nprobe: Int, k: Int, floorPct: Double,
      idCol: String = "vec_id", embCol: String = "embedding",
      cells: Int = 10): IvfGateResult = {
    val spark = vecs.sparkSession
    val (version, mean, deployed) = publishVersion(spark, root) { candidate =>
      buildIvfIndexOf(vecs, candidate, iters, idCol, embCol, None, cells)
      val audit = auditIvfIndex(spark, candidate, panelIds, nprobe, k)
        .agg(avg("recall_pct")).head()
      if (audit.isNullAt(0)) 0.0 else audit.getDouble(0)
    }(_ >= floorPct)
    IvfGateResult(version, mean, deployed)
  }

  // ---- IVF+PQ: codes beside the postings (the FAISS IVFPQ shape) -------
  // IVF bounds what a probe SCANS (nprobe cells of the corpus); PQ bounds
  // what each scanned row COSTS (m code bytes instead of the raw vector).
  // Composed, a 100 TB probe reads nprobe/cells of the CODES table —
  // partition-pruned, m bytes a row — and touches raw vectors only for
  // the final rerank shortlist. Layout (both flat and versioned roots):
  //
  //   <dir>/cell=<c>/          postings (vec_id, q, n2)   [existing]
  //   <dir>/_centroids/        coarse quantizer            [existing]
  //   <dir>/_pq_codebooks/     (sub, code, cvec, cn2)      [addPqToIvfIndex]
  //   <dir>/_pq_codes/cell=<c>/ (vec_id, sub, code)        [addPqToIvfIndex]
  //
  // Underscore names keep the PQ artifacts invisible to the existing
  // postings reads (Spark's file index skips _-prefixed paths), so every
  // pre-PQ surface works unchanged on a PQ-augmented index.

  /** One persisted code set beside the postings — raw PQ (`pq`) or
    * residual PQ (`rpq`), each described once here: its artifact dirs
    * (`_<name>_codebooks`, cell-partitioned `_<name>_codes`), its encoder
    * and its ADC score. Everything else — the cell ranking, the
    * cell-pruned codes scan, the driver LUT, the exact rerank, the
    * artifact writes and the refresh — is shared by both. */
  private sealed abstract class CodeSet(val name: String, val adder: String) {
    val codebooksName = s"_${name}_codebooks"
    def codebooks(dir: String): String = s"$dir/$codebooksName"
    def codes(dir: String): String = s"$dir/_${name}_codes"
    /** Encode the postings at `dir` with `m` subspaces: (codes with a
      * `cell` column, codebooks (sub, clabel, cvec, cn2), further
      * artifacts written after the codebooks). */
    def encode(spark: SparkSession, dir: String,
        m: Int): (DataFrame, DataFrame, Seq[(String, DataFrame)])
    /** (vec_id, adot, an2) of every probed vector, from its codes joined
      * to the LUT (sub, code, qdot, cn2). */
    def adc(spark: SparkSession, dir: String, q: Array[Long],
        cells: Seq[Long], hits: DataFrame): DataFrame
  }

  /** Raw PQ: codes of the stored vectors; the codebooks are seeded by the
    * stored cell (the coarse quantizer doubles as the sub-codebook
    * seeding, so codeword count per subspace = |cells|). ADC sums the
    * LUT dots and the codewords' norms. */
  private object RawPq extends CodeSet("pq", "addPqToIvfIndex") {
    def encode(spark: SparkSession, dir: String,
        m: Int): (DataFrame, DataFrame, Seq[(String, DataFrame)]) = {
      val postings = Tables.parquet(spark, dir)
        .select(col("vec_id"), col("cell").cast("long").as("label"),
          col("q"), col("cell"))
      val (subs, cb0) = pqPartsQ(postings.select("vec_id", "label", "q"), m)
      // two write actions consume the codebook frame (the codes' broadcast
      // join side AND the _pq_codebooks artifact) — pinned, or each write
      // re-runs the posexplode + two-level centroid aggregate over the
      // whole postings set (the pin audit flags exactly this)
      val cb = graft.Materialize.pin(cb0)
      val codes = pqEncode(subs, cb)
        .join(postings.select(col("vec_id"), col("cell")), "vec_id")
        .select(col("vec_id"), col("sub"), col("code"), col("cell"))
      (codes, cb, Seq.empty)
    }

    def adc(spark: SparkSession, dir: String, q: Array[Long],
        cells: Seq[Long], hits: DataFrame): DataFrame =
      hits.groupBy("vec_id")
        .agg(sum(col("qdot")).as("adot"), sum(col("cn2")).as("an2"))
  }

  /** Residual PQ (see the section comment below): codes of x − rcm(cell),
    * with `an2 = |x̂|²` stored per vector and the cell references in
    * `_rpq_centroids`. ADC adds the per-cell term dot(q, rcm(cell)) to the
    * summed LUT dots and reads `an2` from the codes row. */
  private object ResidualPq extends CodeSet("rpq", "addResidualPqToIvfIndex") {
    def encode(spark: SparkSession, dir: String,
        m: Int): (DataFrame, DataFrame, Seq[(String, DataFrame)]) = {
      import graft.functions.ArrayDot.dotLong
      val postings = Tables.parquet(spark, dir)
        .select(col("vec_id"), col("cell").cast("long").as("label"), col("q"))
      val cnt = postings.groupBy("label").agg(count(lit(1)).as("n"))
      // cell references from the stored SUM centroids ÷ live counts
      val rcm = Tables.parquet(spark, s"$dir/_centroids")
        .select(col("clabel").as("label"), col("cvec"))
        .join(broadcast(cnt), "label")
        .select(col("label"),
          transform(col("cvec"), x => floorDivCol(x, col("n"))).as("rvec"))
      val (codes, cbm, xhat) = residualEncode(postings, rcm, m)
      val an2 = xhat
        .select(col("vec_id"), dotLong(col("xh"), col("xh")).as("t"))
        .groupBy("vec_id").agg(sum(col("t")).as("an2"))
      val out = codes
        .join(an2, "vec_id")
        .join(postings.select(col("vec_id"), col("label").as("cell")),
          "vec_id")
        .select(col("vec_id"), col("sub"), col("code"), col("an2"),
          col("cell"))
      (out, cbm, Seq("_rpq_centroids" ->
        rcm.withColumn("rn2", dotLong(col("rvec"), col("rvec")))))
    }

    def adc(spark: SparkSession, dir: String, q: Array[Long],
        cells: Seq[Long], hits: DataFrame): DataFrame = {
      import spark.implicits._
      val cellDot = cachedRpqCentroids(spark, dir).toSeq
        .filter(r => cells.contains(r.label))
        .map(r => (r.label, dotFrom(q, 0, r.rvec)))
        .toDF("cell", "rcdot")
      hits.groupBy("vec_id", "cell")
        .agg(sum(col("qdot")).as("sdot"), max(col("an2")).as("an2"))
        .join(broadcast(cellDot), "cell")
        .select(col("vec_id"), (col("sdot") + col("rcdot")).as("adot"),
          col("an2"))
    }
  }

  /** Encode `path`'s live postings into `set` and write its artifacts:
    * the cell-partitioned codes, then the codebooks and any further
    * artifact, each followed by its cache-invalidation nonce.
    * Idempotent full re-encode. */
  private def addCodeSet(spark: SparkSession, path: String, m: Int,
      set: CodeSet): Unit = graft.Materialize.scoped {
    val path0 = resolveIndexDir(spark, path)
    val (codes, codebooks, more) = set.encode(spark, path0, m)
    graft.sources.Sink.writeCurated(codes, set.codes(path0),
      partitionCols = Seq("cell"), sortCols = Seq("vec_id", "sub"))
    ((set.codebooksName -> codebooks) +: more).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$path0/$name")
      writeNonce(fsOf(spark, path0), s"$path0/$name")
    }
    ensurePointerUnmoved(spark, path, path0)
  }

  /** The one probe core of both code sets: rank `nprobe` cells on the
    * driver, ADC-score ONLY those cells' codes (the scan reads
    * `_<name>_codes/cell=…` — partition-pruned, no raw vectors) against a
    * driver-built LUT — dot(query_sub, codeword) per (sub, code), from
    * the cached codebook table (|subs|·|cells| rows, the table a CPU ADC
    * scan keeps in L1), broadcast into the codes join — then
    * exact-rerank the top-`rerank` shortlist from the postings of the
    * same cells. `rerank <= 0` returns the raw ADC ranking (vec_id,
    * acos); otherwise (vec_id, cos) with exact cosines. Both small
    * artifacts come from the driver-side cache, so a warm probe
    * schedules only the codes scan (+ the rerank scan). */
  private def probeCodeSet(spark: SparkSession, path: String,
      query: Array[Float], nprobe: Int, k: Int, rerank: Int,
      excludeIds: Seq[Long], set: CodeSet): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe/k: $nprobe/$k")
    require(rerank <= 0 || rerank >= k, s"rerank $rerank < k $k")
    val path0 = resolveIndexDir(spark, path)
    val q = quantizeQuery(query)
    val qa = q.toArray
    val cells = rankCellsDriverSide(cachedCentroids(spark, path0), q, nprobe)
    import spark.implicits._
    // the query is sliced exactly as pqPartsQ slices postings
    val lut = cachedCodebooks(spark, path0, set).toSeq
      .map(r => (r.sub, r.code, dotFrom(qa, r.sub * r.cvec.length, r.cvec),
        r.cn2))
      .toDF("sub", "code", "qdot", "cn2")
    val hits = cellScan(spark, set.codes(path0), cells, excludeIds)
      .join(broadcast(lut), Seq("sub", "code"))
    val adc = set.adc(spark, path0, qa, cells, hits)
      .select(col("vec_id"), round(guardedCos(col("adot"),
        lit(dotFrom(qa, 0, qa)), col("an2")), 4).as("acos"))
      .orderBy(col("acos").desc, col("vec_id"))
    if (rerank <= 0) adc.limit(k)
    else exactTopK(cellScan(spark, path0, cells, excludeIds)
      .join(broadcast(adc.limit(rerank).select("vec_id")), Seq("vec_id")),
      q, k)
  }

  /** Encode an existing IVF index's postings into PQ codes, writing
    * `_pq_codebooks` + cell-partitioned `_pq_codes` beside the postings
    * ([[RawPq]]). Idempotent full re-encode: run it again (or
    * [[refreshPqCodes]]) after [[appendToIvfIndex]] or a
    * [[maintainIvfIndex]] retrain — appended rows are invisible to ADC
    * probes until encoded (the probe scores CODES, and re-encoding is one
    * bounded pass over the postings). */
  def addPqToIvfIndex(spark: SparkSession, path: String, m: Int): Unit =
    addCodeSet(spark, path, m, RawPq)

  /** Re-derive EVERY code set a PQ-augmented index carries — raw PQ and
    * residual PQ — after an append or a retrain, inferring each `m` from
    * that code set's own stored codebooks: the maintenance half of the
    * staleness contract (appended rows are ADC-invisible until encoded).
    * No-op on an index with no code set, so a nightly job calls it
    * unconditionally after [[maintainIvfIndex]]. Returns whether any
    * codes were refreshed. */
  def refreshPqCodes(spark: SparkSession, path: String): Boolean = {
    val path0 = resolveIndexDir(spark, path)
    val fs = fsOf(spark, path0)
    val present = Seq(RawPq, ResidualPq).filter(set =>
      fs.exists(new org.apache.hadoop.fs.Path(set.codebooks(path0))))
    present.foreach { set =>
      val m = cachedCodebooks(spark, path0, set).map(_.sub).max + 1
      addCodeSet(spark, path0, m, set)
    }
    if (present.nonEmpty) ensurePointerUnmoved(spark, path, path0)
    present.nonEmpty
  }

  /** Probe a PQ-augmented IVF index ([[probeCodeSet]] over [[RawPq]]):
    * ADC score = Σ_sub lut(sub, code) against Σ_sub |codeword|². */
  def probeIvfPqIndex(spark: SparkSession, path: String,
      query: Array[Float], nprobe: Int, k: Int, rerank: Int = 0,
      excludeIds: Seq[Long] = Seq.empty): DataFrame =
    probeCodeSet(spark, path, query, nprobe, k, rerank, excludeIds, RawPq)

  // ---- residual PQ: encode x − centroid(cell), not x (FAISS IVFPQ) -----
  // Raw PQ quantizes the VECTOR; residual PQ quantizes its OFFSET from the
  // cell centroid (Jégou et al. §III-C — the form FAISS's IVFPQ ships).
  // Residuals cluster tightly around 0, so the same codebook budget
  // (m subspaces × |cells| codewords here) spends its resolution on the
  // within-cell structure the coarse quantizer already paid to expose —
  // reconstruction x̂ = mean(cell) + codeword is strictly better-centered
  // than a raw codeword at equal bytes. Everything stays integer-exact:
  // the cell reference is the elementwise FLOOR-mean of already-quantized
  // Longs (⌊s/n⌋ via double division + floor — exact while |s| ≪ 2⁵³ and
  // the true quotient is ≥ 1/n away from any non-divisible integer, both
  // guaranteed at ×1000 quantization), and residuals are Long
  // subtractions. ADC decomposes against the reconstruction:
  //   dot(q, x̂)  = dot(q, rcm(cell)) + Σ_sub dot(q_sub, codeword)
  //   |x̂|²       = stored per vector at encode time (an2), so a probe
  //                scan reads m codes + one long — never raw vectors.

  /** Elementwise FLOOR(s/n) — the integer cell mean. Double division is
    * exact here: sums are bounded by |cell|·1000·dim ≪ 2⁵³ and a
    * non-divisible quotient sits ≥ 1/n from the nearest integer, far
    * beyond one ulp, so floor lands identically in Spark and DuckDB. */
  private def floorDivCol(x: Column, n: Column): Column =
    floor(x.cast("double") / n.cast("double")).cast("long")

  /** Residual sub-codebooks over an already-sliced residual frame:
    * representative init + ONE Lloyd refinement, all integer-exact.
    * A label-seeded MEAN of residuals is ~0 by construction (a cell's
    * residuals center on its own mean — the degenerate codebook every
    * member would share), so codewords must come from residual
    * DIRECTIONS instead: initialize codeword k as the residual subvector
    * of cell k's min-vec_id member (a real data point — FAISS-style
    * point init, deterministic), cosine-assign every residual subvector
    * to its nearest representative, then refine each non-empty codeword
    * to the FLOOR-mean of its ASSIGNED members (direction-coherent, so
    * the mean is non-degenerate). Returns (sub, clabel, cvec, cn2) ready
    * for [[pqEncode]]. */
  private def residualCodebooks(res: DataFrame,
      subs: DataFrame): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val minId = res.groupBy("label").agg(min(col("vec_id")).as("vec_id"))
    val rep = subs.join(broadcast(minId), Seq("label", "vec_id"))
      .select(col("sub"), col("label").as("clabel"),
        col("qs").as("cvec"), col("n2s").as("cn2"))
    val assign1 = pqEncode(subs, rep)
    subs.join(assign1.select("vec_id", "sub", "code"), Seq("vec_id", "sub"))
      .select(col("sub"), col("code"), posexplode(col("qs")).as(Seq("i", "qi")))
      .groupBy("sub", "code", "i")
      .agg(sum(col("qi")).as("s"), count(lit(1)).as("n"))
      .withColumn("mq", floorDivCol(col("s"), col("n")))
      .groupBy("sub", "code")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("mq")))),
        s => s.getField("mq")).as("cvec"))
      .withColumn("cn2", dotLong(col("cvec"), col("cvec")))
      .select(col("sub"), col("code").as("clabel"), col("cvec"), col("cn2"))
  }

  /** ss18 — residual-PQ ADC top-k (query-shaped, label-seeded like
    * ss09/ss10): quantize, subtract each vector's integer-mean cell
    * centroid, PQ-encode the residuals against [[residualCodebooks]]
    * (representative init + one FLOOR-mean Lloyd refinement, assignment
    * by the same argmax-cosine recipe as [[pqEncode]]), then
    * score query 0 against the reconstructions x̂ = rcm(label) + codeword.
    * Scale shape mirrors ss10: a |cells|-row count/centroid aggregate
    * broadcast back, the D·m-row encode shuffle (map-side-combined
    * max_by), and a broadcast-LUT scoring join — no corpus-sized shuffle
    * beyond the encode itself; the persistent-index twin
    * ([[addResidualPqToIvfIndex]]) stores codes + an2 so probes scan m
    * bytes + one long per row, partition-pruned to nprobe cells. */
  def ss18ResidualPqAdc(spark: SparkSession, dir: String): DataFrame =
    residualPqAdcTopK(spark, dir, queryId = 0L, m = 4, k = 10)

  /** Library surface: residual-PQ ADC top-k at caller parameters (the
    * declared query pins queryId=0, m=4, k=10 for the oracle). */
  def residualPqAdcTopK(spark: SparkSession, dir: String, queryId: Long,
      m: Int, k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(k >= 1, s"k: $k")
    val quant = t(spark, dir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("long").as("label"),
        quantizedOf(col("embedding")).as("q"))
      // consumed by the count/centroid aggregates, the residual map, the
      // label lookup, and the query slice — same pin contract as pqParts
      .transform(graft.Materialize.pin)
    // integer-mean cell centroid rcm(label) = ⌊Σq / n⌋ elementwise; the
    // cell population n rides the SAME aggregation (every vector emits
    // exactly one row per dimension i, so count per (label, i) IS the
    // cell count — r17: this replaces a separate per-label count
    // aggregate + broadcast join with two columns on an existing one)
    val rcm = quant
      .select(col("label"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("label", "i")
      .agg(sum(col("qi")).as("s"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("s")))),
        s => s.getField("s")).as("svec"), max(col("n")).as("n"))
      .select(col("label"),
        transform(col("svec"), x => floorDivCol(x, col("n"))).as("rvec"))
    val (_, _, xhat) = residualEncode(quant, rcm, m)
    val qslices = quant.where(col("vec_id") === lit(queryId))
      .select(explode(sequence(lit(0), lit(m - 1))).as("sub"), col("q"))
      .withColumn("sd", (size(col("q")) / m).cast("int"))
      .select(col("sub"),
        slice(col("q"), col("sub") * col("sd") + 1, col("sd")).as("qqs"))
    val qn2 = quant.where(col("vec_id") === lit(queryId))
      .select(dotLong(col("q"), col("q")).as("qn2"))
    xhat.where(col("vec_id") =!= lit(queryId))
      .join(broadcast(qslices), Seq("sub"))
      .select(col("vec_id"), dotLong(col("qqs"), col("xh")).as("d"),
        dotLong(col("xh"), col("xh")).as("t"))
      .groupBy("vec_id")
      .agg(sum(col("d")).as("adot"), sum(col("t")).as("an2"))
      .crossJoin(broadcast(qn2))
      .select(col("vec_id"),
        round(guardedCos(col("adot"), col("qn2"), col("an2")), 4).as("acos"))
      .orderBy(col("acos").desc, col("vec_id"))
      .limit(k)
  }

  /** The one residual encoder, shared by ss18 and the persisted index:
    * subtract each vector's cell reference `rcm` (label, rvec) from its
    * quantized `q` in `quant` (vec_id, label, q), PQ-encode the residuals
    * against [[residualCodebooks]], and reconstruct each subvector as
    * x̂_sub = rcm_sub(own label) + assigned codeword. Returns (codes
    * (vec_id, sub, code, cos), codebooks (sub, clabel, cvec, cn2),
    * x̂ (vec_id, sub, xh)). */
  private def residualEncode(quant: DataFrame, rcm: DataFrame,
      m: Int): (DataFrame, DataFrame, DataFrame) = {
    val res = quant.join(broadcast(rcm), "label")
      .select(col("vec_id"), col("label"),
        zip_with(col("q"), col("rvec"), (a, b) => a - b).as("q"))
    val (subs, _) = pqPartsQ(res, m)
    val cbm = residualCodebooks(res, subs)
    val codes = pqEncode(subs, cbm)
    val rsub = rcm
      .select(col("label"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("rvec"))
      .withColumn("sd", (size(col("rvec")) / m).cast("int"))
      .select(col("label"), col("sub"),
        slice(col("rvec"), col("sub") * col("sd") + 1, col("sd")).as("rvs"))
    val xhat = codes
      .join(quant.select("vec_id", "label"), "vec_id")
      .join(broadcast(cbm.select(col("sub"), col("clabel").as("code"),
        col("cvec").as("mvec"))), Seq("sub", "code"))
      .join(broadcast(rsub), Seq("label", "sub"))
      .select(col("vec_id"), col("sub"),
        zip_with(col("rvs"), col("mvec"), (a, b) => a + b).as("xh"))
    (codes, cbm, xhat)
  }

  /** Residual-PQ-augment an existing IVF index ([[ResidualPq]]): write
    * `_rpq_centroids` (the integer FLOOR-mean cell references),
    * `_rpq_codebooks` (FLOOR-mean residual sub-codebooks) and
    * cell-partitioned `_rpq_codes` (vec_id, sub, code, an2) beside the
    * postings — `an2 = |rcm(cell) + codeword|²` is precomputed per vector
    * so ADC probes never reconstruct. Idempotent full re-encode, same
    * staleness contract as [[addPqToIvfIndex]] (and refreshed by the same
    * [[refreshPqCodes]]): appended rows are invisible to residual-ADC
    * probes until re-encoded. */
  def addResidualPqToIvfIndex(spark: SparkSession, path: String,
      m: Int): Unit =
    addCodeSet(spark, path, m, ResidualPq)

  private[graft] final case class RpqCentroidRow(label: Long,
      rvec: Array[Long])

  private def cachedRpqCentroids(spark: SparkSession,
      path0: String): Array[RpqCentroidRow] =
    cachedArtifact(spark, s"$path0/_rpq_centroids") {
      Tables.parquet(spark, s"$path0/_rpq_centroids")
        .select(col("label").cast("long"), col("rvec"))
        .collect()
        .map(r => RpqCentroidRow(r.getLong(0), r.getSeq[Long](1).toArray))
    }

  /** Probe a residual-PQ-augmented IVF index ([[probeCodeSet]] over
    * [[ResidualPq]]): `adot = dot(q, rcm(cell)) + Σ_sub lut(sub, code)`
    * with the per-cell term and the LUT both computed driver-side
    * (nprobe + m·|cells| dots), and `an2` read from the codes row. Same
    * rerank contract as [[probeIvfPqIndex]]. */
  def probeIvfResidualPqIndex(spark: SparkSession, path: String,
      query: Array[Float], nprobe: Int, k: Int, rerank: Int = 0,
      excludeIds: Seq[Long] = Seq.empty): DataFrame =
    probeCodeSet(spark, path, query, nprobe, k, rerank, excludeIds,
      ResidualPq)

  /** Pinned quantized corpus with the seed cell column (the given label):
    * (vec_id, label, q, n2). */
  private def embCorpus(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), quantized.as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
      // consumed by the centroid build AND the assignment join
      .transform(graft.Materialize.pin)
  }

  /** Integer sum-centroids of the given cell assignment `cells` =
    * (vec_id, cell): (clabel, cvec, cn2) — one row per non-empty cell. */
  private def centroidsOf(emb: DataFrame, cells: DataFrame): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    emb.select(col("vec_id"), col("q")).join(cells, "vec_id")
      .select(col("cell"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("cell", "i").agg(sum(col("qi")).as("cq"))
      .groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("i"), col("cq")))),
        s => s.getField("cq")).as("cvec"))
      .withColumn("cn2", dotLong(col("cvec"), col("cvec")))
      .select(col("cell").as("clabel"), col("cvec"), col("cn2"))
  }

  /** One assignment step: every vector with its nearest-centroid cell —
    * (vec_id, label, q, n2, assigned, cos). Centroids are integer
    * sum-vectors (cosine against a sum ranks identically to the mean —
    * scale invariance); the centroid table is |cells| rows and BROADCASTS
    * by construction, so assignment is the k-way expansion of a broadcast
    * join collapsed back to one row per vector by a map-side-combined
    * max_by — the shuffle carries D rows, never D·k. Ties break to the
    * smallest label via the (cos, −label) ordering struct, so the argmax
    * is total and engine-portable. */
  private def assignStep(emb: DataFrame, cent: DataFrame): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    // zero-norm guard (guardedCos): an all-zero quantized vector or a
    // cancelled-out sum centroid makes the division 0/0 = NaN, and
    // max_by's struct ordering treats NaN as largest — the argmax would
    // diverge from any engine with ordinary division semantics.
    // Degenerate sides get the defined −1 (worse than every real cosine),
    // so such vectors land in the smallest-labeled cell deterministically.
    emb.crossJoin(broadcast(cent))
      .withColumn("ccos",
        guardedCos(dotLong(col("q"), col("cvec")), col("n2"), col("cn2")))
      .groupBy("vec_id")
      .agg(max_by(
        struct(col("label"), col("q"), col("n2"), col("clabel"),
          round(col("ccos"), 4).as("rcos")),
        struct(col("ccos"), -col("clabel"))).as("best"))
      .select(col("vec_id"), col("best.label").as("label"),
        col("best.q").as("q"), col("best.n2").as("n2"),
        col("best.clabel").as("assigned"), col("best.rcos").as("cos"))
  }

  private def assignedToCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = embCorpus(spark, dir)
    assignStep(emb,
      centroidsOf(emb, emb.select(col("vec_id"), col("label").as("cell"))))
  }

  /** Spherical k-means: `iters` Lloyd rounds — rebuild sum-centroids from
    * the current assignment, re-assign every vector to its nearest
    * centroid by cosine — seeded by the label column (ss07 is exactly
    * iteration 1). Each round is one bounded centroid aggregation
    * (|cells|·dim partial sums, map-side combined), one broadcast of the
    * |cells|-row centroid table, and one map-side-collapsed assignment —
    * the classic IVF training loop, every round shuffling D rows, never
    * D·k. Per-round frames pin (Materialize.pin) so lineage doesn't grow
    * with the iteration count. Cells that lose all members simply drop out
    * of the centroid table (standard Lloyd behavior). Returns the final
    * (vec_id, label, assigned, cos). */
  def kmeansFit(spark: SparkSession, dir: String, iters: Int): DataFrame =
    graft.Materialize.scoped(kmeansFitOn(embCorpus(spark, dir), iters))

  /** The Lloyd loop over an already-pinned corpus — callers that hold an
    * `embCorpus` frame pass it here so trainer and consumer share ONE
    * pinned copy instead of each paying (and leaking) their own. */
  private def kmeansFitOn(emb: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters: $iters")
    var cells = emb.select(col("vec_id"), col("label").as("cell"))
    var out: DataFrame = null
    for (_ <- 1 to iters) {
      val next = assignStep(emb, centroidsOf(emb, cells))
        .transform(graft.Materialize.pin)
      // the new pin (eager) holds the full assignment — the previous
      // round's pinned state is superseded; free it (round 1's `cells`
      // is a view over emb, where unpin must not fire: emb is consumed
      // by every later round — hence unpin(out), never unpin(cells))
      if (out != null) graft.Materialize.unpin(out)
      out = next
      cells = out.select(col("vec_id"), col("assigned").as("cell"))
    }
    out.select("vec_id", "label", "assigned", "cos").orderBy("vec_id")
  }

  /** ss07 — one k-means Lloyd ASSIGNMENT step over the label cells: each
    * vector moves to its nearest centroid by cosine. This is the step an
    * IVF index trains with (alternate with ss05's centroid rebuild to
    * iterate Lloyd to a fixpoint) and the clustering primitive semantic
    * dedup builds on (c03). Emits the original label, the assignment, and
    * the cosine so drift (label ≠ assigned) is directly observable. */
  def ss07KmeansAssign(spark: SparkSession, dir: String): DataFrame =
    assignedToCentroids(spark, dir)
      .select("vec_id", "label", "assigned", "cos")
      .orderBy("vec_id")

  /** c03's candidate domain: intra-cell exact cosine pairs at a caller
    * threshold, cells = the k-means assignment. Pair volume is Σ_cell n_c²
    * — the IVF trade: bound cell sizes by recursing the quantizer (more
    * cells) rather than widening; the self-join is salted (Skew.selfPairs)
    * so one dense cell cannot pin a task. */
  private[operators] def semanticNearDupLosers(spark: SparkSession,
      dir: String, minCos: Double): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    // no pin (r17): Skew.selfPairs pins its packed frame internally, and
    // this assignment frame has no other consumer — the old pin here was
    // a second materialization barrier over the same rows (embCorpus
    // inside assignedToCentroids still pins: it IS multi-consumer)
    val asg = assignedToCentroids(spark, dir)
      .select(col("assigned"), col("vec_id"), col("q"), col("n2"))
    Skew.selfPairs(asg, Seq("assigned"), "vec_id", maxGroup = 4096)
      .withColumn("dot", dotLong(col("a.q"), col("b.q")))
      .withColumn("c", col("dot").cast("double") /
        sqrt(col("a.n2").cast("double") * col("b.n2").cast("double")))
      .where(col("c") >= minCos)
      .select(col("b.vec_id").as("doc_id")).distinct()
  }

  /** ss05 — per-label centroid aggregation, the IVF coarse-quantizer
    * building block: element-wise vector sums per group (one shuffle keyed
    * by (label, dim), partial sums map-side) plus the summed vector's
    * squared norm. All integer math on the quantized vectors — exact and
    * engine-portable; a real IVF index divides by n at assignment time. */
  def ss05LabelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val el = t(spark, dir, "embeddings")
      .select(col("label"), posexplode(quantized).as(Seq("i", "q")))
    val sums = el.groupBy("label", "i").agg(sum(col("q")).as("sq"))
    val counts = t(spark, dir, "embeddings")
      .groupBy("label").agg(count(lit(1)).as("n"))
    sums.groupBy("label")
      .agg(sum(col("sq") * col("sq")).as("centroid_norm2"))
      .join(broadcast(counts), Seq("label"))
      .select(col("label"), col("n"), col("centroid_norm2"))
      .orderBy("label")
  }

  /** ss16 — TRUNCATED-PREFIX candidate search + exact re-rank (the
    * matryoshka / MRL serving trick, Kusupati et al. 2022): score the
    * corpus with only the FIRST 32 of 64 dimensions (MRL-trained
    * embeddings concentrate signal in the prefix), keep a candidate pool
    * a few times k, then re-rank candidates with the full vector — the
    * top-k is exact over the pool, approximation lives only in recall.
    * This is the third member of the "cheap scan, exact re-rank" family
    * (ss11 re-ranks PQ candidates, ss14 LSH candidates) and the one that
    * needs NO index at all: the cheap pass is a plain scan at half the
    * FLOPs — and at 100 TB the prefix should be PERSISTED as its own
    * column, so parquet column pruning halves the scanned BYTES too (the
    * same reason c-store layouts win: the wide column is read only for
    * the ≤ `candidates` pool rows). Candidate selection plans as
    * TakeOrderedAndProject (per-partition top-C heaps, driver merge of
    * C-row lists — bounded at any corpus size). */
  def ss16TruncatedRerank(spark: SparkSession, dir: String): DataFrame =
    truncatedRerankOf(t(spark, dir, "embeddings"), queryId = 0L,
      prefixDims = 32, candidates = 30, k = 10)

  /** ss17 — ANN RECALL@k AUDIT: for a panel of query vectors, compare the
    * LSH index's top-k (ss03's two-table multi-probe candidates, exact
    * re-rank) against the exact brute-force top-k, and report per-query
    * candidate volume, hits, and recall — the index-quality gate a
    * pipeline runs BEFORE swapping an approximate index into production
    * (recall is a property of the index parameters on YOUR data; the
    * published p-collision formulas only bound it). Deterministic
    * hyperplanes make the audit itself engine-exact: the candidate sets,
    * both top-k lists, and therefore the hit counts hash-match the
    * oracle — recall measurement with no measurement noise.
    *
    * Scale shape: the query panel (5 rows here) broadcasts everywhere;
    * the exact pass is panel×corpus dot products — embarrassingly
    * parallel, and the per-query top-k ([[topKPerQuery]]) prunes every
    * input partition to its own k rows per query before the one `qid`
    * exchange (Spark's partial WindowGroupLimit), so NO task ever sorts a
    * corpus-sized partition (the single-query ss01 gets this from
    * TakeOrderedAndProject; an unpruned per-query window over the whole
    * corpus would be the classic skew hazard). Candidate generation is
    * ss03's broadcast probe-set equi-join, panel-wide: probes are
    * |panel|·37·2 rows. The exact pass
    * prices the audit at one full scan per panel — which is exactly what
    * an audit is; run it on a sampled shard at 100 TB and the recall
    * estimate inherits the sample's confidence, not the engine's. */
  def ss17RecallAudit(spark: SparkSession, dir: String): DataFrame =
    recallAuditOf(corpus(spark, dir), panel = 5, k = 10)

  /** Library surface: recall audit over a quantized (vec_id, q, n2)
    * frame; the panel is vec_ids [0, panel). */
  def recallAuditOf(qv0: DataFrame, panel: Int, k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(panel >= 1 && k >= 1, s"$panel/$k")
    val qv = qv0
      .withColumn("b1", hyperplaneBucket(0))
      .withColumn("b2", hyperplaneBucket(8))
      .transform(graft.Materialize.pin)
    val queries = qv.where(col("vec_id") < panel)
      .select(col("vec_id").as("qid"), col("q").as("qq"),
        col("n2").as("qn2"), col("b1").as("qb1"), col("b2").as("qb2"))
    val cosCol = round(dotLong(col("q"), col("qq")).cast("double") /
      sqrt(col("qn2").cast("double") * col("n2").cast("double")), 4)
    val exactK = topKPerQuery(qv.crossJoin(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosCol.as("cos")), k)
    // ss03's multi-probe candidates, panel-wide: probe frames broadcast
    def tableCand(bucketCol: String, queryBucket: String): DataFrame = {
      val probes = queries.select(col("qid"),
        explode(probeSet(col(queryBucket))).as(bucketCol))
      qv.join(broadcast(probes), Seq(bucketCol))
        .where(col("vec_id") =!= col("qid"))
        .select("qid", "vec_id")
    }
    val cand = tableCand("b1", "qb1").unionAll(tableCand("b2", "qb2"))
      .distinct()
      .transform(graft.Materialize.pin)
    val approxK = topKPerQuery(cand
      .join(qv.select(col("vec_id"), col("q"), col("n2")), Seq("vec_id"))
      .join(broadcast(queries.select(col("qid"), col("qq"), col("qn2"))),
        Seq("qid"))
      .select(col("qid"), col("vec_id"), cosCol.as("cos")), k)
    val nCand = cand.groupBy("qid").agg(count(lit(1)).as("n_cand"))
    val hits = exactK.join(approxK, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    queries.select(col("qid"))
      .join(nCand, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        // ≤ 100·k in the numerator — exact in double, truncate to long
        ((coalesce(col("hits"), lit(0L)) * lit(100L)) / lit(k))
          .cast("long").as("recall_pct"))
      .orderBy("qid")
  }

  /** Library surface over ANY (id, vector) frame. `prefixDims` is the
    * cheap-pass width; `candidates` the pool the exact pass re-ranks. */
  def truncatedRerankOf(vecs: DataFrame, queryId: Long, prefixDims: Int,
      candidates: Int, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    require(prefixDims >= 1 && candidates >= k && k >= 1,
      s"prefixDims=$prefixDims candidates=$candidates k=$k")
    val qv = vecs.select(col(idCol).as("vec_id"),
      quantizedOf(col(vecCol)).as("q"))
      .withColumn("qp", slice(col("q"), 1, prefixDims))
    val query = qv.where(col("vec_id") === queryId)
      .select(col("q").as("qq"), col("qp").as("qqp"))
    val cand = qv.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(query))
      .select(col("vec_id"), col("q"), col("qq"),
        dotLong(col("qp"), col("qqp")).as("prefix_dot"))
      .orderBy(col("prefix_dot").desc, col("vec_id"))
      .limit(candidates)
    cand
      .select(col("vec_id"), dotLong(col("q"), col("qq")).as("dot"),
        col("prefix_dot"))
      .orderBy(col("dot").desc, col("vec_id"))
      .limit(k)
  }

  /** The ss01 plan with a caller k: exact cosine top-k of vec_id 0 —
    * (vec_id, cos) rows ordered by (cos DESC, vec_id), cos rounded to 4.
    * Shared by ss01, the ss19 dense fusion leg, and the ss20 candidate
    * pool. One 1-row query broadcast + one scan + TakeOrderedAndProject. */
  private[graft] def exactCosineTopK(spark: SparkSession, dir: String,
      k: Int): DataFrame = {
    import graft.functions.ArrayDot.dotLong
    val qv = corpus(spark, dir)
    val query = qv.where(col("vec_id") === 0)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    qv.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .select(col("vec_id"),
        round(dotLong(col("q"), col("qq")).cast("double") /
          sqrt(col("qn2").cast("double") * col("n2").cast("double")), 4)
          .as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** ss19 — hybrid retrieval by reciprocal-rank fusion (Cormack/Clarke/
    * Büttcher RRF): the lexical BM25 top-50 (t17's scorer, terms
    * hash/join/vector) fused with the dense exact-cosine top-50 (ss01's
    * plan) on the shared document id, score = Σ_leg 1/(c + rank), c = 60.
    *
    * Engine parity by construction: each leg's list and order is already
    * hash-proven (t17/ss01 at every SF), ranks are row numbers over those
    * lists, and the fusion score is computed in INTEGER micros —
    * `1000000 div (c + rank)` per leg — so no floating-point division can
    * diverge between engines (the ExactPresent lesson applied up front).
    * A document absent from a leg contributes 0 and shows rank 0.
    *
    * Scale shape: both legs end in TakeOrderedAndProject, so the rank
    * windows and the full-outer fusion join run over two ≤ 50-row frames —
    * constants of the operator, whatever the corpus size. At 100 TB the
    * cost is the two legs' scans (each one pass, already audited); fusion
    * adds nothing measurable. */
  def ss19RrfFusion(spark: SparkSession, dir: String): DataFrame =
    rrfFusion(spark, dir, Seq("hash", "join", "vector"),
      kLeg = 50, kOut = 20, c = 60)

  /** Library surface: RRF fusion of the BM25 and dense legs for caller
    * terms/cutoffs. `kLeg` bounds each leg's list; `kOut` the fused
    * emission; `c` the RRF smoothing constant. */
  def rrfFusion(spark: SparkSession, dir: String, terms: Seq[String],
      kLeg: Int, kOut: Int, c: Int): DataFrame =
    rrfFusionOf(
      TextAnalysis.bm25TopK(spark, dir, terms, kLeg)
        .select(col("doc_id").as("id"), col("bm25").as("score")),
      exactCosineTopK(spark, dir, kLeg)
        .select(col("vec_id").as("id"), col("cos").as("score")),
      kOut, c)
      .withColumnRenamed("id", "doc_id")

  /** Library surface: RRF-fuse ANY two pre-cut (id, score) result lists
    * (each already bounded by its own top-k — the rank windows below are
    * single-partition over those CONSTANT-sized frames, never a corpus).
    * Emits (id, lex_rank, dense_rank, rrf_micros): the first list's rank
    * lands in `lex_rank`, the second's in `dense_rank`, absence is 0. */
  def rrfFusionOf(lex0: DataFrame, den0: DataFrame, kOut: Int,
      c: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(kOut >= 1 && c >= 0, s"kOut=$kOut c=$c")
    val lex = lex0.select(col("id"), row_number()
      .over(Window.orderBy(col("score").desc, col("id")))
      .cast("long").as("lex_rank"))
    val den = den0.select(col("id"), row_number()
      .over(Window.orderBy(col("score").desc, col("id")))
      .cast("long").as("dense_rank"))
    lex.join(den, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
        (coalesce(expr(s"1000000L div (${c}L + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000L div (${c}L + dense_rank)"), lit(0L)))
          .as("rrf_micros"))
      .orderBy(col("rrf_micros").desc, col("id"))
      .limit(kOut)
  }

  /** ss20 — maximal-marginal-relevance diversified top-k (Carbonell/
    * Goldstein MMR): greedily select k results from an exact top-`nCand`
    * candidate pool, each step maximizing
    * `λ·rel(v) − μ·max_{s∈selected} sim(v, s)` — relevance to the query
    * balanced against redundancy with what's already picked. λ and μ are
    * INDEPENDENT literals (not μ = 1−λ): `1.0 − 0.7` and the decimal
    * literal `0.3` are different doubles, and the oracle can only emit
    * the literal — constraining them to sum to 1 would reintroduce the
    * exact cross-engine ulp divergence this file's integer quantization
    * exists to prevent.
    *
    * Engine parity: candidates and the cut use ss01's proven rounded-cos
    * ordering; rel/sim are integer-dot ÷ sqrt(integer-norm product) — the
    * identical IEEE expression on both sides — and every greedy comparison
    * happens on those bit-identical doubles with a vec_id tie-break, so
    * the selection sequence is deterministic across engines. Rounding
    * happens only at emission (presentation, the established round-4).
    *
    * Scale shape: the corpus-sized work is the candidate scan (ss01's
    * TakeOrderedAndProject — swap in the IVF index for the pool at 100 TB)
    * and the distributed nCand² pair-dot self-join (a broadcast join of two
    * nCand-row frames). Only then does the inherently-SEQUENTIAL greedy
    * argmax run on the driver, over nCand + nCand(nCand−1)/2 collected
    * integer rows — bounded by operator constants (30 + 435 here),
    * independent of corpus size: the sanctioned |panel|-class collect. */
  def ss20MmrDiversify(spark: SparkSession, dir: String): DataFrame =
    mmrDiversify(spark, dir, nCand = 30, k = 10, lambda = 0.7, mu = 0.3)

  /** MMR over the fixture embeddings table (query = vec_id 0). */
  def mmrDiversify(spark: SparkSession, dir: String, nCand: Int, k: Int,
      lambda: Double, mu: Double): DataFrame =
    mmrDiversifyOf(t(spark, dir, "embeddings"), queryId = 0,
      nCand, k, lambda, mu)

  /** Library surface: MMR selection over ANY (id, vector) frame with the
    * query a member row (`queryId`) — caller pool size / k / weights. */
  def mmrDiversifyOf(vecs: DataFrame, queryId: Long, nCand: Int, k: Int,
      lambda: Double, mu: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = graft.Materialize.scoped {
    import graft.functions.ArrayDot.dotLong
    require(nCand >= k && k >= 1, s"nCand=$nCand k=$k")
    val spark = vecs.sparkSession
    val qv = vecs.select(col(idCol).as("vec_id"),
      quantizedOf(col(vecCol)).as("q"))
      .withColumn("n2", dotLong(col("q"), col("q")))
    val query = qv.where(col("vec_id") === queryId)
      .select(col("q").as("qq"), col("n2").as("qn2"))
    // candidate pool: the ss01 cut — rounded cos DESC, vec_id ASC.
    // guardedCos, not a bare divide: caller data can hold zero-norm
    // vectors (a RAG passage whose ±1 token contributions cancel), and
    // ANSI Spark turns the 0-divide into a job abort; degenerate rows get
    // the defined −1 and rank last (fixture parity unaffected — the
    // declared query's preconditions exclude zero norms, PipelinesSpec)
    val cand = qv.where(col("vec_id") =!= queryId)
      .crossJoin(broadcast(query))
      .withColumn("qdot", dotLong(col("q"), col("qq")))
      .withColumn("relr",
        round(guardedCos(col("qdot"), col("qn2"), col("n2")), 4))
      .orderBy(col("relr").desc, col("vec_id"))
      .limit(nCand)
      .select("vec_id", "q", "n2", "qn2", "qdot")
      // consumed three ways (two pair-join sides + the collect): pin once
      .transform(graft.Materialize.pin)
    val pairs = cand
      .select(col("vec_id").as("ida"), col("q").as("qa"), col("n2").as("na"))
      .join(broadcast(cand.select(col("vec_id").as("idb"),
        col("q").as("qb"), col("n2").as("nb"))), col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        dotLong(col("qa"), col("qb")).as("dot"), col("na"), col("nb"))
    // bounded collects: nCand and nCand(nCand−1)/2 integer rows; the
    // result frame below is built from them and reads no pin
    val candRows = cand.select("vec_id", "qdot", "n2", "qn2").collect()
    require(candRows.nonEmpty, "mmr: empty candidate pool")
    val pairRows = pairs.collect()
    // the driver-side mirror of guardedCos: same −1 for degenerate rows,
    // identical IEEE expression otherwise
    def gCos(dot: Long, n2a: Long, n2b: Long): Double =
      if (n2a > 0 && n2b > 0)
        dot.toDouble / math.sqrt(n2a.toDouble * n2b.toDouble)
      else -1.0
    val rel: Map[Long, Double] = candRows.map(r =>
      r.getLong(0) -> gCos(r.getLong(1), r.getLong(3), r.getLong(2))).toMap
    val sim = scala.collection.mutable.HashMap[(Long, Long), Double]()
    for (r <- pairRows) {
      val s = gCos(r.getLong(2), r.getLong(3), r.getLong(4))
      sim((r.getLong(0), r.getLong(1))) = s
      sim((r.getLong(1), r.getLong(0))) = s
    }
    var selected = List.empty[Long]
    val avail = scala.collection.mutable.SortedSet[Long](rel.keys.toSeq: _*)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Long, Double, Double)]()
    for (r <- 1 to math.min(k, candRows.length)) {
      // argmax by (score DESC, vec_id ASC): avail iterates ascending and
      // strict > keeps the smaller vec_id on exact double ties — the SQL
      // ORDER BY score DESC, vec_id LIMIT 1 semantics
      val best = avail.iterator.map { v =>
        val ms = if (selected.isEmpty) 0.0
          else selected.iterator.map(s => sim((v, s))).max
        (v, lambda * rel(v) - mu * ms)
      }.reduceLeft((p, q) => if (q._2 > p._2) q else p)
      out += ((r, best._1, rel(best._1), best._2))
      selected = best._1 :: selected
      avail -= best._1
    }
    import spark.implicits._
    out.toSeq.toDF("rank", "vec_id", "rel_raw", "mmr_raw")
      .select(col("rank"), col("vec_id"),
        round(col("rel_raw"), 4).as("rel"),
        round(col("mmr_raw"), 4).as("mmr"))
      .orderBy("rank")
  }
}
