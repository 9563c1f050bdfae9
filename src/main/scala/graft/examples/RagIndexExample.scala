package graft.examples

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, Similarity, TextAnalysis}

/** "Use as a library" #4 — the RETRIEVAL on-ramp: turn a document corpus
  * into a probeable passage index, end to end, out of the operators this
  * library already ships:
  *
  *  1. [[TextAnalysis.normalized]] — Unicode-NFC canonicalization (t16),
  *     so visually identical text embeds identically;
  *  2. [[Sampling.chunkWindowsOf]] — context-window chunking (sp07): the
  *     retrieval unit is a passage, not a document;
  *  3. an EMBEDDER column — here a deterministic signed bag-of-words
  *     hash projection (the stub seam: a real deployment swaps in its
  *     model exactly like the Multimodal codec seams swap in libjpeg;
  *     everything downstream consumes only `array<float>`);
  *  4. [[Similarity.buildIvfIndexVersionedOf]] + [[Similarity.addPqToIvfIndex]]
  *     — the persistent IVF+PQ index under a versioned root, so later
  *     re-embeddings (a model upgrade) swap atomically under live probes;
  *  5. [[Similarity.probeIvfPqIndex]] — cell-pruned ADC scan + exact
  *     rerank per query.
  *
  * Scale shape: steps 1–3 are map-only (scan speed at any corpus size);
  * the index build is the documented train-then-add lifecycle; a probe
  * reads nprobe cells' CODES plus the rerank shortlist — the whole point
  * of shipping IVF+PQ as a persistent layout.
  *
  * Run against a TESTDATA sf dir:
  * {{{
  * sbt "runMain graft.examples.RagIndexExample /root/testdata/sf0.001 /tmp/ragidx"
  * }}}
  */
object RagIndexExample {

  /** Deterministic signed bag-of-words hash projection into `dim`
    * float dimensions: token t adds ±1 (sign from an independent hash)
    * to dimension hash(t) mod dim. Engine-simple on purpose — the seam
    * a real sentence-encoder replaces — but NOT run-dependent: the same
    * text embeds to the same vector on any partitioning, any engine
    * restart, and the driver (queries embed through this same Column on
    * a 1-row frame, so query and corpus can never drift). Interpreted
    * HOF cost is per-token·dim — acceptable for a stub; a production
    * embedder rides mapInPandas/JNI per partition batch instead. */
  def hashEmbedding(text: Column, dim: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    transform(sequence(lit(0), lit(dim - 1)), d =>
      aggregate(toks, lit(0L), (acc, t) =>
        acc + when(pmod(xxhash64(t), lit(dim)) === d,
          when(pmod(xxhash64(t, lit("sign")), lit(2)) === 0, 1L)
            .otherwise(-1L)).otherwise(0L))
        .cast("float"))
  }

  /** Canonicalized, chunked, embedded passages: (chunk_id, doc_id, chunk,
    * n_tokens, chunk_text, embedding). chunk_id packs (doc_id, chunk)
    * into one int64 probe-able id. */
  def passages(docs: DataFrame, window: Int = 40, stride: Int = 30,
      dim: Int = 16): DataFrame = {
    val canon = docs.select(col("doc_id"),
      TextAnalysis.normalized(col("text")).as("text"))
    Sampling.chunkWindowsOf(canon, window, stride)
      .withColumn("chunk_id", col("doc_id") * 100000L + col("chunk"))
      .withColumn("embedding", hashEmbedding(col("chunk_text"), dim))
  }

  /** Build (or re-version) the passage index at `indexRoot`; returns the
    * number of passages indexed. */
  def buildRagIndex(spark: SparkSession, docs: DataFrame, indexRoot: String,
      window: Int = 40, stride: Int = 30, dim: Int = 16): Long = {
    val p = passages(docs, window, stride, dim)
      .select(col("chunk_id").as("vec_id"), col("embedding"))
    Similarity.buildIvfIndexVersionedOf(p, indexRoot, iters = 1)
    Similarity.addPqToIvfIndex(spark, indexRoot, m = 4)
    p.count()
  }

  /** Retrieve the top-k passages for a text query: embed the query text
    * through the SAME hashEmbedding column on a one-row frame (query and
    * corpus embeddings cannot drift), then IVF+PQ probe with exact
    * rerank. Returns (vec_id = chunk_id, cos). */
  def retrieve(spark: SparkSession, indexRoot: String, queryText: String,
      k: Int, dim: Int = 16, nprobe: Int = 2, rerank: Int = 0): DataFrame = {
    // rerank depth is the recall knob that costs least (more exact reads,
    // same pruned scan); nprobe = all cells + corpus-sized rerank is the
    // exhaustive setting, exact by the IvfIndexSpec identity proof
    Similarity.probeIvfPqIndex(spark, indexRoot,
      embedQuery(spark, queryText, dim), nprobe = nprobe, k = k,
      rerank = if (rerank > 0) rerank else math.max(10 * k, 50))
  }

  /** Embed query text through the SAME hashEmbedding column on a one-row
    * frame — query and corpus embeddings cannot drift. */
  def embedQuery(spark: SparkSession, queryText: String,
      dim: Int): Array[Float] = {
    import spark.implicits._
    Seq(queryText).toDF("text")
      .select(hashEmbedding(TextAnalysis.normalized(col("text")), dim)
        .as("embedding"))
      .head().getSeq[Float](0).toArray
  }

  /** HYBRID retrieval: the lexical BM25 leg over the passage text and the
    * dense IVF+PQ probe leg, reciprocal-rank-fused (ss19's operator as a
    * composition). The query's distinct tokens (capped at 8) are the BM25
    * terms; each leg is cut at `kLeg`, the fusion emits `k`.
    *
    * Scale shape: the lexical leg is t17's one-scan plan over passages;
    * the dense leg reads nprobe cells' codes from the persistent index;
    * the fusion joins two ≤ kLeg-row frames — nothing new is corpus-sized.
    * Returns (id = chunk_id, lex_rank, dense_rank, rrf_micros). */
  def hybridRetrieve(spark: SparkSession, docs: DataFrame, indexRoot: String,
      queryText: String, k: Int, kLeg: Int = 20, dim: Int = 16,
      nprobe: Int = 2, rerank: Int = 0): DataFrame = {
    val terms = queryText.toLowerCase.trim.split("\\s+")
      .filter(_.nonEmpty).distinct.take(8).toSeq
    val lex = TextAnalysis.bm25TopKOf(
      passages(docs, dim = dim).select(col("chunk_id"), col("chunk_text")),
      terms, kLeg, idCol = "chunk_id", textCol = "chunk_text")
      .select(col("doc_id").as("id"), col("bm25").as("score"))
    val den = retrieve(spark, indexRoot, queryText, k = kLeg,
      dim = dim, nprobe = nprobe, rerank = rerank)
      .select(col("vec_id").as("id"), col("cos").as("score"))
    Similarity.rrfFusionOf(lex, den, kOut = k, c = 60)
  }

  /** DIVERSIFIED retrieval: MMR-select `k` passages from the exact
    * top-`nCand` pool around the query (ss20's operator as a composition)
    * — the redundancy-aware shortlist for a RAG context window, where two
    * near-identical passages waste half the budget. The query embeds as a
    * member row under a reserved id, so the pool cut and the greedy
    * selection run the declared operator's exact plan. */
  def diversifiedRetrieve(spark: SparkSession, docs: DataFrame,
      queryText: String, k: Int, nCand: Int = 30,
      dim: Int = 16): DataFrame = {
    import spark.implicits._
    val qvec = embedQuery(spark, queryText, dim)
    val pool = passages(docs, dim = dim)
      .select(col("chunk_id").as("vec_id"), col("embedding"))
    val queryRow = Seq((-1L, qvec.toSeq)).toDF("vec_id", "embedding")
    Similarity.mmrDiversifyOf(pool.unionAll(queryRow), queryId = -1L,
      nCand = nCand, k = k, lambda = 0.7, mu = 0.3)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RagIndexExample <sf-dir> <index-root>")
    val spark = graft.GraftSession()
    try {
      val docs = graft.sources.Tables.t(spark, args(0), "documents")
        .select("doc_id", "text")
      val n = buildRagIndex(spark, docs, args(1))
      val sample = docs.orderBy("doc_id").limit(1)
        .select("text").head().getString(0)
      val hits = retrieve(spark, args(1), sample, k = 3).collect()
      println(s"indexed $n passages; top hits for doc 0's text: " +
        hits.map(r => s"${r.getLong(0)}@${r.getDouble(1)}").mkString(", "))
      val fused = hybridRetrieve(spark, docs, args(1), sample, k = 3)
        .collect()
      println("hybrid (BM25 + dense, RRF): " + fused.map(r =>
        s"${r.getLong(0)}@${r.getLong(3)}").mkString(", "))
      val div = diversifiedRetrieve(spark, docs, sample, k = 3).collect()
      println("diversified (MMR): " + div.map(r =>
        s"${r.getLong(1)}@${r.getDouble(3)}").mkString(", "))
    } finally spark.stop()
  }
}
