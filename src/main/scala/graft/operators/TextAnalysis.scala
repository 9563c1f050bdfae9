package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables.t

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §7.6 north-star): token counting, quality scoring,
  * language-ID, document fingerprinting — all over the `documents` table.
  *
  * Every computation is a narrow per-row expression (no shuffle at all except
  * the final presentation ORDER BY), stays inside whole-stage codegen, and
  * the parquet scan reads only (doc_id, text[, lang, n_chars]) via column
  * pruning — exactly the shape that scales to 100 TB: embarrassingly
  * parallel over row groups.
  *
  * Determinism contract with the DuckDB oracle: tokenization is
  * `split(lower(trim(text)), '\s+')` in both engines, hashing is md5 (hex
  * string, identical across engines), ratios are rounded at the end only.
  */
object TextAnalysis {

  /** Whitespace tokens of the lower-cased document. */
  private[operators] def toks: Column = split(lower(trim(col("text"))), "\\s+")

  private val stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it")

  /** Occurrence count of set members in a token array. Was
    * `size(filter(ws, w => w.isin(words)))`; the lambda has no doGenCode,
    * which dropped every consuming projection (t02's quality score, t03's
    * language evidence) out of whole-stage codegen — the native
    * [[graft.functions.CountInSet]] is value- and type-identical and
    * keeps the hot path generated. */
  private def countIn(ws: Column, words: Seq[String]): Column =
    graft.functions.CountInSet.countIn(ws, words)

  /** THE quality heuristic (stopword ratio + length prior, rounded 3) —
    * one definition shared by the per-doc score (t02, and through it the
    * top-k/quota/bin consumers) and the corpus profile's mean (t12), so
    * the formula cannot drift between the queries that rank by it and
    * the report that averages it. */
  private def qualityOf(ws: Column): Column =
    round(countIn(ws, stopwords).cast("double") / size(ws) * 0.5 +
      when(size(ws).between(20, 80), 0.5).otherwise(0.0), 3)

  /** The same ONE quality definition as a public column over arbitrary
    * text — what a caller pipeline (batch or foreachBatch) applies to its
    * own frame without re-deriving the formula. */
  def quality(text: Column): Column =
    qualityOf(split(lower(trim(text)), "\\s+"))

  /** t01 — token count per document (whitespace tokenizer; a BPE-ish regex
    * tokenizer would swap in here as another `split` pattern). */
  def t01TokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** t02 — quality scoring: stopword ratio + a length prior. The heuristic is
    * deliberately simple and deterministic (the point is the distributed
    * shape, not the linguistics): score = 0.5·stop_ratio + 0.5·[20 ≤ tokens ≤ 80].
    *
    * EMITTED ratios go through [[ExactPresent.roundDiv]] — the sf10 gate
    * falsified ExactPresent's "single-division ratios never diverge"
    * claim right here: doc 5497558138896 has n_chars/n_tokens = 353/40 =
    * EXACTLY 8.825, whose nearest double sits an ulp BELOW the half, so
    * Spark (shortest-decimal half-up) printed 8.83 while DuckDB (×10²
    * then half-away) printed 8.82 — 1440 of 500k docs split this way.
    * A single float division agrees across engines only when the true
    * rational is NOT on (or within an ulp of) a rounding half; integer
    * numerator/denominator ratios land on halves for ordinary inputs.
    * quality emits the same rational as [[qualityOf]] —
    * (stops + [20 ≤ n ≤ 80]·n) / (2n) — in exact form; the GATE column
    * (threshold compares) keeps the double formula, where an ulp cannot
    * flip engines that both compute it identically. */
  def t02Quality(spark: SparkSession, dir: String): DataFrame = {
    import ExactPresent.roundDiv
    val ws = toks
    t(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"), ws.as("ws"))
      // Bind the per-row array scans ONCE before roundDiv: its in-plan
      // overflow guards embed num/den in several when/raise_error
      // branches and codegen does not CSE across conditional branches,
      // so inlining countIn/size here re-ran the stopword scan several
      // times per row (r14's 1.85x regression on this query).
      // CollapseProject keeps this projection: non-cheap expressions
      // referenced more than once are never collapsed into consumers.
      .select(col("doc_id"), col("n_chars"),
        size(col("ws")).as("__n"),
        countIn(col("ws"), stopwords).as("__stops"))
      .select(
        col("doc_id"),
        col("__n").as("n_tokens"),
        roundDiv(col("n_chars"), col("__n"), 2).as("avg_token_len"),
        roundDiv(col("__stops"), col("__n"), 3).as("stop_ratio"),
        roundDiv(
          col("__stops") +
            when(col("__n").between(20, 80), col("__n")).otherwise(lit(0)),
          col("__n").cast("long") * 2L, 3).as("quality"))
      .orderBy("doc_id")
  }

  /** t03 — language-ID by stopword evidence (n-gram-heuristic family): score
    * each candidate language by its marker-word hits, argmax with a fixed
    * tie-break order. Pure per-row map — no shuffle. */
  def t03LangId(spark: SparkSession, dir: String): DataFrame = {
    val ws = toks
    val sEn = countIn(ws, Seq("the", "a", "is"))
    val sFr = countIn(ws, Seq("le", "la", "et"))
    val sDe = countIn(ws, Seq("der", "die", "und"))
    t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), sEn.as("s_en"), sFr.as("s_fr"),
        sDe.as("s_de"))
      .select(col("doc_id"), col("lang"),
        when(col("s_en") >= col("s_fr") && col("s_en") >= col("s_de") &&
          col("s_en") > 0, "en")
          .when(col("s_fr") >= col("s_de") && col("s_fr") > 0, "fr")
          .when(col("s_de") > 0, "de")
          .otherwise("und").as("pred"))
      .orderBy("doc_id")
  }

  /** t04 — document fingerprint: md5 of the whitespace-normalized, lower-cased
    * text. The canonical exact-dedup key (see Dedup.dd01Exact). */
  def t04Fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** t07 — repetition ratio (the Gopher/RefinedWeb-style duplicate-n-gram
    * quality filter): fraction of word-trigrams that are repeats within the
    * document. Boilerplate, keyword stuffing, and templated text score
    * high; natural prose scores low. Map-only — the gram array, its
    * distinct count, and the ratio are computed per row inside whole-stage
    * codegen, no shuffle except the presentation sort. */
  def t07Repetition(spark: SparkSession, dir: String): DataFrame = {
    // native trigram builder: lambda-free per-row projection (r16 audit)
    val grams3 = coalesce(
      graft.functions.NgramJoin.ngrams(col("ws"), 3), array())
    t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("ws"))
      .select(col("doc_id"), grams3.as("g"))
      .select(col("doc_id"),
        size(col("g")).as("n_grams"),
        size(array_distinct(col("g"))).as("n_unique"))
      .withColumn("rep_ratio",
        when(col("n_grams") > 0,
          ExactPresent.roundDiv(col("n_grams") - col("n_unique"),
            col("n_grams"), 3))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Normalization + md5 shared by t04, dd01, and the streaming dedup —
    * ONE fingerprint definition so batch backfill and live tail agree on
    * what "duplicate" means. */
  private[graft] def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** t06 — per-language quality top-k: the "best documents per stratum"
    * selection a curation pipeline runs after scoring. row_number over a
    * (lang)-partitioned window ordered (quality desc, doc_id) — rank
    * computed within sorted partitions, one shuffle on lang. */
  def t06QualityTopK(spark: SparkSession, dir: String): DataFrame =
    qualityTopKBy(spark, dir, stratum = "lang", k = 3)

  /** The shared best-quality-per-stratum selection (t06 strata = lang,
    * sp02 strata = source): row_number alone in its window node, so the
    * rank filter plans as WindowGroupLimit — every input partition
    * pre-prunes to its own top-k BEFORE the per-stratum shuffle, and a
    * hot stratum never buffers its whole document set in one task.
    * Ordering (quality DESC, doc_id) is total ⇒ deterministic and
    * engine-portable. */
  private[operators] def qualityTopKBy(spark: SparkSession, dir: String,
      stratum: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k: $k")
    val quality = t02Quality(spark, dir).select("doc_id", "quality")
    val w = Window.partitionBy(stratum)
      .orderBy(col("quality").desc, col("doc_id"))
    t(spark, dir, "documents").select("doc_id", stratum)
      .join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(stratum, "rk", "doc_id", "quality")
      .orderBy(stratum, "rk")
  }

  /** t08 — pattern scrub (the PII-redaction shape): replace every match of
    * a regex with a redaction marker and report the hit count — pure
    * per-row regexp_replace/regexp_extract_all inside whole-stage codegen,
    * no shuffle except the presentation sort. In production the pattern
    * set is emails/phones/SSNs/URLs; the declared query pins fixture
    * vocabulary (`customer|vector`) so replacements actually exercise the
    * rewrite on the synthetic corpus. Regex subset is chosen to mean the
    * same thing in Java regex (Spark) and RE2 (DuckDB): literal
    * alternation + \b word boundaries. */
  def t08Scrub(spark: SparkSession, dir: String): DataFrame =
    scrub(spark, dir, "\\b(customer|vector)\\b", "[X]")

  /** Library surface: scrub at a caller-chosen pattern/replacement (the
    * declared query pins fixture-matching terms for the oracle). */
  def scrub(spark: SparkSession, dir: String, pattern: String,
      replacement: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pattern), lit(0)))
          .as("n_hits"),
        regexp_replace(col("text"), pattern, replacement).as("scrubbed"))
      .withColumn("n_chars_scrubbed", length(col("scrubbed")))
      .orderBy("doc_id")

  /** t09 — corpus-wide n-gram frequency top-k (the vocabulary/boilerplate
    * census a pipeline runs before filtering): word bigrams, counted with
    * map-side partial aggregation — the shuffle carries one row per
    * DISTINCT gram per partition, not one per occurrence — then a global
    * top-k that plans as TakeOrderedAndProject (no full sort of the gram
    * table, each partition keeps k candidates). Total order (n DESC, gram)
    * for determinism. */
  def t09TopNgrams(spark: SparkSession, dir: String): DataFrame =
    topNgrams(spark, dir, 20)

  /** Library surface: corpus bigram top-k at caller-chosen k. */
  def topNgrams(spark: SparkSession, dir: String, k: Int): DataFrame = {
    // native bigram builder: lambda-free per-row projection (r16 audit)
    val grams = coalesce(
      graft.functions.NgramJoin.ngrams(col("ws"), 2), array())
    t(spark, dir, "documents")
      .select(toks.as("ws"))
      .select(explode(grams).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(k)
  }

  /** t10 — corpus-adaptive common-token ratio: fraction of each document's
    * tokens that fall in the corpus's own top-v vocabulary. Unlike t02's
    * FIXED stopword list, the vocabulary here is LEARNED from the corpus in
    * a first pass — the data-driven boilerplate/stopword signal a pipeline
    * computes before it has a hand-tuned list for the language mix at hand
    * (high ratio = templated/function-word text, low ratio = rare-token
    * content). Two-pass corpus-statistic shape: pass 1 aggregates token
    * counts map-side-combined and keeps the top-v (TakeOrdered, total
    * order (n DESC, w) ⇒ deterministic vocabulary); pass 2 re-tokenizes
    * and LEFT-joins tokens against the v-row vocabulary — at any corpus
    * size the build side is v rows, so AQE plans a broadcast hash join and
    * the only real shuffle is the per-doc count aggregation, which carries
    * (doc_id, counts), never text. This is the general template for every
    * corpus-statistic score (IDF weighting, rare-word rate): small learned
    * table, broadcast attach, map-side-combined per-doc aggregate. */
  def t10CommonRatio(spark: SparkSession, dir: String): DataFrame =
    commonTokenRatio(spark, dir, v = 20)

  /** Library surface: common-token ratio against the corpus top-v
    * vocabulary (the declared query pins v=20 for the oracle). */
  def commonTokenRatio(spark: SparkSession, dir: String, v: Int): DataFrame = {
    require(v >= 1, s"v: $v")
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(v)
      .select(col("w"), lit(1).as("hit"))
    tok.join(vocab, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_common"))
      .withColumn("common_ratio",
        // integer ratio emission → exact rounding (t02's sf10 lesson)
        ExactPresent.roundDiv(col("n_common"), col("n_tokens"), 3))
      .orderBy("doc_id")
  }

  /** t11 — quality binning by sketch quantile cutoffs (the "keep the top
    * quartile" mix knob): each document gets the bin index of its quality
    * among corpus-wide quartile cuts. The SCALE-CORRECT shape for rank
    * binning: `ntile`/`percent_rank` need a corpus-wide total-order
    * window — ONE task sorting everything — whereas a mergeable
    * `approx_percentile` sketch (exact while N ≤ accuracy, per the q24b
    * contract) reduces the corpus to a 3-value cutoff row, broadcast back
    * for a map-only comparison bin. Strict `>` against the same doubles
    * in both engines keeps tie handling engine-portable. */
  def t11QualityBins(spark: SparkSession, dir: String): DataFrame =
    qualityBins(spark, dir, Seq(0.25, 0.5, 0.75))

  /** Library surface: bin by any ascending probability cutoffs (the
    * declared query pins quartiles for the oracle). */
  def qualityBins(spark: SparkSession, dir: String,
      ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps == ps.sorted &&
      ps.forall(p => p > 0.0 && p < 1.0),
      s"cutoffs must be ascending probabilities in (0, 1): $ps")
    val q = t02Quality(spark, dir).select("doc_id", "quality")
    val cuts = q.agg(percentile_approx(col("quality"), typedlit(ps),
      lit(100000)).as("cuts"))
    q.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("quality"),
        ps.indices.map(i =>
          when(col("quality") > element_at(col("cuts"), i + 1), 1)
            .otherwise(0)).reduce(_ + _).as("bin"))
      .orderBy("doc_id")
  }

  /** t13 — per-document top-k TF-IDF terms (the keyword/topic fingerprint
    * a curation pipeline uses for cluster labeling and boilerplate
    * spotting). The corpus side reduces to a (term, df) table — NOT
    * broadcast by hint (vocabulary grows with the corpus; AQE broadcasts
    * it only while it is actually small, a shuffle hash join takes over
    * beyond that) — joined back to map-side-combined per-(doc, term)
    * counts; only the 1-row corpus count broadcasts by construction. Per-
    * doc top-k rides row_number over (doc_id) — WindowGroupLimit prunes
    * to k rows per group before the sort, the same recipe as t06/sp02.
    * Float portability: ln is correctly rounded on both engines for these
    * magnitudes; ties in the ORDER BY break on the integer-exact (term)
    * key, so rank order never hangs on a final-ulp comparison. */
  def t13Tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopK(spark, dir, k = 3)

  /** Library surface: top-k TF-IDF terms per document (the declared query
    * pins k=3 for the oracle). Pin lifecycle contract: see [[tfidfTopKOf]]. */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int): DataFrame =
    tfidfTopKOf(t(spark, dir, "documents"), k)

  /** Generic Of-surface: TF-IDF over ANY (doc_id, text) frame.
    *
    * PIN LIFECYCLE (caller contract): the per-(doc, term) count frame is
    * pinned internally — it feeds two consumers and unpinned the corpus
    * tokenizes twice (measured +35%). Unlike the index BUILD paths, whose
    * scopes free their pins once the artifacts are on disk, this returns
    * a LAZY plan that still reads the pin, so the pin passes to the
    * caller. In the default localCheckpoint mode the blocks free via the
    * ContextCleaner once the returned frame becomes unreachable; under
    * `spark.graft.reliableCheckpoint=true` checkpoint FILES back the pin
    * and nothing auto-deletes them — consume the result inside a
    * [[graft.Materialize.scoped]] call whose own result does not read it,
    * which deletes them on return. */
  def tfidfTopKOf(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val tok = docs.select(col("doc_id"), explode(toks).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .transform(graft.Materialize.pin)
    // df derives from tf — one (doc,term) row per containing doc — so the
    // df aggregation shuffles (term, count) partials instead of
    // re-exploding raw tokens into a count_distinct
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "w").crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") *
        log(col("n_docs").cast("double") / col("df")), 4))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("w"))
    scored.withColumn("rk", row_number().over(byDoc))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("w").as("term"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rk")
  }

  /** t12 — corpus profile: per (source, lang) document counts, token
    * volume, and mean quality — the report a pipeline prints before and
    * after every curation stage. One map-side-combined aggregation whose
    * shuffle carries (source, lang) groups; the mean rides the
    * ×1000→int64 quantization (sum of exact integers, divided once at the
    * end) so the double never depends on summation order — the same
    * engine-portability trick as the money sums in q25/q28. */
  def t12CorpusProfile(spark: SparkSession, dir: String): DataFrame = {
    val ws = toks
    t(spark, dir, "documents")
      .select(col("source"), col("lang"), size(ws).as("n_tokens"),
        qualityOf(ws).as("quality"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(expr("CAST(ROUND(quality * 1000) AS BIGINT)")).as("__qs"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        ExactPresent.roundDiv(col("__qs"),
          lit(1000L) * col("n_docs"), 3).as("mean_quality"))
      .orderBy("source", "lang")
  }

  /** t14 — unigram language-model score (the KenLM-style perplexity-proxy
    * quality filter, reduced to its distributed essence): train a unigram
    * LM from the corpus's own token counts, score every document by its
    * mean token log-probability. Gibberish, rare-token spam, and
    * wrong-language text score low; fluent in-distribution prose scores
    * high — the third member of the quality triad next to t02's fixed
    * heuristics and t07's repetition ratio. Same two-pass template as t10:
    * pass 1 learns the model (top-v token counts, map-side-combined census,
    * deterministic (n DESC, w) vocabulary); pass 2 broadcast-attaches the
    * v-row model and aggregates per document — the model moves to the
    * data, the corpus never shuffles its text. Laplace smoothing over the
    * v-word vocabulary gives out-of-vocabulary tokens a defined floor:
    * p(w) = (count_vocab(w) + 1) / (N + v). Engine portability: each
    * token's log-prob is quantized to int64 micros BEFORE the per-doc
    * mean (one division at the end), so the double never depends on
    * summation order — the t12 mean trick. */
  def t14UnigramLogprob(spark: SparkSession, dir: String): DataFrame =
    unigramLogprob(spark, dir, v = 50)

  /** Library surface: mean token log-probability under the corpus's own
    * top-v unigram LM (the declared query pins v=50 for the oracle). */
  def unigramLogprob(spark: SparkSession, dir: String, v: Int): DataFrame = {
    require(v >= 1, s"v: $v")
    val tok = t(spark, dir, "documents")
      .select(col("doc_id"), explode(toks).as("w"))
      // the census and the scoring pass both read the token stream —
      // pinned, the corpus tokenizes once (same contract as t13's tf pin:
      // localCheckpoint blocks free via the ContextCleaner)
      .transform(graft.Materialize.pin)
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(v)
    val total = tok.agg(count(lit(1)).as("n_total"))
    // log p(w) in int64 micros: exact integer sum, ONE division at the end
    val lpMicros = expr(s"CAST(ROUND(ln((COALESCE(n, 0) + 1.0) / " +
      s"(n_total + $v.0)) * 1000000) AS BIGINT)")
    tok.join(vocab, Seq("w"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), lpMicros.as("lp"))
      .groupBy("doc_id")
      // mean presentation rides ExactPresent: s/1e6/n in doubles is the
      // multi-step rational shape that diverged cross-engine at t20
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp")).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        ExactPresent.roundDiv(col("__s"),
          lit(1000000L) * col("n_tokens"), 4).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** The t15 demo model: (token, weight-in-millis) — integer-scaled so the
    * per-document weighted sum is exact int64 arithmetic (engine-portable
    * regardless of summation order); one division converts to the real
    * score at the end. A production model is the same shape with 10⁵–10⁶
    * rows — still megabytes, still broadcast. */
  private[operators] val classifierWeights: Seq[(String, Long)] = Seq(
    "data" -> 1200L, "customer" -> 800L, "vector" -> 900L,
    "supplier" -> 400L, "the" -> 300L, "region" -> -200L,
    "click" -> -700L, "error" -> -1500L)
  private[operators] val classifierBiasMillis = -500L

  /** t15 — model-based quality scoring (the fastText-classifier stage of a
    * curation pipeline, reduced to its distributed essence): a linear
    * bag-of-words model — weights learned OFFLINE, applied at corpus
    * scale. The serving shape is the point: the MODEL broadcasts (a weight
    * table is k rows however big the corpus), tokens inner-join it
    * map-side, and the only shuffle carries (doc_id, partial-sum) — text
    * never moves, and docs with zero model hits are restored by a left
    * join against the documents table, not by scanning twice.
    * score z = bias + Σ count(w)·weight(w) / n_tokens (length-normalized
    * dot product), prob = σ(z). Integer-millis weights keep the weighted
    * sum exact; σ is one exp + one division on that exact ratio. */
  def t15ClassifierScore(spark: SparkSession, dir: String): DataFrame =
    classifierScoreOf(t(spark, dir, "documents"),
      classifierWeights, classifierBiasMillis)

  /** Generic Of-surface: score ANY (doc_id, text) frame with a caller
    * bag-of-words model (weights in millis, see [[classifierWeights]]). */
  def classifierScoreOf(docs: DataFrame, weights: Seq[(String, Long)],
      biasMillis: Long): DataFrame = {
    require(weights.nonEmpty, "empty model")
    val spark = docs.sparkSession
    import spark.implicits._
    val model = weights.toDF("w", "wm")
    val hits = docs.select(col("doc_id"), explode(toks).as("w"))
      .join(broadcast(model), Seq("w")) // inner: only weighted tokens count
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), sum(col("wm")).as("num_millis"))
    docs.select(col("doc_id"), size(toks).as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (lit(biasMillis).cast("double") / 1000.0 +
          coalesce(col("num_millis"), lit(0L)).cast("double") / 1000.0 /
            col("n_tokens")).as("z"))
      .select(col("doc_id"), col("n_tokens"), col("n_hits"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 4).as("prob"))
      .withColumn("kept", col("prob") >= 0.5)
      .orderBy("doc_id")
  }

  /** t05 — BPE-ish sub-token counting: letter runs / digit runs / single
    * punctuation, the pre-tokenization split every BPE-family tokenizer
    * applies before merges. Compared against the whitespace word count —
    * the subtoken:word ratio is a standard tokenizer-cost estimator. */
  def t05BpeTokens(spark: SparkSession, dir: String): DataFrame = {
    val sub = regexp_extract_all(lower(trim(col("text"))),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
    t(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_words"),
        size(sub).as("n_subtokens"))
      .withColumn("ratio",
        // integer ratio emission → exact rounding (t02's sf10 lesson)
        ExactPresent.roundDiv(col("n_subtokens"), col("n_words"), 3))
      .orderBy("doc_id")
  }

  /** THE text-canonicalization column — Unicode NFC (custom codegen
    * expression, [[graft.functions.NfcNormalize]]; Spark has no built-in
    * normalizer), lowercase, trim, whitespace collapse — applied BEFORE
    * fingerprinting in any pipeline where "the same text" must mean the
    * same bytes: composed vs decomposed accents, tabs vs spaces, and case
    * differences otherwise all defeat hash-keyed dedup silently. Exposed
    * as a Column so callers canonicalize their own frames with the one
    * shared definition. */
  def normalized(text: Column): Column =
    graft.functions.NfcNormalize.nfc(
      regexp_replace(lower(trim(text)), "\\s+", " "))

  /** t17 — BM25 retrieval scoring (Robertson/Spärck Jones; the Lucene
    * `ln(1 + (N−df+0.5)/(df+0.5))` idf form): top-k documents for a fixed
    * query-term set — the lexical-retrieval baseline beside the RAG
    * example's vector path, and the second instantiation of t13's
    * corpus-statistic template. Engine parity holds because every
    * floating-point step is written identically in both engines (`ln` and
    * IEEE double arithmetic agree — the t13 precedent) and the oracle
    * casts its literals to DOUBLE so DuckDB's decimal literals never
    * change the numeric tower. */
  def t17Bm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(spark, dir, Seq("hash", "join", "vector"), k = 20)

  /** Library surface: BM25 top-k for caller query terms (declared query
    * pins hash/join/vector, k=20, k1=1.2, b=0.75).
    *
    * Scale shape: per-term tf counts are MAP-ONLY array ops (the query is
    * bounded, so "tf of each query term" is |terms| columns, not a
    * (doc, term) shuffle); corpus stats (N, Σlen, per-term df) are ONE
    * map-side-combined aggregate producing a 1-row broadcast; the global
    * top-k plans as TakeOrderedAndProject. Nothing shuffles but the
    * 1-row stats and k winners — a 100 TB BM25 query is one scan. */
  def bm25TopK(spark: SparkSession, dir: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKOf(t(spark, dir, "documents"), terms, k, k1, b)

  /** Library surface: BM25 top-k over ANY (id, text) frame — the same
    * one-scan plan as the declared query, with caller id/text columns
    * (RagIndexExample scores PASSAGES through this). */
  def bm25TopKOf(docs: DataFrame, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      s"terms must be non-empty and distinct: $terms")
    require(k >= 1, s"k: $k")
    val base = docs
      .select(col(idCol).as("doc_id"),
        split(lower(trim(col(textCol))), "\\s+").as("__ws"))
      .withColumn("__len", size(col("__ws")))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (term, i)) =>
      d.withColumn(s"__tf$i",
        size(filter(col("__ws"), x => x === lit(term))))
    }.drop("__ws")
      // consumed twice (stats aggregate + scoring pass); tokenize once
      .transform(graft.Materialize.pin)
    val statAggs = terms.indices.map(i =>
      sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i")) ++
      Seq(count(lit(1)).as("__n"), sum(col("__len")).as("__sl"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("__sl").cast("double") / col("__n"))
    val score = terms.indices.map { i =>
      val idf = log(lit(1.0) +
        (col("__n").cast("double") - col(s"__df$i") + lit(0.5)) /
          (col(s"__df$i") + lit(0.5)))
      idf * (col(s"__tf$i").cast("double") * lit(k1 + 1)) /
        (col(s"__tf$i") + lit(k1) *
          (lit(1 - b) + lit(b) * col("__len") / col("__avgdl")))
    }.reduce(_ + _)
    scored
      .select(col("doc_id"), round(score, 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** t18 — composite quality-RULE filter (the Gopher/C4 rule-list shape:
    * hard per-document gates, not a scored ranking like t02): word-count
    * bounds, mean-word-length bounds, distinct-token ratio (repetition
    * guard), minimum distinct-stopword evidence (natural-language guard),
    * and a max single-token frequency share (keyword-stuffing guard).
    * Every gate plus the measured statistic is emitted so a pipeline can
    * audit WHICH rule rejected a document — the rule-attrition report is
    * how these filters get tuned in practice. */
  def t18QualityRules(spark: SparkSession, dir: String): DataFrame =
    qualityRulesOf(t(spark, dir, "documents"))

  /** Library surface: the rule filter over any (doc_id, text) frame with
    * caller-tunable thresholds (declared query pins the defaults). Ratio
    * thresholds are PER-MILLE INTEGERS and every gate compares in exact
    * int64 arithmetic (`nd·1000 ≥ n·minDistinctPermille`, never
    * `nd/n ≥ 0.5`) — rule decisions cannot drift between engines or
    * hardware; the emitted statistics are integer centi/per-mille for the
    * same reason (a ROUND(·, 2) halfway case like 189/40 = 4.725 rounds
    * differently across engines; integer division cannot).
    *
    * Scale shape: map-only — every statistic (token count, summed token
    * length via one array_join, distinct count, stopword intersection,
    * max token multiplicity) is a per-row array expression inside
    * whole-stage codegen; no shuffle but the presentation sort. The
    * top-token scan is O(distinct·n) per row — bounded by document
    * length, not corpus size. Empty-text rows: every ratio gate compares
    * against n=0 (false), so `pass` is deterministically false. */
  def qualityRulesOf(docs: DataFrame, minWords: Int = 30,
      maxWords: Int = 120, minMeanLen: Int = 3, maxMeanLen: Int = 10,
      minDistinctPermille: Int = 500, minStopHits: Int = 2,
      maxTopPermille: Int = 150): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"word bounds: [$minWords, $maxWords]")
    require(minMeanLen >= 0 && maxMeanLen >= minMeanLen,
      s"mean-length bounds: [$minMeanLen, $maxMeanLen]")
    val ws = col("__ws")
    val stats = docs.select(col("doc_id"), toks.as("__ws"))
      .select(col("doc_id"),
        size(ws).cast("long").as("__n"),
        // Σ token length = length of the separator-free concatenation —
        // one codegen'd string op instead of a per-token fold
        length(array_join(ws, "")).cast("long").as("__tl"),
        size(array_distinct(ws)).cast("long").as("__nd"),
        size(array_intersect(array_distinct(ws),
          array(stopwords.map(lit): _*))).cast("long").as("stop_hits"),
        coalesce(array_max(transform(array_distinct(ws),
          x => size(filter(ws, y => y === x)))).cast("long"), lit(0L))
          .as("__tc"))
    // presentation stats are INTEGER centi/per-mille, not rounded doubles:
    // ROUND(189/40.0, 2) is a halfway case (4.725) that IEEE doubles round
    // differently across engines — exact integer division cannot
    stats.select(
      col("doc_id"),
      col("__n").as("n_tokens"),
      expr("(__tl * 100) div __n").as("mean_len_centi"),
      expr("(__nd * 1000) div __n").as("distinct_permille"),
      col("stop_hits"),
      expr("(__tc * 1000) div __n").as("top_permille"),
      col("__n").between(minWords, maxWords).as("r_words"),
      (col("__tl") >= col("__n") * minMeanLen &&
        col("__tl") <= col("__n") * maxMeanLen).as("r_mean_len"),
      (col("__nd") * 1000 >= col("__n") * minDistinctPermille)
        .as("r_distinct"),
      (col("stop_hits") >= minStopHits).as("r_stop"),
      (col("__tc") * 1000 <= col("__n") * maxTopPermille).as("r_top"))
      .withColumn("pass", col("r_words") && col("r_mean_len") &&
        col("r_distinct") && col("r_stop") && col("r_top"))
      .orderBy("doc_id")
  }

  /** t16 — canonicalization audit: the normalized text plus whether
    * normalization changed anything (the fraction of changed documents is
    * the "how dirty is this corpus" metric that decides whether upstream
    * fingerprints must be recomputed). Map-only, scan-speed at any scale.
    * DuckDB's `nfc_normalize` implements the same Unicode-spec NFC as
    * `java.text.Normalizer`, so the oracle agrees byte-for-byte. */
  def t16Normalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), normalized(col("text")).as("norm_text"),
        (normalized(col("text")) =!= col("text")).as("changed"))
      .orderBy("doc_id")

  /** t19 — DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023, reduced to its distributed essence):
    * score every raw-pool document by how target-like its hashed bigram
    * distribution is. Features are bigrams hashed into a FIXED bucket
    * space; two bucket histograms are learned (target = the benchmark
    * slice, raw = everything else) and each raw document's weight is the
    * mean log importance ratio Σ log(p̂_target(b)/p̂_raw(b)) / n over its
    * bigram stream — the standard n-gram importance-resampling weight.
    * High weight = "looks like the target distribution"; the downstream
    * resample is a deterministic keep-top-fraction or sp08-style budget
    * fill over this column.
    *
    * Scale shape: the MODEL is 2·`buckets` int64 rows however big the
    * corpus — both histograms broadcast back; the corpus tokenizes once
    * (pinned gram stream feeds both censuses and the scoring pass), the
    * only shuffles carry (bucket) and (doc_id, int64 partial). Per-gram
    * log-ratios are quantized to int64 micros BEFORE the per-doc sum
    * (t12/t14 trick) so the mean never depends on summation order. */
  def t19DsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(t(spark, dir, "documents"),
      isTarget = col("doc_id") % 97 === 0, buckets = 256)

  /** Library surface: DSIR importance weights over ANY (id, text) frame
    * with a caller-chosen target predicate and bucket count (the declared
    * query pins the c04 benchmark slice `doc_id % 97 = 0` and 256
    * buckets). Documents with < 2 tokens carry n_grams = 0 and a NULL
    * weight. The returned frame derives from an internal pin of the gram
    * stream; in reliable-checkpoint mode consume it inside a
    * [[graft.Materialize.scoped]] call to delete its files when done
    * (localCheckpoint blocks are freed by the ContextCleaner). */
  def dsirWeightsOf(docs: DataFrame, isTarget: Column, buckets: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets >= 2, s"buckets: $buckets")
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val grams = docs
      .select(col(idCol), isTarget.as("__t"), ws.as("__ws"))
      .where(size(col("__ws")) >= 2)
      .select(col(idCol), col("__t"),
        explode(transform(sequence(lit(1), size(col("__ws")) - 1),
          i => graft.functions.Hashing.md5Long(
            concat_ws(" ", element_at(col("__ws"), i),
              element_at(col("__ws"), i + 1)), 15) % buckets)).as("b"))
      .transform(graft.Materialize.pin)
    val tgt = grams.where(col("__t")).groupBy("b")
      .agg(count(lit(1)).as("nt"))
    val raw = grams.where(!col("__t")).groupBy("b")
      .agg(count(lit(1)).as("nr"))
    val totals = grams.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n_t"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("n_r"))
    // per-gram log importance ratio in int64 micros: Laplace-smoothed over
    // the bucket space on both sides, ONE double division at the end
    val lr = expr(s"CAST(ROUND((ln((COALESCE(nt, 0) + 1.0) / " +
      s"(n_t + $buckets.0)) - ln((COALESCE(nr, 0) + 1.0) / " +
      s"(n_r + $buckets.0))) * 1000000) AS BIGINT)")
    val scored = grams.where(!col("__t"))
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(raw), Seq("b"), "left")
      .crossJoin(broadcast(totals))
      .select(col(idCol), lr.as("lr"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("__s"))
      .select(col(idCol), col("n_grams"),
        ExactPresent.roundDiv(col("__s"),
          lit(1000000L) * col("n_grams"), 4).as("avg_log_ratio"))
    docs.where(!isTarget).select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        col("avg_log_ratio"))
      .orderBy(idCol)
  }

  /** t20 — interpolated BIGRAM language-model scoring (the KenLM-style
    * fluency filter one order above t14): score = mean over bigram
    * positions of ln(λ·c(w₁w₂)/c(w₁) + (1−λ)·p̂₁(w₂)), the Jelinek-Mercer
    * interpolation of a bigram ML estimate with t14's Laplace-smoothed
    * unigram backoff. Word salad whose unigrams are individually common
    * scores low (its bigrams never co-occur); fluent prose scores high —
    * the discriminator t14 is structurally blind to.
    *
    * Scale shape: both model tables are BOUNDED — the vocabulary is the
    * top-v census (t14's) and bigram counts are kept only for vocab×vocab
    * pairs, ≤ v² rows however big the corpus — so the model broadcasts.
    * The corpus tokenizes ONCE (the pinned per-doc token array feeds the
    * unigram census, the bigram census, and the scoring pass); shuffles
    * carry (w) / (w₁,w₂) counts and (doc_id, int64 partial) only.
    * Per-position log-probs ride int64 micros before the per-doc mean. */
  def t20BigramLogprob(spark: SparkSession, dir: String): DataFrame =
    bigramLogprob(spark, dir, v = 50)

  /** Library surface: interpolated bigram LM score at caller vocabulary
    * size (declared query pins v = 50; λ is fixed at 0.7 so the oracle
    * and the plan share one literal). Documents with < 2 tokens carry
    * n_bigrams = 0 and a NULL score. Same pin contract as
    * [[dsirWeightsOf]]: the token-array frame is pinned internally. */
  def bigramLogprob(spark: SparkSession, dir: String, v: Int): DataFrame = {
    require(v >= 1, s"v: $v")
    val arr = t(spark, dir, "documents")
      .select(col("doc_id"), toks.as("__ws"))
      .transform(graft.Materialize.pin)
    val tok = arr.select(explode(col("__ws")).as("w"))
    val vocab = tok.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w")).limit(v)
    val total = tok.agg(count(lit(1)).as("n_total"))
    val bg = arr.where(size(col("__ws")) >= 2)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("__ws")) - 1),
          i => struct(element_at(col("__ws"), i).as("w1"),
            element_at(col("__ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bgc = bg
      .join(broadcast(vocab.select(col("w").as("w1"))), "w1")
      .join(broadcast(vocab.select(col("w").as("w2"))), "w2")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // c12 non-null implies both words in vocab, so c1 is non-null there;
    // the backoff term alone covers every other position
    val lp = expr(s"CAST(ROUND(ln(CASE WHEN c12 IS NOT NULL THEN " +
      s"0.7 * c12 / c1 ELSE 0.0 END + 0.3 * (COALESCE(c2, 0) + 1.0) / " +
      s"(n_total + $v.0)) * 1000000) AS BIGINT)")
    val scored = bg
      .join(broadcast(bgc), Seq("w1", "w2"), "left")
      .join(broadcast(vocab.select(col("w").as("w1"), col("n").as("c1"))),
        Seq("w1"), "left")
      .join(broadcast(vocab.select(col("w").as("w2"), col("n").as("c2"))),
        Seq("w2"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy("doc_id")
      // s = −140012950 micros over n = 41 is EXACTLY −3.41495: the sf0.1
      // divergence that motivated ExactPresent (scaladoc there)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("__s"))
      .select(col("doc_id"), col("n_bigrams"),
        ExactPresent.roundDiv(col("__s"),
          lit(1000000L) * col("n_bigrams"), 4).as("avg_logprob"))
    arr.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logprob"))
      .orderBy("doc_id")
  }

  /** t21 — per-document token Shannon entropy, the repetition/diversity
    * signal t07's fixed-window ratio can't express: a doc cycling two
    * tokens scores ln 2 however it interleaves them; uniform word salad
    * scores ln n_distinct. Low entropy at normal length = boilerplate or
    * degenerate generation — a standard pre-training filter axis.
    *
    * Scale shape: MAP-ONLY — the per-doc token histogram never leaves the
    * row. The sorted token array's run boundaries (positions where
    * srt[i] ≠ srt[i−1]) give run lengths = per-token counts, so
    * H = ln n − (Σ c·ln c)/n needs no (doc, token) shuffle at all; the
    * only exchange is the presentation sort. The entropy sum rides int64
    * micros (ROUND(c·ln c·10⁶) per RUN, then integer sum) — deterministic
    * across engines and partition orders, the t14 convention. */
  def t21TokenEntropy(spark: SparkSession, dir: String): DataFrame =
    tokenEntropyOf(t(spark, dir, "documents"))

  /** Library surface: token entropy over ANY (id, text) frame. */
  def tokenEntropyOf(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val out = docs
      .select(col(idCol), array_sort(ws).as("__srt"))
      // run starts: position 1, and every i where srt[i] ≠ srt[i-1]
      .withColumn("__st", concat(
        filter(sequence(lit(1), size(col("__srt"))), i =>
          i === 1 || element_at(col("__srt"), i) =!=
            element_at(col("__srt"), i - 1)),
        array(size(col("__srt")) + 1)))
      .select(col(idCol), size(col("__srt")).as("n_tokens"),
        (size(col("__st")) - 1).as("n_distinct"),
        aggregate(
          transform(sequence(lit(1), size(col("__st")) - 1), j => {
            val c = (element_at(col("__st"), j + 1) -
              element_at(col("__st"), j)).cast("double")
            round(log(c) * c * 1e6).cast("long")
          }),
          lit(0L), (acc, x) => acc + x).as("__s"))
    out.select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
      col("n_distinct").cast("long").as("n_distinct"),
      round(log(col("n_tokens").cast("double")) -
        col("__s").cast("double") / 1e6 / col("n_tokens"), 4).as("entropy"))
      .orderBy(idCol)
  }

  /** t22 — READABILITY scoring (Flesch–Kincaid grade level): the classic
    * document-complexity gate training mixes filter or stratify on —
    * curriculum schedulers (sp10) order by quality; readability is the
    * orthogonal axis (a high-quality PhD thesis and a high-quality
    * children's story separate here, not there). Grade = 0.39·(words/
    * sentence) + 11.8·(syllables/word) − 15.59, with the two structural
    * estimators pinned deterministic: sentences = count of `[.!?]+` runs
    * (min 1), syllables per word = count of `[aeiouy]+` vowel groups
    * (min 1) — the standard regex approximations, exact-reproducible in
    * any engine (no dictionary). Both counts are emitted alongside the
    * grade so downstream filters can re-derive at other coefficients
    * without re-tokenizing.
    *
    * Scale shape: map-only over the documents scan (one regexp pass for
    * sentences, one per-token transform for syllables, aggregated inside
    * the row — no explode, no shuffle except the presentation sort);
    * rides the same whole-stage-codegen span as t01/t02. */
  def t22Readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOf(t(spark, dir, "documents")).orderBy("doc_id")

  /** Library surface: readability over ANY (doc_id, text) frame. */
  def readabilityOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), toks.as("ws"), lower(trim(col("text"))).as("lt"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(regexp_extract_all(col("lt"), lit("[.!?]+"), lit(0)))
            .cast("long")).as("n_sentences"),
        aggregate(
          transform(col("ws"), w => greatest(lit(1),
            size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))),
          lit(0L), (acc, x) => acc + x.cast("long")).as("n_syllables"))
      // FK = 0.39·w/s + 11.8·syl/w − 15.59 as ONE rational
      // (39·w² + 1180·syl·s − 1559·s·w)/(100·s·w): the multi-term double
      // shape is ExactPresent's divergence class
      .withColumn("fk_grade", ExactPresent.roundDiv(
        lit(39L) * col("n_words") * col("n_words") +
          lit(1180L) * col("n_syllables") * col("n_sentences") -
          lit(1559L) * col("n_sentences") * col("n_words"),
        lit(100L) * col("n_sentences") * col("n_words"), 3))

  /** t23 — HASHED FEATURE VECTORS (the hashing trick): bag-of-words
    * counts folded into a fixed-width vector by token hash — the
    * featurization step between raw text and a linear quality/domain
    * classifier (t15 scores with a word list; t23 is what replaces that
    * list when the model is TRAINED: fixed dimensionality, no vocabulary
    * build, no OOV). Bucket = md5("feat:"+token) mod width, so the
    * mapping is a property of the token — two corpora, two engines, or
    * two years of crawls featurize identically with zero coordination
    * (the property a vocabulary dictionary loses the day it's rebuilt).
    *
    * Scale shape: map-only — one tokenize, one per-token hash transform,
    * then `width` codegen'd array filters per row; no explode, no
    * shuffle, no learned state. Contrast t13/t14: those learn corpus
    * tables first; t23 is the zero-pass featurizer a 100 TB scoring run
    * wants when the model is already trained. */
  def t23HashedFeatures(spark: SparkSession, dir: String): DataFrame =
    hashedFeaturesOf(t(spark, dir, "documents"), width = 16)
      .orderBy("doc_id")

  /** Library surface: hashed featurization over ANY (id, text) frame.
    * Emits (id, n_tokens, f0..f{width-1}) — raw bucket counts; consumers
    * normalize (L2, tf-idf re-weight) downstream as their model expects. */
  def hashedFeaturesOf(docs: DataFrame, width: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(width >= 2 && width <= 64,
      s"feature width must be in [2, 64] (one output column each): $width")
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val bs = transform(ws, w => (graft.functions.Hashing.md5Long(
      concat(lit("feat:"), w), 15) % width).cast("int"))
    val fCols = (0 until width).map(i =>
      size(filter(col("__b"), b => b === i)).cast("long").as(s"f$i"))
    docs.select(col(idCol), bs.as("__b"))
      .select(col(idCol) +:
        size(col("__b")).cast("long").as("n_tokens") +: fCols: _*)
  }

  /** t27 — linear-probe classifier TRAINING (full-batch gradient descent,
    * squared loss, integer-quantized weights): the TRAIN step that turns
    * t23's hashed features into the kind of learned weight vector t15
    * scores with — the missing middle of the featurize→train→infer arc
    * (fastText-style quality filters are trained exactly this way, just
    * bigger). Labels come from the stopword-ratio gate (y = 1 iff
    * 10·n_stop ≥ n_tok — all-integer, so label assignment is exact in
    * any engine); features are PRESENCE bits of t23's 16 hashed buckets
    * (same `md5("feat:"+token) mod width` mapping, so a model trained
    * here scores t23 vectors with zero re-featurization).
    *
    * Determinism is the whole design: weights live in integer
    * micro-units (×10⁶), every gradient is a sum of integer terms
    * (order-independent — the cross-engine recipe every float-summing
    * operator here follows), and the learning-rate divide is
    * truncate-toward-zero in both engines (the oracle emulates Scala's
    * `/` on negatives with a negate-floor-negate). The declared output
    * is the per-dimension weight TRAJECTORY (w after each of 3
    * iterations) — a hash-exact assertion that two engines ran the same
    * optimization, which a float-loss plot could never give you.
    *
    * Scale shape: the featurized frame (y, present-dims array) pins
    * once; each iteration is ONE map-only pass (the prediction is
    * `aggregate` over the dims array against the BROADCAST 16-entry
    * weight literal — no join, no per-doc shuffle) feeding a 16-cell
    * map-side-combined gradient aggregation; the driver holds 16 longs
    * of model state, never data. Full-batch GD at 100 TB is therefore
    * iters × (scan + 16-cell shuffle) — the same bill as iters runs of
    * t09's census, and the reason this shape (not SGD, whose sampled
    * order is engine-private) is the distributed-training baseline.
    * η = 1/(8N): presence rows bound the Gram spectral norm by
    * width·N = 16N, so 1/(8N) < 2/λmax is stable by construction.
    * Gradient magnitudes bound at ~17·10⁶·N ≈ 2⁶⁴/10⁵ at even a
    * trillion docs — no overflow headroom worries. */
  def t27LinearProbe(spark: SparkSession, dir: String): DataFrame =
    linearProbeOf(t(spark, dir, "documents"), width = 16, iters = 3)

  /** Library surface: train a linear probe over ANY (id, text) frame
    * against the stopword-gate label. Returns one row per feature dim
    * with the weight after each iteration (micro-units). */
  def linearProbeOf(docs: DataFrame, width: Int, iters: Int,
      textCol: String = "text"): DataFrame = graft.Materialize.scoped {
    require(width >= 2 && width <= 64, s"width: $width")
    require(iters >= 1 && iters <= 8, s"iters: $iters")
    val S = 1000000L
    val spark = docs.sparkSession
    val ws = split(lower(trim(col(textCol))), "\\s+")
    val feat = docs.select(
      when(countIn(ws, stopwords) * 10 >= size(ws), 1L).otherwise(0L)
        .as("y"),
      array_distinct(transform(ws, w =>
        (graft.functions.Hashing.md5Long(concat(lit("feat:"), w), 15)
          % width).cast("int"))).as("dims"))
      .transform(graft.Materialize.pin)
    val n = feat.count()
    val div = 8L * n
    var w = Array.fill(width)(0L)
    val traj = (1 to iters).map { _ =>
      val wLit = array(w.map(lit): _*)
      // residual r = Σ_d w[d]·x_d − S·y as a pure map expression (the
      // weight vector is a broadcast literal); gradient g_d = Σ_docs r
      // over docs where dim d is present — a width-cell aggregation
      val g = feat
        .select(col("dims"), (aggregate(col("dims"), lit(0L),
          (acc, d) => acc + element_at(wLit, d + 1)) - lit(S) * col("y"))
          .as("r"))
        .select(explode(col("dims")).as("dim"), col("r"))
        .groupBy("dim").agg(sum("r").as("g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = Array.tabulate(width)(d => w(d) - g.getOrElse(d, 0L) / div)
      w.clone()
    }
    import spark.implicits._
    (0 until width).map(d =>
        (d.toLong, traj.map(_(d)).toList))
      .toDF("dim", "ws")
      .select(col("dim") +: (1 to iters).map(i =>
        element_at(col("ws"), i).as(s"w$i")): _*)
      .orderBy("dim")
  }

  /** S-stemmer (Harman 1991, "How effective is suffixing?") as a pure
    * codegen'd expression: three ordered plural-suffix rules —
    * `ies→y` (unless e/aies), `es→e` (unless a/e/oes), drop final `s`
    * (unless us/ss). Deliberately NOT a full Porter stemmer: the
    * S-stemmer is the rule set with near-zero overstemming risk, which
    * is the right default for conflating a trillion-token vocabulary
    * census where every false merge pollutes a count. No lookbehind in
    * the patterns — plain alternation guards, so the same rules run
    * verbatim on RE2-class engines (the DuckDB oracle included). */
  def sStem(w: Column): Column =
    when(w.rlike("ies$") && !w.rlike("(eies|aies)$"),
      regexp_replace(w, "ies$", "y"))
      .when(w.rlike("es$") && !w.rlike("(aes|ees|oes)$"),
        regexp_replace(w, "es$", "e"))
      .when(w.rlike("s$") && !w.rlike("(us|ss)$"),
        regexp_replace(w, "s$", ""))
      .otherwise(w)

  /** t26 — STEMMED vocabulary census: top-50 stems by occurrence with
    * their surface-variant counts — the conflated view of the corpus
    * vocabulary (plural and singular pool into one row), the normalized
    * key under which IDF tables, stopword candidates, and drift
    * monitors should aggregate. Scale shape = t09's census: per-token
    * map (stem is a per-row expression), one map-side-combined count
    * shuffle over the stem vocabulary, TakeOrdered top-k — no global
    * sort, no full vocabulary ever on one task. */
  def t26StemCensus(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(toks).as("w"))
      .where(col("w").rlike("^[a-z]+$"))
      .select(sStem(col("w")).as("stem"), col("w"))
      .groupBy("stem")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("n_variants"))
      .orderBy(col("n_tokens").desc, col("stem"))
      .limit(50)

  /** t28 — COLLOCATION MINING (pointwise mutual information over
    * adjacent bigrams): the phrase-discovery pass behind word2vec's
    * phrase step and tokenizer-vocabulary curation — "new york" scores
    * high because it co-occurs far beyond what its parts' frequencies
    * predict; "of the" scores low despite its raw count. PMI =
    * ln(p(w1w2) / (p(w1)·p(w2))), computed in ×1e6 integer micro-nats
    * (t14's recipe: one double expression of identical IEEE shape in
    * both engines, rounded once) so the ranking hash-matches the oracle.
    *
    * Scale shape: the unigram and bigram censuses are map-side-combined
    * count aggregations over the (bounded) vocabulary — the t09/t26
    * economics; the min-count floor prunes the bigram tail BEFORE the
    * unigram attach (keyed equi-joins, AQE picks broadcast when the
    * census fits); corpus totals are ONE-row broadcasts and the top-k
    * is TakeOrdered — no global sort, no vocabulary on one task. */
  def t28Collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsOf(t(spark, dir, "documents"), minCount = 5L, k = 20)

  /** Library surface: PMI collocations over ANY (doc_id, text) frame.
    * `minCount` floors bigram support (PMI is noise below it: a pair
    * seen once scores arbitrarily high); `k` the report size. */
  def collocationsOf(docs: DataFrame, minCount: Long, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"$minCount/$k")
    val arr = docs.select(col("doc_id"), toks.as("__ws"))
      .transform(graft.Materialize.pin)
    val tok = arr.select(explode(col("__ws")).as("w"))
    val uni = tok.groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = tok.agg(count(lit(1)).as("n1"))
    val bg = arr.where(size(col("__ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__ws")) - 1),
        i => struct(element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val n2 = bg.agg(count(lit(1)).as("n2"))
    val bgc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minCount)
    bgc
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c12"),
        expr("CAST(ROUND(ln((CAST(c12 AS DOUBLE) / n2) / " +
          "((CAST(c1 AS DOUBLE) / n1) * (CAST(c2 AS DOUBLE) / n1))) " +
          "* 1000000) AS BIGINT)").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** t29 — GLOBAL-STREAM sequence packing (the pretraining
    * concat-and-chunk step over ONE corpus-wide token stream): documents
    * concatenate in doc_id order, the stream is cut into fixed
    * `seqLen`-token training windows, and each doc reports its global
    * token offset and the full window SPAN it covers — the placement map
    * a trainer (or attention-mask builder) consumes, and the provenance
    * record that maps a training window back to its documents.
    * Complements [[Sampling.packSequencesOf]] (sp04), which packs
    * PER-SOURCE streams with a source-partitioned window and reports
    * only the starting bin: sp04 is the sharded-by-source layout; t29 is
    * the single global stream — where no partition column exists to lean
    * on, the running offset needs the two-level decomposition below to
    * avoid the corpus-wide single-task window sp04 sidesteps by
    * partitioning.
    *
    * Scale shape: the global running offset is NOT one corpus-sized
    * window (the classic single-task trap) — it is the sp14 two-level
    * trick on the doc axis: per-BLOCK token sums (one map-side-combined
    * aggregation to a blocks-count table), an exclusive cumulative sum
    * over that SMALL table (one bounded window — pick `blockSize` so
    * #blocks stays ~10⁵ at your corpus size), broadcast back, plus an
    * intra-block window partitioned by block. Every corpus-sized window
    * is partitioned; the only unpartitioned one runs over #blocks rows. */
  def t29SequencePack(spark: SparkSession, dir: String): DataFrame =
    sequencePackOf(t(spark, dir, "documents"), seqLen = 128, blockSize = 50)
      .orderBy("doc_id")

  /** Library surface: packing map over ANY (id, text) frame. Offsets are
    * exclusive prefix sums in `idCol` order; `first_seq`/`last_seq` are
    * the seqLen-token window indices the doc's tokens span. */
  def sequencePackOf(docs: DataFrame, seqLen: Int, blockSize: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1 && blockSize >= 1, s"$seqLen/$blockSize")
    // the block decomposition NEEDS a numeric id: a string id would cast
    // to NULL (non-ANSI), silently collapsing every doc into one NULL
    // block — the exact single-task corpus window this operator exists
    // to avoid. Fail loudly instead; string-keyed corpora should derive
    // a numeric surrogate first (a persisted row number or a dense id —
    // NOT monotonically_increasing_id, whose values move with
    // partitioning and would reorder the pack between runs).
    val idType = docs.schema(idCol).dataType.simpleString
    require(Set("tinyint", "smallint", "int", "bigint").contains(idType),
      s"sequencePackOf needs an integral $idCol (got $idType): the " +
        "stream order and block decomposition are defined by numeric id")
    val n = docs.select(col(idCol),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"),
      expr(s"CAST($idCol AS BIGINT) div $blockSize").as("__blk"))
    val blocks = n.groupBy("__blk").agg(sum("n_tokens").as("__bn"))
    // bounded window: #blocks rows (corpus/blockSize), not the corpus
    val blockOff = blocks.withColumn("__boff",
      coalesce(sum(col("__bn")).over(Window.orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__blk", "__boff")
    n.join(broadcast(blockOff), Seq("__blk"))
      .withColumn("start_off", col("__boff") +
        coalesce(sum(col("n_tokens")).over(
          Window.partitionBy("__blk").orderBy(col(idCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("first_seq", expr(s"start_off div $seqLen"))
      .withColumn("last_seq",
        expr(s"(start_off + n_tokens - 1) div $seqLen"))
      .withColumn("n_seqs", col("last_seq") - col("first_seq") + lit(1L))
      .select(col(idCol), col("n_tokens"), col("start_off"),
        col("first_seq"), col("last_seq"), col("n_seqs"))
  }
}
