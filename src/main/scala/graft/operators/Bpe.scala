package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.sources.Tables.t

/** Distributed BPE tokenizer TRAINING and application (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units") —
  * the step of an LLM data pipeline that none of t01–t23 cover: t05 counts
  * tokens with a FIXED regex; this LEARNS the subword vocabulary from the
  * corpus itself, the way every production tokenizer (BPE/WordPiece) is
  * actually built.
  *
  * Why the classic algorithm map-reduces cleanly: BPE never trains on the
  * corpus directly — it trains on the WORD-FREQUENCY table (word, freq),
  * which is vocabulary-sized, not corpus-sized. At 100 TB of text the
  * corpus is ~10¹¹ words but the distinct-word table is ~10⁷–10⁸ rows:
  * one corpus-sized aggregation up front (an exact map-side-combining
  * groupBy — dd01's shuffle economics over ~10-byte keys), then every
  * merge iteration touches only the vocabulary table. Per iteration:
  *   1. adjacent-pair counts — one arrays_zip + explode + sum(freq)
  *      aggregation over vocab rows (map-side combined; pair cardinality
  *      is ≤ alphabet² early, ≤ vocab·avg_len total);
  *   2. argmax pair — a 1-ROW driver collect (bounded by construction;
  *      the driver never holds the vocabulary);
  *   3. merge application — a pure per-row array fold (codegen'd
  *      `aggregate` lambda, no UDF), map-only over vocab rows.
  * The loop pins the evolving symbol table every iteration
  * ([[graft.Materialize.pin]]) and unpins the superseded round, so
  * lineage stays O(1) and executor storage holds exactly one vocabulary
  * snapshot — the same round-state discipline as dd06's frontier loop.
  *
  * Determinism contract: tie-breaks are total ((freq DESC, left ASC,
  * right ASC)), so the merge list is a pure function of the word-frequency
  * table — two engines, two cluster sizes, or two runs agree exactly
  * (asserted against a single-node reference implementation in BpeSpec,
  * AND against a DuckDB oracle that replays the same training loop as
  * 30 unrolled CTE rounds — see PipelineOracle.bpeTrainSql: greedy pair
  * merging is `replace()` on a separator-wrapped symbol string).
  */
object Bpe {

  /** End-of-word marker symbol (Sennrich's `</w>`): keeps suffix merges
    * distinct from interior merges and makes every word's symbol
    * sequence reconstructable to `word + marker`. */
  val Marker = "</w>"

  /** The word-frequency table of a (text) frame: lower-cased whitespace
    * tokens restricted to plain letter runs (the trainer's alphabet is
    * [a-z] + the marker; punctuation-bearing tokens are a tokenizer
    * PRE-processing concern, not a vocabulary-learning one). The one
    * corpus-sized job of the trainer. */
  def wordFreqOf(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("word"))
      .where(col("word").rlike("^[a-z]+$"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** One left-to-right merge pass of (l, r) → l+r over a symbol array,
    * as a codegen'd fold: append each symbol unless it completes the
    * pair with the running output's last element (greedy, non-overlapping
    * — `aaa` under (a,a) becomes `[aa, a]`). Exactly mirrored by the
    * single-node [[applyMerge]] used in segmentation and the spec's
    * reference trainer. */
  private def mergeExpr(s: Column, l: String, r: String): Column = {
    val merged = l + r
    aggregate(s, array().cast("array<string>"), (out, x) =>
      when(size(out) > 0 && element_at(out, -1) === lit(l) && x === lit(r),
        concat(slice(out, lit(1), size(out) - 1), array(lit(merged))))
        .otherwise(concat(out, array(x))))
  }

  /** Single-node twin of [[mergeExpr]] — segmentation applies the learned
    * merges with THIS, so a training word's final symbols equal its
    * segmentation by construction. */
  def applyMerge(syms: List[String], l: String, r: String): List[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (x <- syms) {
      if (out.nonEmpty && out.last == l && x == r)
        out(out.length - 1) = l + r
      else out += x
    }
    out.toList
  }

  /** Segment one word with a rank-ordered merge list: start from
    * characters + [[Marker]], replay the merges in training order. A word
    * seen in training segments exactly as it ended training; an unseen
    * word reuses whatever learned units apply. O(merges · |word|). */
  def segment(word: String, merges: Seq[(String, String)]): List[String] = {
    var syms = word.toList.map(_.toString) :+ Marker
    for ((l, r) <- merges) syms = applyMerge(syms, l, r)
    syms
  }

  /** One learned merge: `rank` is training order (0-based), `pair_freq`
    * the corpus frequency that won the argmax at that rank. */
  final case class Merge(rank: Int, left: String, right: String,
      merged: String, pair_freq: Long)

  /** Train `numMerges` BPE merges from a (word, freq) table. Returns the
    * rank-ordered merge list (driver-held — bounded by `numMerges`, the
    * only thing the driver ever holds). Stops early when no pair reaches
    * `minFreq`. */
  def train(wordFreq: DataFrame, numMerges: Int,
      minFreq: Long = 2L): Seq[Merge] = {
    require(numMerges >= 1 && numMerges <= 100000,
      s"numMerges out of range: $numMerges")
    // chars + end marker; regexp_extract_all('.') = one element per char
    // (the alphabet is [a-z] by wordFreqOf's filter — no surrogate pairs).
    // Pin cadence: materializing EVERY round costs one extra job per
    // merge; letting the plan grow unboundedly re-derives all prior
    // merges in every count job and grows analysis cost quadratically.
    // Every-4th-round pinning bounds the lazy suffix at 4 stacked merge
    // folds — O(1) plan depth, 25% of the per-round pin jobs.
    val PinEvery = 4
    // Merge BATCHING (r16 optimization round): one pair-count job can
    // safely yield SEVERAL consecutive merges, cutting the count-job
    // cadence (the dominant cost — each count is a full shuffle job whose
    // input is the bounded vocab table, so its wall clock is scheduling,
    // not data). Collect the top `TopM` pairs once, then take the maximal
    // prefix that is provably the exact sequential merge order:
    //
    //  * Taken entries must be pairwise SYMBOL-DISJOINT from all earlier
    //    taken entries' {l, r, l+r}: merging (l,r)→lr rewrites only l/r
    //    adjacencies (neighbors of the collapsed pair become adjacent to
    //    lr, never to each other), so a disjoint pair's count — and hence
    //    its rank among disjoint pairs — is UNCHANGED by the application.
    //  * The scan stops at the first entry that TOUCHES taken symbols
    //    (stopCnt): every touching old pair ranks at or below it (sorted
    //    order), and every NEW pair (x,lr)/(lr,y) satisfies
    //    cnt_new ≤ cnt_old of some touching pair ((x,l)/(r,y) resp.),
    //    so stopCnt bounds everything the applied merges can move up.
    //  * Truncation bound: pairs beyond the collected TopM have
    //    cnt ≤ cnt(q_TopM); bound = max(stopCnt, that).
    //  * A taken entry survives only with cnt STRICTLY above the bound —
    //    strictness covers count ties that the (l, r) tie-break could
    //    re-order against a changed or unseen pair.
    //  * MERGED-STRING UNIQUENESS: the scan also stops at any entry whose
    //    merged string l+r already names an existing symbol (a previous
    //    round's merge) or an earlier batch entry's merged string. Without
    //    it, a pair (x, l+r) could gain occurrences from SEVERAL sources
    //    (its own pre-existing count plus each colliding merge), and the
    //    single-stopCnt bound would not cover the sum. With it, every
    //    count a batch merge creates lands on a pair containing a FRESH
    //    unique symbol: old count zero, one creating merge, bounded by
    //    one touching pair ≤ stopCnt.
    //
    // Each surviving q_i is therefore the true argmax after applying
    // q_0..q_{i-1}: entries above it in sorted order are exactly the
    // already-applied ones (now absent — merging (l,r) zeroes (l,r)),
    // touching/new/unseen pairs sit strictly below it, and disjoint pairs
    // keep their original relative order. Exactness is asserted against
    // the single-node reference trainer (BpeSpec) and the unrolled DuckDB
    // oracle — the merge list is bit-identical to the one-at-a-time loop.
    val TopM = 64
    var pinned = graft.Materialize.pin(wordFreq.select(col("freq"),
      concat(regexp_extract_all(col("word"), lit("."), lit(0)),
        array(lit(Marker))).as("s")))
    var cur = pinned
    var sincePin = 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (!done && merges.size < numMerges) {
      val top = cur
        .select(col("freq"), explode(arrays_zip(
          slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
          slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(TopM).collect() // bounded driver collect: TopM rows
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minFreq) done = true
      else {
        val truncBound =
          if (top.size == TopM) top.last.getAs[Long]("cnt") else 0L
        val prevMerged = merges.iterator.map(_.merged).toSet
        val takenSyms = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var stopCnt = 0L
        var i = 0
        var scanning = true
        while (scanning && i < top.size) {
          val (l, r, cnt) = (top(i).getAs[String]("l"),
            top(i).getAs[String]("r"), top(i).getAs[Long]("cnt"))
          if (cnt < minFreq) scanning = false
          else if (i > 0 && (takenSyms.contains(l) || takenSyms.contains(r)
              || takenSyms.contains(l + r) || prevMerged.contains(l + r))) {
            stopCnt = cnt; scanning = false
          } else {
            batch += ((l, r, cnt))
            takenSyms += l; takenSyms += r; takenSyms += (l + r)
            // a HEAD whose merged string collides with an existing symbol
            // re-feeds that symbol's pairs (their post-merge counts are a
            // sum the stopCnt bound does not cover) — the head itself is
            // still the exact argmax, but nothing after it is provable:
            // close the batch at the head
            if (i == 0 && prevMerged.contains(l + r)) {
              stopCnt = Long.MaxValue; scanning = false
            }
          }
          i += 1
        }
        val bound = math.max(stopCnt, truncBound)
        // the head is ALWAYS the true argmax of this count (taken even at
        // the bound: nothing can move above the observed maximum — changed
        // counts only decrease, new pairs are bounded by touching pairs
        // ≤ the head); every later entry needs strict clearance
        val safe = batch.take(1) ++ batch.drop(1).takeWhile(_._3 > bound)
        safe.take(numMerges - merges.size).foreach { case (l, r, cnt) =>
          merges += Merge(merges.size, l, r, l + r, cnt)
          cur = cur.select(col("freq"), mergeExpr(col("s"), l, r).as("s"))
          sincePin += 1
          if (sincePin >= PinEvery) {
            val np = graft.Materialize.pin(cur)
            graft.Materialize.unpin(pinned)
            pinned = np; cur = np; sincePin = 0
          }
        }
      }
    }
    graft.Materialize.unpin(pinned)
    merges.toSeq
  }

  /** Persist a trained merge list beside the corpus snapshot it was
    * trained on — the tokenizer-build artifact. One tiny parquet
    * (numMerges rows); the rank column IS the replay order. */
  def writeMerges(spark: SparkSession, merges: Seq[Merge],
      path: String): Unit = {
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted merge list in training order — the driver-held,
    * broadcast-by-closure form [[segment]] and [[t25BpeSegment]] consume.
    * Bounded driver collect: numMerges rows by construction. */
  def readMerges(spark: SparkSession, path: String): Seq[Merge] =
    Tables.parquet(spark, path)
      .orderBy("rank")
      .collect()
      .map(r => Merge(r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_freq")))
      .toSeq

  /** Segment ANY (id, text) frame with an already-trained merge list —
    * the production shape: train once (nightly, on the vocab table),
    * persist, then this map-only pass rides every scoring/packing scan.
    * Emits (id, n_ws_tokens, n_bpe_tokens). */
  def segmentWith(docs: DataFrame, merges: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // Per-task memo over distinct words (r17): segment() is a pure
    // function of (word, merges), and corpora are Zipfian — the same few
    // thousand words dominate every partition — so replaying the merge
    // list once per distinct word per task instead of once per OCCURRENCE
    // cuts the segment pass's per-row work by roughly the type/token
    // ratio. The map lives in the task's deserialized closure copy
    // (single-threaded access, freed with the task); the size cap bounds
    // worst-case memory on adversarial all-unique-token input, where the
    // memo simply stops filling and the UDF degrades to the uncached cost.
    val nBpe = udf(new SegmentCounter(merges.toIndexedSeq))
    docs
      .select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("__ws"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_ws_tokens"),
        nBpe(col("__ws")).as("n_bpe_tokens"))
  }

  /** [[segmentWith]]'s UDF body: per-word BPE token count with a
    * per-task-instance memo (see the call site for the scale rationale).
    * A named serializable class rather than a lambda so the memo field
    * has somewhere to live. The merge list is held as the immutable `Seq`
    * [[segment]] takes, so a memo miss replays it without copying it. */
  private final class SegmentCounter(merges: IndexedSeq[(String, String)])
      extends (Seq[String] => Long) with Serializable {
    @transient private var cache: java.util.HashMap[String, java.lang.Long] = _
    private val MaxMemo = 1 << 20
    override def apply(ws: Seq[String]): Long = {
      if (cache == null) cache = new java.util.HashMap()
      var total = 0L
      val it = ws.iterator
      while (it.hasNext) {
        val w = it.next()
        val hit = cache.get(w)
        if (hit != null) total += hit.longValue()
        else {
          val n = segment(w, merges).length.toLong
          if (cache.size < MaxMemo) cache.put(w, java.lang.Long.valueOf(n))
          total += n
        }
      }
      total
    }
  }

  /** t24 — BPE TRAINING over the documents corpus: 30 merges, min pair
    * frequency 2. Output = the rank-ordered merge table — what a
    * tokenizer build job persists beside the corpus snapshot it was
    * trained on. Oracle: the full training loop unrolled as chained
    * DuckDB CTEs (PipelineOracle.bpeTrainSql); reference parity also
    * asserted in BpeSpec. */
  def t24BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    train(wordFreqOf(t(spark, dir, "documents")), numMerges = 30)
      .toDF().orderBy("rank")
  }

  /** t25 — BPE APPLICATION: segment every document with the merges t24
    * learns from the same corpus and report subword counts beside the
    * whitespace token count. The merge list is `numMerges` rows —
    * driver-held and broadcast by closure capture; segmentation itself is
    * a per-row map (one UDF — the replay loop is inherently procedural;
    * the honest exception to the functions-first rule, O(merges·|word|)
    * per word with zero shuffle). At 100 TB: train once on the vocab
    * table, then this map-only pass rides the same scan as t01/t02. */
  def t25BpeSegment(spark: SparkSession, dir: String): DataFrame = {
    val merges = train(wordFreqOf(t(spark, dir, "documents")),
      numMerges = 30).map(m => (m.left, m.right))
    segmentWith(t(spark, dir, "documents"), merges)
      .withColumn("bpe_per_word",
        round(col("n_bpe_tokens").cast("double") / col("n_ws_tokens"), 3))
      .orderBy("doc_id")
  }
}
