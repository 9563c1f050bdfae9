package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  LongType, StructField, StructType}

/** A KMV aggregate: a [[BottomK]] state of one element kind, k elements
  * serialized between partial and final aggregation. A declaration says
  * how an input row offers into the state and, where it is not the
  * ascending `array<element>`, what the state reads out as. */
abstract class KmvAggregate[E](kind: BottomK.Kind[E])
    extends TypedImperativeAggregate[BottomK[E]] with Serializable {
  def k: Int
  require(k >= 2, s"$prettyName needs k >= 2: $k")

  protected def offer(buf: BottomK[E], input: InternalRow): Unit

  /** Offer every element of a stored sketch array; null offers nothing. */
  protected def offerStored(buf: BottomK[E], arr: Any): Unit =
    if (arr != null) {
      val a = arr.asInstanceOf[ArrayData]
      var i = 0
      while (i < a.numElements()) { buf.offer(kind.read(a, i)); i += 1 }
    }

  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(kind.elementType, containsNull = false)
  override def createAggregationBuffer(): BottomK[E] = BottomK(kind, k)
  override def update(buf: BottomK[E], input: InternalRow): BottomK[E] = {
    offer(buf, input); buf
  }
  override def merge(b1: BottomK[E], b2: BottomK[E]): BottomK[E] = {
    b1.offerAll(b2); b1
  }
  override def eval(buf: BottomK[E]): Any = buf.toArrayData
  override def serialize(buf: BottomK[E]): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): BottomK[E] =
    BottomK.fromBytes(kind, k, bytes)
}

/** KMV (k-minimum-values) distinct-count sketch as a native Catalyst
  * aggregate — the BOUNDED-STATE alternative to exact `COUNT(DISTINCT)`:
  * exact distinct counting shuffles every per-partition-distinct key; this
  * moves exactly k longs per partition, map-side combined and mergeable
  * (union = merge + truncate — the classic Bar-Yossef et al. 2002
  * estimator), so a 10⁹-key column costs the same wire bytes as a 10³-key
  * one. Unlike HLL (whose register layout is engine-private, so Spark and
  * DuckDB sketches of the same data disagree), KMV over a SHARED hash
  * function is deterministic across engines: the k smallest 60-bit md5
  * hashes of a value set are a pure data property — which is what lets
  * the declared query (q40) hash-match a DuckDB oracle exactly, estimator
  * output included.
  *
  * Returns `struct(held INT, kth LONG)`: `held` = number of distinct
  * hashes retained (= min(true distinct, k)), `kth` = the k-th smallest
  * hash when saturated, NULL below saturation (the caller reports `held`
  * itself — the sketch holds the whole set). Estimate when saturated:
  * `(k−1) · 2⁶⁰ / kth` (hashes are uniform on [0, 2⁶⁰): the k-th order
  * statistic estimates k/n of the range). Relative error ≈ 1/√(k−2). */
case class KmvMinK(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KmvAggregate[Long](BottomK.Hashes) with UnaryLike[Expression] {

  override def prettyName: String = "kmv_min_k"
  override def dataType: DataType = StructType(Seq(
    StructField("held", IntegerType, nullable = false),
    StructField("kth", LongType, nullable = true)))

  override protected def offer(buf: BottomK[Long], input: InternalRow)
      : Unit = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[Long])
  }

  override def eval(buf: BottomK[Long]): Any =
    new GenericInternalRow(Array[Any](buf.size,
      if (buf.size >= k) buf.last else null))

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvMinK =
    copy(child = newChild)
}

/** Sketch-ALGEBRA variant of [[KmvMinK]]: the same state, but `eval`
  * returns the held hashes THEMSELVES (ascending array, ≤ k elements)
  * instead of the (held, kth) summary — which makes the sketch a
  * storable, RE-AGGREGABLE column: union of sketches = `kmv_min_k_set`
  * over the exploded sketch contents, or [[KmvMergeSet]] over the stored
  * arrays (any merge tree yields the same k minima as one pass over the
  * raw rows — asserted in KmvSpec). That is the pre-aggregation pattern
  * at 100 TB: persist one k-long array per (partition unit, dimension)
  * beside the data, answer any coarser distinct-count rollup from the
  * sketch column alone, never rescanning raw rows. */
case class KmvMinKSet(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KmvAggregate[Long](BottomK.Hashes) with UnaryLike[Expression] {

  override def prettyName: String = "kmv_min_k_set"

  override protected def offer(buf: BottomK[Long], input: InternalRow)
      : Unit = {
    val v = child.eval(input)
    if (v != null) buf.offer(v.asInstanceOf[Long])
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMinKSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMinKSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvMinKSet =
    copy(child = newChild)
}

/** PAYLOAD-carrying sibling of [[KmvMinKSet]]: keeps the k pairs with the
  * smallest (hash, payload) — i.e. a DETERMINISTIC uniform row sample of
  * size k per group, keyed by a shared 60-bit hash of a unique row key,
  * with one double of payload riding along. This is the sketch behind
  * hash-sample QUANTILE estimation (q42): exact per-group quantiles sort
  * the whole group (at 100 TB the sort IS the query); a bottom-k-by-hash
  * sample moves exactly k (hash, value) pairs per partition, map-side
  * combined and mergeable, and — unlike reservoir sampling, whose content
  * depends on encounter order — its content is a pure function of the
  * DATA, so Spark and a DuckDB oracle (row_number over the same hash
  * order) select the exact same rows and hence the exact same quantile
  * values. Payload ties on equal hashes are broken by the payload itself
  * ([[BottomK.Pairs]]' order), keeping the selection total-ordered on
  * both engines.
  *
  * 16·k bytes between partial and final aggregation. Returns the sample
  * as an ascending `array<struct<h, v>>` (≤ k rows) — storable and
  * re-mergeable exactly like [[KmvMinKSet]] arrays. */
case class KmvBottomKPairs(hash: Expression, payload: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KmvAggregate[(Long, Double)](BottomK.Pairs)
    with BinaryLike[Expression] {

  override def prettyName: String = "kmv_bottom_k_pairs"
  override def left: Expression = hash
  override def right: Expression = payload

  override protected def offer(buf: BottomK[(Long, Double)],
      input: InternalRow): Unit = {
    val h = hash.eval(input)
    val v = payload.eval(input)
    if (h != null && v != null)
      buf.offer((h.asInstanceOf[Long], v.asInstanceOf[Double]))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int)
      : KmvBottomKPairs = copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int)
      : KmvBottomKPairs = copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): KmvBottomKPairs =
    copy(hash = newLeft, payload = newRight)
}

/** Merge aggregate over STORED [[KmvMinKSet]] sketch arrays: input is an
  * `array<long>` column (one persisted sketch per row), state/output are
  * the same bounded k-minima as building from raw hashes — so a rollup
  * table with a sketch column re-aggregates DIRECTLY
  * (`groupBy(coarser).agg(kmv_merge_set(sk))`), no explode, no join, no
  * raw-row rescan. Any merge tree ≡ the one-pass sketch (asserted in
  * KmvSpec). */
case class KmvMergeSet(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KmvAggregate[Long](BottomK.Hashes) with UnaryLike[Expression] {

  override def prettyName: String = "kmv_merge_set"

  override protected def offer(buf: BottomK[Long], input: InternalRow)
      : Unit = offerStored(buf, child.eval(input))

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : KmvMergeSet = copy(child = newChild)
}

/** [[KmvMergeSet]]'s sibling for STORED [[KmvBottomKPairs]] sample arrays
  * (`array<struct<h, v>>` input) — the direct re-aggregation path for a
  * persisted sample column: any merge tree of samples ≡ the one-pass
  * sample of the raw rows (asserted in KmvSpec). */
case class KmvMergePairs(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends KmvAggregate[(Long, Double)](BottomK.Pairs)
    with UnaryLike[Expression] {

  override def prettyName: String = "kmv_merge_pairs"

  override protected def offer(buf: BottomK[(Long, Double)],
      input: InternalRow): Unit = offerStored(buf, child.eval(input))

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergePairs =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergePairs =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression)
      : KmvMergePairs = copy(child = newChild)
}

object KmvMinK {
  private def agg(f: KmvAggregate[_]): Column =
    Bridge.column(f.toAggregateExpression())
  private def e(c: Column): Expression = Bridge.expression(c)

  /** Column API: KMV sketch state of a LONG hash column —
    * `struct(held, kth)`; compose with [[estimate]]. */
  def kmvMinK(hash: Column, k: Int): Column = agg(KmvMinK(e(hash), k))

  /** Column API for [[KmvMinKSet]]: the sketch as a storable/mergeable
    * ascending array (≤ k longs); compose with [[estimateFromSet]], merge
    * by re-aggregating over `explode(sketch)`. */
  def kmvMinKSet(hash: Column, k: Int): Column = agg(KmvMinKSet(e(hash), k))

  /** Column API for [[KmvBottomKPairs]]: deterministic bottom-k-by-hash
    * row sample with a double payload, as a storable/mergeable ascending
    * `array<struct<h, v>>`. Compose with [[sampleQuantile]]. */
  def kmvBottomKPairs(hash: Column, payload: Column, k: Int): Column =
    agg(KmvBottomKPairs(e(hash), e(payload), k))

  /** Column API for [[KmvMergeSet]]: re-aggregate a STORED sketch-array
    * column directly — the rollup-maintenance path (no explode, no
    * raw-row rescan). */
  def kmvMergeSet(sketches: Column, k: Int): Column =
    agg(KmvMergeSet(e(sketches), k))

  /** Column API for [[KmvMergePairs]]: re-aggregate a STORED sample-array
    * column directly. */
  def kmvMergePairs(samples: Column, k: Int): Column =
    agg(KmvMergePairs(e(samples), k))

  /** Nearest-rank quantile of the PAYLOADS held in a [[kmvBottomKPairs]]
    * sample: sort the sampled values, take element ceil(q·n) (1-based).
    * Exact below saturation (the sample IS the group); a k-row uniform
    * sample estimate at it. The value is an ELEMENT of the data, not an
    * average — so the oracle comparison is exact, no float tolerance. */
  def sampleQuantile(sample: Column, q: Double): Column = {
    import org.apache.spark.sql.functions._
    val vs = array_sort(transform(sample, x => x.getField("v")))
    element_at(vs, greatest(lit(1), ceil(lit(q) * size(vs)).cast("int")))
  }

  /** [[estimate]] over a [[kmvMinKSet]] array — the same formula reading
    * the k-th order statistic from the array: exact size below
    * saturation, `round((k−1)·2⁶⁰ / kth)` at it. */
  def estimateFromSet(sketch: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    when(size(sketch) < k, size(sketch).cast("long"))
      .otherwise(round(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
        / element_at(sketch, k).cast("double")).cast("long"))
  }

  /** The estimator over a [[kmvMinK]] result, shared with the oracle
    * formula: exact `held` below saturation, `round((k−1)·2⁶⁰ / kth)`
    * at it. Double arithmetic in exactly this shape on both engines —
    * same inputs, same rounding, same value. */
  def estimate(state: Column, k: Int): Column = {
    import org.apache.spark.sql.functions._
    when(state.getField("held") < k, state.getField("held").cast("long"))
      .otherwise(round(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
        / state.getField("kth").cast("double")).cast("long"))
  }
}
