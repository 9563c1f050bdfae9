package graft.functions

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}

/** The bottom-k rule, in one place: at most `k` elements, the k smallest
  * offered so far under the kind's order. `offer` inserts and, once more
  * than k are held, drops the largest. Insert + truncate is associative
  * and commutative, so any merge tree of states holds the same k minima
  * as one pass over the raw elements: this is what makes every KMV
  * sketch (the five aggregates in [[KmvMinK]]'s file and the streaming
  * state functions) a partial state that shuffles safely.
  *
  * O(log k) per offer; `toBytes` writes the held elements ascending at
  * the kind's fixed width (8 bytes a hash, 16 a pair). */
final class BottomK[E] private (val kind: BottomK.Kind[E], val k: Int) {
  private val held = new java.util.TreeSet[E](kind)

  def offer(e: E): Unit = {
    held.add(e)
    if (held.size > k) held.pollLast()
  }

  /** Merge: offer every element `other` holds. */
  def offerAll(other: BottomK[E]): Unit = other.held.forEach(e => offer(e))

  def size: Int = held.size

  /** The largest held element: the k-th smallest once saturated. */
  def last: E = held.last()

  /** The held elements, ascending. */
  def toSeq: Seq[E] = held.asScala.toSeq

  /** The held elements as an ascending Catalyst array. */
  def toArrayData: ArrayData =
    new GenericArrayData(held.asScala.iterator.map(kind.toCatalyst).toArray)

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(kind.width * held.size)
    held.forEach(e => kind.put(bb, e))
    bb.array()
  }
}

object BottomK {
  /** An element kind: its order, its byte form, and its Catalyst form. A
    * named Serializable object, not a lambda: it ships to executors inside
    * the aggregates' physical plan and the streaming state closures. */
  sealed abstract class Kind[E](val width: Int, val elementType: DataType)
      extends java.util.Comparator[E] with Serializable {
    def put(bb: ByteBuffer, e: E): Unit
    def get(bb: ByteBuffer): E
    /** Element `i` of a stored sketch array. */
    def read(a: ArrayData, i: Int): E
    def toCatalyst(e: E): Any
  }

  /** 60-bit hashes, ascending. */
  object Hashes extends Kind[Long](8, LongType) {
    override def compare(a: Long, b: Long): Int = java.lang.Long.compare(a, b)
    override def put(bb: ByteBuffer, e: Long): Unit = bb.putLong(e)
    override def get(bb: ByteBuffer): Long = bb.getLong()
    override def read(a: ArrayData, i: Int): Long = a.getLong(i)
    override def toCatalyst(e: Long): Any = e
  }

  /** (hash, payload) pairs, lexicographic: the payload breaks hash ties,
    * so the selection is total-ordered. Catalyst form `struct<h, v>`. */
  object Pairs extends Kind[(Long, Double)](16, StructType(Seq(
      StructField("h", LongType, nullable = false),
      StructField("v", DoubleType, nullable = false)))) {
    override def compare(a: (Long, Double), b: (Long, Double)): Int = {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else java.lang.Double.compare(a._2, b._2)
    }
    override def put(bb: ByteBuffer, e: (Long, Double)): Unit = {
      bb.putLong(e._1); bb.putDouble(e._2)
    }
    override def get(bb: ByteBuffer): (Long, Double) =
      (bb.getLong(), bb.getDouble())
    override def read(a: ArrayData, i: Int): (Long, Double) = {
      val row = a.getStruct(i, 2)
      (row.getLong(0), row.getDouble(1))
    }
    override def toCatalyst(e: (Long, Double)): Any =
      new GenericInternalRow(Array[Any](e._1, e._2))
  }

  def apply[E](kind: Kind[E], k: Int): BottomK[E] = new BottomK(kind, k)

  def fromBytes[E](kind: Kind[E], k: Int, bytes: Array[Byte]): BottomK[E] = {
    val b = apply(kind, k)
    val bb = ByteBuffer.wrap(bytes)
    while (bb.remaining() >= kind.width) b.offer(kind.get(bb))
    b
  }
}
