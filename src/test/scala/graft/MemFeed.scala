package graft

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.cdc.stream.CdcFeedRegistry

/** Mutable in-memory feed standing in for CHANGETABLE: each `add` commits
  * one change at the next version. `rows` returns net change, as
  * CHANGETABLE does: each key's last change in the range, in version
  * order. `minValid` plays the retention window. */
final class MemFeed(minValid: Long = Long.MinValue)
    extends CdcFeedRegistry.VersionedFeed {
  private val log = mutable.ArrayBuffer.empty[Row]
  @volatile private var version = 0L

  def add(op: String, key: Long, price: java.lang.Double): Unit =
    synchronized {
      version += 1
      log += Row(version, op, key, price)
    }

  /** Advance the version without a change row: the next batch is empty. */
  def bump(): Unit = synchronized { version += 1 }

  override def schema: StructType = MemFeed.schema
  override def currentVersion(): Long = version
  override def minValidVersion(): Long = minValid
  override def rows(from: Long, to: Long): Iterator[Row] = synchronized {
    val inRange = log.filter { r => val v = r.getLong(0); v > from && v <= to }
    val last = inRange.map(r => r.getLong(2) -> r).toMap
    inRange.filter(r => last(r.getLong(2)) eq r).toVector.iterator
  }
}

object MemFeed {
  val schema: StructType = StructType(Seq(
    StructField("sys_change_version", LongType),
    StructField("sys_change_operation", StringType),
    StructField("o_orderkey", LongType),
    StructField("o_totalprice", DoubleType)))
}
