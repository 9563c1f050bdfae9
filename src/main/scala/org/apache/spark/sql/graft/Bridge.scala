package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 split `Column` into the
  * connect-agnostic sql-api (no `.expr`); the classic converters are
  * `private[sql]`, so this shim lives in the sql package tree — the standard
  * technique for libraries that add native Catalyst expressions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Re-wrap a materialized Dataset's internal RDD as a FRESH leaf
    * DataFrame (fresh LogicalRDD, no inherited statistics). Spark's own
    * `Dataset.checkpoint` rewrites the ancestor plan's statistics onto the
    * checkpointed leaf; join estimates MULTIPLY child sizes, so in an
    * iterative pipeline (each round pinning a frame derived from the
    * previous round's pin) the stats BigInt doubles its bit-length every
    * round — after ~25 rounds the driver grinds whole seconds inside
    * BigInteger multiplication just to ESTIMATE sizes. A pinned frame is
    * already materialized; its honest static estimate is "unknown"
    * (AQE re-plans joins from true runtime sizes anyway). Zero-copy: the
    * internal rows pass straight through (`internalCreateDataFrame` is
    * `private[sql]`, hence this shim's package). */
  def freshLeaf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    val classic = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed match {
      // a checkpointed Dataset IS a LogicalRDD scan: rebuild the same leaf
      // (same RDD, same outputPartitioning/outputOrdering — dropping those
      // would re-introduce Exchanges that checkpoint reuse had eliminated)
      // minus the inherited originStats/originConstraints
      case lr: LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(classic,
          new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.getStream)(
            classic, None, None))
      case _ =>
        classic.internalCreateDataFrame(
          df.queryExecution.toRdd, df.schema, isStreaming = false)
    }
  }

  /** Register a native expression on a live session's function registry
    * (sessionState is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Whether a file listing skips `name`: Spark's rule (`_` and `.` names
    * except `k=v` partition directories and parquet summary files;
    * `HadoopFSUtils` is private[spark]). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Bytes the block manager holds for `rdd`'s blocks, memory plus disk
    * (the filtered `getRDDStorageInfo` is private[spark]). */
  def storedBytes(rdd: org.apache.spark.rdd.RDD[_]): Long =
    rdd.sparkContext.getRDDStorageInfo(_.id == rdd.id)
      .map(i => i.memSize + i.diskSize).sum

  /** Remove `rdd` from the persisted set and drop its blocks without
    * waiting: `RDD.unpersist` less its WARN for a locally checkpointed
    * RDD (`SparkContext.unpersistRDD` is private[spark]). */
  def dropBlocks(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Block until every posted listener event has been delivered
    * (`listenerBus` is private[spark]): a profiler reads its listener's
    * counters right after an action returns, before the bus has caught up. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
