package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** Central policy for pinning shared subplans (the LSH signature frames,
  * salted join inputs, per-round label frames, live-read snapshots):
  * materialize NOW and cut lineage so multiple consumers reuse computed
  * blocks instead of replicating the upstream pipeline (left pure-lazy, the
  * shingle/minhash pipeline replicates 4–8× across a plan — measured in
  * round 1).
  *
  * Default = eager `localCheckpoint`: blocks live on executors, are freed by
  * the ContextCleaner once the frame is unreachable (safe for repeated
  * polling), and are NOT recomputable after executor loss — the right trade
  * for bounded derived frames on stable nodes.
  *
  * `spark.graft.reliableCheckpoint=true` switches every pin site to
  * reliable checkpointing (written to the checkpoint dir on the cluster FS,
  * survives executor loss) — the spot-instance/preemptible deployment mode.
  * The checkpoint dir comes from `spark.graft.checkpointDir` unless
  * `SparkContext.setCheckpointDir` was already called. Cost per pin: one
  * write+read round trip to the FS instead of executor-memory blocks.
  *
  * Pin lifetime has one rule, [[scoped]]'s: a call frees every pin it took
  * that its result does not read. Explicit [[unpin]] is left for a loop
  * freeing a round's predecessor right after its successor's pin (peak
  * storage per round) and for long-lived state with its own `close`.
  */
object Materialize {
  /** Test observability: while ENABLED, every pin records (caller thread,
    * persisted RDD id). Pin runs synchronously on the operator's calling
    * thread, so a concurrently-running suite can audit ITS OWN pins'
    * release precisely — no cross-suite delta counting with allowance
    * guesses (SparkSpec.pinsLeftBy). OFF by default: a
    * long-lived production job (a streaming query pinning every
    * micro-batch, a nightly loop in one JVM) must not accumulate one log
    * tuple per pin forever — the audit log must not itself reintroduce
    * the linear growth the pin discipline exists to prevent. */
  private[graft] val pinLogEnabled =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val pinLog =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()

  /** The pins each open [[scoped]] call on this thread took, innermost
    * first, keyed by RDD id. */
  private val open =
    ThreadLocal.withInitial[List[mutable.Map[Int, RDD[_]]]](() => Nil)

  /** The pinned RDDs a plan reads: its `LogicalRDD` leaves, subqueries
    * included. */
  private def pinnedRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRDD => lr.rdd
    }

  def pin(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val pinned =
      if (spark.conf.getOption("spark.graft.reliableCheckpoint").contains("true")) {
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.conf.getOption("spark.graft.checkpointDir") match {
            case Some(dir) => spark.sparkContext.setCheckpointDir(dir)
            case None => throw new IllegalStateException(
              "spark.graft.reliableCheckpoint=true needs a checkpoint dir: " +
                "set spark.graft.checkpointDir or SparkContext.setCheckpointDir")
          }
        df.checkpoint()
      } else df.localCheckpoint()
    // Drop the ancestor-derived statistics Dataset.checkpoint copies onto
    // the leaf: join estimates are PRODUCTS of child sizes, so in an
    // iterative loop (pin-per-round) the inherited sizeInBytes BigInt
    // doubles its bit-length every round and stats estimation itself
    // becomes a driver CPU sink (observed: minutes inside BigInteger
    // multiply past ~25 chained pins). A fresh leaf reports "unknown";
    // AQE re-plans joins from true runtime sizes, which for a pinned
    // bounded frame are also the more accurate ones.
    val out = org.apache.spark.sql.graft.Bridge.freshLeaf(pinned)
    val rdds = pinnedRdds(out)
    open.get.headOption.foreach(scope => rdds.foreach(r => scope(r.id) = r))
    if (pinLogEnabled.get())
      rdds.foreach(r => pinLog.add((Thread.currentThread().getId, r.id)))
    out
  }

  /** Runs `body` as the owner of the pins it takes on this thread (nested
    * calls included). If `body` throws, every one of them is freed before
    * the exception propagates. If it returns, those its result's plan
    * does not read are freed, and the rest pass to the enclosing scope
    * (or to the caller). A result that is not a Dataset reads no pin.
    * Pins taken before the scope opened, or on another thread, are not
    * its to free. A non-local `return` out of `body` counts as a throw. */
  def scoped[T](body: => T): T = {
    val mine = mutable.LinkedHashMap.empty[Int, RDD[_]]
    val outer = open.get
    open.set(mine :: outer)
    var read = Set.empty[Int] // stays empty if body throws
    try {
      val result = body
      read = result match {
        case ds: Dataset[_] => pinnedRdds(ds).map(_.id).toSet
        case _ => Set.empty
      }
      result
    } finally {
      open.set(outer)
      mine.foreach { case (id, r) =>
        if (read(id)) outer.headOption.foreach(_(id) = r) else free(r)
      }
    }
  }

  /** Free now the checkpoint blocks behind a pinned frame (and any pinned
    * leaves a lazy plan over pins references): the supersede step of an
    * iterative operator, which drops round N−1's state as soon as round
    * N's eager pin holds everything, so peak storage stays one round's
    * state whatever the round count. Caller contract: a pinned leaf
    * CANNOT be recomputed (its lineage was truncated at the pin), so
    * unpin ONLY frames no live plan will read again. No-op on plans with
    * no pinned leaves. */
  def unpin(df: DataFrame): Unit =
    pinnedRdds(df).foreach { r =>
      open.get.foreach(_.remove(r.id))
      free(r)
    }

  /** Bytes the block manager holds for the pins `df` reads, memory plus
    * disk: 0 when it reads none, or in reliable-checkpoint mode (files,
    * not blocks). */
  private[graft] def pinnedBytes(df: DataFrame): Long =
    pinnedRdds(df).map(org.apache.spark.sql.graft.Bridge.storedBytes).sum

  private def free(rdd: RDD[_]): Unit = {
    // not `rdd.unpersist`: on a locally checkpointed RDD it logs a WARN
    // that the lineage is gone, and every freed pin is one by design
    org.apache.spark.sql.graft.Bridge.dropBlocks(rdd)
    // reliable-checkpoint mode persists to FILES, not blocks — and
    // spark.cleaner.referenceTracking.cleanCheckpoints defaults to
    // false, so without this delete a spot-fleet run accumulates one
    // checkpoint directory per superseded round for the job's
    // lifetime (the exact linear growth unpin exists to prevent).
    // Best-effort: cleanup must never fail the job it serves — but only
    // for ordinary failures (NonFatal): a bare `catch Exception` would
    // also swallow InterruptedException and lose a cancellation.
    rdd.getCheckpointFile.foreach { dir =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
      } catch {
        case e: InterruptedException =>
          Thread.currentThread().interrupt(); ()
        case scala.util.control.NonFatal(_) => ()
      }
    }
  }
}
