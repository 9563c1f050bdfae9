package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Msg, SourceDef}
import graft.canonical.Canonical
import graft.store.{IncrementalTopicState, MessageStore}

/** Snapshot load (ref /root/reference/src/jdbc/melt.clj:445-476
  * load-with-producer / do-load): scan → message → xform → sink.
  * The reference's channel+futures backpressure machinery (melt.clj:33-47)
  * drops out — executor parallelism and the sink's batching replace it. */
object Load {
  /** Load one source; returns records sent. */
  def load(rows: DataFrame, source: SourceDef, store: MessageStore): Long =
    store.send(Canonical.messages(rows, source))

  /** Load many sources (ref melt.clj:456-465 one job per source); returns
    * records sent per topic, summed over the sources that share one. */
  def loadAll(sources: Seq[(SourceDef, DataFrame)],
      store: MessageStore): Map[String, Long] =
    sources.map { case (s, df) => s.topic -> load(df, s, store) }
      .groupMapReduce(_._1)(_._2)(_ + _)
}

/** Diff between a source snapshot and a topic (ref melt.clj:418-429).
  * Both sides are canonical-JSON message frames, so value comparison is
  * plain string equality — the fuzz/unfuzz JSON-round-trip machinery of the
  * reference (melt.clj:359-390) is unnecessary by construction (SURVEY §2
  * O15).
  *
  * Scale shape: one aggregation on (topic, key) over the union of the
  * table's messages and the topic's records. It picks each key's newest
  * record ([[MessageStore.newest]]) and classifies the key in the same
  * pass, so compaction and diff share one shuffle, partially aggregated
  * map-side, and nothing is cached. Repeated source keys (a keyless
  * table's identical rows) collapse to one entry, as in the reference's
  * keyed map diff.
  */
object Diff {
  val Side = "side"

  /** Classify every key. `topic` is the raw log `(topic, key, value,
    * offset)`, tombstones and repeated keys included, or a compacted state
    * without `offset` (each row is its key's only record). Output: (topic,
    * key, table_value, topic_value, side ∈ match | differs | table-only |
    * topic-only); topic_value is the key's live value, null for a key the
    * topic lacks or has tombstoned. */
  def diff(source: DataFrame, topic: DataFrame): DataFrame = {
    val offset =
      if (topic.columns.contains(Msg.Offset)) col(Msg.Offset) else lit(0L)
    val none = lit(null).cast("string")
    val s = source.select(col(Msg.Topic), col(Msg.Key),
      col(Msg.Value).as("table_value"), none.as("topic_value"),
      lit(null).cast("long").as(Msg.Offset))
    val t = topic.select(col(Msg.Topic), col(Msg.Key), none.as("table_value"),
      col(Msg.Value).as("topic_value"), offset.cast("long").as(Msg.Offset))
    s.unionAll(t).groupBy(Msg.Topic, Msg.Key)
      .agg(max("table_value").as("table_value"),
        MessageStore.newest(col("topic_value")).as("topic_value"))
      .where(col("table_value").isNotNull || col("topic_value").isNotNull)
      .withColumn(Side,
        when(col("topic_value").isNull, "table-only")
          .when(col("table_value").isNull, "topic-only")
          .when(col("table_value") === col("topic_value"), "match")
          .otherwise("differs"))
  }

  def isEmpty(d: DataFrame): Boolean =
    d.where(col(Side) =!= "match").isEmpty
}

/** Delta sync (ref melt.clj:478-509 sync-with-sender / send-tombstones /
  * sync-kafka): upserts for drifted keys + null-value tombstones for
  * deleted keys, in one sink write. */
object Sync {
  /** Returns records sent (upserts + tombstones): each non-`match` key with
    * its table value, which is null — a tombstone — for `topic-only`. */
  def syncFromDiff(d: DataFrame, store: MessageStore): Long =
    store.send(d.where(col(Diff.Side) =!= "match")
      .select(col(Msg.Topic), col(Msg.Key), col("table_value").as(Msg.Value)))

  def sync(rows: DataFrame, source: SourceDef, store: MessageStore): Long = {
    val src = Canonical.messages(rows, source)
    syncFromDiff(Diff.diff(src, store.read(Seq(source.topic))), store)
  }
}

/** Verify / monitor loops (ref melt.clj:518-571). Driver-side control flow
  * around Spark actions — the queries re-execute, Spark re-reads only what
  * changed (and the incremental topic read narrows to new offsets). */
object VerifyOps {
  final case class Result(matches: Boolean, attempts: Int,
      synced: Boolean, syncCount: Long)

  /** Retry loop tolerating in-flight latency (ref melt.clj:518-546;
    * monitoring = verify with latency allowance, DESIGN.md:26-27). The
    * first attempt diffs the raw topic log and caches nothing; a retry
    * builds an [[IncrementalTopicState]], whose later refreshes merge only
    * the records past its cursor instead of re-scanning. */
  def verify(rows: => DataFrame, source: SourceDef, store: MessageStore,
      retries: Int = 0, delayMs: Long = 1000): (Boolean, Int) = {
    require(retries >= 0, s"retries must be >= 0: $retries")
    require(delayMs >= 0, s"delayMs must be >= 0: $delayMs")
    val topics = Seq(source.topic)
    var state: Option[IncrementalTopicState] = None
    try {
      var attempts = 0
      var ok = false
      while (!ok && attempts <= retries) {
        val topic =
          if (attempts == 0) store.read(topics)
          else {
            Thread.sleep(delayMs)
            if (state.isEmpty) state = Some(new IncrementalTopicState(store, topics))
            state.get.refresh()
          }
        attempts += 1
        ok = Diff.isEmpty(Diff.diff(Canonical.messages(rows, source), topic))
      }
      (ok, attempts)
    } finally state.foreach(_.close())
  }

  /** Verify; on failure sync once and verify once more (ref
    * melt.clj:548-571 verify-sync). */
  def verifySync(rows: => DataFrame, source: SourceDef, store: MessageStore,
      retries: Int = 0, delayMs: Long = 1000): Result = {
    val (ok, attempts) = verify(rows, source, store, retries, delayMs)
    if (ok) Result(matches = true, attempts, synced = false, 0)
    else {
      val n = Sync.sync(rows, source, store)
      val (ok2, _) = verify(rows, source, store, 0, 0)
      Result(ok2, attempts + 1, synced = true, n)
    }
  }
}
