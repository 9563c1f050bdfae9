package graft.examples

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SourceDef
import graft.cdc.ChangeTracking
import graft.ops.Mirror
import graft.sources.Jdbc
import graft.store.MessageStore

/** The full melt replacement in one file (ref DESIGN.md:29-35: initial
  * load → verify → continuous CDC into Kafka): a watermark-versioned JDBC
  * table bootstrapped with no gap, then streamed through the `graft-cdc`
  * DataSource V2 micro-batch source into a Kafka-shaped [[MessageStore]]
  * with engine-checkpointed restart.
  *
  * The composition, stage by stage:
  *  1. [[bootstrap]] — capture the feed's current version BEFORE the
  *     snapshot sync (ref sql_server.clj:155-162): any change committed
  *     while the snapshot runs is ≥ the captured version and will be
  *     re-delivered by the stream — idempotent keyed upserts make the
  *     overlap harmless, and nothing can fall in a gap.
  *  2. [[start]] — `spark.readStream.format("graft-cdc")` from the captured
  *     version: the streaming offset IS the change version, so restart
  *     recovery, trigger scheduling, and exactly-once batch planning ride
  *     the Structured Streaming engine and its checkpoint — the hand-rolled
  *     version-chaining loop of the reference disappears.
  *  3. Per micro-batch: [[ChangeTracking.batchMessages]] — the feed's net
  *     change (at most one row per key) projected to canonical messages,
  *     then the source's transform — and one [[MessageStore.send]], one
  *     map-only job; with a [[graft.store.KafkaStore]] this is the
  *     `.format("kafka")` producer write, acks=all.
  *
  * Restart contract: stop the query; call [[start]] again with the same
  * checkpoint dir. The source resumes from the committed version offset —
  * changes landed while down are delivered (no gap), completed batches are
  * not re-planned (no duplicate on graceful restart; a mid-batch crash
  * re-delivers that batch's sends, which per-key compacted reads absorb).
  * Scale shape: per-trigger change volume is bounded by the trigger
  * interval; the message projection and producer write fan out across
  * executors while the CDC scan itself stays the DB cursor's single
  * partition (CdcSource scaladoc).
  */
object CdcToKafkaExample {

  /** Captured pre-snapshot version + records snapshotted. Feed the version
    * to [[start]] as `fromVersion`. */
  final case class Bootstrap(fromVersion: Long, snapshotCount: Long)

  /** No-gap bootstrap ([[Mirror.bootstrapCdc]]): version first, then the
    * full snapshot sync through the store (diff-driven — on an empty topic
    * it sends everything). */
  def bootstrap(spark: SparkSession, url: String, props: Properties,
      source: SourceDef, feed: graft.cdc.stream.CdcFeedRegistry.VersionedFeed,
      store: MessageStore): Bootstrap = {
    val (ver, sent) = Mirror.bootstrapCdc(feed, source, store,
      Jdbc.readSource(spark, url, props, source))
    Bootstrap(ver, sent)
  }

  /** The continuous half: version-offset micro-batches → one store send of
    * each batch's [[ChangeTracking.batchMessages]], with no per-batch
    * shuffle. */
  def start(spark: SparkSession, feedName: String, source: SourceDef,
      store: MessageStore, checkpointDir: String,
      fromVersion: Long): StreamingQuery =
    ChangeTracking.changeStream(spark, feedName, source, fromVersion)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .queryName(s"graft-cdc-mirror-${source.topic}")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.send(ChangeTracking.batchMessages(batch, source))
        ()
      }
      .start()

  /** Read-back: the mirrored table state (latest value per key, tombstones
    * dropped) as the downstream consumer sees it. */
  def mirroredState(store: MessageStore, source: SourceDef): DataFrame =
    store.topicState(Seq(source.topic))
}
