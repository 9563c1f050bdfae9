package graft.ops

import java.sql.Connection
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SourceDef
import graft.sources.Jdbc
import graft.store.MessageStore
import graft.cdc.stream.CdcFeedRegistry.VersionedFeed

/** Top-level orchestration — the reference's full workflow as one API
  * (DESIGN.md:6-35: plan → initial load → re-sync → verify/monitor → CDC).
  * A user of the reference drives melt with five entry points; these are
  * their Spark-native equivalents, composing the module layer (Jdbc, Load,
  * Diff, Sync, VerifyOps, the CDC feeds) over any MessageStore.
  */
object Mirror {

  final case class Plan(tables: Seq[Jdbc.TableDef],
      samples: Seq[String], drift: Jdbc.SchemaDiff)

  /** Planning/analysis step (ref DESIGN.md:7-13; melt.clj:89-174): discover
    * the schema, persist/check a snapshot for drift, write per-table data
    * samples for human review. */
  def plan(spark: SparkSession, conn: Connection, url: String,
      props: Properties, sampleDir: String, snapshotPath: String,
      abortOnSchemaChange: Boolean = false): Plan = {
    val tables = Jdbc.discover(conn)
    val drift = Jdbc.schemaCheck(snapshotPath, tables, abortOnSchemaChange)
    val frames = tables.map(t =>
      t.qualified -> Jdbc.readSource(spark, url, props, t.source))
    Plan(tables, Sample.writeSamples(frames, sampleDir), drift)
  }

  /** Initial snapshot load of every discovered table
    * (ref melt.clj:471-476 load-with-producer). */
  def loadAll(spark: SparkSession, url: String, props: Properties,
      tables: Seq[Jdbc.TableDef], store: MessageStore): Map[String, Long] =
    Load.loadAll(tables.map(t =>
      t.source -> Jdbc.readSource(spark, url, props, t.source)), store)

  /** Diff-based repair of one table's topic (ref melt.clj:495-509
    * sync-kafka). Returns records sent (upserts + tombstones). */
  def sync(rows: DataFrame, source: SourceDef, store: MessageStore): Long =
    Sync.sync(rows, source, store)

  /** Verify with retries; repair once on failure (ref melt.clj:548-571). */
  def verifySync(rows: => DataFrame, source: SourceDef, store: MessageStore,
      retries: Int = 0, delayMs: Long = 1000): VerifyOps.Result =
    VerifyOps.verifySync(rows, source, store, retries, delayMs)

  /** O30 — bootstrap for the CDC stream (ref sql_server.clj:155-162):
    * capture the feed's version BEFORE the full sync, then sync. Returns
    * `(fromVersion, snapshotCount)`; stream from `fromVersion`
    * ([[graft.cdc.ChangeTracking.changeStream]]). A change committed while
    * the snapshot runs is above the captured version, so the stream
    * re-delivers it — nothing falls in a gap, and the overlap is harmless
    * because messages are keyed upserts. */
  def bootstrapCdc(feed: VersionedFeed, source: SourceDef, store: MessageStore,
      rows: => DataFrame): (Long, Long) = {
    val fromVersion = feed.currentVersion()
    (fromVersion, sync(rows, source, store))
  }
}
