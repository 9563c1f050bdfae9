package graft.cdc

import java.util.Properties
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Generic JDBC CDC over a MONOTONE column — the portable fallback for
  * databases without CHANGETABLE (ref sql_server.clj is SQL Server-only;
  * a real user's second database rarely is). Any table carrying a
  * sequence / monotone version / `updated_at` column becomes a
  * [[graft.cdc.stream.CdcFeedRegistry.VersionedFeed]] that plugs straight
  * into the DSv2 micro-batch source (`spark.readStream.format("graft-cdc")`):
  *
  *  - `currentVersion()` = `max(watermarkCol) − safetyLag`;
  *  - `rows(from, to)` = rows with `watermarkCol` in `(from, to]`, the range
  *    bound inside the database, with `sys_change_version` /
  *    `sys_change_operation` synthesized in the query so the message
  *    projection, [[graft.ops.Mirror.bootstrapCdc]]'s no-gap
  *    capture-before-snapshot contract and the streaming offset machinery
  *    work unchanged. The streaming offset is the watermark value, and
  *    checkpoint/restart recovery rides the engine.
  *
  * Honest semantic limits vs real change tracking (callers must know):
  *  - DELETES ARE INVISIBLE: a vanished row never surfaces as a
  *    tombstone. Pair with a periodic [[graft.ops.Mirror.sync]], which
  *    tombstones topic-only keys, when deletes matter.
  *  - The column must be monotone AT COMMIT TIME. A sequence/identity
  *    column is; wall-clock `updated_at` is NOT under concurrent writers
  *    (a transaction can commit an older timestamp after a newer one was
  *    already read past). For timestamp columns set `safetyLag` to the
  *    maximum commit skew: reads then stop at `currentVersion − lag`, so
  *    a straggler always lands ahead of the advancing offset. Overlap
  *    re-delivery is harmless either way — messages are idempotent
  *    keyed upserts (same contract as ref sql_server.clj:155-162).
  *
  * There is no retention window (the table itself IS the history), so
  * `minValidVersion` keeps its default: any stored offset stays valid.
  *
  * Rows decode through Spark's JDBC dialect for `url` ([[JdbcRows]]), the
  * one `spark.read.jdbc` uses, so a streamed row's value canonicalizes
  * byte-for-byte like the bootstrap snapshot's (DECIMAL scale, TIME and
  * DATE columns included).
  *
  * `watermarkCol` must cast to BIGINT in the source database (sequence,
  * version counter, epoch millis). Identifiers are ANSI-quoted
  * (`"ident"`, embedded quotes doubled) — portable across Derby,
  * Postgres, and SQL Server's default QUOTED_IDENTIFIER ON. Pair with a
  * `FeedProvider` for the cluster path, exactly like SqlServerFeed. */
final class WatermarkVersionedFeed(url: String, props: Properties,
    schemaName: String, table: String, watermarkCol: String,
    entityCols: Seq[String], safetyLag: Long = 0L)
    extends graft.cdc.stream.CdcFeedRegistry.VersionedFeed {
  require(safetyLag >= 0, s"safetyLag: $safetyLag")

  private val jdbc = new JdbcRows(url, props)
  private def q(ident: String): String =
    "\"" + ident.replace("\"", "\"\"") + "\""
  private def tbl = s"${q(schemaName)}.${q(table)}"
  private def wm = s"CAST(${q(watermarkCol)} AS BIGINT)"
  private def selectSql =
    s"Select ${entityCols.map(q).mkString(", ")}, " +
      s"$wm As sys_change_version, 'U' As sys_change_operation From $tbl"

  override lazy val schema: StructType = jdbc.schema(s"$selectSql Where 1 = 0")

  /** The high-water mark the offset may safely advance to right now. */
  override def currentVersion(): Long =
    jdbc.scalarLong(s"Select COALESCE(MAX($wm), 0) From $tbl") - safetyLag

  override def rows(fromExclusive: Long, toInclusive: Long): Iterator[Row] =
    jdbc.rows(
      s"$selectSql Where $wm > $fromExclusive And $wm <= $toInclusive", schema)
}
