package graft.cdc

import java.util.Properties
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import graft.SourceDef

/** Production SQL Server change feed for the `graft-cdc` stream (ref melt
  * sql_server.clj:63-109). Every call runs over its own JDBC connection;
  * the CHANGETABLE entity query runs whole inside SQL Server — the
  * table-valued function, the PK left-outer join and the version range
  * bound (pushdown by construction, SURVEY §4).
  *
  *  - `schema`: the entity query's columns, from a `Where 1 = 0` probe,
  *    typed by Spark's SQL Server JDBC dialect ([[JdbcRows]]) — the map
  *    `spark.read.jdbc` applies to the snapshot;
  *  - `rows(from, to)`: changes with version in `(from, to]`;
  *  - `minValidVersion()`: CHANGE_TRACKING_MIN_VALID_VERSION, which the
  *    stream checks before every batch (retention may have cleaned up the
  *    history a stored offset points into).
  *
  * Register it locally (`CdcFeedRegistry.register`); on a cluster wrap it
  * in a `FeedProvider`. NOT exercised by the offline test environment (no
  * SQL Server) beyond its SQL strings — the CDC logic it feeds is covered
  * via in-memory and Derby feeds; this class is the thin binding layer. */
final class SqlServerFeed(url: String, props: Properties, source: SourceDef,
    nonKeyCols: Seq[String]) extends stream.CdcFeedRegistry.VersionedFeed {

  private val jdbc = new JdbcRows(url, props)

  /** Changes in `(fromExclusive, toInclusive]`. The versions are Longs
    * inlined into the SQL, so no injection surface exists. */
  private[graft] def rowsSql(fromExclusive: Long, toInclusive: Long): String =
    ChangeTracking.changeEntitySqlAt(source.schemaName, source.name,
      source.keys, nonKeyCols, fromExclusive) +
      s" Where ct.sys_change_version <= $toInclusive"

  private[graft] def schemaProbeSql: String =
    ChangeTracking.changeEntitySqlAt(source.schemaName, source.name,
      source.keys, nonKeyCols, 0L) + " Where 1 = 0"

  override lazy val schema: StructType = jdbc.schema(schemaProbeSql)

  override def currentVersion(): Long =
    jdbc.scalarLong(ChangeTracking.CurrentVersionSql)

  override def minValidVersion(): Long = jdbc.scalarLong(
    ChangeTracking.minValidVersionSql(source.schemaName, source.name))

  override def rows(fromExclusive: Long, toInclusive: Long): Iterator[Row] =
    jdbc.rows(rowsSql(fromExclusive, toInclusive), schema)
}
