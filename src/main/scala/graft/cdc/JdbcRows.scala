package graft.cdc

import java.sql.{Connection, DriverManager, ResultSet}
import java.util.Properties
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

/** The plain-JDBC plumbing every [[stream.CdcFeedRegistry.VersionedFeed]]
  * over a database shares. Plain JDBC (not `spark.read`) because a feed's
  * `rows` executes on whichever JVM plans the partition; each call opens
  * and closes its own connection.
  *
  * Decoding is Spark's own JDBC code under the url's `JdbcDialect` — the
  * type map and getters `spark.read.jdbc` uses — so a streamed change
  * carries the same Spark types as the snapshot `Jdbc.readSource` reads,
  * and both canonicalize to the same JSON. */
private[cdc] final class JdbcRows(url: String, props: Properties) {

  private val dialect = JdbcDialects.get(url)

  private def withConn[A](f: Connection => A): A = {
    val conn = DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  private def query[A](sql: String)(f: ResultSet => A): A = withConn { conn =>
    val st = conn.createStatement()
    try f(st.executeQuery(sql)) finally st.close()
  }

  /** First column of the first row. A missing row or a NULL fails: SQL
    * Server's CHANGE_TRACKING_* functions return NULL when tracking is not
    * enabled, and 0 there would look like a valid version that silently
    * delivers no changes. */
  def scalarLong(sql: String): Long = query(sql) { rs =>
    if (!rs.next()) throw new IllegalStateException(s"no row from: $sql")
    val v = rs.getLong(1)
    if (rs.wasNull()) throw new IllegalStateException(
      s"NULL from: $sql (is change tracking enabled?)")
    v
  }

  /** Column names (lower-cased) and types of `sql`'s result, read from the
    * metadata of a `Where 1 = 0` probe the caller builds. The field
    * metadata the dialect attaches stays: [[rows]]' getters read it. */
  def schema(probeSql: String): StructType = query(probeSql) { rs =>
    val s = JdbcUtils.getSchema(rs.getStatement.getConnection, rs, dialect)
    StructType(s.fields.map(f => f.copy(name = f.name.toLowerCase)))
  }

  /** Every row of `sql`, read as `schema`. Materialized before the
    * connection closes — per-trigger change volume is bounded by the
    * trigger interval, the same sizing argument as the single-partition
    * CDC batch plan (CdcSource scaladoc). */
  def rows(sql: String, schema: StructType): Iterator[Row] = query(sql) { rs =>
    JdbcUtils.resultSetToRows(rs, schema, dialect).toVector.iterator
  }
}
