package graft.cdc

import java.sql.{Connection, DriverManager, ResultSet, Types}
import java.util.Properties
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The plain-JDBC plumbing every [[stream.CdcFeedRegistry.VersionedFeed]]
  * over a database shares. Plain JDBC (not `spark.read`) because a feed's
  * `rows` executes on whichever JVM plans the partition; each call opens
  * and closes its own connection.
  *
  * The type map covers the JDBC types the testdata and SQL Server's
  * CHANGETABLE columns use (integral/decimal/float/char/timestamp/date/
  * boolean/binary); anything else fails loudly rather than corrupting
  * silently. */
private[cdc] final class JdbcRows(url: String, props: Properties) {

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
    * metadata of a `Where 1 = 0` probe the caller builds. */
  def schema(probeSql: String): StructType = query(probeSql) { rs =>
    val md = rs.getMetaData
    StructType((1 to md.getColumnCount).map { i =>
      StructField(md.getColumnLabel(i).toLowerCase,
        sparkType(md.getColumnType(i), probeSql), md.isNullable(i) != 0)
    })
  }

  /** Every row of `sql`, read as `schema`. Materialized before the
    * connection closes — per-trigger change volume is bounded by the
    * trigger interval, the same sizing argument as the single-partition
    * CDC batch plan (CdcSource scaladoc). */
  def rows(sql: String, schema: StructType): Iterator[Row] = query(sql) { rs =>
    val fields = schema.fields
    val out = Vector.newBuilder[Row]
    while (rs.next()) {
      val vals = fields.indices.map { i =>
        val v = fields(i).dataType match {
          case LongType => rs.getLong(i + 1)
          case IntegerType => rs.getInt(i + 1)
          case ShortType => rs.getShort(i + 1)
          case ByteType => rs.getByte(i + 1)
          case DoubleType => rs.getDouble(i + 1)
          case FloatType => rs.getFloat(i + 1)
          case _: DecimalType => rs.getBigDecimal(i + 1)
          case StringType => rs.getString(i + 1)
          case TimestampType => rs.getTimestamp(i + 1)
          case DateType => rs.getDate(i + 1)
          case BooleanType => rs.getBoolean(i + 1)
          case BinaryType => rs.getBytes(i + 1)
          case t => throw new IllegalStateException(s"unreachable: $t")
        }
        if (rs.wasNull()) null else v
      }
      out += Row(vals: _*)
    }
    out.result().iterator
  }

  private def sparkType(jdbcType: Int, sql: String): DataType = jdbcType match {
    case Types.BIGINT => LongType
    case Types.INTEGER => IntegerType
    case Types.SMALLINT => ShortType
    case Types.TINYINT => ByteType
    case Types.DOUBLE | Types.FLOAT => DoubleType
    case Types.REAL => FloatType
    case Types.DECIMAL | Types.NUMERIC => DecimalType.SYSTEM_DEFAULT
    case Types.CHAR | Types.VARCHAR | Types.LONGVARCHAR | Types.CLOB |
        Types.NCHAR | Types.NVARCHAR | Types.LONGNVARCHAR | Types.NCLOB =>
      StringType
    case Types.TIMESTAMP => TimestampType
    case Types.DATE => DateType
    case Types.BOOLEAN | Types.BIT => BooleanType
    case Types.BINARY | Types.VARBINARY | Types.LONGVARBINARY | Types.BLOB =>
      BinaryType
    case t => throw new IllegalArgumentException(
      s"unmapped JDBC type $t in: $sql — extend JdbcRows.sparkType")
  }
}
