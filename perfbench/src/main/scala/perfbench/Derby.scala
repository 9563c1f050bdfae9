package perfbench

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.Properties
import scala.util.Random

/** Embedded in-memory Derby databases and the seeded relational tables the
  * mirror workload reads. Row counts follow the TPC-H-shaped testdata at a
  * scale factor (lineitem = 6,000,000 × sf); every value derives from the
  * seed, so one seed always yields the same database. */
object Derby {
  val props: Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  def url(db: String): String = s"jdbc:derby:memory:$db"

  def create(db: String): Connection =
    DriverManager.getConnection(url(db) + ";create=true", props)

  def drop(db: String): Unit =
    try DriverManager.getConnection(url(db) + ";drop=true", props).close()
    catch { case _: java.sql.SQLException => () } // a drop reports via SQLState 08006

  def exec(c: Connection, sqls: String*): Unit = sqls.foreach { s =>
    val st = c.createStatement()
    try st.execute(s) finally st.close()
  }

  def count(c: Connection, table: String): Long = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally st.close()
  }

  /** One table: DDL, its key columns (empty = keyless) and a row maker. */
  final case class Table(name: String, ddl: String, keys: Seq[String],
      rows: Long, row: (Random, Long) => Seq[Any],
      /** Column that drift updates (a DOUBLE); keyless tables locate the row
        * by `locator`. */
      driftCol: String, locator: Seq[String]) {
    def columns: Seq[String] =
      ddl.split(", PRIMARY KEY")(0).split(",").map(_.trim.split(" ")(0)).toSeq
  }

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC", "5-LOW")
  private val eventTypes = Array("view", "click", "cart", "purchase", "delete")
  private val epoch = Timestamp.valueOf("1992-01-01 00:00:00").getTime

  private def money(r: Random, hi: Double) = math.round(r.nextDouble() * hi * 100) / 100.0
  private def ts(r: Random) = new Timestamp(epoch + r.nextInt(2400) * 86400000L +
    r.nextInt(86400) * 1000L)

  /** The eight relational tables at scale factor `sf`. */
  def tables(sf: Double): Seq[Table] = {
    def n(base: Long) = math.max(1L, math.round(base * sf))
    val customers = n(150000); val suppliers = n(10000); val parts = n(200000)
    val orders = n(1500000)
    Seq(
      Table("REGION", "R_REGIONKEY INT PRIMARY KEY, R_NAME VARCHAR(25)",
        Seq("R_REGIONKEY"), 5, (_, i) => Seq(i.toInt, s"REGION#$i"), "", Nil),
      Table("NATION", "N_NATIONKEY INT PRIMARY KEY, N_NAME VARCHAR(25), N_REGIONKEY INT",
        Seq("N_NATIONKEY"), 25, (_, i) => Seq(i.toInt, s"NATION#$i", (i % 5).toInt), "", Nil),
      Table("CUSTOMER", "C_CUSTKEY BIGINT PRIMARY KEY, C_NAME VARCHAR(25), " +
        "C_NATIONKEY INT, C_ACCTBAL DOUBLE, C_MKTSEGMENT VARCHAR(10)",
        Seq("C_CUSTKEY"), customers, (r, i) => Seq(i + 1, f"Customer#${i + 1}%09d",
          r.nextInt(25), money(r, 10000) - 1000, segments(r.nextInt(5))),
        "C_ACCTBAL", Nil),
      Table("SUPPLIER", "S_SUPPKEY BIGINT PRIMARY KEY, S_NAME VARCHAR(25), " +
        "S_NATIONKEY INT, S_ACCTBAL DOUBLE",
        Seq("S_SUPPKEY"), suppliers, (r, i) => Seq(i + 1, f"Supplier#${i + 1}%09d",
          r.nextInt(25), money(r, 10000) - 1000), "S_ACCTBAL", Nil),
      Table("PART", "P_PARTKEY BIGINT PRIMARY KEY, P_NAME VARCHAR(55), " +
        "P_BRAND VARCHAR(10), P_TYPE VARCHAR(25), P_SIZE INT, P_RETAILPRICE DOUBLE",
        Seq("P_PARTKEY"), parts, (r, i) => Seq(i + 1, s"part ${r.alphanumeric.take(12).mkString}",
          s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}", s"TYPE ${r.nextInt(150)}",
          1 + r.nextInt(50), money(r, 2000)), "P_RETAILPRICE", Nil),
      Table("ORDERS", "O_ORDERKEY BIGINT PRIMARY KEY, O_CUSTKEY BIGINT, " +
        "O_ORDERSTATUS VARCHAR(1), O_TOTALPRICE DOUBLE, O_ORDERDATE TIMESTAMP, " +
        "O_ORDERPRIORITY VARCHAR(15)",
        Seq("O_ORDERKEY"), orders, (r, i) => Seq(i + 1, 1 + r.nextInt(customers.toInt).toLong,
          "FOP".charAt(r.nextInt(3)).toString, money(r, 500000), ts(r),
          priorities(r.nextInt(5))), "O_TOTALPRICE", Nil),
      // four lines per order: (orderkey, linenumber) is the composite key
      Table("LINEITEM", "L_ORDERKEY BIGINT, L_PARTKEY BIGINT, L_SUPPKEY BIGINT, " +
        "L_LINENUMBER INT, L_QUANTITY DOUBLE, L_EXTENDEDPRICE DOUBLE, " +
        "L_DISCOUNT DOUBLE, L_TAX DOUBLE, L_RETURNFLAG VARCHAR(1), " +
        "L_LINESTATUS VARCHAR(1), L_SHIPDATE TIMESTAMP, " +
        "PRIMARY KEY (L_ORDERKEY, L_LINENUMBER)",
        Seq("L_ORDERKEY", "L_LINENUMBER"), orders * 4, (r, i) => Seq(i / 4 + 1,
          1 + r.nextInt(parts.toInt).toLong, 1 + r.nextInt(suppliers.toInt).toLong,
          (i % 4).toInt + 1, (1 + r.nextInt(50)).toDouble, money(r, 100000),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "OF".charAt(r.nextInt(2)).toString, ts(r)), "L_EXTENDEDPRICE", Nil),
      // keyless: the whole row is the message key
      Table("EVENTS", "EVENT_ID BIGINT NOT NULL, TS TIMESTAMP, USER_ID BIGINT, " +
        "EVENT_TYPE VARCHAR(16), EVENT_VALUE DOUBLE, PROPS VARCHAR(64)",
        Nil, n(1000000), (r, i) => Seq(i + 1, ts(r), 1 + r.nextInt(customers.toInt).toLong,
          eventTypes(r.nextInt(5)), money(r, 100),
          s"""{"k":${r.nextInt(100)}}"""), "EVENT_VALUE", Seq("EVENT_ID")))
  }

  /** Create and fill every table; returns live key tuples per table. */
  def seed(c: Connection, tables: Seq[Table], seed: Long): Map[String, collection.mutable.ArrayBuffer[Seq[Any]]] = {
    c.setAutoCommit(false)
    val live = try tables.map { t =>
      exec(c, s"CREATE TABLE ${t.name} (${t.ddl})")
      val r = new Random(seed * 31 + t.name.hashCode)
      val ps = c.prepareStatement(
        s"INSERT INTO ${t.name} VALUES (${t.columns.map(_ => "?").mkString(",")})")
      val keyIdx = (if (t.keys.nonEmpty) t.keys else t.locator).map(t.columns.indexOf)
      val keys = new collection.mutable.ArrayBuffer[Seq[Any]](t.rows.toInt)
      var i = 0L
      while (i < t.rows) {
        val row = t.row(r, i)
        row.zipWithIndex.foreach { case (v, j) => ps.setObject(j + 1, v) }
        ps.addBatch()
        keys += keyIdx.map(row)
        i += 1
        if (i % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      ps.close()
      c.commit()
      t.name -> keys
    }.toMap
    catch { case e: Exception => c.rollback(); throw e }
    c.setAutoCommit(true)
    live
  }
}
