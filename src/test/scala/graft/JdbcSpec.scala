package graft

import java.sql.DriverManager
import graft.sources.Jdbc

/** O1/O2/O23 against embedded Derby (ships with Spark) — real
  * DatabaseMetaData, no mocks, mirroring how the reference unit-tests
  * against a live SQL Server (ref test/jdbc/melt_test.clj:7-18). */
class JdbcSpec extends SparkSpec {

  private lazy val conn = {
    val c = DriverManager.getConnection("jdbc:derby:memory:graftdb;create=true")
    val st = c.createStatement()
    st.execute("CREATE TABLE customers (id INT NOT NULL, name VARCHAR(64), " +
      "PRIMARY KEY (id))")
    st.execute("CREATE TABLE order_lines (order_id INT NOT NULL, " +
      "line_no INT NOT NULL, qty INT, PRIMARY KEY (order_id, line_no))")
    st.execute("CREATE TABLE keyless_log (msg VARCHAR(128))")
    st.execute("INSERT INTO customers VALUES (1, 'ada'), (2, 'bob')")
    st.close()
    c
  }

  test("O1 schema discovery: tables, columns, PKs from DatabaseMetaData") {
    val tables = Jdbc.discover(conn)
    val names = tables.map(_.source.name.toLowerCase)
    assert(names.contains("customers") && names.contains("order_lines") &&
      names.contains("keyless_log"))
    // sorted by qualified name (ref melt.clj:91-100 sorted-set)
    assert(names == names.sorted)

    val ol = tables.find(_.source.name.toLowerCase == "order_lines").get
    // composite PK in KEY_SEQ order, lower-cased (ref melt.clj:63,72-77)
    assert(ol.source.keys == Seq("order_id", "line_no"))
    assert(ol.columns.map(_.name) == Seq("order_id", "line_no", "qty"))

    val kl = tables.find(_.source.name.toLowerCase == "keyless_log").get
    assert(kl.source.keys.isEmpty)
  }

  test("O3 JDBC scan through spark.read.jdbc") {
    val tables = Jdbc.discover(conn)
    val cust = tables.find(_.source.name.toLowerCase == "customers").get
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Jdbc.readSource(spark, "jdbc:derby:memory:graftdb", props,
      cust.source)
    assert(df.count() == 2)
    assert(df.columns.map(_.toLowerCase).toSeq == Seq("id", "name"))
  }

  test("O3 user-SQL scan: readSource runs the query, not the table") {
    val tables = Jdbc.discover(conn)
    val cust = tables.find(_.source.name.toLowerCase == "customers").get
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Jdbc.readSource(spark, "jdbc:derby:memory:graftdb", props,
      cust.source,
      sql = Some("SELECT name, id * 10 AS id10 FROM customers WHERE id > 1"))
    assert(df.columns.map(_.toLowerCase).toSeq == Seq("name", "id10"))
    assert(df.collect().map(r => (r.getString(0), r.getInt(1))).toSeq ==
      Seq(("bob", 20)))
  }

  test("O23 schema snapshot + drift detection") {
    val tables = Jdbc.discover(conn)
    val snap = tmpDir("schema") + "/schema.txt"
    // first check: snapshot created, no drift reported
    assert(Jdbc.schemaCheck(snap, tables, abortOnChange = true).isEmpty)
    // no drift on identical schema
    assert(Jdbc.schemaCheck(snap, tables, abortOnChange = true).isEmpty)
    // drop a table from the live view → drift both detected and fatal
    val fewer = tables.filterNot(_.source.name.toLowerCase == "customers")
    val d = Jdbc.schemaDiff(Jdbc.loadSnapshot(snap), fewer)
    // Derby reports identifiers upper-cased
    assert(d.onlyOld.exists(_.toLowerCase.contains("customers")) && d.onlyNew.isEmpty)
    intercept[IllegalStateException] {
      Jdbc.schemaCheck(snap, fewer, abortOnChange = true)
    }
  }
}
