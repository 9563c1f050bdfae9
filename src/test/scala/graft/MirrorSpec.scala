package graft

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.functions._
import graft.ops.Mirror
import graft.sources.Jdbc

/** Full mirror lifecycle against a REAL JDBC database (embedded Derby):
  * plan (discover + samples + snapshot) → load → verify → mutate the DB →
  * drift detected → sync repairs → delete → tombstone. The Spark-native
  * replay of the reference's integration arc
  * (ref integration/jdbc/melt/integration_test.clj:60-122) with a live
  * metadata + JDBC-scan path, on a [[graft.store.KafkaStore]] over
  * `kafka-emu`. [[KafkaE2eSpec]] runs the same arc with the store's
  * offsets, metadata and live-read checks added. */
class MirrorSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:mirrordb;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  private lazy val conn = {
    val c = DriverManager.getConnection(url)
    val st = c.createStatement()
    st.execute("CREATE TABLE accounts (id INT NOT NULL, name VARCHAR(64), " +
      "bal DOUBLE, PRIMARY KEY (id))")
    st.execute("INSERT INTO accounts VALUES (1, 'ada', 10.0), " +
      "(2, 'bob', 20.0), (3, 'eve', 30.0)")
    st.close()
    c
  }

  test("plan → load → verify → mutate → sync → delete → tombstone") {
    val dir = tmpDir("mirror")
    val store = emuStore("mirror")

    // 1. plan: discovery + snapshot + samples
    val plan = Mirror.plan(spark, conn, url, props, s"$dir/samples",
      s"$dir/schema.txt")
    assert(plan.drift.isEmpty)
    val acct = plan.tables.find(_.source.name.equalsIgnoreCase("accounts")).get
    assert(acct.source.keys == Seq("id"))
    assert(plan.samples.exists(_.toLowerCase.contains("accounts")))

    // 2. initial load via spark.read.jdbc
    val counts = Mirror.loadAll(spark, url, props, Seq(acct), store)
    assert(counts(acct.source.topic) == 3)

    // 3. verify: table and topic agree
    def rows = Jdbc.readSource(spark, url, props, acct.source)
    val v0 = Mirror.verifySync(rows, acct.source, store)
    assert(v0.matches && !v0.synced)

    // 4. mutate + delete in the DB → verify repairs via sync
    val st = conn.createStatement()
    st.execute("UPDATE accounts SET bal = 99.0 WHERE id = 1")
    st.execute("DELETE FROM accounts WHERE id = 3")
    st.close()
    val v1 = Mirror.verifySync(rows, acct.source, store)
    assert(v1.matches && v1.synced && v1.syncCount == 2) // 1 upsert + 1 tombstone

    // 5. compacted state reflects the repair
    val state = store.topicState(Seq(acct.source.topic))
    assert(state.count() == 2)
    assert(state.where(col("value").contains("99.0")).count() == 1)
    store.close()
  }
}
