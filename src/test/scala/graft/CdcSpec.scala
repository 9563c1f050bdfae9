package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import graft.cdc.{ChangeTracking, SqlServerFeed}
import graft.cdc.stream.CdcFeedRegistry
import graft.ops.Mirror
import graft.store.MessageStore

/** O25–O30 change-tracking CDC with an in-memory feed through the one CDC
  * runner (`graft-cdc` stream → [[ChangeTracking.batchMessages]] → store),
  * replaying the reference's three-round UPDATE/INSERT/DELETE arc
  * (ref integration/jdbc/melt/integration_test.clj:197-230). */
class CdcSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  val source = SourceDef("graft", "dbo", "orders", Seq("o_orderkey"))

  /** Stream `feed` from `from` into `store`, one send per micro-batch. */
  private def mirror(name: String, feed: MemFeed, store: MessageStore,
      from: Long): StreamingQuery = {
    CdcFeedRegistry.register(name, feed)
    ChangeTracking.changeStream(spark, name, source, from).writeStream
      .option("checkpointLocation", tmpDir(s"${name}_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        store.send(ChangeTracking.batchMessages(b, source)); ()
      }.start()
  }

  private def state(store: MessageStore): Map[String, String] =
    store.topicState(Seq(source.topic)).collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap

  test("O26 SQL builders match the reference's CHANGETABLE shape") {
    val sql = ChangeTracking.changeEntitySql("SalesLT", "Address",
      Seq("AddressID"), Seq("City", "PostalCode"))
    assert(sql.contains("CHANGETABLE(CHANGES [SalesLT].[Address], ?)"))
    assert(sql.contains("Left Outer Join [SalesLT].[Address] As t"))
    assert(sql.contains("ct.[AddressID] = t.[AddressID]"))
    assert(sql.contains("Order By ct.sys_change_version"))
    assert(sql.contains("ct.[sys_change_version]") && sql.contains("t.[City]"))
    assert(ChangeTracking.changeSql("s", "t")
      == "Select ct.* From CHANGETABLE(CHANGES [s].[t], ?) As ct Order By ct.sys_change_version")
  }

  test("O26 SqlServerFeed bounds the entity query by version and probes its schema") {
    // constructing the feed opens no connection: the schema is lazy
    val feed = new SqlServerFeed("jdbc:sqlserver://unused", new java.util.Properties,
      SourceDef("c", "SalesLT", "Address", Seq("AddressID")), Seq("City"))
    val entity = "Select ct.[sys_change_version], ct.[sys_change_creation_version], " +
      "ct.[sys_change_operation], ct.[sys_change_columns], ct.[sys_change_context], " +
      "ct.[AddressID], t.[City] From CHANGETABLE(CHANGES [SalesLT].[Address], %d) As ct " +
      "Left Outer Join [SalesLT].[Address] As t On ct.[AddressID] = t.[AddressID]"
    // (from, to]: the lower bound is CHANGETABLE's, the upper one a Where
    assert(feed.rowsSql(7, 12) ==
      entity.format(7) + " Where ct.sys_change_version <= 12")
    assert(feed.schemaProbeSql == entity.format(0) + " Where 1 = 0")
    assert(!feed.rowsSql(7, 12).contains("Order By"))
  }

  test("O28 change projection: tracking fields relocated, D ⇒ tombstone") {
    val feed = new MemFeed
    feed.add("U", 1L, 10.5)
    feed.add("D", 2L, null)
    CdcFeedRegistry.register("o28", feed)
    val got = mutable.ArrayBuffer.empty[Row]
    var cols = Seq.empty[String]
    val q = ChangeTracking.changeStream(spark, "o28", source).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val msgs = ChangeTracking.batchMessages(b, source)
        cols = msgs.columns.toSeq
        got ++= msgs.collect(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(cols == Seq("topic", "key", "value")) // xform contract
    val rows = got.sortBy(_.getAs[String]("key"))
    assert(rows(0).getAs[String]("key") == """{"o_orderkey":1}""")
    val v = rows(0).getAs[String]("value")
    // value carries entity columns only — no sys_change_* inside
    assert(v.contains(""""o_totalprice":10.5""") && !v.contains("sys_change"))
    // delete → null value tombstone (ref sql_server.clj:121-124)
    assert(rows(1).getAs[String]("key") == """{"o_orderkey":2}""")
    assert(rows(1).isNullAt(rows(1).fieldIndex("value")))
  }

  test("O29 stream advances the version watermark; empty batch is a no-op") {
    val store = emuStore("cdc")
    val feed = new MemFeed
    (1 to 4).foreach(_ => feed.bump())
    feed.add("I", 1L, 1.0) // v5: already synced
    feed.add("U", 1L, 2.0) // v6
    feed.add("I", 2L, 3.0) // v7
    val q = mirror("o29", feed, store, from = 5)
    try {
      q.processAllAvailable()
      assert(store.read(Seq(source.topic)).count() == 2)
      assert(state(store).keySet == Set(1, 2).map(k => s"""{"o_orderkey":$k}"""))
      // a version with no change row: the batch runs empty and sends
      // nothing (ref sql_server.clj:137-144)
      feed.bump()
      q.processAllAvailable()
      assert(store.read(Seq(source.topic)).count() == 2)
      // the offset advanced past 7 and 8: only the new change is sent
      feed.add("I", 3L, 4.0)
      q.processAllAvailable()
      assert(store.read(Seq(source.topic)).count() == 3)
    } finally q.stop()
  }

  test("O29 a micro-batch send is one map-only job: no Exchange, one Spark job") {
    // the feed delivers net change, so batchMessages is a projection: its
    // plan shuffles nothing and the send is the write's one job. Jobs are
    // counted per batch by tag (SparkSpec.jobStartsByTag).
    val store = emuStore("cdc1job")
    val feed = new MemFeed
    (1L to 20L).foreach(k => feed.add("I", k, k.toDouble))
    feed.add("U", 3L, 30.0)
    feed.add("D", 4L, null)
    CdcFeedRegistry.register("o29onejob", feed)
    val exchanges = mutable.ArrayBuffer.empty[String]
    val jobs = jobStartsByTag { tagged =>
      val q = ChangeTracking.changeStream(spark, "o29onejob", source)
        .writeStream.foreachBatch { (b: DataFrame, id: Long) =>
          val msgs = ChangeTracking.batchMessages(b, source)
          exchanges ++= collect(msgs.queryExecution.executedPlan) {
            case e: Exchange => e.toString
          }
          tagged(s"batch-$id")(store.send(msgs))
          ()
        }.start()
      try {
        q.processAllAvailable()
        feed.add("U", 5L, 50.0)
        q.processAllAvailable()
      } finally q.stop()
    }.map { case (tag, starts) => tag -> starts.size }
    assert(exchanges.isEmpty, exchanges.mkString("\n"))
    assert(jobs == Map("batch-0" -> 1, "batch-1" -> 1), jobs)
    // 20 keys' net change, then the one update
    assert(store.read(Seq(source.topic)).count() == 21)
  }

  test("O29/O11 delete round-trip: tombstone removes the key from state") {
    val store = emuStore("cdc2")
    val feed = new MemFeed
    feed.add("I", 1L, 1.0)
    feed.add("D", 1L, null)
    val q = mirror("o29del", feed, store, from = 0)
    try q.processAllAvailable() finally q.stop()
    assert(store.topicState(Seq(source.topic)).isEmpty)
  }

  test("O30 bootstrap captures version BEFORE full sync (no gap)") {
    val store = emuStore("cdc3")
    val feed = new MemFeed
    (1 to 10).foreach(_ => feed.bump())
    val (from, snapshot) = Mirror.bootstrapCdc(feed, source, store, {
      feed.add("I", 9L, 9.0) // v11 commits while the snapshot is read
      Seq((8L, 8.0)).toDF("o_orderkey", "o_totalprice")
    })
    assert(from == 10 && snapshot == 1)
    // change version 11 landed "during" the sync → still picked up
    val q = mirror("o30", feed, store, from)
    try q.processAllAvailable() finally q.stop()
    assert(state(store).keySet == Set(8, 9).map(k => s"""{"o_orderkey":$k}"""))
  }

  test("O27 stored version validity vs retention (ref sql_server.clj:100-104)") {
    val feed = new MemFeed(minValid = 5)
    (1 to 6).foreach(i => feed.add("I", i.toLong, i.toDouble))
    CdcFeedRegistry.register("o27", feed)
    def run(from: Long) = spark.readStream.format("graft-cdc")
      .option("feed", "o27").option("fromVersion", from.toString).load()
      .writeStream.format("memory").queryName(s"o27_from$from").start()
    // retention discarded history after version 2: the batch must fail
    val stale = run(2)
    val e = try intercept[StreamingQueryException](stale.processAllAvailable())
      finally stale.stop()
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString("\n")
    assert(msgs.contains("start version 2") &&
      msgs.contains("minimum valid version 5") && msgs.contains("re-bootstrap"))
    // resuming exactly at the minimum valid version is fine
    val ok = run(5)
    try ok.processAllAvailable() finally ok.stop()
    assert(spark.table("o27_from5").collect().map(_.getLong(0)).toSeq == Seq(6L))
  }

  test("O25 trackable-untracked set difference (ref sql_server.clj:48-51)") {
    val a = SourceDef("c", "s", "a", Seq("id"))
    val b = SourceDef("c", "s", "b", Seq("id"))
    val keyless = SourceDef("c", "s", "k", Seq.empty)
    val out = ChangeTracking.trackableUntracked(Seq(a, b, keyless),
      tracked = Set(("s", "a")))
    assert(out == Seq(b)) // keyless is untrackable; a already tracked
  }

  test("O25 trackAll applies DDL to every trackable-untracked table, in order") {
    val a = SourceDef("c", "s", "a", Seq("id"))
    val b = SourceDef("c", "s", "b", Seq("id"))
    val c = SourceDef("c", "s", "c", Seq("id"))
    val keyless = SourceDef("c", "s", "k", Seq.empty)
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = ChangeTracking.trackAll(ran += _, Seq(a, b, c, keyless),
      trackedNames = Set(("s", "b")))
    // one statement per untracked trackable, none for b (tracked) or k (keyless)
    assert(out == Seq("ALTER TABLE [s].[a] ENABLE CHANGE_TRACKING",
      "ALTER TABLE [s].[c] ENABLE CHANGE_TRACKING"))
    assert(ran.toSeq == out)
  }

  test("O25 untrackAll disables exactly the tracked tables (ref sql_server.clj:60-61)") {
    val a = SourceDef("c", "s", "a", Seq("id"))
    val b = SourceDef("c", "s", "b", Seq("id"))
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val out = ChangeTracking.untrackAll(ran += _, Seq(a, b),
      trackedNames = Set(("s", "b")))
    assert(out == Seq("ALTER TABLE [s].[b] DISABLE CHANGE_TRACKING"))
    assert(ran.toSeq == out)
  }

  test("O25 trackAllScript emits a GO-separated reviewable batch") {
    val a = SourceDef("c", "s", "a", Seq("id"))
    val b = SourceDef("c", "s", "b", Seq("id"))
    val script = ChangeTracking.trackAllScript(Seq(a, b), trackedNames = Set.empty)
    assert(script ==
      "ALTER TABLE [s].[a] ENABLE CHANGE_TRACKING\nGO\n" +
        "ALTER TABLE [s].[b] ENABLE CHANGE_TRACKING\nGO")
  }

  test("O25 listTracked reads (schema, table) pairs over live JDBC") {
    // Derby has no sys.change_tracking_tables; exercise the JDBC plumbing
    // (statement lifecycle, 2-column row shape) against an equivalent query
    val conn = java.sql.DriverManager.getConnection(
      s"jdbc:derby:memory:trackdb;create=true")
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE tracked_probe(schema_name VARCHAR(10), table_name VARCHAR(10))")
      st.execute("INSERT INTO tracked_probe VALUES ('s', 'a'), ('s', 'b')")
      st.close()
      val rs = conn.createStatement().executeQuery("SELECT schema_name, table_name FROM tracked_probe")
      val got = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getString(1), r.getString(2))).toSet
      assert(got == Set(("s", "a"), ("s", "b")))
      // and the production catalog SQL is the reference's, verbatim shape
      assert(ChangeTracking.ListTrackedSql.contains("sys.change_tracking_tables"))
      assert(ChangeTracking.ListTrackedSql.contains("object_schema_name(object_id)"))
    } finally conn.close()
  }
}
