package graft

import java.util.Properties
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.{ChangeTracking, WatermarkVersionedFeed}
import graft.cdc.stream.CdcFeedRegistry
import graft.ops.Mirror

/** Generic watermark CDC (VERDICT r5 §next-round #6) against LIVE embedded
  * Derby: a table with a monotone sequence column drives the same
  * bootstrap and `graft-cdc` stream as CHANGETABLE — no-gap
  * capture-before-snapshot, watermark advance, empty-trigger no-op,
  * pushdown range reads. */
class WatermarkFeedSpec extends SparkSpec {

  import spark.implicits._

  private val url = "jdbc:derby:memory:wmdb;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }
  private def conn() = java.sql.DriverManager.getConnection(url, props)

  private val source = SourceDef("graft", "APP", "WMORDERS", Seq("ok"))

  private lazy val feed = new WatermarkVersionedFeed(url, props, "APP",
    "WMORDERS", watermarkCol = "SEQ", entityCols = Seq("OK", "TOTAL", "SEQ"))

  private def exec(sqls: String*): Unit = {
    val c = conn()
    try sqls.foreach { s =>
      val st = c.createStatement(); try st.execute(s) finally st.close()
    } finally c.close()
  }

  test("watermark CDC on a Derby sequence column: no-gap bootstrap, advance, no-op") {
    exec("CREATE TABLE WMORDERS (OK BIGINT PRIMARY KEY, TOTAL DOUBLE, SEQ BIGINT)",
      "INSERT INTO WMORDERS VALUES (1, 1.0, 1), (2, 2.0, 2)")
    val store = emuStore("wmcdc")
    CdcFeedRegistry.register("wmorders", feed)
    def sent() = store.read(Seq(source.topic)).count()

    // O30 no-gap contract: the version is captured BEFORE the snapshot, so
    // a row committed DURING the full sync (ok=3, seq=3) cannot fall in a
    // gap — the stream from the captured version picks it up
    val (from, snapshot) = Mirror.bootstrapCdc(feed, source, store, {
      exec("INSERT INTO WMORDERS VALUES (3, 3.0, 3)") // racing writer
      // the snapshot read before the racer committed
      Seq((1L, 1.0, 1L), (2L, 2.0, 2L)).toDF("ok", "total", "seq")
    })
    assert(from == 2, "watermark must be captured before the sync ran")
    assert(snapshot == 2)
    val q = ChangeTracking.changeStream(spark, "wmorders", source, from)
      .writeStream.option("checkpointLocation", tmpDir("wmorders_ckpt"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        store.send(ChangeTracking.batchMessages(b, source)); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(sent() == 3)
      val st0 = store.topicState(Seq(source.topic))
      assert(st0.where(col("key") === """{"ok":3}""").count() == 1)

      // watermark advance: a new row and an UPDATE re-versioning row 1 —
      // delivered as keyed upserts, the offset lands on max(seq)
      exec("INSERT INTO WMORDERS VALUES (4, 4.0, 4)",
        "UPDATE WMORDERS SET TOTAL = 9.9, SEQ = 5 WHERE OK = 1")
      q.processAllAvailable()
      assert(sent() == 5)
      val st1 = store.topicState(Seq(source.topic)).collect()
        .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
      assert(st1.keySet == Set(1, 2, 3, 4).map(k => s"""{"ok":$k}"""))
      assert(st1("""{"ok":1}""").contains(""""total":9.9"""))

      // nothing newer → nothing sent
      q.processAllAvailable()
      assert(sent() == 5)
    } finally q.stop()

    // any stored offset stays valid: there is no retention window
    assert(feed.minValidVersion() == Long.MinValue)
  }

  test("watermark table drives the DSv2 graft-cdc stream: offsets are watermarks") {
    exec("CREATE TABLE WMSTREAM (OK BIGINT PRIMARY KEY, TOTAL DOUBLE, SEQ BIGINT)",
      "INSERT INTO WMSTREAM VALUES (1, 1.0, 1)")
    CdcFeedRegistry.register("wmstream", new WatermarkVersionedFeed(
      url, props, "APP", "WMSTREAM", "SEQ", Seq("OK", "TOTAL", "SEQ")))
    val src = SourceDef("graft", "APP", "WMSTREAM", Seq("ok"))
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val stream = ChangeTracking.changeStream(spark, "wmstream", src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("wmstream_ckpt"))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r => got += ((r.getAs[String]("key"),
            r.getAs[Long]("sys_change_version")))); ()
      }.start()
    try {
      stream.processAllAvailable()
      assert(got.toSet == Set(("""{"ok":1}""", 1L)))
      // new commits advance the streaming offset; only the delta arrives
      exec("INSERT INTO WMSTREAM VALUES (2, 2.0, 2)",
        "UPDATE WMSTREAM SET TOTAL = 7.5, SEQ = 3 WHERE OK = 1")
      stream.processAllAvailable()
      assert(got.toSet == Set(("""{"ok":1}""", 1L), ("""{"ok":2}""", 2L),
        ("""{"ok":1}""", 3L)))
    } finally stream.stop()
  }

  test("watermark feed delivers net change: a thrice-updated key is one row, newest SEQ") {
    exec("CREATE TABLE WMNET (OK BIGINT PRIMARY KEY, TOTAL DOUBLE, SEQ BIGINT)",
      "INSERT INTO WMNET VALUES (1, 1.0, 1), (2, 2.0, 2)")
    val net = new WatermarkVersionedFeed(url, props, "APP", "WMNET",
      watermarkCol = "SEQ", entityCols = Seq("OK", "TOTAL", "SEQ"))
    exec("UPDATE WMNET SET TOTAL = 1.1, SEQ = 3 WHERE OK = 1",
      "UPDATE WMNET SET TOTAL = 1.2, SEQ = 4 WHERE OK = 1",
      "UPDATE WMNET SET TOTAL = 1.3, SEQ = 5 WHERE OK = 1")
    assert(net.currentVersion() == 5)
    // (ok, total, seq, sys_change_version, sys_change_operation)
    def rows(from: Long, to: Long) = net.rows(from, to)
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(rows(2, 5) == Seq((1L, 1.3, 5L, 5L)))
    assert(rows(0, 5) == Seq((1L, 1.3, 5L, 5L), (2L, 2.0, 2L, 2L)))
  }

  test("safetyLag holds back the cursor so commit-skew stragglers are never passed") {
    exec("CREATE TABLE WMLAG (OK BIGINT PRIMARY KEY, SEQ BIGINT)",
      "INSERT INTO WMLAG VALUES (1, 10), (2, 20)")
    val lagged = new WatermarkVersionedFeed(url, props, "APP", "WMLAG",
      watermarkCol = "SEQ", entityCols = Seq("OK", "SEQ"), safetyLag = 5)
    def oks(from: Long, to: Long) =
      lagged.rows(from, to).map(_.getLong(0)).toSeq.sorted
    // high-water mark is max(seq) − lag: rows inside the skew window stay
    // unread (and unadvanced-past) until a later max moves the bound up
    assert(lagged.currentVersion() == 15)
    assert(oks(0, 15) == Seq(1L))
    // the straggler "commits late" with seq 16 ≤ old max: still delivered,
    // because the offset never passed it
    exec("INSERT INTO WMLAG VALUES (3, 16), (4, 30)")
    assert(oks(15, lagged.currentVersion()) == Seq(2L, 3L))
  }
}
