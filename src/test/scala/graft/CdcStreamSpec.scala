package graft

import graft.cdc.ChangeTracking
import graft.cdc.stream.CdcFeedRegistry

object CdcStreamSpec {
  /** Versions seen by the foreachBatch sink (static: executors/driver share
    * the JVM in local mode). */
  val delivered: scala.collection.mutable.ArrayBuffer[Long] =
    scala.collection.mutable.ArrayBuffer.empty
}

/** The DSv2 micro-batch CDC source end-to-end: version offsets advance per
  * trigger, each change is delivered exactly once, restarts resume from the
  * checkpointed version. */
class CdcStreamSpec extends SparkSpec {

  test("graft-cdc stream delivers each change exactly once, in version order") {
    val feed = new MemFeed
    feed.add("I", 1L, 10.0)
    feed.add("I", 2L, 20.0)
    CdcFeedRegistry.register("t1", feed)
    val q = spark.readStream.format("graft-cdc").option("feed", "t1").load()
      .writeStream.format("memory").queryName("cdc_out").start()
    try {
      q.processAllAvailable()
      feed.add("U", 1L, 11.0)
      feed.add("D", 2L, null)
      q.processAllAvailable()
      val rows = spark.table("cdc_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1)
      assert(rows.toSeq == Seq((1L, "I", 1L), (2L, "I", 2L),
        (3L, "U", 1L), (4L, "D", 2L)))
    } finally q.stop()
  }

  test("restart resumes from the checkpointed version (no replay, no gap)") {
    val feed = new MemFeed
    feed.add("I", 1L, 1.0)
    CdcFeedRegistry.register("t2", feed)
    val ckpt = tmpDir("cdc_ckpt")
    val delivered = CdcStreamSpec.delivered
    delivered.clear()
    def start() = spark.readStream.format("graft-cdc").option("feed", "t2")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = batch.collect().map(_.getLong(0))
        CdcStreamSpec.delivered.synchronized {
          CdcStreamSpec.delivered ++= vs
        }
        ()
      }
      .start()
    val q1 = start()
    q1.processAllAvailable(); q1.stop()
    assert(delivered.synchronized(delivered.toSeq) == Seq(1L))
    // changes land while the stream is down
    feed.add("U", 1L, 2.0)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // exactly-once across restart: version 1 not replayed, version 2 not lost
      assert(delivered.synchronized(delivered.toSeq.sorted) == Seq(1L, 2L))
    } finally q2.stop()
  }

  test("streaming CDC → canonical messages → compacted store state") {
    val feed = new MemFeed
    feed.add("I", 1L, 10.0)
    feed.add("I", 2L, 20.0)
    CdcFeedRegistry.register("t4", feed)
    val source = SourceDef("graft", "dbo", "orders", Seq("o_orderkey"))
    val store = emuStore("cdcmsg")
    val q = ChangeTracking.changeStream(spark, "t4", source)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        store.send(ChangeTracking.batchMessages(batch, source))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      feed.add("U", 1L, 11.0)
      feed.add("D", 2L, null)
      q.processAllAvailable()
      val state = store.topicState(Seq(source.topic)).collect()
        .map(r => r.getString(1) -> r.getString(2)).toMap
      // key 2 tombstoned away; key 1 carries the updated value
      assert(state.keySet == Set("""{"o_orderkey":1}"""))
      assert(state.values.head.contains("11.0"))
    } finally q.stop()
  }

  test("a keyless source is rejected when the change stream is defined") {
    val keyless = SourceDef("graft", "dbo", "audit_log", Nil)
    val e = intercept[IllegalArgumentException] {
      ChangeTracking.changeStream(spark, "no_such_feed", keyless)
    }
    assert(e.getMessage.contains("dbo.audit_log"), e.getMessage)
  }

  test("MemFeed delivers net change: I/U/D of one key in a range is one D row") {
    // the VersionedFeed contract, as CHANGETABLE keeps it: each key's
    // newest change in (from, to], in version order
    val feed = new MemFeed
    feed.add("I", 7L, 1.0)
    feed.add("I", 8L, 3.0)
    feed.add("U", 7L, 2.0)
    feed.add("D", 7L, null)
    def net(from: Long, to: Long) = feed.rows(from, to)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(net(0, 4) == Seq((2L, "I", 8L), (4L, "D", 7L)))
    // a range that ends before the delete nets to the update
    assert(net(0, 3) == Seq((2L, "I", 8L), (3L, "U", 7L)))
  }

  test("fromVersion option starts past already-synced history") {
    val feed = new MemFeed
    feed.add("I", 1L, 1.0)
    feed.add("I", 2L, 2.0)
    feed.add("I", 3L, 3.0)
    CdcFeedRegistry.register("t3", feed)
    val q = spark.readStream.format("graft-cdc")
      .option("feed", "t3").option("fromVersion", "2").load()
      .writeStream.format("memory").queryName("cdc_from").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_from").collect().map(_.getLong(0)).toSeq == Seq(3L))
    } finally q.stop()
  }
}
