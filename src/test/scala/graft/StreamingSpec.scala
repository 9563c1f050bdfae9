package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Streaming

/** O21 continuous compaction + event-time windows, driven through real
  * Structured Streaming micro-batches via MemoryStream (the offline stand-in
  * for a live Kafka readStream). */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  test("O21 streaming compaction: last write wins across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String, String, Long)]
    val log = in.toDF().toDF("topic", "key", "value", "offset")
    val q = Streaming.compactedState(log).writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName("compacted")
      .start()
    try {
      in.addData(("t", "k1", "v1", 0L), ("t", "k2", "v2", 1L))
      q.processAllAvailable()
      in.addData(("t", "k1", "v1b", 2L)) // overwrite k1 in a later batch
      q.processAllAvailable()
      def state = spark.table("compacted").collect()
        .map(r => r.getString(1) -> r.getString(2)).toMap
      assert(state == Map("k1" -> "v1b", "k2" -> "v2"))
      // two versions of one key in one batch: the higher offset wins,
      // whatever the arrival order; a tombstone surfaces as a null value
      in.addData(("t", "k1", "v1d", 4L), ("t", "k1", "v1c", 3L),
        ("t", "k2", null, 5L))
      q.processAllAvailable()
      assert(state == Map("k1" -> "v1d", "k2" -> null))
    } finally q.stop()
  }

  test("O21 checkpointed compaction survives stop/restart without losing or duplicating state") {
    import org.apache.spark.sql.types._
    val srcDir = tmpDir("restart_src")
    val ckpt = tmpDir("restart_ckpt")
    val schema = StructType(Seq(
      StructField("topic", StringType), StructField("key", StringType),
      StructField("value", StringType), StructField("offset", LongType)))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def stream() = spark.readStream.schema(schema).json(srcDir)

    // driver-side keyed sink; phase tag records which run emitted each key
    val sink = scala.collection.mutable.Map.empty[String, String]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
    var phase = 1
    def upsert(batch: org.apache.spark.sql.DataFrame): Unit =
      batch.collect().foreach { r =>
        sink(r.getString(1)) = r.getString(2)
        emitted += ((phase, r.getString(1), r.getString(2)))
      }

    writeFile("b1.json", Seq(
      """{"topic":"t","key":"k1","value":"v1","offset":1}""",
      """{"topic":"t","key":"k2","value":"v2","offset":2}"""))
    val q1 = Streaming.compactedConsume(stream(), ckpt, "restart1")(upsert)
    try q1.processAllAvailable() finally q1.stop()
    assert(sink == Map("k1" -> "v1", "k2" -> "v2"))

    // Restart with the same checkpoint. The new file replays an OLDER offset
    // for k1 — only recovered state can know offset 1 already won; lost
    // state would regress k1 to v0.
    phase = 2
    writeFile("b2.json", Seq(
      """{"topic":"t","key":"k1","value":"v0","offset":0}""",
      """{"topic":"t","key":"k3","value":"v3","offset":3}"""))
    val q2 = Streaming.compactedConsume(stream(), ckpt, "restart2")(upsert)
    try q2.processAllAvailable() finally q2.stop()

    assert(sink == Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"))
    // no duplication: the untouched key k2 is NOT re-emitted after restart
    // (Update mode delivers only groups that received input), and the b1
    // file is not reprocessed (its keys would re-emit in phase 2)
    val p2keys = emitted.collect { case (2, k, _) => k }.toSet
    assert(p2keys.subsetOf(Set("k1", "k3")) && p2keys.contains("k3"))
    // the stale replay did not regress k1 in any phase-2 emission
    assert(!emitted.contains((2, "k1", "v0")))
  }

  test("streaming dedup keeps first arrival per fingerprint across batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val q = Streaming.streamingDedup(docs, "ts", "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_dedup")
      .start()
    try {
      in.addData(
        (1L, "hello world", Timestamp.valueOf("2026-01-01 00:00:00")),
        (2L, "other text", Timestamp.valueOf("2026-01-01 00:00:30")))
      q.processAllAvailable()
      in.addData(
        // same fingerprint as doc 1 (normalization collapses whitespace/case)
        (3L, "  Hello   WORLD ", Timestamp.valueOf("2026-01-01 00:01:00")),
        (4L, "new stuff", Timestamp.valueOf("2026-01-01 00:02:00")))
      q.processAllAvailable()
      val kept = spark.table("stream_dedup").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      // doc 3 deduped against doc 1's state from the earlier batch
      assert(kept == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming quota admits first-come per source, state survives batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "source")
    val q = Streaming.streamingQuota(spark, docs, quota = 2)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("stream_quota")
      .start()
    try {
      // batch 1: s1 fills its quota exactly; s2 uses one slot. Within the
      // batch, admission is by doc_id order — 10 and 11 beat 12
      in.addData((12L, "s1"), (10L, "s1"), (11L, "s1"), (20L, "s2"))
      q.processAllAvailable()
      // batch 2: s1 is full (cumulative state), s2 has one slot left
      in.addData((13L, "s1"), (21L, "s2"), (22L, "s2"))
      q.processAllAvailable()
      val admitted = spark.table("stream_quota")
        .where(col("admitted")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(admitted == Set(10L, 11L, 20L, 21L),
        s"admitted: $admitted")
      val rejected = spark.table("stream_quota")
        .where(!col("admitted")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(rejected == Set(12L, 13L, 22L))
    } finally q.stop()
  }

  test("streaming quota state survives a checkpointed stop/restart") {
    import org.apache.spark.sql.types._
    val srcDir = tmpDir("quota_restart_src")
    val ckpt = tmpDir("quota_restart_ckpt")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType)))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    val decisions = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Boolean)]
    var phase = 1
    def run() = Streaming
      .streamingQuota(spark,
        spark.readStream.schema(schema).json(srcDir), quota = 2)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            decisions += ((phase, r.getLong(0), r.getBoolean(2)))); ()
      }
      .start()

    writeFile("b1.json", Seq(
      """{"doc_id":10,"source":"s1"}""",
      """{"doc_id":11,"source":"s1"}""",
      """{"doc_id":12,"source":"s1"}"""))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(decisions.collect { case (1, id, a) => id -> a }.toMap ==
      Map(10L -> true, 11L -> true, 12L -> false))

    // restart on the same checkpoint: only RECOVERED state knows s1's
    // quota is spent — lost state would admit doc 13 again
    phase = 2
    writeFile("b2.json", Seq(
      """{"doc_id":13,"source":"s1"}""",
      """{"doc_id":20,"source":"s2"}"""))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(decisions.collect { case (2, id, a) => id -> a }.toMap ==
      Map(13L -> false, 20L -> true))
  }

  test("streaming sessionization: in-stream gaps close immediately, idle sessions close by timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val q = Streaming.streamingSessionize(spark, events, "ts",
        gap = "10 minutes", watermark = "5 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions")
      .start()
    try {
      // u1: two events 5 min apart (one session); u2: one event
      in.addData(
        (1L, Timestamp.valueOf("2026-01-01 00:00:00"), 1.0),
        (1L, Timestamp.valueOf("2026-01-01 00:05:00"), 2.0),
        (2L, Timestamp.valueOf("2026-01-01 00:00:00"), 7.0))
      q.processAllAvailable()
      // u1 returns after a 25-min gap: the first session closes in-function
      in.addData((1L, Timestamp.valueOf("2026-01-01 00:30:00"), 3.0))
      q.processAllAvailable()
      // push the watermark far past everyone's last+gap, then one more
      // trigger so EventTimeTimeout fires for the idle sessions
      in.addData((9L, Timestamp.valueOf("2026-01-01 02:00:00"), 0.0))
      q.processAllAvailable()
      in.addData((9L, Timestamp.valueOf("2026-01-01 03:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .selectExpr("user_id", "session_start", "session_end", "n_events",
          "sum_value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4))).toSet
      // u1 session 1: both events, closed by the in-stream gap
      assert(rows.contains((1L, "2026-01-01 00:00:00.0",
        "2026-01-01 00:05:00.0", 2L, 3.0)))
      // u1 session 2 and u2's only session: closed by watermark timeout
      assert(rows.contains((1L, "2026-01-01 00:30:00.0",
        "2026-01-01 00:30:00.0", 1L, 3.0)))
      assert(rows.contains((2L, "2026-01-01 00:00:00.0",
        "2026-01-01 00:00:00.0", 1L, 7.0)))
    } finally q.stop()
  }

  test("streaming sessionization: a late out-of-order event forms its own earlier session") {
    // the collapsed-accumulator failure mode: state held {start=10:00};
    // a late 08:30 arrival (within allowed lateness) must NOT merge into
    // the open session — batch q21 over the same events yields two
    // sessions, so the streaming operator must too
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val q = Streaming.streamingSessionize(spark, events, "ts",
        gap = "10 minutes", watermark = "2 hours")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_late")
      .start()
    try {
      in.addData((1L, Timestamp.valueOf("2026-01-01 10:00:00"), 5.0))
      q.processAllAvailable()
      // late but above watermark (10:00 − 2h = 08:00 < 08:30)
      in.addData((1L, Timestamp.valueOf("2026-01-01 08:30:00"), 7.0))
      q.processAllAvailable()
      in.addData((9L, Timestamp.valueOf("2026-01-01 20:00:00"), 0.0))
      q.processAllAvailable()
      in.addData((9L, Timestamp.valueOf("2026-01-01 23:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("sessions_late").where(col("user_id") === 1L)
        .selectExpr("session_start", "session_end", "n_events", "sum_value")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet
      assert(rows == Set(
        ("2026-01-01 08:30:00.0", "2026-01-01 08:30:00.0", 1L, 7.0),
        ("2026-01-01 10:00:00.0", "2026-01-01 10:00:00.0", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming sessionization agrees with the batch q21 gaps-and-islands query") {
    // same events, same 30-minute gap: the continuous operator must
    // produce the same sessions the batch window query does — per user,
    // the same session count and the same per-session event counts
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.sources.Tables.t(spark, sf, "events")
      .selectExpr("user_id", "timestamp_micros(ts DIV 1000) AS ts",
        "value", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    val in = MemoryStream[(Long, Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val q = Streaming.streamingSessionize(spark, events, "ts",
        gap = "30 minutes", watermark = "1 second")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions_parity")
      .start()
    try {
      in.addData(raw.toIndexedSeq)
      q.processAllAvailable()
      // sentinel user far in the future pushes the watermark past every
      // real session's last+gap; a second trigger fires the timeouts
      val far = Timestamp.valueOf("2036-01-01 00:00:00")
      in.addData((999999L, far, 0.0))
      q.processAllAvailable()
      in.addData((999999L, Timestamp.valueOf("2036-01-01 01:00:00"), 0.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_parity")
        .where(col("user_id") =!= 999999L)
        .groupBy("user_id").agg(
          count(lit(1)).as("n_sessions"),
          sort_array(collect_list(col("n_events"))).as("sizes"))
      val batch = graft.operators.Relational.q21Sessionize(spark, sf)
        .groupBy("user_id").agg(
          count(lit(1)).as("n_sessions"),
          sort_array(collect_list(col("n_events"))).as("sizes"))
      assert(streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming sessionization state survives a checkpointed stop/restart") {
    import org.apache.spark.sql.types._
    val srcDir = tmpDir("sess_restart_src")
    val ckpt = tmpDir("sess_restart_ckpt")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Double)]
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      Streaming.streamingSessionize(spark,
          spark.readStream.schema(schema).json(srcDir), "ts",
          gap = "10 minutes", watermark = "5 minutes")
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streaming.Session],
            _: Long) =>
          batch.collect().foreach(s => emitted.synchronized {
            emitted += ((s.user_id, s.session_start.toString, s.n_events,
              s.sum_value))
          })
        }
        .start()

    // run 1: an open session accumulates, nothing seals, stop
    writeFile("b1.json", Seq(
      """{"user_id":1,"ts":"2026-01-01 10:00:00","value":1.0}""",
      """{"user_id":1,"ts":"2026-01-01 10:05:00","value":2.0}"""))
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted.isEmpty, "open session must not emit before its seal")

    // run 2, same checkpoint: only the RECOVERED state can know the
    // session started at 10:00 with two events — lost state would emit a
    // wrong or missing first session
    writeFile("b2.json", Seq(
      """{"user_id":1,"ts":"2026-01-01 10:40:00","value":4.0}""",
      """{"user_id":9,"ts":"2026-01-01 12:00:00","value":0.0}"""))
    writeFile("b3.json", Seq(
      """{"user_id":9,"ts":"2026-01-01 13:00:00","value":0.0}"""))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val u1 = emitted.filter(_._1 == 1L).toSet
    assert(u1 == Set(
      (1L, "2026-01-01 10:00:00.0", 2L, 3.0),
      (1L, "2026-01-01 10:40:00.0", 1L, 4.0)), s"got: $emitted")
  }

  test("stream-stream interval join attributes errors to in-horizon clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val errors = MemoryStream[(Long, Timestamp, Long)]
    val q = Streaming.clickErrorJoin(
        clicks.toDF().toDF("user_id", "ts", "event_id"),
        errors.toDF().toDF("user_id", "ts", "event_id"),
        "ts", watermark = "5 minutes", horizon = "10 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("click_error")
      .start()
    try {
      clicks.addData(
        (1L, Timestamp.valueOf("2026-01-01 00:00:00"), 100L),
        (1L, Timestamp.valueOf("2026-01-01 00:08:00"), 101L),
        (2L, Timestamp.valueOf("2026-01-01 00:00:00"), 102L))
      errors.addData(
        // user 1 error at 00:09: clicks 100 (9 min back) and 101 (1 min)
        (1L, Timestamp.valueOf("2026-01-01 00:09:00"), 900L),
        // user 1 error at 00:15: only click 101 is within 10 minutes
        (1L, Timestamp.valueOf("2026-01-01 00:15:00"), 901L),
        // user 3 error: no clicks at all
        (3L, Timestamp.valueOf("2026-01-01 00:09:00"), 902L))
      q.processAllAvailable()
      val rows = spark.table("click_error")
        .select("error_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((900L, 100L), (900L, 101L), (901L, 101L)))
    } finally q.stop()
  }

  test("property: segment merge equals brute-force gap-split under any batching") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(0, 40)
      ts <- Gen.listOfN(n, Gen.choose(0L, 500L))
      gap <- Gen.oneOf(1L, 5L, 20L, 100L)
      nBatches <- Gen.choose(1, 5)
      order <- Gen.listOfN(n, Gen.choose(0, nBatches - 1))
    } yield (ts, gap, order)
    (1L to 12L).foreach { seed =>
      val (ts, gap, order) = gen.pureApply(Gen.Parameters.default, Seed(seed))
      val events = ts.zipWithIndex.map { case (t, i) => (t, i.toDouble) }
      // brute force: sort all events, split where the gap exceeds `gap`
      val expected = events.sortBy(identity)
        .foldLeft(List.empty[List[(Long, Double)]]) {
          case (cur :: done, e) if e._1 - cur.head._1 <= gap =>
            (e :: cur) :: done
          case (acc, e) => List(e) :: acc
        }.map(_.reverse).reverse
        .map(s => (s.head._1, s.last._1, s.size.toLong, s.map(_._2).sum))
      // streaming path: fold batches (arbitrary arrival order) through
      // mergeSegments exactly as the operator does
      val batches = events.zip(order).groupBy(_._2).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      val got = batches.foldLeft(List.empty[Streaming.Seg]) { (state, b) =>
        Streaming.mergeSegments(
          state ++ b.map(e => (e._1, e._1, 1L, e._2)), gap)
      }
      withClue(s"seed=$seed gap=$gap") { assert(got == expected) }
    }
  }

  test("property: bounded-heap admission equals sort-then-take, one decision per row") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gen = for {
      n <- Gen.choose(0, 60)
      ids <- Gen.listOfN(n, Gen.choose(0L, 30L)) // duplicates on purpose
      remaining <- Gen.choose(-2, 25)
    } yield (ids, remaining)
    (1L to 20L).foreach { seed =>
      val (ids, remaining) = gen.pureApply(Gen.Parameters.default, Seed(seed))
      var reported = -1
      val out = Streaming.admitSmallest[Long](ids.iterator, identity,
        remaining, n => reported = n).toSeq
      withClue(s"seed=$seed remaining=$remaining ids=$ids") {
        // every row decided exactly once (multiset equality on ids)
        assert(out.map(_._1).sorted == ids.sorted)
        // admitted multiset == sort-then-take-first(remaining) — the
        // exact semantics the unbounded sortBy formulation had
        val expected = ids.sorted.take(math.max(remaining, 0))
        assert(out.filter(_._2).map(_._1).sorted == expected)
        // the state callback reports the true admitted count, and fires
        // before any admitted row is emitted (it ran: reported >= 0)
        assert(reported == expected.size)
      }
    }
  }

  test("admission tie-break: duplicate doc_ids admit a partition-order-independent payload") {
    // Two rows share doc_id 5 with DIFFERENT payloads and the quota
    // boundary lands on the duplicate — heap eviction among equal keys is
    // arbitrary, so without the payload tie key WHICH payload won depended
    // on arrival order. With it, every arrival order admits the same rows.
    val dup = Seq((5L, "payload-A"), (5L, "payload-B"))
    val all = dup ++ Seq((1L, "x"), (9L, "y"))
    def tie(r: (Long, String)): Long =
      scala.util.hashing.MurmurHash3.stringHash(r._2).toLong
    def admitted(rows: Seq[(Long, String)]): Set[(Long, String)] =
      Streaming.admitSmallest[(Long, String)](rows.iterator, _._1,
        remaining = 2, _ => (), tieOf = tie).filter(_._2).map(_._1).toSet
    val results = all.permutations.map(admitted).toSet
    assert(results.size == 1, s"arrival order changed the admitted set: $results")
    // and the winner is exactly sort-then-take on (id, tie): id 1, then
    // the id-5 row whose payload hash is smaller
    assert(results.head == Set((1L, "x"), dup.minBy(tie)))
  }

  test("event-time tumbling windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.windowedCounts(events, "ts", "10 minutes", "5 minutes")
      .writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("windowed")
      .start()
    try {
      in.addData(
        (Timestamp.valueOf("2026-01-01 00:01:00"), "click", 1.0),
        (Timestamp.valueOf("2026-01-01 00:04:00"), "click", 2.0),
        (Timestamp.valueOf("2026-01-01 00:11:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("windowed")
        .selectExpr("event_type", "n", "sum_value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    } finally q.stop()
  }

  test("map-only operators compose into a streaming pipeline unchanged") {
    // the stateless Of-surfaces (t16 normalize, sp07 chunking — and by
    // the same construction winnowOf/quality) are plain select+explode
    // plans, so the SAME call works under readStream: the live tail of
    // an ingest pipeline reuses the batch operators verbatim
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val pipeline = graft.operators.Sampling.chunkWindowsOf(
      docs.select(col("doc_id"),
        graft.operators.TextAnalysis.normalized(col("text")).as("text")),
      window = 5, stride = 3)
    val q = pipeline.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName("stream_chunks")
      .start()
    try {
      in.addData((1L, "Café  ONE two three four five six"),
        (2L, "short text"))
      q.processAllAvailable()
      val out = spark.table("stream_chunks").collect()
      // doc 1: 7 normalized tokens → 3 windows; doc 2: 2 tokens → 1
      assert(out.length == 4)
      val first = out.filter(r => r.getLong(0) == 1 && r.getLong(1) == 1L).head
      // NFC + lowercase + whitespace collapse happened INSIDE the stream
      assert(first.getString(3) == "café one two three four")
    } finally q.stop()
  }

  test("streaming transitions replay the batch q36 pair multiset") {
    // Same events, arrival order deliberately scrambled (deterministic
    // hash shuffle) and split across two triggers: the continuous pairing
    // must reproduce batch q36's per-(prev, next) counts exactly — the
    // buffering-until-final contract, not a near-miss.
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.sources.Tables.t(spark, sf, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "timestamp_micros(ts DIV 1000) AS ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    val shuffled = raw.sortBy(t => (t._2 * 2654435761L) % 1000003)
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val events = in.toDF().toDF("user_id", "event_id", "event_type", "ts")
    // lateness covers the full fixture span so the scramble loses nothing
    val q = Streaming.streamingTransitions(spark, events, "ts", "365 days")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("trans_parity").start()
    try {
      val (h1, h2) = shuffled.splitAt(shuffled.length / 2)
      in.addData(h1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(h2.toIndexedSeq)
      q.processAllAvailable()
      // sentinel user far in the future pushes the watermark past every
      // real event; a second trigger fires the timeouts
      in.addData((999999L, 0L, "view", Timestamp.valueOf("2046-01-01 00:00:00")))
      q.processAllAvailable()
      in.addData((999999L, 1L, "view", Timestamp.valueOf("2046-06-01 00:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("trans_parity")
        .where(col("user_id") =!= 999999L)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      val batch = graft.operators.Relational.q36Transitions(spark, sf)
        .select("prev_type", "next_type", "n")
      assert(streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming SCD2 replays the batch q39 closed intervals exactly") {
    // Same events, scrambled arrival across two triggers: every interval
    // the stream emits must be a batch q39 row, and every CLOSED batch
    // row must be emitted — the open run stays in state by contract.
    implicit val sqlCtx = spark.sqlContext
    val raw = graft.sources.Tables.t(spark, sf, "events")
      .selectExpr("user_id", "event_id", "event_type",
        "timestamp_micros(ts DIV 1000) AS ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3)))
    val shuffled = raw.sortBy(t => (t._2 * 2654435761L) % 1000003)
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val events = in.toDF().toDF("user_id", "event_id", "event_type", "ts")
    val q = Streaming.streamingScd2(spark, events, "ts", "365 days")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scd2_parity").start()
    try {
      val (h1, h2) = shuffled.splitAt(shuffled.length / 2)
      in.addData(h1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(h2.toIndexedSeq)
      q.processAllAvailable()
      // sentinel user far in the future pushes the watermark past every
      // real event; a second trigger fires the timeouts
      in.addData((999999L, 0L, "view", Timestamp.valueOf("2046-01-01 00:00:00")))
      q.processAllAvailable()
      in.addData((999999L, 1L, "view", Timestamp.valueOf("2046-06-01 00:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("scd2_parity")
        .where(col("user_id") =!= 999999L)
        .select("user_id", "event_type", "valid_from", "valid_to",
          "n_events")
      val batch = graft.operators.Relational.q39Scd2(spark, sf)
        .where(col("valid_to").isNotNull)
        .select("user_id", "event_type", "valid_from", "valid_to",
          "n_events")
      assert(streamed.count() > 0)
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    } finally q.stop()
  }

  test("streaming funnel: late views retroactively qualify clicks and purchases") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Timestamp)]
    val events = in.toDF().toDF("user_id", "event_type", "ts")
    val q = Streaming.streamingFunnel(spark, events, "ts", "1 hour")
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("funnel")
      .start()
    def ts(hm: String) = Timestamp.valueOf(s"2026-01-01 $hm:00")
    def us(hm: String) = ts(hm).getTime * 1000L
    try {
      // u1: click+purchase arrive FIRST — both unqualified (no view yet).
      // The collapsed-accumulator failure mode: a 3-timestamp state that
      // discarded them can never produce stage 3.
      in.addData((1L, "click", ts("00:05")), (1L, "purchase", ts("00:06")),
        (2L, "purchase", ts("00:02")))
      q.processAllAvailable()
      // late-in-event-time view lands BEFORE the buffered click/purchase
      in.addData((1L, "view", ts("00:01")), (2L, "view", ts("00:03")))
      q.processAllAvailable()
      val rows = spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1),
          Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      // u1 completes the whole chain once the early events re-qualify
      assert(rows.contains((1L, 3, Some(us("00:01")), Some(us("00:05")),
        Some(us("00:06")))), s"u1 chain missing: $rows")
      // u2's purchase PRECEDES its view — stays stage 1 forever (exactly
      // batch q34's semantics: purchase must follow a qualified click)
      assert(rows.contains((2L, 1, Some(us("00:03")), None, None)))
      assert(!rows.exists(r => r._1 == 2L && r._2 > 1))
      // a fresh view AFTER the buffered events must not rewrite history:
      // u1's chain is already anchored at its minimal qualified times, so
      // the state does not change and nothing new is emitted
      val before = spark.table("funnel").collect()
        .count(_.getLong(0) == 1L)
      in.addData((1L, "view", ts("00:30")))
      q.processAllAvailable()
      val u1After = spark.table("funnel").collect()
        .filter(_.getLong(0) == 1L)
      assert(u1After.length == before, "unchanged state must not re-emit")
      assert(u1After.map(_.getInt(1)).max == 3)
    } finally q.stop()
  }

  test("streaming KMV distinct: state survives checkpointed restart") {
    import org.apache.spark.sql.types._
    import graft.functions.KmvMinK
    val k = 4
    val srcDir = tmpDir("kmv_src")
    val ckpt = tmpDir("kmv_ckpt")
    val schema = StructType(Seq(StructField("etype", StringType),
      StructField("uid", LongType)))
    def writeFile(name: String, rows: Seq[(String, Long)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        rows.map { case (e, u) => s"""{"etype":"$e","uid":$u}""" }
          .mkString("\n").getBytes("UTF-8"))
    def hashed() = spark.readStream.schema(schema).json(srcDir)
      .withColumn("h", graft.functions.Hashing.md5Long(
        concat(lit("u:"), col("uid").cast("string")), 15))
    // memory sink cannot recover a checkpoint; foreachBatch (the real
    // sink shape) can — keep the latest estimate per group driver-side
    val latest = scala.collection.mutable.Map.empty[String, Long]
    def run() =
      Streaming.streamingKmvDistinct(spark, hashed(), "etype", "h", k)
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => latest(r.getString(0)) = r.getLong(1))
        }.start()
    val t1 = Seq(("a", 1L), ("a", 2L), ("a", 3L))
    writeFile("b1.json", t1)
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    assert(latest.toMap == Map("a" -> 3L))
    // restart on the same checkpoint; the new batch is MOSTLY duplicates —
    // lost state would count them as new, recovered state must fold them
    // away and extend to the full set
    val t2 = Seq(("a", 2L), ("a", 3L), ("a", 4L), ("a", 5L), ("a", 6L))
    writeFile("b2.json", t2)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    import spark.implicits._
    val want = (t1 ++ t2).toDF("etype", "uid")
      .withColumn("h", graft.functions.Hashing.md5Long(
        concat(lit("u:"), col("uid").cast("string")), 15))
      .groupBy("etype").agg(KmvMinK.kmvMinK(col("h"), k).as("s"))
      .select(KmvMinK.estimate(col("s"), k).as("est")).collect()(0).getLong(0)
    assert(latest.toMap == Map("a" -> want),
      s"restarted sketch must equal the batch sketch over ALL data: " +
        s"${latest.toMap} vs $want")
  }

  test("streaming CMS sketch: checkpointed restart neither drops nor double-counts") {
    import org.apache.spark.sql.types._
    import graft.operators.Relational
    val (depth, width) = (3, 16)
    val srcDir = tmpDir("cms_src")
    val ckpt = tmpDir("cms_ckpt")
    val schema = StructType(Seq(StructField("key", StringType)))
    def writeFile(name: String, keys: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, name),
        keys.map(k => s"""{"key":"$k"}""").mkString("\n").getBytes("UTF-8"))
    // CMS counters are SUMS: a restart that re-read an offset would
    // double-count, one that lost state would under-count — the cell-for-
    // cell batch match after restart proves exactly-once on both sides
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    def run() =
      Streaming.streamingCmsSketch(
        spark.readStream.schema(schema).json(srcDir), "key", depth, width)
        .writeStream.outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r =>
            cells((r.getInt(0), r.getLong(1))) = r.getLong(2))
        }.start()
    val t1 = Seq("a", "b", "a", "c", "a")
    writeFile("b1.json", t1)
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    val t2 = Seq("a", "b", "d", "a")
    writeFile("b2.json", t2)
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    import spark.implicits._
    val want = Relational.cmsSketchOf(
        (t1 ++ t2).toDF("key"), depth, width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cells.toMap == want,
      s"restarted streaming sketch != batch sketch: ${cells.toMap} vs $want")
    // fixed-state invariant: the sketch never exceeds depth*width cells
    assert(cells.size <= depth * width)
  }

  test("streaming embedding drift: drained cosines equal the batch c13 monitor") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Curation
    val rnd = new scala.util.Random(31)
    def vec(): Seq[Long] = Seq.fill(64)(rnd.nextInt(2001) - 1000L)
    val ref = (0 until 25).map(i => (i.toLong, vec()))
    val live = (100 until 130).map(i => (100L + i, vec()))
    val refDf = ref.toDF("vec_id", "q")
    val in = MemoryStream[(Long, Seq[Long])]
    val out = Streaming.streamingEmbeddingDrift(spark,
      in.toDF().toDF("vec_id", "q"), refDf)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("edrift").start()
    try {
      in.addData(live.take(15): _*); q.processAllAvailable()
      in.addData(live.drop(15): _*); q.processAllAvailable()
      // newest emission per cell (Update mode re-emits touched cells)
      val got = spark.table("edrift").collect()
        .map(r => (r.getLong(0), (r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]))))
        .groupBy(_._1).map { case (c, rows) =>
          c -> rows.map(_._2).maxBy(_._1) }
      val batch = Curation.embeddingDriftOf(refDf, live.toDF("vec_id", "q"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double]), r.getString(5)))
        .toMap
      // every live cell: final streamed (n, cos) == the batch monitor's
      batch.foreach { case (cell, (nB, cosB, _)) =>
        if (nB > 0) {
          val (nS, cosS) = got(cell)
          assert(nS == nB, s"cell $cell n: $nS vs $nB")
          assert(cosS == cosB, s"cell $cell cos: $cosS vs $cosB")
        }
      }
    } finally q.stop()
  }

  test("streaming KMV distinct: batch-sketch parity across triggers, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.KmvMinK
    val k = 4
    def hashed(df: org.apache.spark.sql.DataFrame) = df.withColumn("h",
      graft.functions.Hashing.md5Long(
        concat(lit("u:"), col("uid").cast("string")), 15))
    val t1 = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L), ("a", 2L))
    val t2 = Seq(("a", 4L), ("a", 5L), ("a", 6L), ("a", 1L), ("b", 9L))
    val in = MemoryStream[(String, Long)]
    val out = Streaming.streamingKmvDistinct(spark,
      hashed(in.toDF().toDF("etype", "uid")), "etype", "h", k)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kmv").start()
    try {
      in.addData(t1: _*); q.processAllAvailable()
      in.addData(t2: _*); q.processAllAvailable()
      val got = spark.table("kmv").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSet
      // final state ≡ the batch q40 aggregate over ALL the data — the
      // backfill-equals-live-tail contract (shared hash, shared estimator)
      val batch = hashed((t1 ++ t2).toDF("etype", "uid"))
        .groupBy("etype").agg(KmvMinK.kmvMinK(col("h"), k).as("s"))
        .select(col("etype"), KmvMinK.estimate(col("s"), k).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.contains("a" -> batch("a")), s"got $got, want ${batch("a")}")
      assert(got.contains("b" -> batch("b")))
      // group a saturated (6 distinct > k): the estimate is the k-th-order
      // statistic formula, not the exact count; group b stays exact
      assert(batch("b") == 2L)
      // trigger-1 snapshots were also live: exact counts below saturation
      assert(got.contains("a" -> 3L) && got.contains("b" -> 1L))
    } finally q.stop()
  }

  test("streaming KMV quantiles: batch-sample parity across triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.KmvMinK
    val k = 8
    val qs = Seq(0.25, 0.5, 0.9)
    def hashed(df: org.apache.spark.sql.DataFrame) = df.withColumn("h",
      graft.functions.Hashing.md5Long(
        concat(lit("r:"), col("rid").cast("string")), 15))
    // 30 rows across two triggers — group a saturates (> k), b stays exact
    val rows = (1 to 30).map(i =>
      (if (i % 5 == 0) "b" else "a", i.toLong, (i * 13 % 47).toDouble))
    val (t1, t2) = rows.splitAt(17)
    val in = MemoryStream[(String, Long, Double)]
    val out = Streaming.streamingKmvQuantiles(spark,
      hashed(in.toDF().toDF("g", "rid", "v")), "g", "h", "v", k, qs)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kmvq").start()
    try {
      in.addData(t1: _*); q.processAllAvailable()
      in.addData(t2: _*); q.processAllAvailable()
      // memory-sink row ORDER across micro-batches is not a guaranteed
      // API (and group a saturates in trigger 1, so "max n held" cannot
      // disambiguate either) — assert order-free: the emission SET per
      // group equals {batch aggregate over trigger 1, batch over all}.
      val got = spark.table("kmvq").collect()
        .map(r => (r.getString(0), (r.getInt(1), r.getSeq[Double](2))))
        .groupBy(_._1).map { case (g, snaps) => g -> snaps.map(_._2).toSet }
      def batchOf(data: Seq[(String, Long, Double)]) =
        hashed(data.toDF("g", "rid", "v"))
          .groupBy("g")
          .agg(KmvMinK.kmvBottomKPairs(col("h"), col("v"), k).as("s"))
          .select(col("g"), size(col("s")).as("n"),
            array(qs.map(p => KmvMinK.sampleQuantile(col("s"), p)): _*)
              .as("qv"))
          .collect()
          .map(r => r.getString(0) -> ((r.getInt(1), r.getSeq[Double](2))))
          .toMap
      val batch1 = batchOf(t1)
      val batch = batchOf(rows)
      for ((g, all) <- batch) {
        val expected = batch1.get(g).toSet + all
        assert(got(g) == expected,
          s"group $g emissions ${got(g)} != expected $expected")
      }
      assert(batch("a")._1 == k)      // saturated: bounded state
      assert(batch("b")._1 == 6)      // sub-saturation: the sample IS b
    } finally q.stop()
  }

  test("streaming drift monitor replays the batch c12 PSI exactly") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // block parity: every source lands in BOTH snapshots (plain doc_id
    // parity correlates perfectly with the fixture's source assignment)
    val refSnap = docs.where(expr("(doc_id div 20) % 2") === 0)
    val liveSnap = docs.where(expr("(doc_id div 20) % 2") === 1)
    // stream the live snapshot in two triggers
    val rows = liveSnap.select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val (t1, t2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(Long, String, String)]
    val out = Streaming.streamingDriftMonitor(spark,
      in.toDF().toDF("doc_id", "source", "text"), refSnap)
    val q = out.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("drift").start()
    try {
      in.addData(t1.toSeq: _*); q.processAllAvailable()
      in.addData(t2.toSeq: _*); q.processAllAvailable()
      // pick the final emission by max n_b (live-doc count grows
      // monotonically per source across triggers), not collect order —
      // memory-sink row order across micro-batches is not guaranteed
      val got = spark.table("drift").collect()
        .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getString(4))))
        .groupBy(_._1).map { case (s, snaps) => s -> snaps.maxBy(_._2._1)._2 }
      // after the stream drains, each source's row equals the batch
      // monitor over the same two snapshots — binning and PSI arithmetic
      // are shared definitions, so this is exact, not approximate
      val batch = graft.operators.Curation
        .driftMonitorOf(refSnap, liveSnap).collect()
        .map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3),
          r.getDouble(4), r.getString(5)))).toMap
      assert(got.keySet == batch.keySet)
      for ((s, b) <- batch) assert(got(s) == b, s"source $s: ${got(s)} vs $b")
    } finally q.stop()
  }

  test("streaming near-dup alerts replay the batch admission evidence from the bucketed ledger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val near = ((1 to 57).map(i => s"w$i") ++ Seq("x1", "x2", "x3"))
      .mkString(" ")
    val near2 = (4 to 60).map(i => s"w$i").mkString(" ")
    val novel = (1 to 60).map(i => s"z$i").mkString(" ")
    // self-clean stale warehouse state (the cross-run LOCATION flake class)
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    Seq("snd_test_bands", "snd_test_sets").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmRf(new java.io.File(s"spark-warehouse/$t"))
    }
    Dedup.writeNearDupLedger(Seq((2L, base)).toDF("doc_id", "text"),
      "snd_test", buckets = 4)
    try {
      val in = MemoryStream[(Long, String, Timestamp)]
      val out = Streaming.streamingNearDupAlerts(spark,
        in.toDF().toDF("doc_id", "text", "ts"), "snd_test",
        threshold = 0.3, tsCol = "ts", watermark = "10 seconds")
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ndalerts").start()
      try {
        val ts = Timestamp.valueOf("2026-01-01 00:00:00")
        in.addData((1L, near, ts), (3L, novel, ts))
        q.processAllAvailable()
        in.addData((5L, near2, ts))
        q.processAllAvailable()
        val got = spark.table("ndalerts").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        // exactly the two planted near-dups alert, against the ledger
        // doc, ONCE each — multi-band collisions must not repeat pairs
        assert(got.length == 2,
          s"expected 2 alerts (band-collision dups leaked?): ${got.toSeq}")
        assert(got.map(x => (x._1, x._2)).toSet == Set((1L, 2L), (5L, 2L)))
        got.foreach(x => assert(x._3 >= 0.3 && x._3 <= 1.0, x.toString))
        // batch parity: the SAME docs through the batch admission against
        // the SAME ledger content reject exactly the alerted doc ids —
        // and because the ledger's band/set tables were written by the
        // BATCH signature, any drift between rowSigOf and minhashSigOf
        // would have broken the candidate join outright
        val batch = Dedup.nearDupAdmitOf(
          Seq((1L, near), (3L, novel), (5L, near2)).toDF("doc_id", "text"),
          Seq((2L, base)).toDF("doc_id", "text"), 0.3).collect()
        val rejected = batch.filter(!_.getBoolean(2)).map(_.getLong(0)).toSet
        assert(got.map(_._1).toSet == rejected,
          s"stream alerts ${got.map(_._1).toSet} != batch rejections $rejected")
      } finally q.stop()
    } finally {
      Seq("snd_test_bands", "snd_test_sets").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("streaming semantic decontamination replays the batch c06 verdict from the persistent index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Curation, Similarity}
    import graft.sources.Tables.t
    val minCos = 0.2
    val emb = t(spark, sf, "embeddings")
    // the benchmark panel lives in a PERSISTENT IVF index — the artifact
    // a gated deploy manages; the stream probes it stream-static
    val idx = tmpDir("sdc-index")
    Similarity.buildIvfIndexOf(emb.where(col("vec_id") % 97 === 0), idx,
      iters = 1, cells = 3)
    // live side: the non-benchmark corpus arrives over two micro-batches
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    val arriving = emb.where(col("vec_id") % 97 =!= 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), ts))
    val (b1, b2) = arriving.splitAt(arriving.length / 2)
    val in = MemoryStream[(Long, Seq[Float], Timestamp)]
    val out = Streaming.streamingSemanticDecontam(spark,
      in.toDF().toDF("vec_id", "embedding", "ts"), idx,
      minCos = minCos, tsCol = "ts", watermark = "10 seconds")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sdecontam").start()
    try {
      in.addData(b1.toSeq); q.processAllAvailable()
      in.addData(b2.toSeq); q.processAllAvailable()
      val pairs = spark.table("sdecontam").collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
      val gotContaminated = pairs.map(_._1).toSet
      val gotMax = pairs.groupBy(_._1).map { case (v, ps) =>
        v -> ps.map(_._2).max }
      // batch verdict on the SAME data: c06's library surface at the
      // same benchmark predicate and threshold
      val batch = Curation.embeddingDecontaminate(spark, sf,
        col("vec_id") % 97 === 0, minCos).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1.0 else r.getDouble(1),
          r.getBoolean(2)))
      val batchContaminated = batch.filter(_._3).map(_._1).toSet
      assert(batchContaminated.nonEmpty,
        "fixture yields no contamination at this threshold — test vacuous")
      assert(gotContaminated == batchContaminated,
        s"stream flags $gotContaminated, batch flags $batchContaminated")
      // the max emitted evidence cosine equals the batch max_cos exactly
      val batchMax = batch.filter(_._3).map(x => x._1 -> x._2).toMap
      for ((v, m) <- gotMax)
        assert(m == batchMax(v), s"vec $v: stream max $m vs batch ${batchMax(v)}")
      // and no pair repeats (at-least-once dedup is the only state)
      assert(pairs.length == spark.table("sdecontam")
        .select("vec_id", "idb").distinct().count())
    } finally q.stop()
  }

  test("near-dup alerts see SAME-SESSION ledger growth from the next batch on") {
    // the r10 advisor finding, pinned to the half that is actually
    // guaranteed: in ONE SparkSession the growNearDupLedger insert
    // invalidates the relation cache, so a doc arriving after the grow
    // alerts against the grown entry with no restart (the cross-
    // application case needs refreshNearDupLedger / metadataCacheTTL —
    // see the scaladoc contract). The ledger uses a NON-default bucket
    // count, so this also pins that grow reads the bucket spec from the
    // catalog instead of assuming 32.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val grown = (1 to 60).map(i => s"g$i").mkString(" ")
    val nearGrown = (4 to 60).map(i => s"g$i").mkString(" ")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    Seq("sndg_test_bands", "sndg_test_sets").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmRf(new java.io.File(s"spark-warehouse/$t"))
    }
    Dedup.writeNearDupLedger(Seq((2L, base)).toDF("doc_id", "text"),
      "sndg_test", buckets = 4)
    try {
      val in = MemoryStream[(Long, String, Timestamp)]
      val out = Streaming.streamingNearDupAlerts(spark,
        in.toDF().toDF("doc_id", "text", "ts"), "sndg_test",
        threshold = 0.3, tsCol = "ts", watermark = "10 seconds")
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ndgalerts").start()
      try {
        val ts = Timestamp.valueOf("2026-01-01 00:00:00")
        // batch 1: a near-dup of a doc the ledger does NOT yet hold
        in.addData((10L, nearGrown, ts))
        q.processAllAvailable()
        assert(spark.table("ndgalerts").isEmpty,
          "alerted against a ledger entry that does not exist yet")
        // the nightly grow, mid-query, same session, non-default buckets
        Dedup.growNearDupLedger(Seq((20L, grown)).toDF("doc_id", "text"),
          "sndg_test")
        // batch 2: a fresh near-dup of the GROWN doc must now alert
        in.addData((11L, nearGrown, ts))
        q.processAllAvailable()
        val got = spark.table("ndgalerts").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(got.toSet == Set((11L, 20L)),
          s"growth not visible to the running query: ${got.toSeq}")
      } finally q.stop()
    } finally {
      Seq("sndg_test_bands", "sndg_test_sets").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("near-dup alerts see CROSS-APPLICATION ledger growth after refreshNearDupLedger") {
    // the other half of the visibility contract (r13 verdict #5): a
    // nightly batch JOB — a different application, modeled here as a
    // fresh session with its own catalog/relation caches — grows the
    // ledger under a running 24/7 stream. The stream's session never saw
    // the insert, so nothing invalidated ITS caches; the documented
    // remedy is refreshNearDupLedger wired to the grow's completion
    // signal, after which the next micro-batch must alert against the
    // grown entry.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Dedup
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val grown = (1 to 60).map(i => s"x$i").mkString(" ")
    val nearGrown = (4 to 60).map(i => s"x$i").mkString(" ")
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete(); ()
    }
    Seq("sndx_test_bands", "sndx_test_sets").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      rmRf(new java.io.File(s"spark-warehouse/$t"))
    }
    Dedup.writeNearDupLedger(Seq((2L, base)).toDF("doc_id", "text"),
      "sndx_test", buckets = 4)
    try {
      val in = MemoryStream[(Long, String, Timestamp)]
      val out = Streaming.streamingNearDupAlerts(spark,
        in.toDF().toDF("doc_id", "text", "ts"), "sndx_test",
        threshold = 0.3, tsCol = "ts", watermark = "10 seconds")
      val q = out.writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName("ndxalerts").start()
      try {
        val ts = Timestamp.valueOf("2026-01-01 00:00:00")
        // resolve + run one batch so the streaming session's relation
        // caches are warm (the staleness being tested needs a cache)
        in.addData((10L, nearGrown, ts))
        q.processAllAvailable()
        assert(spark.table("ndxalerts").isEmpty,
          "alerted against a ledger entry that does not exist yet")
        // the nightly grow runs in a SECOND application: a fresh session
        // whose inserts invalidate its OWN caches, not the stream's
        val nightly = spark.newSession()
        Dedup.growNearDupLedger(
          nightly.range(21, 22).select(
            org.apache.spark.sql.functions.col("id").as("doc_id"),
            org.apache.spark.sql.functions.lit(grown).as("text")),
          "sndx_test")
        // the completion signal fires the documented remedy on the
        // STREAMING session
        Streaming.refreshNearDupLedger(spark, "sndx_test")
        // next batch: a fresh near-dup of the grown doc must now alert
        in.addData((11L, nearGrown, ts))
        q.processAllAvailable()
        val got = spark.table("ndxalerts").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        assert(got.toSet == Set((11L, 21L)),
          s"cross-application growth not visible after refresh: ${got.toSeq}")
      } finally q.stop()
    } finally {
      Seq("sndx_test_bands", "sndx_test_sets").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }

  test("streaming duplicate-scene alerts replay the batch m08 pairs from the scene ledger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Multimodal
    // stub demuxer with a sentinel edge: an empty payload is the
    // undecodable-upload stand-in (FrameSig(id, −1, 0, −1))
    val demux: (Long, Array[Byte]) => Iterator[Multimodal.FrameSig] =
      (id, p) =>
        if (p.isEmpty) Iterator.single(Multimodal.FrameSig(id, -1, 0, -1L))
        else Multimodal.frameSigStub(100)(id, p)
    val shotA = Array.fill(300)(50.toByte)
    val shotB = Array.fill(200)(200.toByte)
    val shotC = Array.fill(300)(120.toByte)
    // the nightly ledger: one reference video (shots A+B) and one
    // corrupt upload whose sentinel signature must never alert
    val ledgerDocs = Seq((2L, shotA ++ shotB), (6L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val ledgerPath = tmpDir("scene-ledger")
    Multimodal.sceneSignaturesOf(
      Multimodal.frameSigsWith(ledgerDocs, demux), theta = 3L)
      .write.mode("overwrite").parquet(ledgerPath)
    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val out = Streaming.streamingDuplicateScenes(spark,
      in.toDF().toDF("doc_id", "payload", "ts"), ledgerPath, theta = 3L,
      tsCol = "ts", watermark = "10 seconds", demux = demux)
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("scenealerts").start()
    try {
      val ts = Timestamp.valueOf("2026-01-01 00:00:00")
      // doc 1 re-posts shot B verbatim; doc 3 shares nothing; doc 5 is
      // a corrupt upload (sentinel signature — matches the ledger's
      // corrupt row ONLY if the cb=0 filter were missing)
      in.addData((1L, shotB ++ shotC, ts),
        (3L, Array.fill(100)(7.toByte), ts),
        (5L, Array.empty[Byte], ts))
      q.processAllAvailable()
      // at-least-once source: re-delivery must not repeat the alert
      in.addData((1L, shotB ++ shotC, ts))
      q.processAllAvailable()
      val got = spark.table("scenealerts").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(got.toSeq == Seq((1L, 2L, 2L, 200L)),
        s"exactly one alert, once (shot B: nf=2, cb=200): ${got.toSeq}")
      // batch parity: the same arrivals' scene signatures equi-joined
      // against the same ledger rows give exactly the alerted pairs
      val arrivals = Seq((1L, shotB ++ shotC),
        (3L, Array.fill(100)(7.toByte)),
        (5L, Array.empty[Byte])).toDF("doc_id", "payload")
      val batch = Multimodal.sceneSignaturesOf(
        Multimodal.frameSigsWith(arrivals, demux), theta = 3L)
        .where(col("cb") > 0)
        .join(spark.read.parquet(ledgerPath)
          .where(col("cb") > 0)
          .select(col("doc_id").as("idb"), col("nf"), col("cb"),
            col("ssum")), Seq("nf", "cb", "ssum"))
        .select("doc_id", "idb").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.map(x => (x._1, x._2)).toSet == batch,
        s"stream ${got.toSeq} != batch $batch")
    } finally q.stop()
  }
}
