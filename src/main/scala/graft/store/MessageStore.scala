package graft.store

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.Msg

/** Topic-store abstraction (SURVEY.md §7.1 module io.kafka).
  *
  * The one impl is [[KafkaStore]]: Kafka via Spark's built-in source/sink
  * (`read/write.format("kafka")`). Tests and the offline environment run
  * the same class over the `kafka-emu` format and its in-JVM broker
  * ([[graft.store.kafkaemu.EmuBroker]]), which keeps Kafka's murmur2 key
  * partitioning, dense per-partition offsets and planning-time end-offset
  * snapshot (the reference's tests inject fake send-fns instead of a
  * producer, ref melt_test.clj:20-30).
  */
trait MessageStore {
  /** Append a message frame `(topic, key, value)`; returns records sent
    * (ref melt.clj:445-465 per-source load counts). */
  def send(messages: DataFrame): Long
  /** Full log for the topics: `(topic, key, value, partition, offset)`,
    * earliest→latest captured at read time (ref melt.clj:256-299 bounded
    * consumption to pre-captured end offsets — Spark's batch Kafka source
    * has the same planning-time snapshot semantics). */
  def read(topics: Seq[String]): DataFrame
  /** Incremental read: records strictly after the given per-(topic,partition)
    * offsets (ref melt.clj:278-279,518-523 incremental refresh). */
  def readFrom(topics: Seq[String], after: Map[(String, Int), Long]): DataFrame
  def listTopics(): Seq[String]

  /** Latest record per (topic, key), tombstones dropped — the compacted
    * topic state (ref melt.clj:307-323 merge-seq-entry / reduce-consumer-seq).
    *
    * Correct because a key is pinned to one partition (keyed producer), so
    * per-key order = offset order within that partition (SURVEY §7.4 #2).
    * One shuffle on (topic,key); map-side partial max_by keeps the shuffle
    * small at 100 TB — only one candidate row per key per input partition
    * crosses the wire.
    */
  def topicState(topics: Seq[String]): DataFrame =
    MessageStore.compact(read(topics))
      .where(col(Msg.Value).isNotNull)
      .select(Msg.Topic, Msg.Key, Msg.Value)

  /** O12 read-then-catch-up (ref melt.clj:342-357 read-topics-loop, whose
    * `retries` arg is `catchUpPasses` here): a long read means its planned
    * end offsets are stale on a live topic, so each of `catchUpPasses`
    * extra refreshes of one [[IncrementalTopicState]] catches what landed
    * during the previous one. Every refresh is materialized before the next
    * is planned; otherwise all reads resolve their end offsets at the same
    * action and later refreshes can never see anything new. The returned
    * live state is the one frame left pinned: the ContextCleaner frees it
    * once it is unreachable. `catchUpPasses = 0` degrades to a plain
    * materialized read. */
  def topicStateLive(topics: Seq[String], catchUpPasses: Int = 1): DataFrame = {
    require(catchUpPasses >= 0, s"catchUpPasses must be >= 0: $catchUpPasses")
    val reader = new IncrementalTopicState(this, topics)
    (0 to catchUpPasses).foreach(_ => reader.refresh())
    reader.live()
  }

  /** Current end offset per (topic, partition) — the incremental-read cursor. */
  def endOffsets(topics: Seq[String]): Map[(String, Int), Long]
}

object MessageStore {
  /** Latest record per (topic, key) INCLUDING tombstones (value null) — the
    * mergeable compacted form: unioning two compacted frames (or a compacted
    * frame with a raw increment) and re-compacting is associative because
    * the max offset per key is retained. */
  def compact(log: DataFrame): DataFrame =
    log.groupBy(Msg.Topic, Msg.Key)
      .agg(newest(col(Msg.Value)).as(Msg.Value),
        max(col(Msg.Offset)).as(Msg.Offset))

  /** The one last-write-wins rule, as an aggregate over a (topic, key)
    * group: the value of the highest-offset record, null if that record is
    * a tombstone. Rows with a null offset take no part. */
  def newest(value: Column): Column = max_by(value, col(Msg.Offset))

  /** Spark-Kafka `startingOffsets` JSON for "strictly after the cursor":
    * next offset for cursor partitions, earliest (-2) for partitions the
    * cursor hasn't observed. Spark REQUIRES every partition of every
    * subscribed topic to appear — hence the full partition map. */
  def startingOffsetsJson(topics: Seq[String],
      after: Map[(String, Int), Long],
      partitionsOf: Map[String, Seq[Int]]): String = {
    val byTopic = topics.map { t =>
      // declared partitions ∪ cursor partitions: a partition added to the
      // topic after partitionsOf was captured must not be dropped (the
      // cursor knows it), and a stale cursor must not shrink the map
      val parts = (partitionsOf.getOrElse(t, Seq.empty) ++
        after.keys.collect { case (`t`, p) => p }).distinct.sorted
      val entries = parts.map { p =>
        s""""$p":${after.get((t, p)).map(_ + 1).getOrElse(-2L)}"""
      }
      s""""$t":{${entries.mkString(",")}}"""
    }
    s"{${byTopic.mkString(",")}}"
  }
}

/** Incrementally refreshed compacted topic state (ref melt.clj:342-357
  * read-topics-loop and 518-523 verify refresh; SURVEY §7.4 #6): the one
  * reader behind O12 catch-up passes and verify retries. The first refresh
  * reads the whole log; each later one reads only the records past the
  * cursor and merges them in, so at scale a refresh costs |keys| + |delta|,
  * never another full topic scan. Each refresh's cursor is captured BEFORE
  * its read, so refreshes tile the log with (harmless) overlap: duplicate
  * offsets collapse in the compaction.
  *
  * One pin rule: each merged state is pinned ([[graft.Materialize.pin]],
  * eager), and the state it replaced is unpinned only once that pin has
  * materialized, because the merge reads it. At most one state stays
  * pinned, and [[close]] frees it: no superseded state waits for a driver
  * GC. */
final class IncrementalTopicState(store: MessageStore, topics: Seq[String]) {
  private var cursor: Map[(String, Int), Long] = Map.empty
  private var state: Option[DataFrame] = None

  /** Re-read what's new and return the current compacted state
    * (tombstones included — filter for consumers who need live keys). */
  def refresh(): DataFrame = {
    val nextCursor = store.endOffsets(topics)
    val log = state match {
      case None => store.read(topics)
      case Some(prev) =>
        prev.unionAll(store.readFrom(topics, cursor)
          .select(Msg.Topic, Msg.Key, Msg.Value, Msg.Offset))
    }
    val merged = graft.Materialize.pin(MessageStore.compact(log))
    state.foreach(graft.Materialize.unpin)
    state = Some(merged)
    cursor = nextCursor
    merged
  }

  def current(): DataFrame = state.getOrElse(refresh())

  def close(): Unit = { state.foreach(graft.Materialize.unpin); state = None }

  /** Live (non-tombstoned) view in the (topic, key, value) contract. */
  def live(): DataFrame = current()
    .where(col(Msg.Value).isNotNull)
    .select(Msg.Topic, Msg.Key, Msg.Value)
}

/** Production Kafka store — the Spark-native sink/source contract the message
  * frame is shaped for (`df.write.format("kafka")` takes topic/key/value
  * columns directly; serdes O24 of the reference drop out entirely).
  * Offline, the tests run this same class over the in-JVM `kafka-emu`
  * format. Kept thin by design: everything interesting (canonicalization,
  * compaction, diff) happens on DataFrames before/after this boundary.
  * Each member is one path: `send` is one counted write, and topics,
  * partitions and end offsets come only from the [[KafkaAdmin]]. */
final class KafkaStore(spark: SparkSession, bootstrap: String,
    extraOpts: Map[String, String] = Map.empty,
    /** Injected metadata provider (tests / custom clients). None → the
      * reflective AdminClient; with neither, every metadata call throws
      * UnsupportedOperationException. */
    adminOverride: Option[KafkaAdmin] = None,
    /** Spark data-source format carrying the Kafka option contract.
      * Production default is Spark's own connector; tests substitute
      * `kafka-emu` (graft.store.kafkaemu) so THIS class's read/write
      * branches execute end-to-end in the broker-less environment. */
    format: String = "kafka") extends MessageStore {

  @volatile private var adminCreated: Option[KafkaAdmin] = None
  private lazy val adminLoaded: Option[KafkaAdmin] = {
    val a = adminOverride.orElse(ReflectiveKafkaAdmin.load(bootstrap, extraOpts))
    adminCreated = a
    a
  }

  /** The one metadata source: the injected provider, else an AdminClient
    * when kafka-clients is on the classpath. */
  private def admin: KafkaAdmin = adminLoaded.getOrElse(
    throw new UnsupportedOperationException(
      "Kafka metadata (topics, partitions, end offsets) requires " +
        "kafka-clients (AdminClient) on the classpath or an injected KafkaAdmin"))

  /** Release the AdminClient's network thread/sockets. Injected providers
    * are closed unconditionally — the store took ownership at
    * construction; a reflective client is closed only if metadata was
    * actually touched (closing would otherwise have to CREATE one). */
  def close(): Unit = adminOverride.orElse(adminCreated).foreach(_.close())

  /** One write, counted by its own tasks: each row passes a counter on its
    * way to the sink, so the frame is neither cached nor scanned twice.
    * Spark applies a result task's accumulator update once, so a retried
    * task counts once, and the value is final when `save()` returns. A
    * failed write throws before the count is read. (A `Dataset.observe`
    * count is not used: Spark's `kafka` batch sink writes through
    * `queryExecution.toRdd`, which never completes the Observation.) */
  override def send(messages: DataFrame): Long = {
    val sent = spark.sparkContext.longAccumulator
    val records = messages.selectExpr(s"${Msg.Topic}",
      s"CAST(${Msg.Key} AS BINARY) AS key", s"CAST(${Msg.Value} AS BINARY) AS value")
    records
      .mapPartitions(rows => rows.map { r => sent.add(1); r })(
        Encoders.row(records.schema))
      .write.format(format)
      // a topic append is semantically Append; also required by the DSv2
      // write path (save()'s ErrorIfExists default is rejected there)
      .mode("append")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("kafka.acks", "all") // ref integration_test.clj:25 acks=all
      .options(extraOpts)
      .save()
    sent.value
  }

  private def kafkaRead(topics: Seq[String], startingOffsets: String): DataFrame =
    spark.read.format(format)
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", startingOffsets) // ref melt.clj:249-254
      .option("endingOffsets", "latest")          // ref melt.clj:264-276
      .options(extraOpts)
      .load()
      .select(col("topic").as(Msg.Topic),
        col("key").cast("string").as(Msg.Key),
        col("value").cast("string").as(Msg.Value),
        col("partition").as(Msg.Partition),
        col("offset").as(Msg.Offset))

  override def read(topics: Seq[String]): DataFrame =
    kafkaRead(topics, "earliest")

  /** Incremental read past the cursor (ref melt.clj:278-279): an empty
    * cursor reads the whole log; otherwise the read starts at the
    * per-partition offsets JSON built from the admin's partition map.
    * Spark's Kafka source rejects a JSON that omits any partition of a
    * subscribed topic, and the cursor cannot know still-empty partitions,
    * so every declared partition is listed (unknown ones start at
    * earliest, -2). A topic the admin does not declare holds no records
    * and is left out of the subscription. */
  override def readFrom(topics: Seq[String],
      after: Map[(String, Int), Long]): DataFrame =
    if (after.isEmpty) read(topics)
    else {
      val parts = admin.partitionsOf(topics)
      val declared = topics.filter(parts.contains)
      if (declared.isEmpty) read(topics)
      else kafkaRead(declared,
        MessageStore.startingOffsetsJson(declared, after, parts))
    }

  override def listTopics(): Seq[String] = admin.listTopics()

  /** Record cursor per (topic, partition): last written offset, empty
    * partitions absent. One driver-side admin call reading ZERO records
    * (Kafka reports next-offset-to-write; converted here — an entry of 0
    * means an empty partition and is dropped, not mapped to cursor −1,
    * which Spark's offset JSON would read as "latest"). */
  override def endOffsets(topics: Seq[String]): Map[(String, Int), Long] =
    admin.endOffsets(topics).collect { case (tp, next) if next > 0 => tp -> (next - 1) }
}
