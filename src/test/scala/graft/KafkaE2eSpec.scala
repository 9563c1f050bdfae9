package graft

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.functions._
import graft.ops.Mirror
import graft.sources.Jdbc
import graft.store.KafkaStore
import graft.store.kafkaemu.{EmuBroker, EmuKafkaAdmin}

/** The reference's broker-backed integration arc (ref
  * integration/jdbc/melt/integration_test.clj:60-122: load → golden
  * read-back → empty diff → mutate → sync sends exactly 1 upsert + 1
  * tombstone → verify converges), executed through the REAL
  * [[graft.store.KafkaStore]] — its `.format(...)` read AND write branches,
  * offset-JSON incremental path, and admin-backed metadata — against the
  * in-JVM `kafka-emu` broker stand-in (no Kafka bytes exist in this
  * environment; see EmuBroker's scaladoc). Live embedded Derby is the
  * source DB, planned with discovery, samples and a schema snapshot. */
class KafkaE2eSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:kafkae2edb;create=true"
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

  test("load → read-back → diff → sync → verify through KafkaStore on the emulated broker") {
    val store = emuStore("ke2e")

    // 1. plan (discovery + snapshot + samples) + initial load via the real
    //    kafkaWrite branch
    val plan = Mirror.plan(spark, conn, url, props, tmpDir("ke2e-samples"),
      s"${tmpDir("ke2e")}/schema.txt")
    assert(plan.drift.isEmpty)
    val acct = plan.tables.find(_.source.name.equalsIgnoreCase("accounts")).get
    assert(acct.source.keys == Seq("id"))
    assert(plan.samples.exists(_.toLowerCase.contains("accounts")))
    val counts = Mirror.loadAll(spark, url, props, Seq(acct), store)
    assert(counts(acct.source.topic) == 3)
    val topic = acct.source.topic

    // 2. golden read-back through the kafka-emu batch scan: compacted state
    //    has one message per row, canonical values carry the row fields
    val state0 = store.topicState(Seq(topic))
    assert(state0.count() == 3)
    assert(state0.where(col("value").contains("ada")).count() == 1)

    // 3. admin-backed metadata: topic listed; zero-record end offsets
    //    account for every record sent
    assert(store.listTopics().contains(topic))
    val cursor0 = store.endOffsets(Seq(topic))
    assert(cursor0.values.map(_ + 1).sum == 3) // dense offsets from 0
    assert(cursor0.keys.forall(_._1 == topic))

    // 4. empty diff: verify matches without repairing
    def rows = Jdbc.readSource(spark, url, props, acct.source)
    val v0 = Mirror.verifySync(rows, acct.source, store)
    assert(v0.matches && !v0.synced)

    // 5. mutate + delete → sync repairs with exactly 1 upsert + 1 tombstone
    val st = conn.createStatement()
    st.execute("UPDATE accounts SET bal = 99.0 WHERE id = 1")
    st.execute("DELETE FROM accounts WHERE id = 3")
    st.close()
    val v1 = Mirror.verifySync(rows, acct.source, store)
    assert(v1.matches && v1.synced && v1.syncCount == 2)

    // 6. incremental read past the pre-sync cursor starts at the
    //    specific-offsets JSON built from the admin's partition map and
    //    sees exactly the 2 repair records
    val delta = store.readFrom(Seq(topic), cursor0)
    assert(delta.count() == 2)
    assert(delta.where(col("value").isNull).count() == 1) // the tombstone

    // 7. compacted state reflects the repair; key → partition pinning held
    //    (per-key max-offset compaction is only sound if a key never moves)
    val state1 = store.topicState(Seq(topic))
    assert(state1.count() == 2)
    assert(state1.where(col("value").contains("99.0")).count() == 1)
    val keyParts = store.read(Seq(topic))
      .groupBy("key").agg(countDistinct("partition").as("nparts"))
    assert(keyParts.where(col("nparts") > 1).count() == 0)

    // 8. live read with a catch-up pass composes over the same store
    val live = store.topicStateLive(Seq(topic), catchUpPasses = 1)
    assert(live.count() == 2)
    store.close()
  }

  test("kafka-emu honors the connector's offsets-JSON contract") {
    val bs = "emu://contract:9092"
    EmuBroker.reset(bs)
    EmuBroker.cluster(bs).create("t", 2)
    // keys chosen to land on both partitions under murmur2
    val msgs = (0 until 8).map(i => ("t", s"k$i", s"v$i"))
    import spark.implicits._
    msgs.toDF("topic", "key", "value")
      .selectExpr("topic", "CAST(key AS BINARY) AS key",
        "CAST(value AS BINARY) AS value")
      .write.format("kafka-emu").mode("append")
      .option("kafka.bootstrap.servers", bs).save()

    def read(start: String) = spark.read.format("kafka-emu")
      .option("kafka.bootstrap.servers", bs)
      .option("subscribe", "t")
      .option("startingOffsets", start)
      .option("endingOffsets", "latest").load()

    assert(read("earliest").count() == 8)
    assert(read("latest").count() == 0)
    // read schema matches the kafka source column-for-column
    assert(read("earliest").schema.fieldNames.toSeq == Seq("key", "value",
      "topic", "partition", "offset", "timestamp", "timestampType"))

    // per-partition JSON with sentinels: -2 earliest on p0, skip 1 on p1
    val ends = new EmuKafkaAdmin(bs).endOffsets(Seq("t"))
    val n1 = ends(("t", 1))
    val skipped = read("""{"t":{"0":-2,"1":1}}""").count()
    assert(skipped == 8 - math.min(1, n1))

    // omitting a partition must throw, exactly like the real source —
    // why KafkaStore.readFrom lists every partition the admin declares
    val e = intercept[IllegalArgumentException](read("""{"t":{"0":0}}""").count())
    assert(e.getMessage.contains("omits partition"))

    // reading a topic that does not exist auto-creates it empty
    assert(spark.read.format("kafka-emu")
      .option("kafka.bootstrap.servers", bs)
      .option("subscribe", "fresh").load().count() == 0)
  }

  test("kafka.* options pass through KafkaStore to the format verbatim") {
    // The divergence ledger's residual risk cap (KafkaEmuProvider
    // scaladoc): the emu can't exercise auth/tuning options, so pin the
    // only thing the engine is responsible for — that whatever the caller
    // hands KafkaStore reaches the chosen format UNTOUCHED, reads and
    // writes both. A swallowed kafka.ssl.* option in this layer would
    // surface as an unreproducible production auth failure.
    import org.apache.spark.sql.functions.lit
    val bs = "emu://passthrough:9092"
    EmuBroker.reset(bs)
    val extra = Map(
      "kafka.security.protocol" -> "SASL_SSL",
      "kafka.sasl.mechanism" -> "SCRAM-SHA-512",
      "kafka.max.request.size" -> "5242880")
    val store = new KafkaStore(spark, bs, extraOpts = extra,
      adminOverride = Some(new EmuKafkaAdmin(bs)), format = "kafka-emu")
    import spark.implicits._
    store.send(Seq(("ptop", "k1", "v1")).toDF("topic", "key", "value"))
    store.read(Seq("ptop")).count()
    val c = EmuBroker.cluster(bs)
    for ((k, v) <- extra) {
      assert(c.lastWriteOptions.get(k.toLowerCase).contains(v),
        s"write dropped/rewrote $k: ${c.lastWriteOptions}")
      assert(c.lastReadOptions.get(k.toLowerCase).contains(v),
        s"read dropped/rewrote $k: ${c.lastReadOptions}")
    }
    // the store's own contract options ride along, not instead
    assert(c.lastWriteOptions.get("kafka.acks").contains("all"))
    assert(c.lastReadOptions.get("startingoffsets").contains("earliest"))
    assert(c.lastReadOptions.get("kafka.bootstrap.servers").contains(bs))
  }

  test("a failed KafkaStore.send leaves the caller's frame uncached") {
    // send caches nothing: a write that throws (here: a format that does
    // not exist, standing in for a broker error inside a CDC foreachBatch)
    // leaves the frame as it was handed over
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val store = new KafkaStore(spark, "emu://nowhere:9092",
      adminOverride = Some(new EmuKafkaAdmin("emu://nowhere:9092")),
      format = "graft-no-such-format")
    val messages = Seq(("t", "k1", "v1")).toDF("topic", "key", "value")
    intercept[Exception](store.send(messages))
    assert(messages.storageLevel == StorageLevel.NONE)
  }

  test("KafkaStore.send keeps a cache the caller made") {
    // send neither caches nor releases the frame: the caller's own cache
    // outlives the send
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val store = emuStore("cached")
    val messages = Seq(("t", "k1", "v1")).toDF("topic", "key", "value").persist()
    try {
      assert(messages.count() == 1)
      assert(store.send(messages) == 1)
      assert(messages.storageLevel != StorageLevel.NONE)
      assert(store.read(Seq("t")).count() == 1)
    } finally messages.unpersist()
  }

  test("a KafkaStore.send is one write and caches nothing") {
    // send counts its rows inside the write itself: it launches no job the
    // plain write of the same frame does not, and persists nothing, not
    // even while it runs (a probe in the rows lists the persisted RDDs).
    // Jobs are counted per probe by tag (SparkSpec.jobStartsByTag).
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val sc = spark.sparkContext
    val bs = s"emu://onewrite-${java.util.UUID.randomUUID()}:9092"
    EmuBroker.reset(bs)
    val store = new KafkaStore(spark, bs,
      adminOverride = Some(new EmuKafkaAdmin(bs)), format = "kafka-emu")
    val before = sc.getPersistentRDDs.keySet.toSet
    KafkaE2eSpec.sc = sc
    KafkaE2eSpec.persisted.clear()
    val probe = udf { (v: String) =>
      KafkaE2eSpec.persisted.addAll(
        (KafkaE2eSpec.sc.getPersistentRDDs.keySet -- before).asJava); v
    }.asNondeterministic()
    val frame = sc.parallelize((0 until 400).map(i => ("t", s"k$i", s"v$i")), 4)
      .toDF("topic", "key", "value").withColumn("value", probe(col("value")))
    var sent = -1L
    val jobs = jobStartsByTag { tagged =>
      tagged("plain") {
        frame.selectExpr("topic", "CAST(key AS BINARY) AS key",
          "CAST(value AS BINARY) AS value")
          .write.format("kafka-emu").mode("append")
          .option("kafka.bootstrap.servers", bs).save()
      }
      tagged("send") { sent = store.send(frame) }
    }
    val plain = jobs.getOrElse("plain", Nil).size
    val viaSend = jobs.getOrElse("send", Nil).size
    assert(plain >= 1, "the listener saw no job of the plain write")
    assert(sent == 400)
    assert(viaSend <= plain, s"send ran $viaSend jobs, the plain write $plain")
    assert(KafkaE2eSpec.persisted.isEmpty,
      s"persisted during the send: ${KafkaE2eSpec.persisted}")
    assert(sc.getPersistentRDDs.keySet.toSet == before)
    assert(store.read(Seq("t")).count() == 800)
  }

  test("murmur2 matches published reference vectors (key pinning is real-Kafka compatible)") {
    // MurmurHash2 test vectors computed from the public algorithm: the
    // same values Kafka's partitioner produces for these keys. Pinning a
    // key to murmur2(bytes) % n means an emu-written topic re-read by a
    // real consumer preserves per-key partition locality.
    def m2(s: String): Int = EmuBroker.murmur2(s.getBytes("UTF-8"))
    // raw hash values (exercise empty/1..3-byte tails and the 4-byte loop)
    assert(m2("") == 275646681)
    assert(m2("a") == -1563381124)
    assert(m2("ab") == 316155434)
    assert(m2("abc") == 479470107)
    assert(m2("123456789") == -1822237082)
    assert(m2("21") == -973932308)
    // the partitioner form (murmur2 & 0x7fffffff) % 1000, as a consumer
    // of a 1000-partition topic would observe it
    def part(s: String): Int = (m2(s) & 0x7fffffff) % 1000
    assert(part("") == 681 && part("a") == 524 && part("ab") == 434 &&
      part("abc") == 107 && part("123456789") == 566)
  }
}

object KafkaE2eSpec {
  /** Read by a probe UDF on local executor threads (same JVM). */
  @volatile var sc: org.apache.spark.SparkContext = _
  val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}
