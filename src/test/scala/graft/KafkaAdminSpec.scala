package graft

import graft.store.{KafkaAdmin, KafkaStore, ReflectiveKafkaAdmin}

/** AdminClient-backed Kafka metadata (ref melt.clj:239-254, 301-305): the
  * admin is the store's only source of topics, partitions and end offsets,
  * so offset/topic discovery reads ZERO records — no broker exists here,
  * so any record read would throw, and a passing test IS the zero-record
  * proof. Without a provider every metadata call refuses loudly. */
class KafkaAdminSpec extends SparkSpec {

  private final class FakeAdmin extends KafkaAdmin {
    var offsetCalls = 0
    var closed = false
    override def close(): Unit = closed = true
    override def listTopics(): Seq[String] = Seq("a", "b")
    override def partitionsOf(topics: Seq[String]): Map[String, Seq[Int]] =
      topics.map(_ -> Seq(0, 1)).toMap
    override def endOffsets(topics: Seq[String]): Map[(String, Int), Long] = {
      offsetCalls += 1
      // Kafka semantics: next-offset-to-write; partition ("a",1) is empty
      Map(("a", 0) -> 42L, ("a", 1) -> 0L, ("b", 0) -> 1L, ("b", 1) -> 7L)
    }
  }

  private def store(admin: KafkaAdmin) =
    new KafkaStore(spark, "unreachable:9092", adminOverride = Some(admin))

  test("endOffsets converts next-offset to record cursor, drops empty partitions") {
    val fake = new FakeAdmin
    val cursor = store(fake).endOffsets(Seq("a", "b"))
    // 0 must be DROPPED (cursor -1 would mean "latest" in Spark's JSON)
    assert(cursor == Map(("a", 0) -> 41L, ("b", 0) -> 0L, ("b", 1) -> 6L))
    assert(fake.offsetCalls == 1)
  }

  test("listTopics delegates to the admin; without one it refuses loudly") {
    assert(store(new FakeAdmin).listTopics() == Seq("a", "b"))
    val bare = new KafkaStore(spark, "unreachable:9092")
    intercept[UnsupportedOperationException] { bare.listTopics() }
  }

  test("an admin-less store refuses every metadata call loudly") {
    // no kafka-clients and no injected provider: end offsets and an
    // incremental read fail naming the missing client; neither scans the log
    val bare = new KafkaStore(spark, "unreachable:9092")
    val errors = Seq(
      intercept[UnsupportedOperationException](bare.endOffsets(Seq("a"))),
      intercept[UnsupportedOperationException](
        bare.readFrom(Seq("a"), Map(("a", 0) -> 1L))))
    errors.foreach(e => assert(e.getMessage.contains("kafka-clients"), e.getMessage))
  }

  test("admin-discovered partition map enables the per-offset readFrom path") {
    // the specific-offsets JSON the store would hand Spark, built from the
    // admin's partition discovery + the converted cursor
    val fake = new FakeAdmin
    val s = store(fake)
    val json = graft.store.MessageStore.startingOffsetsJson(
      Seq("a", "b"), s.endOffsets(Seq("a", "b")),
      fake.partitionsOf(Seq("a", "b")))
    // observed partitions resume after the cursor; the empty one at earliest
    assert(json == """{"a":{"0":42,"1":-2},"b":{"0":1,"1":7}}""")
  }

  test("close releases an injected admin even if metadata was never touched") {
    // ownership transfers at construction — an injected provider must not
    // leak because the caller happened to only send/read
    val fake = new FakeAdmin
    store(fake).close()
    assert(fake.closed)
  }

  test("reflective loader degrades to None on this offline classpath") {
    // kafka-clients is absent here by construction; on a real cluster the
    // same call yields Some, the store's one metadata source
    assert(ReflectiveKafkaAdmin.load("unreachable:9092").isEmpty)
  }
}
