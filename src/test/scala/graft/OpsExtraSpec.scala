package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import graft.canonical.Canonical
import graft.ops.{Diff, Load, Sample, VerifyOps}
import graft.sources.Tables

/** O22 sampling, O12 read-twice, incremental verify state, the shape of a
  * mirror check, and the SQL function surface. */
class OpsExtraSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  import spark.implicits._

  test("O22 sample-db writes count + top-n per table (ref melt.clj:153-174)") {
    val dir = tmpDir("samples")
    val region = Tables.t(spark, sf, "region").orderBy("r_regionkey")
    val paths = Sample.writeSamples(Seq("region" -> region), dir, n = 3)
    val content = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(paths.head)), "UTF-8")
    val lines = content.split("\n")
    assert(lines(0) == s"count: ${region.count()}")
    assert(lines(1).contains("r_regionkey"))
    assert(lines.length == 2 + math.min(3, region.count()).toInt)
  }

  test("O12 topicStateLive equals topicState on a quiescent topic") {
    val store = emuStore("live")
    store.send(Seq(("t", "k1", "v1"), ("t", "k2", "v2"), ("t", "k1", "v3"))
      .toDF("topic", "key", "value"))
    val a = store.topicState(Seq("t")).orderBy("key").collect().toSeq
    val b = store.topicStateLive(Seq("t")).orderBy("key").collect().toSeq
    assert(a == b && a.size == 2)
  }

  /** A store where traffic lands DURING reads: each read/readFrom pass is
    * materialized, then the next pending record arrives — the live-topic
    * race topicStateLive's catch-up passes and verify's retries exist for
    * (ref melt.clj:342-357, 518-546). */
  private final class LiveTrafficStore(inner: graft.store.MessageStore,
      pending: scala.collection.mutable.Queue[Seq[(String, String, String)]])
      extends graft.store.MessageStore {
    private def afterRead(df: org.apache.spark.sql.DataFrame) = {
      val snapshot = df.localCheckpoint() // pin this pass's view NOW
      if (pending.nonEmpty) inner.send(pending.dequeue()
        .toDF("topic", "key", "value"))
      snapshot
    }
    override def send(m: org.apache.spark.sql.DataFrame): Long = inner.send(m)
    override def read(topics: Seq[String]) = afterRead(inner.read(topics))
    override def readFrom(topics: Seq[String], after: Map[(String, Int), Long]) =
      afterRead(inner.readFrom(topics, after))
    override def listTopics(): Seq[String] = inner.listTopics()
    override def endOffsets(topics: Seq[String]) = inner.endOffsets(topics)
  }

  test("O12 N catch-up passes each absorb one round of in-flight traffic") {
    def scenario(passes: Int): Map[String, String] = {
      val inner = emuStore(s"liveN$passes")
      inner.send(Seq(("t", "k1", "v1")).toDF("topic", "key", "value"))
      val store = new LiveTrafficStore(inner, scala.collection.mutable.Queue(
        Seq(("t", "k2", "v2")),   // lands during the initial read
        Seq(("t", "k1", "v1b")))) // lands during the first catch-up
      store.topicStateLive(Seq("t"), catchUpPasses = passes)
        .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    }
    // N=0: plain snapshot — sees only what was there before the read
    assert(scenario(0) == Map("k1" -> "v1"))
    // N=1 (the default read-twice): catches the record that landed during
    // the initial read, but not the one landing during the catch-up itself
    assert(scenario(1) == Map("k1" -> "v1", "k2" -> "v2"))
    // N=2: the second catch-up absorbs the overwrite that landed during the
    // first — last-write-wins holds across passes
    assert(scenario(2) == Map("k1" -> "v1b", "k2" -> "v2"))
  }

  test("fresh store reads as an empty topic: first sync/verify bootstraps") {
    val store = emuStore("fresh")
    assert(store.read(Seq("t")).isEmpty)
    assert(store.topicState(Seq("t")).isEmpty)
    assert(store.endOffsets(Seq("t")).isEmpty)
    // the bootstrap arc: sync against the empty store loads everything
    val orders = graft.sources.Tables.t(spark, sf, "orders")
      .where(col("o_orderkey") < 50)
    val src = SourceDef("graft", "main", "orders", Seq("o_orderkey"))
    val sent = graft.ops.Sync.sync(orders, src, store)
    assert(sent == orders.count())
    assert(graft.ops.VerifyOps.verify(orders, src, store)._1)
  }

  test("a keyed send pins each key to one partition (last-write-wins precondition)") {
    val store = emuStore("pin")
    // three sends of the same key — offsets must land on ONE partition so
    // per-key order = offset order (SURVEY §7.4 #2)
    (1 to 3).foreach { i =>
      store.send(Seq(("t", """{"id":7}""", s"v$i")).toDF("topic", "key", "value"))
    }
    val parts = store.read(Seq("t")).select("partition").distinct().count()
    assert(parts == 1)
    val st = store.topicState(Seq("t")).collect()
    assert(st.length == 1 && st(0).getString(2) == "v3")
  }

  test("verify retries through the incremental state until in-flight records land") {
    val src = SourceDef("graft", "main", "t", Seq("id"))
    val rows = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    def scenario(retries: Int): (Boolean, Int) = {
      val inner = emuStore(s"verify$retries")
      Load.load(rows.where(col("id") === 1), src, inner)
      // row 2's message is in flight: it lands once the first read is taken
      val inFlight = Canonical.messages(rows.where(col("id") === 2), src)
        .as[(String, String, String)].collect().toSeq
      val store = new LiveTrafficStore(inner,
        scala.collection.mutable.Queue(inFlight))
      VerifyOps.verify(rows, src, store, retries = retries, delayMs = 0)
    }
    // no retry: the first read misses the in-flight record
    assert(scenario(0) == ((false, 1)))
    // one retry: the incremental state (admin-backed end-offset cursor,
    // then a full read) sees it
    assert(scenario(1) == ((true, 2)))
  }

  test("incremental state stays correct across three refresh rounds") {
    val store = emuStore("inc3")
    val inc = new graft.store.IncrementalTopicState(store, Seq("t"))
    store.send(Seq(("t", "a", "1")).toDF("topic", "key", "value"))
    inc.refresh()
    store.send(Seq(("t", "b", "1"), ("t", "a", "2")).toDF("topic", "key", "value"))
    inc.refresh()
    store.send(Seq(("t", "b", null.asInstanceOf[String])).toDF("topic", "key", "value"))
    inc.refresh()
    val live = inc.live().collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(live == Map("a" -> "2"))
    inc.close()
  }

  test("incremental topic state merges deltas without full re-read") {
    val store = emuStore("inc")
    store.send(Seq(("t", "k1", "v1"), ("t", "k2", "v2")).toDF("topic", "key", "value"))
    val inc = new graft.store.IncrementalTopicState(store, Seq("t"))
    assert(inc.live().count() == 2)
    // new upsert + a tombstone for k2 arrive after the first read
    store.send(Seq(("t", "k1", "v1b"), ("t", "k2", null.asInstanceOf[String]))
      .toDF("topic", "key", "value"))
    inc.refresh()
    val state = inc.live().collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(state == Map("k1" -> "v1b"))
    inc.close()
  }

  test("a topic the admin did not declare is picked up on the next refresh") {
    val store = emuStore("undeclared")
    store.send(Seq(("a", "k1", "v1")).toDF("topic", "key", "value"))
    assert(!store.listTopics().contains("b")) // b holds no records yet
    val inc = new graft.store.IncrementalTopicState(store, Seq("a", "b"))
    inc.refresh()
    // past a non-empty cursor, a topic the admin does not declare is left
    // out of the subscription; with none declared the read is the full log
    val cursor = store.endOffsets(Seq("a"))
    assert(store.readFrom(Seq("a", "never"), cursor).count() == 0)
    assert(store.readFrom(Seq("never"), cursor).count() == 0)
    store.send(Seq(("b", "k2", "v2"), ("a", "k1", "v1b")).toDF("topic", "key", "value"))
    inc.refresh()
    val live = inc.live().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(live == Map(("a", "k1") -> "v1b", ("b", "k2") -> "v2"))
    inc.close()
  }

  test("the incremental reader keeps one pin and frees every superseded state") {
    val store = emuStore("pins")
    store.send(Seq(("t", "k1", "v1"), ("t", "k2", "v2")).toDF("topic", "key", "value"))
    val sc = spark.sparkContext
    def pinnedSince(before: Set[Int]) = sc.getPersistentRDDs.keySet.toSet -- before
    // O12: three refreshes, and only the returned state stays pinned
    val before = sc.getPersistentRDDs.keySet.toSet
    val live = store.topicStateLive(Seq("t"), catchUpPasses = 2)
    val pinned = pinnedSince(before)
    assert(pinned.size == 1, s"pinned after topicStateLive: $pinned")
    val leaves = live.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }
    assert(leaves.toSet == pinned)
    assert(live.count() == 2)
    // verify retries: three refreshes and a close leave nothing pinned
    val beforeRetries = sc.getPersistentRDDs.keySet.toSet
    val inc = new graft.store.IncrementalTopicState(store, Seq("t"))
    (1 to 3).foreach { i =>
      store.send(Seq(("t", "k1", s"v1.$i")).toDF("topic", "key", "value"))
      inc.refresh()
    }
    inc.close()
    assert(pinnedSince(beforeRetries).isEmpty)
  }

  test("loadAll sums the counts of sources that share a topic") {
    val store = emuStore("shared")
    val a = SourceDef("graft", "main", "a", Seq("id"), Some("shared"))
    val b = a.copy(name = "b")
    val c = SourceDef("graft", "main", "c", Seq("id"))
    val sent = Load.loadAll(Seq(
      a -> Seq((1L, "x"), (2L, "y")).toDF("id", "v"),
      b -> Seq((3L, "z")).toDF("id", "v"),
      c -> Seq((1L, "w")).toDF("id", "v")), store)
    assert(sent == Map("shared" -> 3L, c.topic -> 1L))
    assert(store.read(Seq("shared")).count() == 3)
  }

  test("verify and verifySync reject a negative retries or delayMs") {
    val store = emuStore("neg")
    val src = SourceDef("graft", "main", "t", Seq("id"))
    val rows = Seq((1L, "x")).toDF("id", "v")
    val r = intercept[IllegalArgumentException](
      VerifyOps.verify(rows, src, store, retries = -1))
    assert(r.getMessage.contains("retries must be >= 0: -1"))
    val d = intercept[IllegalArgumentException](
      VerifyOps.verify(rows, src, store, retries = 1, delayMs = -5))
    assert(d.getMessage.contains("delayMs must be >= 0: -5"))
    intercept[IllegalArgumentException](
      VerifyOps.verifySync(rows, src, store, retries = -1))
    // rejected before any attempt, so verifySync did not sync
    assert(store.read(Seq(src.topic)).isEmpty)
  }

  test("a mirror check diffs the raw log in one (topic, key) shuffle and caches nothing") {
    val store = emuStore("shape")
    val src = SourceDef("graft", "main", "t", Seq("id"))
    val rows = (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v")
    Load.load(rows, src, store)
    Load.load(rows.where(col("id") <= 5), src, store) // repeated keys
    val d = Diff.diff(Canonical.messages(rows, src), store.read(Seq(src.topic)))
    assert(d.where(col(Diff.Side) =!= "match").isEmpty)
    d.collect()
    val exchanges = collect(d.queryExecution.executedPlan) { case e: Exchange => e }
    assert(exchanges.size == 1, exchanges.mkString("\n"))
    exchanges.head match {
      case ShuffleExchangeExec(h: HashPartitioning, _, _, _) =>
        assert(h.expressions.flatMap(_.references.map(_.name)) ==
          Seq("topic", "key"), h)
      case e => fail(s"not a hash shuffle on (topic, key): $e")
    }
    // retries = 0 persists no topic state: a probe in the table's rows
    // lists the persisted RDDs while each attempt's diff runs
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    OpsExtraSpec.sc = sc
    OpsExtraSpec.added.clear()
    val probe = udf { (v: String) =>
      OpsExtraSpec.added.addAll(
        (OpsExtraSpec.sc.getPersistentRDDs.keySet -- before).asJava); v
    }.asNondeterministic()
    val probed = rows.withColumn("v", probe(col("v")))
    assert(VerifyOps.verify(probed, src, store) == ((true, 1)))
    assert(VerifyOps.verifySync(probed, src, store).matches)
    assert(OpsExtraSpec.added.isEmpty,
      s"persisted during verify: ${OpsExtraSpec.added}")
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("Kafka startingOffsets JSON covers every partition (cursor + earliest)") {
    val json = graft.store.MessageStore.startingOffsetsJson(
      topics = Seq("a", "b"),
      after = Map(("a", 0) -> 41L, ("a", 2) -> 9L),
      partitionsOf = Map("a" -> Seq(2, 0, 1), "b" -> Seq(0)))
    // observed partitions resume AFTER the cursor; unobserved start earliest
    assert(json == """{"a":{"0":42,"1":-2,"2":10},"b":{"0":-2}}""")
    // a partition seen by the cursor but absent from the declared map (topic
    // repartitioned after the store was built) must not be dropped
    val grown = graft.store.MessageStore.startingOffsetsJson(
      topics = Seq("a"),
      after = Map(("a", 0) -> 1L, ("a", 5) -> 7L),
      partitionsOf = Map("a" -> Seq(0)))
    assert(grown == """{"a":{"0":2,"5":8}}""")
  }

  test("array_dot_long is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT array_dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .head().getLong(0)
    assert(r == 32L)
  }

  test("nfc_normalize is callable from SQL after registration") {
    GraftExtensions.register(spark)
    // 'e' + U+0301 combining acute must compose to U+00E9
    val r = spark.sql("SELECT nfc_normalize('cafe\\u0301') AS s")
      .head().getString(0)
    assert(r == "caf\u00e9")
  }

  test("kmv_min_k aggregates from SQL; below saturation held = distinct") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT kmv_min_k(xxhash64(CAST(id % 10 AS STRING)), 64) AS s " +
        "FROM range(1000)").head().getStruct(0)
    assert(r.getInt(0) == 10 && r.isNullAt(1)) // 10 distinct < k, kth null
  }
}

object OpsExtraSpec {
  /** Read by a probe UDF on local executor threads (same JVM). */
  @volatile var sc: org.apache.spark.SparkContext = _
  val added = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
}
