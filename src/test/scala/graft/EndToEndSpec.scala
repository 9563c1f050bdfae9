package graft

import org.apache.spark.sql.functions._
import graft.canonical.Canonical
import graft.ops.{Diff, Load, Sync, VerifyOps}
import graft.sources.Tables

/** The minimum end-to-end slice (SURVEY.md §7.2), replaying the reference
  * integration suite's arc (integration_test.clj:60-122) offline.
  *
  * NOTE: the keyed source is `orders` (o_orderkey is unique in the
  * testdata); lineitem's nominal composite PK (l_orderkey, l_linenumber) is
  * NOT unique in the synthetic data (4599 distinct keys / 6000 rows at
  * sf0.001), so it can't stand in for a PK-keyed JDBC table. */
class EndToEndSpec extends SparkSpec {

  val source = SourceDef("graft", "main", "orders", Seq("o_orderkey"))

  test("load → diff empty → mutate → sync → delete → tombstone → verify") {
    val store = emuStore("e2e")
    val orders = Tables.t(spark, sf, "orders")
    val k0 = orders.agg(min("o_orderkey")).head().getLong(0)

    // 1. initial snapshot load (ref integration_test.clj:60-73)
    val sent = Load.load(orders, source, store)
    assert(sent == orders.count())

    // golden message shape: canonical JSON key
    val st0 = store.topicState(Seq(source.topic))
    assert(st0.where(col("key") === s"""{"o_orderkey":$k0}""").count() == 1)

    // 2. diff after load is empty (ref integration_test.clj:75-83)
    val d0 = Diff.diff(Canonical.messages(orders, source), st0)
    assert(Diff.isEmpty(d0))

    // 3. mutate one row in the "table" → diff flags exactly it as differs,
    //    sync sends exactly 1 upsert (ref integration_test.clj:85-100)
    val mutated = orders.withColumn("o_totalprice",
      when(col("o_orderkey") === k0, lit(99999.0)).otherwise(col("o_totalprice")))
    val d1 = Diff.diff(Canonical.messages(mutated, source),
      store.topicState(Seq(source.topic)))
    assert(d1.where(col(Diff.Side) === "differs").count() == 1)
    assert(Sync.syncFromDiff(d1, store) == 1)
    assert(Diff.isEmpty(Diff.diff(Canonical.messages(mutated, source),
      store.topicState(Seq(source.topic)))))

    // 4. delete one row from the "table" → topic-only → 1 tombstone; key
    //    absent from compacted state after sync (ref integration_test.clj:114-122)
    val deleted = mutated.where(col("o_orderkey") =!= k0)
    val d2 = Diff.diff(Canonical.messages(deleted, source),
      store.topicState(Seq(source.topic)))
    assert(d2.where(col(Diff.Side) === "topic-only").count() == 1)
    assert(Sync.syncFromDiff(d2, store) == 1)
    val state = store.topicState(Seq(source.topic))
    assert(state.where(col("key") === s"""{"o_orderkey":$k0}""").isEmpty)
    assert(state.count() == deleted.count())

    // 5. verify returns matches=true (ref integration_test.clj:105-112)
    val r = VerifyOps.verifySync(deleted, source, store)
    assert(r.matches && !r.synced)
  }

  test("verify-sync repairs a drifted topic (sync path, ref melt.clj:548-571)") {
    val store = emuStore("e2e2")
    val orders = Tables.t(spark, sf, "orders").where(col("o_orderkey") < 100)
    Load.load(orders.where(col("o_orderkey") >= 50), source, store)
    val r = VerifyOps.verifySync(orders, source, store)
    assert(r.matches && r.synced && r.syncCount > 0)
  }

  test("keyless source: whole value as key (ref integration_test.clj:158-184)") {
    val store = emuStore("e2e3")
    val region = Tables.t(spark, sf, "region")
    val src = SourceDef("graft", "main", "region", Seq.empty)
    Load.load(region, src, store)
    val state = store.topicState(Seq(src.topic))
    assert(state.count() == region.count())
    assert(Diff.isEmpty(Diff.diff(Canonical.messages(region, src), state)))
  }

  test("keyless duplicates: sync sends one upsert for the new row key and one tombstone") {
    import spark.implicits._
    val store = emuStore("e2e6")
    val src = SourceDef("graft", "main", "pairs", Seq.empty)
    val before = Seq((1L, "a"), (1L, "a")).toDF("id", "name")
    assert(Load.load(before, src, store) == 2)
    // both identical rows change the same way: one whole-row key replaces
    // another, as in the reference's keyed map diff (melt.clj:418-429)
    val after = Seq((1L, "b"), (1L, "b")).toDF("id", "name")
    val d = Diff.diff(Canonical.messages(after, src), store.read(Seq(src.topic)))
    assert(d.groupBy(Diff.Side).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("table-only" -> 1L, "topic-only" -> 1L))
    assert(Sync.sync(after, src, store) == 2)
    val newKey = Canonical.messages(after.limit(1), src).head().getString(1)
    assert(store.topicState(Seq(src.topic)).collect().map(_.getString(1))
      .toSeq == Seq(newKey))
    assert(VerifyOps.verify(after, src, store) == ((true, 1)))
  }

  test("empty table: diff empty both sides (ref integration_test.clj:81-83 t_empty)") {
    val orders = Tables.t(spark, sf, "orders").where(lit(false))
    val d = Diff.diff(Canonical.messages(orders, source),
      Canonical.messages(orders, source).limit(0))
    assert(Diff.isEmpty(d))
  }

  test("last-write-wins compaction honors offset order within a key") {
    import spark.implicits._
    val store = emuStore("e2e4")
    val v1 = Seq(("t", """{"id":1}""", """{"id":1,"v":"old"}""")).toDF("topic", "key", "value")
    val v2 = Seq(("t", """{"id":1}""", """{"id":1,"v":"new"}""")).toDF("topic", "key", "value")
    store.send(v1); store.send(v2)
    val st = store.topicState(Seq("t"))
    assert(st.count() == 1)
    assert(st.head().getString(2).contains("new"))
    // tombstone removes the key entirely
    val v3 = Seq(("t", """{"id":1}""", null.asInstanceOf[String])).toDF("topic", "key", "value")
    store.send(v3)
    assert(store.topicState(Seq("t")).isEmpty)
  }

  test("incremental readFrom returns only post-offset records (ref melt.clj:518-523)") {
    import spark.implicits._
    val store = emuStore("e2e5")
    store.send(Seq(("t", """{"id":1}""", "a")).toDF("topic", "key", "value"))
    val cursor = store.endOffsets(Seq("t"))
    store.send(Seq(("t", """{"id":2}""", "b")).toDF("topic", "key", "value"))
    val inc = store.readFrom(Seq("t"), cursor)
    assert(inc.count() == 1 && inc.head().getString(2) == "b")
  }
}
