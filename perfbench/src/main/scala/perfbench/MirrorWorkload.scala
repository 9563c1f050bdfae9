package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Materialize, SourceDef}
import graft.canonical.Canonical
import graft.ops.{Diff, Mirror, VerifyOps}
import graft.sources.Jdbc
import graft.store.{KafkaStore, MessageStore}
import graft.store.kafkaemu.{EmuBroker, EmuKafkaAdmin}

/** `mirror_sf0.01`: the melt lifecycle over the eight seeded relational
  * tables in embedded Derby, into `KafkaStore` on a fresh emulated cluster
  * per cycle. A cycle is discover → load → clean verify → seeded drift →
  * sync → final verify; cycles repeat until the run's seconds are spent.
  * Each op is one table's lifecycle: its load, verify, sync and final
  * verify calls. */
final class MirrorWorkload(spark: SparkSession, a: Main.Args, trace: Trace,
    heap: Heap) {
  import MirrorWorkload._

  private val tables = Derby.tables(if (a.small) SmallSf else Sf)
  private val url = Derby.url("mirror")
  private val props = Derby.props

  def run(): Main.Outcome = {
    val (live, setups) = prepare()
    val conn = Derby.create("mirror")
    val ops = new Ops
    val cycles = collection.mutable.ArrayBuffer[Double]()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var cycle = 0
    var store: Store = null
    try {
      // a traced run measures exactly one cycle, so its totals are per cycle
      while (cycle == 0 || (!trace.enabled && System.nanoTime() < deadline)) {
        if (store != null) store.close()
        store = new Store(spark, s"emu://mirror-${a.seed}-$cycle:9092", trace)
        val t = lifecycle(conn, store.store, live, new Random(a.seed * 7919 + cycle), ops)
        System.err.println(s"[perfbench] mirror cycle $cycle: ${t.fold("failed")(x => f"$x%.2f s")}")
        cycles ++= t
        heap.sample()
        cycle += 1
      }
      trace.count("mirror.cycles", cycle)
      if (trace.enabled) probes(store.store, conn)
      ops.check("final topic state equals the tables")(stateMatches(store.store, conn))
    } finally {
      if (store != null) store.close()
      conn.close()
      Derby.drop("mirror")
    }
    Main.Outcome(ops.attempted, ops.failed, ops.latMs.toSeq,
      cycles.toSeq, setups)
  }

  /** Seed the database three times (set-up is timed as a median); returns
    * the live keys of the last seeding and each seeding's seconds. */
  private[perfbench] def prepare(): (Map[String, collection.mutable.ArrayBuffer[Seq[Any]]], Seq[Double]) = {
    val setups = (1 to 3).map { _ =>
      Derby.drop("mirror")
      trace.span("setup") { Stats.timed {
        val c = Derby.create("mirror")
        try Derby.seed(c, tables, a.seed) finally c.close()
      } }
    }
    (setups.last._1, setups.map(_._2))
  }

  /** One lifecycle cycle on `store`; false if any op failed. */
  private[perfbench] def cycleOn(store: MessageStore,
      live: Map[String, collection.mutable.ArrayBuffer[Seq[Any]]]): Boolean = {
    val conn = Derby.create("mirror")
    try lifecycle(conn, store, live, new Random(a.seed), new Ops).isDefined
    finally conn.close()
  }

  /** The final gate: every table's compacted topic equals the table. */
  private[perfbench] def stateMatches(store: MessageStore, conn: java.sql.Connection): Boolean =
    tables.forall(t => topicMatchesTable(store, source(t.name, t.keys), conn, t.name))

  private def source(name: String, keys: Seq[String]) =
    SourceDef("perfbench", "APP", name, keys.map(_.toLowerCase))

  private def rows(s: SourceDef): DataFrame = Jdbc.readSource(spark, url, props, s)

  /** One cycle; its wall time (sum of op times) when every op passed. */
  private def lifecycle(conn: java.sql.Connection, store: MessageStore,
      live: Map[String, collection.mutable.ArrayBuffer[Seq[Any]]], r: Random,
      ops: Ops): Option[Double] = {
    // one op per table (its whole lifecycle) plus discover ("")
    val seconds = collection.mutable.LinkedHashMap[String, Double]()
    val passed = collection.mutable.Map[String, Boolean]()
    def call(name: String, table: String)(f: => Boolean): Unit = {
      val (ok, s) = Stats.timed(ops.gate(s"$name $table")(trace.span(name)(f)))
      seconds(table) = seconds.getOrElse(table, 0.0) + s
      passed(table) = passed.getOrElse(table, true) && ok
    }
    var defs: Seq[Jdbc.TableDef] = Nil
    call("jdbc.discover", "") { defs = Jdbc.discover(conn); defs.size == tables.size }
    val byName = defs.map(d => d.source.name -> d).toMap
    def src(name: String) = byName.get(name).map(_.source)
      .getOrElse(source(name, Nil))
    tables.foreach { t =>
      call("ops.load", t.name) {
        val sent = Mirror.loadAll(spark, url, props, byName.get(t.name).toSeq, store)
        trace.count("ops.load_rows", sent.values.sum)
        sent.values.sum == live(t.name).size && src(t.name).keys.size == t.keys.size
      }
    }
    tables.foreach { t =>
      call("ops.verify", t.name) {
        val (ok, attempts) = VerifyOps.verify(rows(src(t.name)), src(t.name), store)
        trace.count("ops.verify_attempts", attempts)
        ok && attempts == 1
      }
    }
    val expected = trace.span("mirror.drift") { drift(conn, live, r) }
    tables.foreach { t =>
      call("ops.sync", t.name) {
        val sent = Mirror.sync(rows(src(t.name)), src(t.name), store)
        trace.count("ops.sync_sent", sent)
        trace.count("ops.sync_expected", expected(t.name))
        sent == expected(t.name)
      }
    }
    tables.foreach { t =>
      call("ops.verify_sync", t.name) {
        val res = Mirror.verifySync(rows(src(t.name)), src(t.name), store)
        trace.count("ops.verify_attempts", res.attempts)
        res.matches && !res.synced
      }
    }
    seconds.foreach { case (table, s) => ops.record(passed(table), s) }
    if (passed.values.forall(identity)) Some(seconds.values.sum) else None
  }

  /** Update and delete ≈0.1% of each table's rows, keys drawn from the
    * seed. Returns the records sync must send per table: one per updated
    * or deleted key, and two per updated keyless row (its old whole-row
    * key is tombstoned, its new one upserted). */
  private def drift(conn: java.sql.Connection,
      live: Map[String, collection.mutable.ArrayBuffer[Seq[Any]]],
      r: Random): Map[String, Long] = tables.map { t =>
    val keys = live(t.name)
    val n = keys.size / 1000 // 0 for the five-row and 25-row tables
    if (n > 0) {
      val picked = r.shuffle(keys.indices.toVector).take(2 * n)
      val where = (if (t.keys.nonEmpty) t.keys else t.locator)
        .map(k => s"$k = ?").mkString(" AND ")
      def run(sql: String, idx: Seq[Int]): Unit = {
        val ps = conn.prepareStatement(sql)
        try idx.foreach { i =>
          keys(i).zipWithIndex.foreach { case (v, j) => ps.setObject(j + 1, v) }
          ps.addBatch()
        } finally { ps.executeBatch(); ps.close() }
      }
      run(s"UPDATE ${t.name} SET ${t.driftCol} = ${t.driftCol} + 1 WHERE $where",
        picked.take(n))
      val deleted = picked.drop(n)
      run(s"DELETE FROM ${t.name} WHERE $where", deleted)
      deleted.sorted.reverse.foreach(keys.remove)
    }
    t.name -> (if (t.keys.nonEmpty) 2L * n else 3L * n)
  }.toMap

  /** Collect both sides to the driver and compare key → value maps. */
  private def topicMatchesTable(store: MessageStore, s: SourceDef,
      conn: java.sql.Connection, table: String): Boolean = {
    def asMap(df: DataFrame) = df.select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val topic = asMap(store.topicState(Seq(s.topic)))
    val tbl = asMap(Canonical.messages(rows(s), s))
    topic == tbl && tbl.size == Derby.count(conn, table)
  }

  /** Traced run only: each layer's share measured on its own, after the
    * timed cycles so they are not perturbed. */
  private def probes(store: MessageStore, conn: java.sql.Connection): Unit =
    tables.foreach { t =>
      val s = source(t.name, t.keys)
      trace.span("jdbc.scan") {
        rows(s).write.format("noop").mode("overwrite").save()
      }
      trace.count("jdbc.scan_rows", Derby.count(conn, t.name))
      val pinned = Materialize.pin(rows(s))
      trace.span("canonical.encode") {
        Canonical.messages(pinned, s).write.format("noop").mode("overwrite").save()
      }
      trace.count("canonical.bytes", Canonical.messages(pinned, s)
        .agg(sum(octet_length(col("key")) + octet_length(col("value")))).head().getLong(0))
      Materialize.unpin(pinned)
      trace.span("store.compact") {
        MessageStore.compact(store.read(Seq(s.topic)))
          .write.format("noop").mode("overwrite").save()
      }
      trace.count("store.records_scanned", store.read(Seq(s.topic)).count())
      trace.count("store.live_keys", store.topicState(Seq(s.topic)).count())
      trace.span("ops.diff") {
        Diff.isEmpty(Diff.diff(Canonical.messages(rows(s), s),
          store.topicState(Seq(s.topic))))
      }
    }
}

object MirrorWorkload {
  val Name = "mirror_sf0.01"
  val Sf = 0.01
  /** Self-test scale. */
  val SmallSf = 0.001
}

/** Op accounting shared by the workloads: a failed op is counted and never
  * timed as a success. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val latMs = collection.mutable.ArrayBuffer[Double]()

  def record(ok: Boolean, seconds: Double): Unit = {
    attempted += 1
    if (ok) latMs += seconds * 1000 else failed += 1
  }

  /** A correctness check that counts as an op without a latency. */
  def check(what: String)(f: => Boolean): Unit = {
    attempted += 1
    if (!gate(what)(f)) failed += 1
  }

  /** Run a correctness check; an exception is a failed check. */
  def gate(what: String)(f: => Boolean): Boolean = {
    val ok = try f catch { case e: Exception =>
      System.err.println(s"[perfbench] $what: $e"); false }
    if (!ok) System.err.println(s"[perfbench] gate failed: $what")
    ok
  }
}

/** A fresh emulated Kafka cluster and the production `KafkaStore` over it,
  * wrapped so every store call is traced. */
final class Store(spark: SparkSession, val bootstrap: String, trace: Trace) {
  EmuBroker.reset(bootstrap)
  private val kafka = new KafkaStore(spark, bootstrap,
    adminOverride = Some(new EmuKafkaAdmin(bootstrap)), format = "kafka-emu")
  val store: MessageStore = new TracedStore(kafka, trace)

  def close(): Unit = { kafka.close(); EmuBroker.reset(bootstrap) }
}

/** Delegating store: spans around writes and offset lookups, counts of
  * every call. Installed from outside; the library is unchanged. */
final class TracedStore(inner: MessageStore, trace: Trace) extends MessageStore {
  override def send(messages: DataFrame): Long = trace.span("store.send") {
    val n = inner.send(messages)
    trace.count("store.send_calls", 1)
    trace.count("store.records_written", n)
    n
  }
  override def read(topics: Seq[String]): DataFrame = {
    trace.count("store.read_calls", 1)
    inner.read(topics)
  }
  override def readFrom(topics: Seq[String], after: Map[(String, Int), Long]): DataFrame = {
    trace.count("store.read_calls", 1)
    inner.readFrom(topics, after)
  }
  override def listTopics(): Seq[String] = inner.listTopics()
  override def endOffsets(topics: Seq[String]): Map[(String, Int), Long] =
    trace.span("store.end_offsets") {
      trace.count("store.end_offsets_calls", 1)
      inner.endOffsets(topics)
    }
}
