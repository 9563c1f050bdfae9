package perfbench

import java.sql.Connection
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.SourceDef
import graft.canonical.Canonical
import graft.cdc.WatermarkVersionedFeed
import graft.cdc.stream.CdcFeedRegistry
import graft.cdc.stream.CdcFeedRegistry.VersionedFeed
import graft.examples.CdcToKafkaExample
import graft.sources.Jdbc
import graft.store.kafkaemu.EmuBroker

/** `cdc_2k`: a 20k-key Derby table with a monotone `SEQ` watermark,
  * streamed by `CdcToKafkaExample` into `KafkaStore` on the emulated
  * cluster.
  *
  * Phase A: after an unmeasured warm-up at the same rate, an open-loop
  * generator on one JDBC connection commits 2000 changes/s for the run's
  * seconds on a fixed schedule (half Zipf-skewed updates, half inserts),
  * each stamped with its due time; an op is one delivered record, its
  * latency the broker append time minus that due time.
  * Phase B (repeated): stop the query, commit a fixed backlog, restart from
  * the checkpoint and time restart-to-drained; that time is the unit. */
final class CdcWorkload(spark: SparkSession, a: Main.Args, trace: Trace,
    heap: Heap) {
  import CdcWorkload._

  private val url = Derby.url("cdc")
  private val source = SourceDef("perfbench", "APP", "CDC_ITEMS", Seq("id"))
  private val bootstrap = s"emu://cdc-${a.seed}:9092"
  private val ckpt = a.work.resolve("cdc-checkpoint").toString
  private val feedName = s"perfbench-cdc-${a.seed}"
  private val keys = if (a.small) Keys / 10 else Keys
  private val backlog = if (a.small) Backlog / 10 else Backlog
  private val drainReps = if (a.small) 1 else DrainReps
  private lazy val kafka = new Store(spark, bootstrap, trace)

  private val t0 = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] cdc ${(System.nanoTime() - t0) / 1e9}%.2f s: $what")

  def run(): Main.Outcome = {
    val setups = (1 to 3).map { _ =>
      Derby.drop("cdc")
      trace.span("setup") { Stats.timed(seedTable())._2 }
    }
    val listener = trace.streamingListener()
    listener.foreach(spark.streams.addListener)
    val conn = Derby.create("cdc")
    val gen = new Generator(conn, new Random(a.seed))
    val feed = new TracedFeed(new WatermarkVersionedFeed(url, Derby.props,
      "APP", "CDC_ITEMS", "SEQ", Seq("ID", "NAME", "VAL", "DUE_MS", "SEQ")), trace)
    CdcFeedRegistry.register(feedName, feed)
    val ops = new Ops
    val drains = collection.mutable.ArrayBuffer[Double]()
    try {
      val b = trace.span("cdc.bootstrap") {
        CdcToKafkaExample.bootstrap(spark, url, Derby.props, source, feed, kafka.store)
      }
      ops.check("bootstrap snapshots every key")(b.snapshotCount == keys)
      mark("bootstrapped")
      // phase A: open-loop changes against the running stream, after an
      // unmeasured warm-up at the same rate
      var q = start(b.fromVersion)
      gen.openLoop(RatePerS, if (a.small) 1.0 else WarmupS)
      q.processAllAvailable()
      heap.sample()
      val phaseA = math.max(2.0, a.seconds.toDouble)
      mark("warmed up")
      val (changes, late) = gen.openLoop(RatePerS, phaseA)
      q.processAllAvailable()
      mark("phase A drained")
      late.foreach(trace.sample("cdc.gen_late_ms", _))
      val lags = phaseALags(gen.phaseAStartMs)
      lags.foreach(l => ops.record(ok = true, l / 1000.0))
      trace.count("cdc.phase_a_changes", changes)
      trace.count("cdc.phase_a_records", lags.size)
      heap.sample()
      // phase B: backlog while down, then restart and drain
      (1 to drainReps).foreach { _ =>
        q.stop()
        gen.backlog(backlog)
        mark("backlog committed")
        val (next, s) = Stats.timed {
          val n = start(b.fromVersion)
          n.processAllAvailable()
          n
        }
        q = next
        drains += s
        trace.sample("cdc.catchup_rows_per_s", backlog / s)
      }
      q.stop()
      mark("phase B done")
      heap.sample()
      ops.check("mirrored state equals the table") { mirroredEqualsTable(conn) }
      mark("gate checked")
    } finally {
      spark.streams.active.foreach(_.stop())
      listener.foreach(spark.streams.removeListener)
      kafka.close()
      feed.close()
      conn.rollback()
      conn.close()
      Derby.drop("cdc")
    }
    Main.Outcome(ops.attempted, ops.failed,
      ops.latMs.toSeq, drains.toSeq, setups)
  }

  private def start(from: Long): StreamingQuery =
    CdcToKafkaExample.start(spark, feedName, source, kafka.store, ckpt, from)

  private def seedTable(): Unit = {
    val c = Derby.create("cdc")
    try {
      Derby.exec(c, "CREATE TABLE CDC_ITEMS (ID BIGINT PRIMARY KEY, " +
        "NAME VARCHAR(32), VAL DOUBLE, DUE_MS BIGINT, SEQ BIGINT)")
      c.setAutoCommit(false)
      val ps = c.prepareStatement("INSERT INTO CDC_ITEMS VALUES (?, ?, ?, 0, ?)")
      val r = new Random(a.seed)
      (1L to keys).foreach { id =>
        ps.setLong(1, id); ps.setString(2, s"item-$id")
        ps.setDouble(3, r.nextInt(100000) / 100.0); ps.setLong(4, id)
        ps.addBatch()
        if (id % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch(); ps.close(); c.commit()
    } finally c.close()
  }

  /** Lag of every record appended in phase A: broker append time minus
    * the due time of the change it carries. */
  private def phaseALags(fromMs: Long): Seq[Double] = {
    val due = "\"due_ms\":(\\d+)".r
    val parts = EmuBroker.cluster(bootstrap).topic(source.topic)
    parts.toSeq.flatMap { p =>
      p.slice(0, p.end).flatMap { case (_, rec) =>
        Option(rec.value).flatMap(v => due.findFirstMatchIn(new String(v, "UTF-8")))
          .map(_.group(1).toLong).filter(_ >= fromMs)
          .map(d => (rec.tsMs - d).toDouble)
      }
    }
  }

  /** Every key's latest committed change is on the topic, nothing else. */
  private def mirroredEqualsTable(conn: Connection): Boolean = {
    def asMap(df: org.apache.spark.sql.DataFrame) = df.select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val topic = asMap(CdcToKafkaExample.mirroredState(kafka.store, source))
    val table = asMap(Canonical.messages(
      Jdbc.readSource(spark, url, Derby.props, source), source))
    topic == table && table.size == Derby.count(conn, "CDC_ITEMS")
  }

  /** The load generator: one thread, one connection, seeded choices. */
  private final class Generator(conn: Connection, r: Random) {
    private var seq = keys
    private var nextId = keys + 1
    private val zipf = Zipf.cdf(keys.toInt, 1.1)
    private val upd = conn.prepareStatement(
      "UPDATE CDC_ITEMS SET NAME = ?, VAL = ?, DUE_MS = ?, SEQ = ? WHERE ID = ?")
    private val ins = conn.prepareStatement(
      "INSERT INTO CDC_ITEMS VALUES (?, ?, ?, ?, ?)")
    conn.setAutoCommit(false)
    var phaseAStartMs = 0L

    private def change(dueMs: Long): Unit = {
      seq += 1
      val v = r.nextInt(100000) / 100.0
      if (r.nextBoolean()) {
        val id = Zipf.sample(zipf, r) + 1L
        upd.setString(1, s"upd-$seq"); upd.setDouble(2, v)
        upd.setLong(3, dueMs); upd.setLong(4, seq); upd.setLong(5, id)
        upd.executeUpdate()
      } else {
        ins.setLong(1, nextId); ins.setString(2, s"ins-$seq"); ins.setDouble(3, v)
        ins.setLong(4, dueMs); ins.setLong(5, seq)
        ins.executeUpdate()
        nextId += 1
      }
    }

    /** Commit `rate` changes/s for `seconds`; each due change is committed
      * as soon as the generator reaches it. Returns the change count and
      * each change's lateness (commit time minus due time, ms). */
    def openLoop(rate: Int, seconds: Double): (Long, Seq[Double]) = {
      val total = (rate * seconds).toLong
      val intervalNs = 1e9 / rate
      val t0 = System.nanoTime()
      val wall0 = System.currentTimeMillis()
      phaseAStartMs = wall0
      val late = new collection.mutable.ArrayBuffer[Double](total.toInt)
      var i = 0L
      while (i < total) {
        val dueNs = t0 + (i * intervalNs).toLong
        val wait = dueNs - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        // everything already due goes into one transaction
        val upto = math.min(total, (System.nanoTime() - t0) / intervalNs.toLong + 1)
        val from = i
        while (i < math.max(upto, from + 1)) {
          change(wall0 + ((i * intervalNs) / 1e6).toLong)
          i += 1
        }
        conn.commit()
        val nowNs = System.nanoTime()
        (from until i).foreach(j => late += (nowNs - (t0 + (j * intervalNs).toLong)) / 1e6)
      }
      (total, late.toSeq)
    }

    /** Commit `n` changes as fast as possible (the stream is down). */
    def backlog(n: Int): Unit = {
      val now = System.currentTimeMillis()
      (1 to n).foreach { i =>
        change(now)
        if (i % 1000 == 0) conn.commit()
      }
      conn.commit()
    }
  }
}

object CdcWorkload {
  val Name = "cdc_2k"
  val Keys = 20000L
  /** Streaming at the phase A rate until micro-batch time has settled. */
  val WarmupS = 4.0
  val RatePerS = 2000
  val Backlog = 20000
  val DrainReps = 3
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
object Zipf {
  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(cdf: Array[Double], r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}

/** Delegating feed: time and rows spent fetching changes from the table.
  * Calls run on the feed's own thread: stopping a streaming query interrupts
  * its thread, and embedded Derby closes a connection whose thread is
  * interrupted mid-statement, which would fail the stop instead of ending
  * the query cleanly. */
final class TracedFeed(inner: VersionedFeed, trace: Trace) extends VersionedFeed {
  private val pool = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "perfbench-feed"); t.setDaemon(true); t
  }
  private def shielded[A](f: => A): A =
    pool.submit(new java.util.concurrent.Callable[A] { def call(): A = f }).get()

  override def schema: StructType = inner.schema
  override def currentVersion(): Long = shielded(inner.currentVersion())
  override def rows(fromExclusive: Long, toInclusive: Long): Iterator[Row] = {
    val (rs, s) = Stats.timed(shielded(inner.rows(fromExclusive, toInclusive).toVector))
    trace.count("cdc.feed_s", s)
    trace.count("cdc.feed_rows", rs.size)
    rs.iterator
  }

  def close(): Unit = pool.shutdown()
}
