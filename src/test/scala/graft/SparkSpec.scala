package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.store.KafkaStore
import graft.store.kafkaemu.{EmuBroker, EmuKafkaAdmin}

/** Shared local session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // 4 cores and 4 shuffle partitions whatever SPARK_GRAFT_CPUS says, so
    // plan-shape assertions see the same partitioning on every box
    val s = GraftSession.local(4)
    // Codegen compile failures must FAIL tests, not silently fall back to
    // interpreted execution (that's how the ArrayDot/ArrayIntersect
    // redefinition bug hid in round 1). Set as runtime conf so it applies
    // regardless of which suite created the shared session.
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A [[KafkaStore]] on its own empty `kafka-emu` cluster: a fresh
    * bootstrap per call isolates tests the way [[tmpDir]] does. */
  def emuStore(prefix: String): KafkaStore = {
    val bs = s"emu://$prefix-${java.util.UUID.randomUUID()}:9092"
    EmuBroker.reset(bs)
    new KafkaStore(spark, bs, adminOverride = Some(new EmuKafkaAdmin(bs)),
      format = "kafka-emu")
  }

  /** Runs `body`, handing it a [[JobTag]], and returns the start events of
    * the jobs each tag covered, in start order. A listener keyed on a
    * per-call local property sees them; after `body` a marker job drains
    * the listener bus (it delivers in order), so the map is complete when
    * it returns, without waiting out a quiet window. Untagged jobs (a
    * neighboring suite's, or the body's own outside a tag) are not
    * recorded. */
  def jobStartsByTag(body: JobTag => Unit)
      : Map[String, Seq[SparkListenerJobStart]] = {
    val sc = spark.sparkContext
    val tag = new JobTag(sc, s"graft.test.jobTag-${java.util.UUID.randomUUID()}")
    val marker = s"drain-${java.util.UUID.randomUUID()}"
    val starts = new ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(tag.key)))
          .foreach { t =>
            if (t == marker) drained.countDown() else starts.add(t -> j)
          }
    }
    sc.addSparkListener(listener)
    try {
      body(tag)
      tag(marker)(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    starts.asScala.toSeq.groupMap(_._1)(_._2)
  }

  /** Runs `body` with [[Materialize.pinLog]] on and returns its outcome
    * with the pins this thread took during it: all of them, and those
    * still persisted once at most `settleTo` remain (or 300 s pass).
    * Filtering the log to the calling thread (pins run on the operator's
    * calling thread) audits exactly the body's own pins while other
    * suites pin concurrently on the shared context — no allowance for
    * neighbors, and no `Bench.dropPins`, which would unpersist a
    * concurrent suite's live pins. The invariant is "eventually bounded":
    * unpins are non-blocking, so under concurrent suite load a freed pin
    * can linger; a quiet-window heuristic tripped on exactly that under
    * neighbor load (a 5 s window, then a 60 s edition, under parallel
    * suites and perf JVMs). So poll plainly to a hard deadline and exit
    * early once ≤ `settleTo` pins remain: a genuine leak never shrinks to
    * the floor and is still reported in full; only the failure path pays
    * the wait. */
  def pinsLeftBy[T](settleTo: Int)(body: => T): (Try[T], SparkSpec.Pins) = {
    val me = Thread.currentThread().getId
    val mark = SparkSpec.openPinLog()
    try {
      val out = Try(body)
      val taken = Materialize.pinLog.asScala.toSeq.drop(mark)
        .collect { case (t, id) if t == me => id }
      def live() = taken.filter(spark.sparkContext.getPersistentRDDs.keySet)
      val deadline = System.nanoTime() + 300000000000L
      var left = live()
      while (left.size > settleTo && System.nanoTime() < deadline) {
        Thread.sleep(100)
        left = live()
      }
      (out, SparkSpec.Pins(taken, left))
    } finally SparkSpec.closePinLog()
  }
}

object SparkSpec {
  /** The RDD ids of the pins a body took, and of those still live. */
  final case class Pins(taken: Seq[Int], live: Seq[Int])

  // the log is OFF in production (it would grow forever in a long-lived
  // job): on while any test audits, cleared when the last one finishes
  private var pinLogUsers = 0

  private def openPinLog(): Int = synchronized {
    if (pinLogUsers == 0) Materialize.pinLogEnabled.set(true)
    pinLogUsers += 1
    Materialize.pinLog.size()
  }

  private def closePinLog(): Unit = synchronized {
    pinLogUsers -= 1
    if (pinLogUsers == 0) {
      Materialize.pinLogEnabled.set(false)
      Materialize.pinLog.clear()
    }
  }
}

/** `tag(name) { block }`: every job `block` starts from the calling thread
  * carries `name` (see [[SparkSpec.jobStartsByTag]]). */
final class JobTag(sc: SparkContext, val key: String) {
  def apply[T](name: String)(block: => T): T = {
    sc.setLocalProperty(key, name)
    try block finally sc.setLocalProperty(key, null)
  }
}
