package perfbench

import org.apache.spark.sql.SparkSession
import graft.store.kafkaemu.EmuBroker

/** Shows the correctness gates are not vacuous: each passes on honest
  * output and fails after one deliberate corruption. Exits non-zero on the
  * first surprise. `run.py --selftest` adds the metric-emission checks. */
object SelfTest {
  def run(spark: SparkSession, args: Main.Args): Unit = {
    val a = args.copy(small = true)
    val trace = new Trace(false, "selftest")
    mirrorGate(spark, a, trace)
    queriesGate(spark, a, trace)
    System.err.println("[selftest] gates: ok")
  }

  private def expect(what: String, cond: Boolean): Unit =
    if (!cond) {
      System.err.println(s"[selftest] FAILED: $what")
      sys.exit(1)
    }

  /** One lifecycle at sf0.001; the final-state gate holds, then fails on
    * a copy of the cluster with one message removed. */
  private def mirrorGate(spark: SparkSession, a: Main.Args, trace: Trace): Unit = {
    val w = new MirrorWorkload(spark, a, trace, new Heap)
    val (live, _) = w.prepare()
    val store = new Store(spark, "emu://selftest:9092", trace)
    val copy = new Store(spark, "emu://selftest-copy:9092", trace)
    val conn = Derby.create("mirror")
    try {
      expect("mirror lifecycle passes its gates", w.cycleOn(store.store, live))
      expect("mirror final-state gate holds", w.stateMatches(store.store, conn))
      val from = EmuBroker.cluster(store.bootstrap)
      val to = EmuBroker.cluster(copy.bootstrap)
      val victim = "melt.APP.REGION"
      from.topicNames.foreach { t =>
        val parts = from.topic(t)
        to.create(t, parts.length)
        parts.indices.foreach { p =>
          parts(p).slice(0, parts(p).end).foreach { case (off, rec) =>
            val dropped = t == victim && off == 0 && p == parts.indexWhere(_.end > 0)
            if (!dropped) to.topic(t)(p).append(rec)
          }
        }
      }
      expect("one message removed fails the mirror gate",
        !w.stateMatches(copy.store, conn))
    } finally {
      store.close(); copy.close(); conn.close(); Derby.drop("mirror")
    }
  }

  /** A query matches its golden; the same result against an altered
    * golden fails the queries gate. */
  private def queriesGate(spark: SparkSession, a: Main.Args, trace: Trace): Unit = {
    val w = new QueriesWorkload(spark, a, trace, new Heap)
    val golden = Golden.read(w.goldenPath)
    val dir = a.work.resolve("inputs-selftest")
    w.stage(dir)
    val q = QueriesWorkload.Subset.head
    expect(s"$q matches its golden",
      w.runQuery(q, dir.toString, golden, record = false).isDefined)
    val g = golden(q)
    val altered = golden.updated(q, g.copy(hash = g.hash.add(java.math.BigDecimal.ONE)))
    expect(s"an altered golden fails the $q gate",
      w.runQuery(q, dir.toString, altered, record = false).isEmpty)
  }
}
