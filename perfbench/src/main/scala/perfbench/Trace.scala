package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Span and counter recorder for the traced run.
  *
  * Spans are opened only by benchmark code, around calls into a layer's
  * public functions. The open span's id travels to Spark as a job-local
  * property, so the [[JobListener]] can charge every job, stage and task to
  * the span that launched it. When tracing is off every call is a plain
  * pass-through and no listener is registered.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  import Trace._

  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentHashMap[String, DoubleAdder]()
  private val samples = new ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[Double]]()
  private val current = new ThreadLocal[Span]()
  @volatile private var sc: SparkContext = _
  private var listener: JobListener = _

  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    listener = new JobListener
    sc.addSparkListener(listener)
  }

  /** Time `f` as a span named `name`, nested under the thread's open span. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val parent = current.get()
      val s = new Span(nextId.incrementAndGet(), name,
        if (parent == null) 0L else parent.id, System.nanoTime())
      current.set(s)
      val prevProp = if (sc == null) null else sc.getLocalProperty(SpanProp)
      if (sc != null) sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        spans.add(s)
        current.set(parent)
        if (sc != null) sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  def count(name: String, v: Long): Unit = count(name, v.toDouble)

  def sample(name: String, v: Double): Unit =
    if (enabled) samples.computeIfAbsent(name,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[Double]()).add(v)

  /** Streaming progress of every query, when tracing. */
  def streamingListener(): Option[StreamingQueryListener] =
    if (!enabled) None
    else Some(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          count("cdc.batches", 1)
          sample("cdc.rows_per_batch", p.numInputRows.toDouble)
          val d = p.durationMs.asScala
          d.get("triggerExecution").foreach(v => sample("cdc.batch_ms", v.doubleValue))
          d.get("latestOffset").foreach(v => sample("cdc.latest_offset_ms", v.doubleValue))
          d.get("queryPlanning").foreach(v => sample("cdc.query_planning_ms", v.doubleValue))
          d.get("walCommit").foreach(v => sample("cdc.wal_commit_ms", v.doubleValue))
          d.get("addBatch").foreach(v => sample("cdc.add_batch_ms", v.doubleValue))
        }
      }
    })

  /** Write spans (with the Spark work charged to each), counts and samples
    * as JSON lines. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    if (sc != null) {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val out = new java.io.PrintWriter(
      java.nio.file.Files.newBufferedWriter(path))
    try {
      spans.asScala.toSeq.sortBy(_.id).foreach { s =>
        val w = if (listener == null) Work() else listener.work(s.id)
        out.println(
          s"""{"type":"span","run":"$runId","id":${s.id},"parent":${s.parent},""" +
            s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
            s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
            s""""task_time_ms":${w.taskTimeMs},"shuffle_bytes":${w.shuffleBytes},""" +
            s""""spill_bytes":${w.spillBytes}}""")
      }
      counts.asScala.toSeq.sortBy(_._1).foreach { case (k, v) =>
        out.println(s"""{"type":"count","run":"$runId","name":"$k","value":${v.sum}}""")
      }
      samples.asScala.toSeq.sortBy(_._1).foreach { case (k, q) =>
        out.println(s"""{"type":"samples","run":"$runId","name":"$k","values":""" +
          q.asScala.mkString("[", ",", "]") + "}")
      }
    } finally out.close()
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final class Span(val id: Long, val name: String, val parent: Long,
      val start: Long) { @volatile var end: Long = 0L }

  final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
      taskTimeMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0)

  /** Charges jobs, stages and task metrics to the span id carried in the
    * job's local properties. */
  final class JobListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val acc = new ConcurrentHashMap[Long, Array[Long]]()

    private def add(span: Long, i: Int, v: Long): Unit =
      acc.computeIfAbsent(span, _ => new Array[Long](6)).synchronized {
        acc.get(span)(i) += v
      }

    private def spanOf(props: java.util.Properties): Option[Long] =
      Option(props).flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        add(s, 0, 1)
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        add(s, 1, 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        add(s, 2, 1)
        val m = e.taskMetrics
        if (m != null) {
          add(s, 3, m.executorRunTime)
          add(s, 4, m.shuffleWriteMetrics.bytesWritten)
          add(s, 5, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    def work(span: Long): Work = Option(acc.get(span)).map(a =>
      Work(a(0), a(1), a(2), a(3), a(4), a(5))).getOrElse(Work())
  }
}
