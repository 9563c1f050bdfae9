package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge
import graft.{GraftSession, SparkEntry}

/** The engine's per-query profiler:
  * `runMain graft.tools.Perf <sfDir> [explain] [jobs] [reps=N] <query>...` —
  * times each named query (all if none given). A timed run is the query's
  * construction (its eager pins included) plus a `noop` write, which
  * computes every output column: `count()` lets the optimizer drop
  * columns that only ride outer joins, so it undercounts such queries
  * (ss17's audit arms). Timings and counters from a build that still timed
  * `df.count()` measure a different action — an A/B across the switch
  * compares different work. With `reps=N` (N ≥ 2) each
  * query gets one untimed warmup then N timed runs reported as
  * min/med/max — the reliable way to compare plan variants on this
  * machine, since separate bench JVMs swing ±15–20% under background
  * load while same-JVM repeats after warmup are stable.
  *
  * Every line ends with the execution-shape counters of the timed run
  * (with reps, the run closest to the median), accumulated by a
  * SparkListener: jobs launched, stages run, tasks run, summed task time,
  * shuffle MB written and rows read — so "7 s on 500 KB of parquet" can
  * be attributed to per-round job/stage overhead vs real compute instead
  * of guessed at. `jobs` also prints one line per job of every timed run
  * (wall ms, stage count, call site), so loop-shaped operators can be
  * attributed round by round. */
object Perf {

  /** Counters over one timed window; runs are driven synchronously, so one
    * run's tasks never overlap the next's. */
  private final class Counters(traceJobs: Boolean) extends SparkListener {
    @volatile var jobs, stages, tasks, taskTimeMs, shuffleWrite,
      recordsRead = 0L
    @volatile var tracing = false
    private val starts =
      scala.collection.concurrent.TrieMap[Int, (Long, String, Int)]()
    // SQL execution id → its action's call site ("count at Perf.scala:…",
    // "localCheckpoint at Materialize.scala:…"); AQE runs query stages as
    // separate jobs from a pool thread whose own call site says nothing
    private val sqlSites = scala.collection.concurrent.TrieMap[Long, String]()

    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0
      taskTimeMs = 0; shuffleWrite = 0; recordsRead = 0
    }

    def columns: String =
      f"jobs=$jobs stages=$stages tasks=$tasks ttime=${taskTimeMs / 1e3}%.1fs " +
        f"shufMB=${shuffleWrite / 1e6}%.1f rows=$recordsRead"

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      if (traceJobs && tracing) {
        val site = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => sqlSites.get(id.toLong)).getOrElse("?")
        starts(j.jobId) = (System.nanoTime(), site, j.stageInfos.size)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if traceJobs =>
        sqlSites(x.executionId) = x.description
      case _ =>
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      starts.remove(j.jobId).foreach { case (t0, site, nst) =>
        println(f"  job ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms" +
          f"  stages=$nst%2d  $site")
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rest = args.drop(1)
    val explain = rest.contains("explain")
    val reps = rest.collectFirst { case s if s.startsWith("reps=") =>
      s.stripPrefix("reps=").toInt }.getOrElse(1)
    require(reps >= 1, s"reps must be >= 1: $reps")
    val names = rest.filterNot(s =>
      s == "explain" || s == "jobs" || s.startsWith("reps="))
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters(traceJobs = rest.contains("jobs"))
    spark.sparkContext.addSparkListener(counters)
    // one timed window: counters reset before, read once the listener bus
    // has delivered every event of the run
    def timed[T](body: => T): (Double, T, String) = {
      Bridge.drainListeners(spark.sparkContext)
      counters.reset()
      counters.tracing = true
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      Bridge.drainListeners(spark.sparkContext)
      counters.tracing = false
      (dt, r, counters.columns)
    }
    // one run: build the frame, then write it to `noop`; the row count
    // rides the write as an observed metric
    def run(name: String): (DataFrame, Long) = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      (df, obs.get("n").asInstanceOf[Long])
    }
    val todo = if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names.toSeq
    todo.foreach { name =>
      require(SparkEntry.queries.contains(name), s"unknown query $name")
      // with reps, this first run is the warmup (codegen, file listing)
      val (dt, (df, n), cols) = timed(run(name))
      if (explain) { println(s"==== $name"); df.explain("formatted") }
      graft.Bench.dropPins(spark)
      if (reps == 1) println(f"$name%-22s $dt%8.2f s  ($n rows)  $cols")
      else {
        val runs = (1 to reps).map { _ =>
          val (dt, _, cols) = timed(run(name))
          // free the rep's checkpoint blocks so rep N doesn't pay rep
          // N-1's storage pressure (see Bench.dropPins)
          graft.Bench.dropPins(spark)
          (dt, cols)
        }
        val times = runs.map(_._1)
        // true median: average the two middle elements for even rep
        // counts (sorted(reps/2) alone reports the MAX at reps=2)
        val sorted = times.sorted
        val med = if (reps % 2 == 1) sorted(reps / 2)
          else (sorted(reps / 2 - 1) + sorted(reps / 2)) / 2.0
        // counters of the median-closest rep (any rep: identical plan,
        // identical counts except for speculative noise)
        val cols = runs.minBy { case (dt, _) => math.abs(dt - med) }._2
        // raw vector IN EXECUTION ORDER: same-JVM rep GROWTH (rep1 ≪ repN)
        // is a different diagnosis (state surviving dropPins) than random
        // spread (load), and min/med/max can't distinguish them
        println(f"$name%-22s min=${times.min}%.2f " +
          f"med=$med%.2f max=${times.max}%.2f " +
          times.map(t => f"$t%.2f").mkString("raw=[", ",", "]") + s"  $cols")
      }
    }
    spark.stop()
  }
}
