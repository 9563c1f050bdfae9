package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark entry point, run by `perfbench/run.py` (see README.md).
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  * runs one workload and writes `result.json` (and, when tracing,
  * `trace.jsonl`) into the work directory. Every workload reports the same
  * end-to-end metrics; what an "op" is differs per workload:
  *
  *  - `mirror_sf0.01`: one table's lifecycle (load, verify, sync and final
  *    verify), and schema discovery;
  *  - `cdc_2k`: one committed change, timed from its due time to the
  *    broker append of the record that carries it;
  *  - `queries_sf0.01`: one query.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, data: Path, mode: String,
      /** Self-test sizes: each workload shortened. */
      small: Boolean)

  /** What a workload hands back: ops attempted and failed (gates count as
    * ops), op latencies in ms, its unit's wall times and its setup times. */
  final case class Outcome(attempted: Long, failed: Long,
      opMs: Seq[Double], workS: Seq[Double], setupS: Seq[Double])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val trace = new Trace(a.trace, s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}")
    val t0 = System.nanoTime()
    val spark = session(a.work)
    trace.attach(spark)
    trace.count("setup.session_s", (System.nanoTime() - t0) / 1e9)
    val heap = new Heap
    val gc0 = Heap.gcSeconds()
    val out = try a.mode match {
      case "run" => a.workload match {
        case MirrorWorkload.Name =>
          new MirrorWorkload(spark, a, trace, heap).run()
        case CdcWorkload.Name =>
          new CdcWorkload(spark, a, trace, heap).run()
        case QueriesWorkload.Name =>
          new QueriesWorkload(spark, a, trace, heap).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      case "record-golden" =>
        new QueriesWorkload(spark, a, trace, heap).recordGolden()
        sys.exit(0)
      case "selftest" =>
        SelfTest.run(spark, a)
        sys.exit(0)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally {
      trace.count("jvm.gc_s", Heap.gcSeconds() - gc0)
      trace.write(a.work.resolve("trace.jsonl"))
    }
    spark.stop()
    writeResult(a.work.resolve("result.json"), out, heap.peakMb)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath, m.getOrElse("mode", "run"),
      m.getOrElse("small", "0") == "1")
  }

  /** One local session with `local[cores]`; every file Spark or Derby
    * writes lands under the work directory. */
  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    System.setProperty("derby.stream.error.file",
      work.resolve("derby.log").toString)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "30s")
      .getOrCreate()
    graft.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def writeResult(path: Path, o: Outcome, heapMb: Double): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val p = Stats.quantiles(o.opMs)
    val metrics = Seq(
      ("setup_s", Stats.median(o.setupS), "s"),
      ("work_s", Stats.median(o.workS), "s"),
      ("op_p50_ms", p._1, "ms"),
      ("op_p90_ms", p._2, "ms"),
      ("heap_live_peak_mb", heapMb, "MB"))
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    Files.writeString(path,
      s"""{"correct":${o.failed == 0},"attempted":${o.attempted},"failed":${o.failed},"metrics":$ms}""")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default), NaN when empty. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def quantiles(xs: Seq[Double]): (Double, Double) =
    (percentile(xs, 0.5), percentile(xs, 0.9))

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Peak live heap: old-generation use right after a full collection,
  * sampled at the quiet points each workload chooses. */
final class Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  private var peak = 0.0

  def sample(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peak = math.max(peak, used / 1048576.0)
  }

  def peakMb: Double = peak
}

object Heap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  def gcSeconds(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
}
