package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Executor-loss chaos rehearsal — the measured proof behind
  * [[graft.Materialize]]'s `spark.graft.reliableCheckpoint` contract.
  *
  * The pin discipline documents a trade: the default `localCheckpoint`
  * stores blocks on executors (fast, NOT recomputable after executor
  * loss), while `reliableCheckpoint=true` writes every pin to the
  * cluster FS so a spot-instance/preemption deployment survives losing
  * a node mid-iteration. Until this tool, that claim was prose. Here it
  * is executed: dd06's connected-components loop (the pin-heaviest
  * operator — one pinned frame per propagation round) runs under
  * `local-cluster[2,8,m]` — REAL standalone executors in separate JVMs —
  * and one executor is `destroyForcibly`'d (SIGKILL) the moment the
  * checkpoint dir shows the iteration in flight. The standalone master
  * relaunches the executor; lost shuffle/task state recomputes from the
  * surviving reliable-checkpoint files (superseded rounds are already
  * unpinned — recovery must and does need only the LIVE pins); the job
  * completes and its order-insensitive digest must equal an undisturbed
  * single-JVM baseline.
  *
  * A third informational arm repeats the kill under the DEFAULT
  * localCheckpoint mode, where blocks die with the executor: Spark can
  * only save the job if the kill happens to land outside a pin-consumer
  * window, so the arm reports `completed`/`failed` without asserting —
  * it documents the failure mode the reliable switch exists for.
  *
  * Usage: ChaosRehearsal <sfDir> [outJson]   (exit 0 iff arm B matches A)
  */
object ChaosRehearsal {

  /** Order-insensitive digest: (rows, Σ 60-bit md5 of the canonical row
    * string) — columns sorted by name, cast to string, NULL sentinel,
    * U+001F-joined; the in-JVM twin of tools/compare_hash.py's scheme. */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val canon = concat_ws("",
      df.columns.sorted.map(c =>
        coalesce(col(c).cast("string"), lit("<NULL>"))): _*)
    val r = df.agg(count(lit(1)),
      sum(conv(substring(md5(canon), 1, 15), 16, 10)
        .cast("decimal(38,0)"))).collect()(0)
    (r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  private def session(master: String, reliable: Boolean,
      ckDir: String): SparkSession = {
    val spark = graft.GraftSession.create(master, 16,
      "spark.graft.reliableCheckpoint" -> reliable.toString,
      "spark.graft.checkpointDir" -> ckDir)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The executor JVMs are direct children of this process (the
    * standalone worker runs in-process and forks them). */
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.current().children().iterator().asScala.filter(
      _.info().commandLine().orElse("")
        .contains("CoarseGrainedExecutorBackend")).toSeq

  /** Fire once the checkpoint dir proves the iteration is in flight
    * (>= minPins rdd-* dirs have appeared over the run's lifetime),
    * then SIGKILL one executor. Returns the observation log. */
  private def killerThread(ckRoot: java.io.File, minPins: Int,
      log: java.util.concurrent.ConcurrentLinkedQueue[String]): Thread = {
    val t = new Thread(() => {
      def pinDirs(): Int = {
        def walk(f: java.io.File): Int =
          if (!f.isDirectory) 0
          else (if (f.getName.startsWith("rdd-")) 1 else 0) +
            Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        walk(ckRoot)
      }
      var seen = 0
      while (seen < minPins) { // unpin may delete dirs: track the high-water mark
        seen = math.max(seen, pinDirs())
        Thread.sleep(50)
      }
      executorHandles().headOption match {
        case Some(h) =>
          log.add(s"killed executor pid=${h.pid()} after $seen pins")
          h.destroyForcibly()
        case None => log.add("no executor process found to kill")
      }
    })
    t.setDaemon(true)
    t.start()
    t
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("target/chaos_rehearsal.json")
    val ckRoot = new java.io.File("target/chaos_ck")
    def freshCk(tag: String): String = {
      val d = new java.io.File(ckRoot, tag)
      org.apache.hadoop.fs.FileUtil.fullyDelete(d)
      d.mkdirs(); d.getAbsolutePath
    }
    def run(tag: String): DataFrame =
      graft.operators.Dedup.dd06NearDupClusters(
        SparkSession.active, sfDir)

    // Arm A — undisturbed in-process baseline (ground truth digest)
    val sA = session("local[8]", reliable = false, freshCk("a"))
    val a = digest(run("a")); sA.stop()
    println(s"[chaos] arm A baseline: rows=${a._1} digest=${a._2}")

    // Arm B — multi-process + reliable pins + mid-iteration SIGKILL
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ckB = freshCk("b")
    val sB = session("local-cluster[2,8,3072]", reliable = true, ckB)
    killerThread(new java.io.File(ckB), minPins = 3, log)
    val b =
      try Right(digest(run("b")))
      catch { case e: Throwable => Left(e.toString.take(300)) }
    sB.stop()
    println(s"[chaos] arm B (reliable, kill): $b; ${log.asScala.mkString("; ")}")

    // Arm C — informational: same kill under default localCheckpoint
    val logC = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ckC = freshCk("c")
    val sC = session("local-cluster[2,8,3072]", reliable = false, ckC)
    // no reliable pins ⇒ no rdd-* dirs; fire on wall-clock into the job
    val tC = new Thread(() => {
      Thread.sleep(8000)
      executorHandles().headOption.foreach { h =>
        logC.add(s"killed executor pid=${h.pid()}"); h.destroyForcibly()
      }
    }); tC.setDaemon(true); tC.start()
    val c =
      try Right(digest(run("c")))
      catch { case e: Throwable => Left(e.toString.take(300)) }
    sC.stop()
    println(s"[chaos] arm C (localCheckpoint, kill): $c; ${logC.asScala.mkString("; ")}")

    val pass = b == Right(a)
    val j = s"""{"baseline_rows": ${a._1}, "baseline_digest": "${a._2}",
      |"reliable_arm": ${b.fold(e => "\"FAILED: " + e.replace("\"", "'") + "\"",
         d => s"""{"rows": ${d._1}, "digest": "${d._2}", "match": ${d == a}}""")},
      |"kill_log": "${log.asScala.mkString("; ")}",
      |"default_arm_outcome": "${c.fold(e => "failed (blocks died with executor): " +
         e.replace("\"", "'"), d => s"completed, match=${d == a}")}",
      |"pass": $pass}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), j)
    println(s"[chaos] ${if (pass) "PASS" else "FAIL"} -> $outJson")
    if (!pass) sys.exit(1)
  }
}
