package graft.tools

/** Prices the PANEL-PINNED production usage of the LSH recall audit
  * (dd20's library surface) across scale decades:
  * `runMain graft.tools.PanelAuditPrice <sfDir> <perMille> [reps=N]`.
  *
  * The declared dd20 query fixes perMille=500 so its DuckDB twin is
  * byte-stable — but a FRACTIONAL panel keeps the exact arm quadratic in
  * corpus size ((pm/1000)²·N²). Production pins the panel SIZE instead:
  * the caller knows N and passes perMille ≈ 1000·panelDocs/N, so the
  * exact ground-truth arm is constant-cost while the full-corpus banded
  * LSH arm (the plan under audit) grows linearly. This main measures
  * exactly that recipe — same library call, scale-matched perMille — for
  * SCALING.md's growth table. */
object PanelAuditPrice {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val perMille = args(1).toInt
    val reps = args.drop(2).collectFirst { case s if s.startsWith("reps=") =>
      s.stripPrefix("reps=").toInt }.getOrElse(3)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    def run(): (Long, Double) = {
      val docs = graft.sources.Tables.t(spark, sfDir, "documents")
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup
        .lshRecallAuditSampled(docs, 0.3, perMille).count()
      val s = (System.nanoTime() - t0) / 1e9
      graft.Bench.dropPins(spark)
      (n, s)
    }
    run() // warmup (codegen, file listing)
    val timed = (1 to reps).map(_ => run())
    val meds = timed.map(_._2).sorted.apply(reps / 2)
    println(f"panel_audit sf=$sfDir pm=$perMille rows=${timed.head._1} " +
      f"med=$meds%.2f raw=${timed.map(t => f"${t._2}%.2f").mkString("[", ",", "]")}")
    spark.stop()
  }
}
