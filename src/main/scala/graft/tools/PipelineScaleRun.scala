package graft.tools

/** Dress-rehearsal driver for the composed pipeline (r12 verdict #4):
  * `runMain graft.tools.PipelineScaleRun <sfDir> <workDir>` — dumps the
  * scale dir's documents table as the JSONL drop the pipeline ingests
  * (skipped when already dumped), runs
  * [[graft.examples.PretrainPipelineExample]] end to end, and prints the
  * per-stage wall-time + lineage table plus the total. Per-operator
  * exponents don't prove the composed graph — pin pressure, stage-boundary
  * counts, and shuffle reuse interact — so the rehearsal runs the
  * composition itself. */
object PipelineScaleRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineScaleRun <sfDir> <workDir>")
    val (sfDir, workDir) = (args(0), args(1))
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val drop = s"$workDir/drop_jsonl"
      if (!new java.io.File(drop).exists()) {
        graft.sources.Tables.t(spark, sfDir, "documents")
          .select("doc_id", "lang", "source", "text")
          .write.mode("overwrite").json(drop)
        println(s"[scale-run] dumped documents -> $drop")
      }
      val out = s"$workDir/out"
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
      val t0 = System.nanoTime()
      val r = graft.examples.PretrainPipelineExample.run(spark, drop, out)
      val total = (System.nanoTime() - t0) / 1e9
      r.lineage.foreach(s => println(
        f"[scale-run] ${s.stage}%-16s in=${s.in}%8d kept=${s.kept}%8d " +
          f"rejected=${s.rejected}%8d t=${s.tSec}%8.2fs"))
      println(f"[scale-run] packed ${r.nPacked} docs into ${r.nSequences} " +
        f"sequences; TOTAL $total%.2f s ($sfDir)")
    } finally spark.stop()
  }
}
