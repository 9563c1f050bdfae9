package graft.tools

import org.apache.spark.sql.functions._

/** Engine-side panel run of dd02's exact all-pairs arm:
  * `runMain graft.tools.PanelExact <sfDir> <outDir> [perMille]`.
  *
  * The full exact arm at sf10 is documented-infeasible on BOTH sides
  * (1.25e11 pairs; the engine run was killed at 25 CPU-hours, the
  * DuckDB twin ENOSPC'd in r14) — by design: dd03 is the production
  * path and is FULL-verified at sf10. This main certifies the exact
  * arm itself up-scale the dd20 way: both endpoints restricted to the
  * deterministic salted-md5 panel (`vpanel:` salt, the verifier's
  * tools/panel_oracle.py rule), every surviving pair computed exactly
  * (a pair's Jaccard depends on nothing outside the pair). Output is
  * dd02-shaped parquet for panel_oracle's dd02 comparison.
  */
object PanelExact {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val pm = args.lift(2).map(_.toInt).getOrElse(100)
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.sources.Tables.t(spark, sfDir, "documents")
      .where(graft.functions.Hashing.md5Long(
        concat(lit("vpanel:"), col("doc_id").cast("string")), 15) % 1000 < pm)
    graft.operators.Dedup.ngramJaccardPairs(docs, 0.3)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/dd02_ngram_jaccard.parquet")
    println(s"[panel-exact] dd02 pm=$pm -> $outDir")
    spark.stop()
  }
}
