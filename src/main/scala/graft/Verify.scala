package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // master/cores from the environment (GraftSession): SPARK_GRAFT_MASTER
    // runs this exact dump under `local-cluster[n,cores,mem]` — real
    // standalone executors in SEPARATE JVMs (cross-process shuffle +
    // broadcast + block replication), the closest a single box gets to
    // cluster semantics
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-loop subset: SPARK_GRAFT_ONLY=q01_scan,t21_token_entropy runs
    // (and dumps oracles for) just those queries. Unset = full surface —
    // the driver's invocation is unaffected.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def selected(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Round-1 driver lesson: CORRECTNESS_r01 keyed every result by its
    // output FILENAME ("<name>.parquet") and recorded err=no_oracle for all
    // 42 queries — the oracle lookup never matched our bare "<name>" keys.
    // Emit BOTH key forms (harmless duplicates), plus a per-query <name>.sql
    // sidecar, so any plausible driver contract finds the SQL.
    val entries = SparkEntry.oracleSql.toSeq.filter(kv => selected(kv._1))
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
    val json = entries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.oracleSql.filter(kv => selected(kv._1)).foreach { case (k, v) =>
      Files.writeString(Paths.get(s"$outDir/$k.sql"), v)
    }
    spark.stop()
  }
}
