package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session factory: what every factory-built session carries, and the
  * guard that keeps it the only place a session is built. */
class GraftSessionSpec extends SparkSpec {

  test("a factory session pins UTC, sizes shuffles to its cores and resolves graft SQL functions") {
    // SparkSpec's session comes from GraftSession.local(4)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.ui.enabled") == "false")
    val r = spark.sql("SELECT array_dot_long(array(1L, 2L), array(3L, 4L)), " +
      "nfc_normalize('é')").head()
    assert(r.getLong(0) == 11L)
    assert(r.getString(1) == "é")
  }

  test("masters that spawn executor JVMs get graft's classpath; local[ does not") {
    def conf(master: String) = GraftSession.settings(master).toMap
    val cp = conf("local-cluster[2,1,1024]").get("spark.executor.extraClassPath")
    assert(cp.exists(p => new java.io.File(p).exists), cp)
    assert(conf("spark://host:7077").contains("spark.executor.extraClassPath"))
    assert(!conf("local[4]").contains("spark.executor.extraClassPath"))
    assert(conf("local[4]").get("spark.ui.enabled").contains("false"))
  }

  test("GraftSession.scala is the only source that builds a SparkSession") {
    val needle = "SparkSession.builder" + "()"
    def scalaFiles(root: String): Seq[Path] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.exists(_.endsWith("GraftSession.scala")))
    val offenders = files
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(f => Files.readString(f).contains(needle))
    assert(offenders.isEmpty,
      s"build sessions through graft.GraftSession, not in: ${offenders.mkString(", ")}")
  }
}
