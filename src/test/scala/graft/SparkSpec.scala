package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.store.KafkaStore
import graft.store.kafkaemu.{EmuBroker, EmuKafkaAdmin}

/** Shared local session (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    // 4 cores and 4 shuffle partitions whatever SPARK_GRAFT_CPUS says, so
    // plan-shape assertions see the same partitioning on every box
    val s = GraftSession.local(4)
    // Codegen compile failures must FAIL tests, not silently fall back to
    // interpreted execution (that's how the ArrayDot/ArrayIntersect
    // redefinition bug hid in round 1). Set as runtime conf so it applies
    // regardless of which suite created the shared session.
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  val sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** A [[KafkaStore]] on its own empty `kafka-emu` cluster: a fresh
    * bootstrap per call isolates tests the way [[tmpDir]] does. */
  def emuStore(prefix: String): KafkaStore = {
    val bs = s"emu://$prefix-${java.util.UUID.randomUUID()}:9092"
    EmuBroker.reset(bs)
    new KafkaStore(spark, bs, adminOverride = Some(new EmuKafkaAdmin(bs)),
      format = "kafka-emu")
  }
}
