package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.{MICROS, NANOS}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, DOUBLE, INT64}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType
import graft.operators.Similarity
import graft.sources.Tables

/** `Tables.parquet`, the one parquet open: the schema comes from one footer
  * read on the driver, so an open runs no Spark job and matches what
  * `spark.read.parquet`'s inference gives; `Tables.t` normalizes every
  * `events.ts` encoding to epoch nanoseconds. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Run `body` with `NanosAsLong` unset, then set it back to what
    * `GraftSession` gives the shared session. */
  private def withNanosAsLongUnset[A](body: => A): A = {
    spark.conf.unset(NanosAsLong)
    try body finally spark.conf.set(NanosAsLong, "true")
  }

  private def nanosAsLongSet: Option[String] = spark.conf.getAll.get(NanosAsLong)

  test("Tables.parquet opens with the inferred schema; a missing or empty path is named") {
    val dir = tmpDir("tables-open")
    spark.range(40).selectExpr("id", "id % 3 AS k", "CAST(id AS STRING) AS s")
      .repartition(3).write.parquet(s"$dir/plain")
    spark.range(40).selectExpr("id", "id % 3 AS k", "CAST(id AS STRING) AS s")
      .write.partitionBy("k").parquet(s"$dir/parted")
    val ivf = s"$dir/ivf"
    Similarity.buildIvfIndexOf(
      Tables.t(spark, sf, "embeddings").select("vec_id", "embedding"), ivf,
      iters = 1, cells = 4)
    assert(new java.io.File(s"$ivf/_centroids").isDirectory)
    val paths = Tables.all.map(n => s"$sf/$n.parquet") ++
      Seq(s"$dir/plain", s"$dir/plain/part-*", s"$dir/parted", ivf,
        s"$ivf/_centroids")
    paths.foreach { p =>
      assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
    assert(Tables.parquet(spark, ivf).count() == spark.read.parquet(ivf).count())

    val missing = s"$dir/no-such-table"
    val e1 = intercept[AnalysisException](Tables.parquet(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = tmpDir("tables-empty")
    new java.io.File(s"$empty/_SUCCESS").createNewFile()
    val e2 = intercept[AnalysisException](Tables.parquet(spark, empty))
    assert(e2.getMessage.contains(empty), e2.getMessage)
  }

  test("opening every table and reading its schema runs no Spark job") {
    // jobs are counted by tag (SparkSpec.jobStartsByTag)
    val jobs = jobStartsByTag { tagged =>
      tagged("open")(Tables.all.foreach(n => Tables.t(spark, sf, n).schema))
    }
    assert(jobs.isEmpty, jobs)
  }

  test("opening the tables leaves the nanosAsLong session conf unset") {
    withNanosAsLongUnset {
      Tables.all.foreach(n => Tables.t(spark, sf, n).schema)
      assert(nanosAsLongSet.isEmpty, nanosAsLongSet)
    }
  }

  /** An `events`-shaped file at `$dir/events.parquet` whose `ts` is INT64
    * with `tsType`, holding `tsValues` (in that type's unit). */
  private def writeEvents(dir: String, tsType: LogicalTypeAnnotation,
      tsValues: Seq[Long]): Unit = {
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(tsType).named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try tsValues.zipWithIndex.foreach { case (ts, i) =>
      w.write(groups.newGroup().append("event_id", i.toLong).append("ts", ts)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.5))
    } finally w.close()
  }

  test("events.ts opens as epoch-nanosecond bigint from NANOS, NTZ and UTC micros") {
    // before the epoch, the epoch itself, and a recent instant; all whole
    // microseconds so the micros encodings hold them exactly
    val nanos = Seq(-86399999999000L, 0L, 1700000000123456000L)
    val micros = nanos.map(_ / 1000)
    val encodings = Seq(
      "ntz-micros" -> (LogicalTypeAnnotation.timestampType(false, MICROS), micros),
      "utc-micros" -> (LogicalTypeAnnotation.timestampType(true, MICROS), micros),
      "nanos" -> (LogicalTypeAnnotation.timestampType(false, NANOS), nanos))
    withNanosAsLongUnset {
      encodings.foreach { case (name, (tsType, values)) =>
        val dir = tmpDir(s"events-$name")
        writeEvents(dir, tsType, values)
        val events = Tables.t(spark, dir, "events")
        assert(events.schema("ts").dataType == LongType, name)
        val ts = events.orderBy("event_id").select(col("ts")).collect()
          .map(_.getLong(0)).toSeq
        assert(ts == nanos, name)
        // only the NANOS footer needs the conf
        assert(nanosAsLongSet == (if (name == "nanos") Some("true") else None),
          name)
      }
    }
  }
}
