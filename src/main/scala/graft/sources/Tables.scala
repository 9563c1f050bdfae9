package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE => CommonMetadata,
  PARQUET_METADATA_FILE => Metadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Bridge

/** Parquet access. The testdata (TESTDATA.md) stands in for the
  * reference's JDBC tables (melt's `query-source`,
  * `src/jdbc/melt.clj:141-151`): one parquet file per table under the
  * scale-factor dir, opened by [[t]].
  *
  * [[parquet]] is the engine's one way to open parquet, tables and the
  * operators' own artifacts alike. It reads the schema from one footer on
  * the driver, so an open runs no Spark job; the scan itself stays a plain
  * distributed parquet scan. Catalyst pushes filters and prunes columns
  * down to the footer level, so every query should consume tables through
  * here and let the optimizer do the pruning (never pre-collect).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Test table `name` of the scale-factor dir `sfDir`, opened through
    * [[parquet]]. `events.ts` has shipped as parquet TIMESTAMP(NANOS)
    * (earlier testdata generators; [[parquet]] reads it as a long),
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (current generator →
    * TIMESTAMP_NTZ) and UTC-adjusted micros (→ TIMESTAMP). The engine's
    * internal contract is ts = epoch-NANO long (`ts DIV 1000` = µs at every
    * call site), so whatever the file stores is normalized to that here, the
    * one choke point every query reads through. The NTZ branch uses
    * timestampdiff over NTZ operands: pure wall-clock arithmetic, no
    * session-timezone dependence, and identical to the DuckDB oracle's
    * epoch_us() reading of the same naive values. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$sfDir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case _: org.apache.spark.sql.types.TimestampType =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "unix_micros(ts) * 1000"))
      case other => sys.error(s"events.ts: unexpected type $other")
    }
  }

  /** Open the parquet file or directory at `path` (a glob is allowed) with
    * no Spark job. `spark.read.parquet` infers the schema in a job even for
    * one file; this reads the footer of the file that non-merging inference
    * picks (`_common_metadata`, else `_metadata`, else the first data file
    * in path order, skipping Spark's hidden `_`/`.` names except `k=v`
    * partition directories) on the driver, and converts it the way
    * inference does, Spark's own row metadata included. Partition columns
    * are still discovered from the paths.
    *
    * A footer with an INT64 TIMESTAMP(NANOS) column, which vanilla Spark 4
    * rejects (PARQUET_TYPE_ILLEGAL), sets
    * `spark.sql.legacy.parquet.nanosAsLong` so the column reads as a long;
    * other files leave the session conf alone. The conf stays set because
    * the scan reads it when it runs.
    *
    * A missing path throws PATH_NOT_FOUND and a path with no data file
    * UNABLE_TO_INFER_SCHEMA, each naming the path. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val file = schemaFile(conf, path)
    val footer = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath)
        .withMetadataFilter(SKIP_ROW_GROUPS).build())
    val meta = try footer.getFooter finally footer.close()
    if (hasNanosTimestamp(meta.getFileMetaData.getSchema))
      spark.conf.set(NanosAsLong, "true")
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** The file whose footer non-merging inference reads (see [[parquet]]). */
  private def schemaFile(conf: Configuration, path: String): FileStatus = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val where = fs.makeQualified(p).toString
    val roots = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
    if (roots.isEmpty)
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> where))
    val files = roots.toSeq.flatMap(leaves(fs, _)).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(CommonMetadata).orElse(named(Metadata))
      .orElse(files.find(f => !isSummary(f.getPath.getName)))
      .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
        Map("format" -> s"Parquet at $where (no data file)")))
  }

  /** Files under `st`, recursively, minus the names Spark's listing
    * hides. */
  private def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => Bridge.hiddenPathName(c.getPath.getName))
      .flatMap(leaves(fs, _))

  private def isSummary(name: String): Boolean =
    name == CommonMetadata || name == Metadata

  private def hasNanosTimestamp(schema: MessageType): Boolean =
    schema.getColumns.asScala.exists(
      _.getPrimitiveType.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
}
