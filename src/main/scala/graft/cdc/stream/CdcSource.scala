package graft.cdc.stream

import java.util
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 micro-batch CDC source: `spark.readStream
  * .format("graft-cdc").option("feed", name)` — the streaming offset IS the
  * change-tracking version (SURVEY.md §7.1 #7 "graduate to a DSv2
  * MicroBatchStream whose offset is the change version"; ref
  * /root/reference/src/jdbc/melt/sql_server.clj:126-162 where the version is
  * chained between send-changes calls by hand).
  *
  * This is the one CDC runner: checkpointing, restart recovery,
  * exactly-once batch planning, and trigger scheduling all come from the
  * Structured Streaming engine; each micro-batch reads
  * `(startVersion, endVersion]`. A batch whose start version is below the
  * feed's `minValidVersion()` fails the query: retention has cleaned up
  * part of the history it would read, and only a re-bootstrap recovers
  * (ref sql_server.clj:100-104).
  *
  * Feeds resolve in two ways:
  *  - `option("feedClass", fqcn)`: the class (a [[CdcFeedRegistry.FeedProvider]]
  *    with a no-arg constructor) is instantiated FROM THE OPTIONS on
  *    whichever JVM needs it — driver for offsets, executors for reads.
  *    This is the cluster path; no provider ships with the library (the
  *    feeds, [[graft.cdc.SqlServerFeed]] included, register locally), so a
  *    cluster deployment wraps its feed in one.
  *  - `option("feed", name)` alone: look up [[CdcFeedRegistry]] — a JVM-local
  *    registry, valid only where driver and executors share the JVM
  *    (local mode; tests register in-memory feeds here).
  *
  * CDC batches are planned as a single partition: change volume per trigger
  * is bounded by the trigger interval, and the DB's CHANGETABLE is itself a
  * single cursor — the downstream message projection and sink write are
  * where Spark fans out.
  */
object CdcFeedRegistry {
  trait VersionedFeed {
    def schema: StructType
    def currentVersion(): Long
    /** The net change in `(fromExclusive, toInclusive]`: at most one row per
      * primary key, the key's newest change in the range, with its
      * `sys_change_version`. This is what SQL Server's CHANGETABLE returns
      * (net change tracking, ref sql_server.clj:63-95); a watermark feed
      * reads current table rows, one per key. Each micro-batch is one
      * input partition, so the stream sends these rows as they are:
      * nothing downstream compacts a batch, and a feed that returned
      * several versions of one key would leave the key's last write to
      * the sink's unordered append. */
    def rows(fromExclusive: Long, toInclusive: Long): Iterator[Row]
    /** Oldest version a reader may resume from; history before it has been
      * cleaned up. Feeds without a retention window keep the default. */
    def minValidVersion(): Long = Long.MinValue
  }

  /** Executor-constructible feed factory (cluster path): implementations
    * need a public no-arg constructor; options carry the connection config. */
  trait FeedProvider {
    def create(options: Map[String, String]): VersionedFeed
  }

  private val feeds = TrieMap.empty[String, VersionedFeed]
  def register(name: String, feed: VersionedFeed): Unit = feeds.put(name, feed)
  def get(name: String): VersionedFeed = feeds.getOrElse(name,
    throw new IllegalArgumentException(
      s"no CDC feed registered as '$name' in this JVM — on a cluster use " +
        "option(\"feedClass\", <FeedProvider class>) so executors can " +
        "construct the feed themselves"))

  private val constructed = TrieMap.empty[Map[String, String], VersionedFeed]

  /** Resolve a feed from source options (feedClass wins over registry).
    * feedClass instances are memoized per options map — latestOffset fires
    * every trigger and readers once per batch; constructing (and letting a
    * provider connect) each time would leak connections. Providers should
    * still open per-query connections inside rows()/currentVersion() (as
    * SqlServerFeed does) rather than holding one open. */
  def resolve(options: Map[String, String]): VersionedFeed =
    options.get("feedclass") match {
      case Some(fqcn) =>
        constructed.getOrElseUpdate(options,
          Class.forName(fqcn).getDeclaredConstructor().newInstance()
            .asInstanceOf[FeedProvider].create(options))
      case None => get(options.getOrElse("feed",
        throw new IllegalArgumentException(
          "graft-cdc requires option(\"feed\") or option(\"feedClass\")")))
    }
}

final case class CdcOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

class CdcSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcFeedRegistry.resolve(CdcSourceProvider.toMap(options)).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new java.util.HashMap[String, String](properties)
    new CdcTable(CdcSourceProvider.toMap(new CaseInsensitiveStringMap(opts)),
      schema)
  }
}

object CdcSourceProvider {
  private[stream] def toMap(o: CaseInsensitiveStringMap): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    o.asCaseSensitiveMap().asScala.map { case (k, v) =>
      k.toLowerCase -> v
    }.toMap
  }
}

final class CdcTable(opts: Map[String, String], tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-cdc(${opts.getOrElse("feed", opts.getOrElse("feedclass", "?"))})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = tableSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new CdcMicroBatchStream(opts, tableSchema,
          opts.get("fromversion").map(_.toLong).getOrElse(0L))
      override def toBatch: Batch =
        throw new UnsupportedOperationException("graft-cdc is streaming-only")
    }
}

final class CdcMicroBatchStream(opts: Map[String, String], schema: StructType,
    fromVersion: Long) extends MicroBatchStream {
  private def feed = CdcFeedRegistry.resolve(opts)

  override def initialOffset(): Offset = CdcOffset(fromVersion)
  override def latestOffset(): Offset = CdcOffset(feed.currentVersion())
  override def deserializeOffset(json: String): Offset = CdcOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[CdcOffset].version
    val minValid = feed.minValidVersion()
    if (from < minValid) throw new IllegalStateException(
      s"graft-cdc: start version $from is below the feed's minimum valid " +
        s"version $minValid — retention discarded changes after $from; " +
        "a re-bootstrap (full sync, then stream from the new version) is needed")
    Array(CdcInputPartition(opts, from, end.asInstanceOf[CdcOffset].version))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdcReaderFactory(schema)
}

final case class CdcInputPartition(opts: Map[String, String],
    fromExclusive: Long, toInclusive: Long) extends InputPartition

final class CdcReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[CdcInputPartition]
    val serializer = ExpressionEncoder(RowEncoder.encoderFor(schema))
      .createSerializer()
    // resolved on the executor: feedClass constructs here; registry works
    // only when this is the driver JVM (local mode / tests)
    val it = CdcFeedRegistry.resolve(p.opts).rows(p.fromExclusive, p.toInclusive)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = serializer(it.next()).copy(); true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
