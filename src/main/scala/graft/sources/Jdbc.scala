package graft.sources

import java.sql.{Connection, DatabaseMetaData}
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.SourceDef

/** JDBC source: schema discovery, scans, and schema-drift detection
  * (SURVEY.md §7.1 module io.jdbc; ref /root/reference/src/jdbc/melt.clj:55-151).
  *
  * Discovery uses raw `java.sql.DatabaseMetaData` — Spark exposes no PK
  * metadata API (ref melt.clj:72-84 getTables/getColumns/getPrimaryKeys).
  * Reads go through `spark.read.jdbc` so Catalyst pushes filters and prunes
  * columns into the generated SQL. Each table is one JDBC query in one
  * task, as in melt's query-source (melt.clj:141-151).
  */
object Jdbc {

  /** Schemas never mirrored (ref melt.clj:19 ignorable-schemas). */
  val IgnoredSchemas: Set[String] = Set("sys", "INFORMATION_SCHEMA")

  /** Discovered column (name lower-cased, ref melt.clj:63). */
  final case class ColumnDef(name: String, typeName: String, position: Int)

  /** One discovered table: SourceDef + full column list (the reference keeps
    * columns in the source map, melt.clj:58-61). */
  final case class TableDef(source: SourceDef, columns: Seq[ColumnDef]) {
    def qualified: String = s"${source.schemaName}.${source.name}"
  }

  /** O1 — discover all user tables with columns and PKs, sorted by
    * cat.schema.name (ref melt.clj:89-100 sorted-set ordering). */
  def discover(conn: Connection, catalog: String = null,
      ignored: Set[String] = IgnoredSchemas): Seq[TableDef] = {
    val md = conn.getMetaData
    val tables = collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val rs = md.getTables(catalog, null, "%", Array("TABLE"))
    try while (rs.next()) {
      val schem = rs.getString("TABLE_SCHEM")
      if (schem == null || !ignored.contains(schem))
        tables += ((Option(rs.getString("TABLE_CAT")).getOrElse(""),
          Option(schem).getOrElse(""), rs.getString("TABLE_NAME")))
    } finally rs.close()
    tables.toSeq.map { case (cat, schem, name) =>
      TableDef(
        SourceDef(cat, schem, name, primaryKeys(md, cat, schem, name)),
        columns(md, cat, schem, name))
    }.sortBy(t => s"${t.source.catalog}.${t.qualified}")
  }

  /** O2 — PK column names, lower-cased, in key-seq order
    * (ref melt.clj:72-77). */
  def primaryKeys(md: DatabaseMetaData, cat: String, schem: String,
      table: String): Seq[String] = {
    val rs = md.getPrimaryKeys(emptyToNull(cat), emptyToNull(schem), table)
    val ks = collection.mutable.ArrayBuffer.empty[(Short, String)]
    try while (rs.next()) {
      ks += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME").toLowerCase))
    } finally rs.close()
    ks.sortBy(_._1).map(_._2).toSeq
  }

  private def columns(md: DatabaseMetaData, cat: String, schem: String,
      table: String): Seq[ColumnDef] = {
    val rs = md.getColumns(emptyToNull(cat), emptyToNull(schem), table, "%")
    val cs = collection.mutable.ArrayBuffer.empty[ColumnDef]
    try while (rs.next()) {
      cs += ColumnDef(rs.getString("COLUMN_NAME").toLowerCase,
        rs.getString("TYPE_NAME"), rs.getInt("ORDINAL_POSITION"))
    } finally rs.close()
    cs.sortBy(_.position).toSeq
  }

  private def emptyToNull(s: String): String = if (s == null || s.isEmpty) null else s

  /** O3 — scan a source: `Select * From schema.name` or user SQL override
    * (ref melt.clj:135-151). Filters/pruning applied on the returned frame
    * push down into the JDBC query via Catalyst. */
  def readSource(spark: SparkSession, url: String,
      props: java.util.Properties, source: SourceDef,
      sql: Option[String] = None): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url)
    val withTable = sql match {
      case Some(q) => reader.option("query", q)
      case None =>
        reader.option("dbtable", s"${source.schemaName}.${source.name}")
    }
    props.stringPropertyNames.forEach { k =>
      withTable.option(k, props.getProperty(k))
    }
    withTable.load()
  }

  // --- O23: schema snapshot + drift detection (ref melt.clj:102-133; the
  // reference's schema-diff has a latent arity bug — this implements the
  // intent: compare a persisted snapshot against the live schema). ---

  final case class SchemaDiff(onlyOld: Seq[String], onlyNew: Seq[String]) {
    def isEmpty: Boolean = onlyOld.isEmpty && onlyNew.isEmpty
  }

  /** Canonical one-line rendition of a table (column names+types+keys) —
    * the unit of schema comparison. */
  def renderTable(t: TableDef): String = {
    val cols = t.columns.map(c => s"${c.name}:${c.typeName}").mkString(",")
    val keys = t.source.keys.mkString(",")
    s"${t.source.catalog}|${t.source.schemaName}|${t.source.name}|$cols|keys=$keys"
  }

  def saveSnapshot(tables: Seq[TableDef], path: String): Unit =
    Files.write(Paths.get(path),
      tables.map(renderTable).mkString("\n").getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)

  def loadSnapshot(path: String): Seq[String] =
    if (!Files.exists(Paths.get(path))) Seq.empty
    else new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Drift = symmetric set difference of rendered table lines
    * (ref melt.clj:115-123 schema-diff via clojure.data/diff). */
  def schemaDiff(old: Seq[String], live: Seq[TableDef]): SchemaDiff = {
    val n = live.map(renderTable).toSet
    val o = old.toSet
    SchemaDiff((o -- n).toSeq.sorted, (n -- o).toSeq.sorted)
  }

  /** O23 schema-check: abort-on-change gate (ref melt.clj:21-24,125-133
    * ABORT_ON_SCHEMA_CHANGE). Returns the diff; throws if non-empty and
    * abortOnChange. */
  def schemaCheck(snapshotPath: String, live: Seq[TableDef],
      abortOnChange: Boolean): SchemaDiff = {
    val old = loadSnapshot(snapshotPath)
    val d = if (old.isEmpty) SchemaDiff(Nil, Nil) else schemaDiff(old, live)
    if (!d.isEmpty && abortOnChange)
      throw new IllegalStateException(
        s"schema drift: onlyOld=${d.onlyOld} onlyNew=${d.onlyNew}")
    if (old.isEmpty) saveSnapshot(live, snapshotPath)
    d
  }
}
