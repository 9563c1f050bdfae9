package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{Msg, SourceDef}
import graft.canonical.Canonical

/** Change-tracking CDC (SURVEY.md §7.1 module cdc.sqlserver; ref
  * /root/reference/src/jdbc/melt/sql_server.clj).
  *
  * Changes arrive through one runner, the `graft-cdc` micro-batch stream,
  * from a [[graft.cdc.stream.CdcFeedRegistry.VersionedFeed]]: production is
  * SQL Server change tracking via JDBC ([[SqlServerFeed]]; the CHANGETABLE
  * query is a table-valued function, so it stays literal SQL pushed to the
  * DB — pushdown by construction, SURVEY §4); tests use an in-memory feed.
  * The version number is the stream's offset: capture → read → advance,
  * idempotent upserts make overlap harmless (ref sql_server.clj:155-162).
  */
object ChangeTracking {

  // --- O25: tracking admin DDL (ref sql_server.clj:9-61). Driver-side JDBC
  // statements; generated here, executed by the caller's connection. ---

  /** Bracket-quote a SQL Server identifier; ']' must double or a name
    * containing it would break out of the quoting (injection surface —
    * identifiers arrive from metadata discovery, not trusted input). */
  private def br(ident: String): String = "[" + ident.replace("]", "]]") + "]"

  def enableDbTrackingSql(db: String): String =
    s"ALTER DATABASE ${br(db)} SET CHANGE_TRACKING = ON " +
      "(CHANGE_RETENTION = 2 DAYS, AUTO_CLEANUP = ON)"

  def trackTableSql(schema: String, table: String): String =
    s"ALTER TABLE ${br(schema)}.${br(table)} ENABLE CHANGE_TRACKING"

  def untrackTableSql(schema: String, table: String): String =
    s"ALTER TABLE ${br(schema)}.${br(table)} DISABLE CHANGE_TRACKING"

  /** Trackable = has a PK (ref sql_server.clj:23-27); trackable-untracked is
    * a set difference (ref sql_server.clj:48-51). */
  def trackableUntracked(all: Seq[SourceDef],
      tracked: Set[(String, String)]): Seq[SourceDef] =
    all.filter(s => s.keys.nonEmpty &&
      !tracked.contains((s.schemaName, s.name)))

  /** Sources that ARE tracked in the database (ref sql_server.clj:42-46). */
  def tracked(all: Seq[SourceDef],
      trackedNames: Set[(String, String)]): Seq[SourceDef] =
    all.filter(s => trackedNames.contains((s.schemaName, s.name)))

  /** Catalog query yielding (schema_name, table_name) per tracked table
    * (ref sql_server.clj:33-40 list-tracked). */
  val ListTrackedSql: String =
    "Select object_schema_name(object_id) schema_name, " +
      "object_name(object_id) table_name From sys.change_tracking_tables"

  def listTracked(conn: java.sql.Connection): Set[(String, String)] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(ListTrackedSql)
      val b = Set.newBuilder[(String, String)]
      while (rs.next()) b += ((rs.getString(1), rs.getString(2)))
      b.result()
    } finally st.close()
  }

  // --- Bulk tracking admin (ref sql_server.clj:53-61 track-all /
  // print-track-all / untrack-all): one call applies the DDL to every
  // qualifying table instead of callers hand-looping the builders. The
  // executor is abstracted (tests record; production executes over a
  // Connection) and every variant returns the DDL it ran, in order. ---

  /** Enable tracking on every trackable-untracked table. */
  def trackAll(exec: String => Unit, all: Seq[SourceDef],
      trackedNames: Set[(String, String)]): Seq[String] =
    trackableUntracked(all, trackedNames).map { s =>
      val sql = trackTableSql(s.schemaName, s.name); exec(sql); sql
    }

  /** Disable tracking on every tracked table. */
  def untrackAll(exec: String => Unit, all: Seq[SourceDef],
      trackedNames: Set[(String, String)]): Seq[String] =
    tracked(all, trackedNames).map { s =>
      val sql = untrackTableSql(s.schemaName, s.name); exec(sql); sql
    }

  /** The track-all DDL as a runnable batch script, `GO`-separated (ref
    * sql_server.clj:56-58 print-track-all) — for operators who review and
    * run migrations by hand rather than granting the pipeline DDL rights. */
  def trackAllScript(all: Seq[SourceDef],
      trackedNames: Set[(String, String)]): String =
    trackableUntracked(all, trackedNames)
      .map(s => trackTableSql(s.schemaName, s.name) + "\nGO").mkString("\n")

  /** Connection-direct variants: discover the tracked set from the catalog,
    * then apply. */
  def trackAll(conn: java.sql.Connection, all: Seq[SourceDef]): Seq[String] =
    trackAll(execute(conn), all, listTracked(conn))

  def untrackAll(conn: java.sql.Connection, all: Seq[SourceDef]): Seq[String] =
    untrackAll(execute(conn), all, listTracked(conn))

  private def execute(conn: java.sql.Connection): String => Unit = sql => {
    val st = conn.createStatement()
    try { st.execute(sql); () } finally st.close()
  }

  // --- O26: CHANGETABLE query builders (ref sql_server.clj:63-98). ---

  val TrackingFields: Seq[String] = Seq("sys_change_version",
    "sys_change_creation_version", "sys_change_operation",
    "sys_change_columns", "sys_change_context")

  /** Changes-only scan (ref sql_server.clj:63-69 change-sql). */
  def changeSql(schema: String, table: String): String =
    s"Select ct.* From CHANGETABLE(CHANGES ${br(schema)}.${br(table)}, ?) As ct " +
      "Order By ct.sys_change_version"

  /** Entity scan: change rows left-outer-joined to the base table on PK so
    * the current row accompanies each change — null row for deletes (ref
    * sql_server.clj:85-95 change-entity-sql). The join and sort execute
    * inside the source DB. */
  def changeEntitySql(schema: String, table: String, keys: Seq[String],
      nonKeyCols: Seq[String]): String =
    entityScanSql(schema, table, keys, nonKeyCols, "?", ordered = true)

  /** Variant for [[SqlServerFeed]]: version inlined (a Long, so no
    * injection surface) and no ORDER BY, so the feed can append its
    * `Where` range bound. Row order does not matter: CHANGETABLE returns
    * net change, one row per changed key carrying its newest version, so
    * a batch holds no two versions of one key. A key whose newest change
    * lies past the upper bound is left for the next batch. */
  def changeEntitySqlAt(schema: String, table: String, keys: Seq[String],
      nonKeyCols: Seq[String], ver: Long): String =
    entityScanSql(schema, table, keys, nonKeyCols, ver.toString,
      ordered = false)

  private def entityScanSql(schema: String, table: String, keys: Seq[String],
      nonKeyCols: Seq[String], verExpr: String, ordered: Boolean): String = {
    val ctCols = (TrackingFields ++ keys).map(c => s"ct.${br(c)}")
    val tCols = nonKeyCols.map(c => s"t.${br(c)}")
    val on = keys.map(k => s"ct.${br(k)} = t.${br(k)}").mkString(" And ")
    s"Select ${(ctCols ++ tCols).mkString(", ")} " +
      s"From CHANGETABLE(CHANGES ${br(schema)}.${br(table)}, $verExpr) As ct " +
      s"Left Outer Join ${br(schema)}.${br(table)} As t On $on" +
      (if (ordered) " Order By ct.sys_change_version" else "")
  }

  // --- O27: version watermark (ref sql_server.clj:100-109). ---

  val CurrentVersionSql = "Select CHANGE_TRACKING_CURRENT_VERSION()"
  def minValidVersionSql(schema: String, table: String): String =
    s"Select CHANGE_TRACKING_MIN_VALID_VERSION(Object_Id('${br(schema)}.${br(table)}'))"

  /** Projection core: (topic, key, value, sys_change_version), no transform
    * applied. Streaming-safe (no aggregation). O28 (ref
    * sql_server.clj:111-124 relocate-tracking-fields + tombstone): tracking
    * fields leave the value; operation "D" ⇒ value NULL (tombstone). Key =
    * canonical JSON of the PK columns; value = canonical JSON of the
    * non-tracking columns. */
  private def projectChanges(changes: DataFrame, source: SourceDef): DataFrame = {
    val df = Canonical.lowerCols(changes)
    val tracking = TrackingFields.toSet
    val entityCols = df.columns.filterNot(tracking.contains).toSeq
    val entity = df.select(
      (entityCols.map(col) :+ col("sys_change_operation") :+
        col("sys_change_version")): _*)
    val keyCols = source.keys.map(_.toLowerCase)
    entity.select(
      lit(source.topic).as(Msg.Topic),
      Canonical.keyJson(entity, keyCols).as(Msg.Key),
      when(col("sys_change_operation") === "D", lit(null).cast("string"))
        .otherwise(Canonical.valueJsonOf(entity, entityCols)).as(Msg.Value),
      col("sys_change_version"))
  }

  /** The CDC stream: the DSv2 source (`format("graft-cdc")`, the one CDC
    * runner) piped through the message projection. Emits (topic, key,
    * value, sys_change_version); the version column is kept for callers
    * that read it, and [[batchMessages]] drops it. A keyless source is
    * rejected here: every change would key `{}`, so every message would
    * overwrite one key's state (melt tracks only tables with a PK,
    * sql_server.clj:23-27). The sink recipe:
    * {{{
    *   .writeStream.foreachBatch { (b, _) =>
    *     store.send(ChangeTracking.batchMessages(b, source))
    *   }
    * }}} */
  def changeStream(spark: org.apache.spark.sql.SparkSession, feedName: String,
      source: SourceDef, fromVersion: Long = 0L): DataFrame = {
    require(source.keys.nonEmpty,
      s"CDC needs a primary key: ${source.schemaName}.${source.name} has none")
    projectChanges(
      spark.readStream.format("graft-cdc")
        .option("feed", feedName)
        .option("fromVersion", fromVersion.toString)
        .load(),
      source)
  }

  /** O29 — one [[changeStream]] micro-batch → the messages to send (ref
    * sql_server.clj:126-153 send-changes, which hands CHANGETABLE's rows
    * straight to the producer). The feed already delivers net change, at
    * most one row per key (the `VersionedFeed.rows` contract), so this is
    * the (topic, key, value) projection and nothing else: no aggregation,
    * and one micro-batch send is one map-only job. Then the user
    * transform, which sees the documented (topic, key, value) message
    * frame — same contract as the load/sync paths (model.scala). The
    * stream's offset comes from the feed, so a transform that drops rows
    * cannot lose the version cursor. */
  def batchMessages(batch: DataFrame, source: SourceDef): DataFrame = {
    val msgs = batch.select(Msg.Topic, Msg.Key, Msg.Value)
    source.transform.fold(msgs)(f => f(msgs))
  }
}
