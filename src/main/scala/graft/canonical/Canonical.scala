package graft.canonical

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{Msg, SourceDef}

/** Canonical JSON — the correctness linchpin (SURVEY.md §7.1 #2).
  *
  * The reference defines all comparison semantics after a JSON round-trip
  * (ref /root/reference/src/jdbc/melt.clj:359-390): keys are serialized with
  * sorted map entries so string equality = logical equality (melt.clj:359-362),
  * timestamps render ISO-8601 `yyyy-MM-dd'T'HH:mm:ss'Z'` in UTC (golden at
  * test/jdbc/melt_test.clj:72), binary → base64 (melt.clj:364-366), nulls
  * survive as JSON null (melt_test.clj:70), column names lower-cased
  * (melt.clj:63).
  *
  * Spark-first: instead of fuzz/unfuzz re-parsing (melt.clj:380-390,415-416)
  * we canonicalize BOTH sides to byte-identical JSON strings with `to_json`
  * over a struct whose field order is deterministic (sorted by lower-cased
  * name) — then diff/compaction operate on plain string equality, which stays
  * inside whole-stage codegen and shuffles only compact strings at scale.
  */
object Canonical {

  val TimestampFmt = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  private val jsonOpts = Map(
    // pin the rendering zone HERE, not via session config: the literal 'Z'
    // in the format would silently lie in a session left on local time
    "timeZone" -> "UTC",
    "timestampFormat" -> TimestampFmt,
    // parquet timestamps with isAdjustedToUTC=false load as TIMESTAMP_NTZ,
    // which to_json formats via its own option; session TZ is pinned UTC so
    // rendering NTZ with a literal Z matches the reference's GMT goldens
    "timestampNTZFormat" -> TimestampFmt,
    "dateFormat" -> "yyyy-MM-dd",
    // reference keeps nulls: {"addressline2": null} (melt_test.clj:70)
    "ignoreNullFields" -> "false")

  /** Lower-case all column names (ref melt.clj:63 keywordize/lower). */
  def lowerCols(df: DataFrame): DataFrame =
    df.toDF(df.columns.toIndexedSeq.map(_.toLowerCase): _*)

  /** Canonical JSON of `cols`: `to_json` over a struct whose fields are
    * sorted by lower-cased name. */
  private def json(cols: Seq[String]): Column =
    to_json(struct(cols.sortBy(_.toLowerCase)
      .map(c => col(c).as(c.toLowerCase)): _*), jsonOpts)

  /** Canonical JSON of the key columns (sorted field order ⇒ string equality
    * = logical equality, ref melt.clj:359-362 ensure-sorted). */
  def keyJson(df: DataFrame, keys: Seq[String]): Column = json(keys)

  /** Canonical JSON of the whole row. */
  def valueJson(df: DataFrame): Column = json(df.columns.toSeq)

  /** Canonical JSON of a column subset (CDC values exclude the tracking
    * fields, ref sql_server.clj:111-119 relocate-tracking-fields). */
  def valueJsonOf(df: DataFrame, cols: Seq[String]): Column = json(cols)

  /** Row frame → message frame `(topic, key, value)` (ref melt.clj:49-53
    * `message`: key = select-keys(row, keys), value = row). Keyless sources
    * use the whole row as key (ref integration_test.clj:158-184). */
  def messages(rows: DataFrame, source: SourceDef): DataFrame = {
    val df = lowerCols(rows)
    val keyCols = if (source.keys.nonEmpty) source.keys.map(_.toLowerCase)
      else df.columns.toSeq
    val base = df.select(
      lit(source.topic).as(Msg.Topic),
      keyJson(df, keyCols).as(Msg.Key),
      valueJson(df).as(Msg.Value))
    source.transform.fold(base)(f => f(base))
  }
}
