package graft

import org.apache.spark.sql.DataFrame

/** Core data model (SURVEY.md §1).
  *
  * A source is a table (or ad-hoc query result) to be mirrored into a keyed
  * message topic (ref /root/reference/src/jdbc/melt.clj:58-61,89-100 source
  * maps; :jdbc.melt/sql override melt.clj:141-151; ::xform melt.clj:30-31;
  * ::topic melt.clj:49-53).
  */
final case class SourceDef(
    catalog: String,
    schemaName: String,
    name: String,
    /** Primary-key column names (lower-cased). Empty = keyless source:
      * the whole row becomes the key (ref integration_test.clj:158-184
      * whole-value-key mode). */
    keys: Seq[String],
    /** Target topic; default mirrors the reference's `melt.<schema>.<table>`
      * naming (ref melt_test.clj:32-33). */
    topicOverride: Option[String] = None,
    /** The xform hook (ref melt.clj:30-31): an arbitrary DataFrame→DataFrame
      * rewrite of the *message frame* (columns topic/key/value), applied in
      * the load, diff and CDC paths alike. The reference's whole UDF surface. */
    transform: Option[DataFrame => DataFrame] = None) {
  def topic: String = topicOverride.getOrElse(s"melt.$schemaName.$name")
}

/** Column-name contract for message frames (the Kafka sink shape):
  * `topic: string, key: string (nullable), value: string (nullable)`.
  * value IS NULL = tombstone (ref melt.clj:489-493). */
object Msg {
  val Topic = "topic"
  val Key = "key"
  val Value = "value"
  /** Log position columns of a read: the Kafka partition and offset. */
  val Partition = "partition"
  val Offset = "offset"
}
