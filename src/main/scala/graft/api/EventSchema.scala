package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The implied event schema of the reference's filter module (SURVEY.md §1.2).
  *
  * Nullable fields use Avro JSON union encoding — absent = `{"k": null}`,
  * present = `{"k": {"long": 123}}` (`objectFilter/index.js:11-16`) — and
  * `baseEventData` is a tagged union keyed by the event's fully-qualified
  * class name (`objectFilter/index.js:14,26`). Here that becomes one
  * canonical `StructType` with every branch nullable, so a missing path
  * evaluates to null and comparisons propagate to false — reproducing the
  * reference's try/catch→false semantics (`objectFilter/index.js:17-19`)
  * without any per-row exception machinery.
  */
object EventSchema {

  val ContactEventClass = "com.incontact.datainfra.events.ContactEvent"
  val AgentEventClass   = "com.incontact.datainfra.events.AgentEvent"

  private def unionLong: StructType   = StructType(Seq(StructField("long", LongType)))
  private def unionString: StructType = StructType(Seq(StructField("string", StringType)))

  private val contactIdentification = StructType(Seq(
    StructField("contactId", unionLong),
    StructField("contactIdAlt", unionLong)))

  private val contactEvent = StructType(Seq(
    StructField("mediaScopeIdentification", StructType(Seq(
      StructField("contactIdentification", contactIdentification))))))

  private val agentShiftIdentification = StructType(Seq(
    StructField("agentIdentification", StructType(Seq(
      StructField("agentId", unionLong),
      StructField("agentIdAlt", unionLong)))),
    StructField("agentShiftId", unionLong),
    StructField("agentShiftIdAlt", unionLong)))

  private val agentEvent = StructType(Seq(
    StructField("agentShiftIdentification", agentShiftIdentification)))

  private val tenantIdStruct = StructType(Seq(
    StructField("tenantId", unionLong),
    StructField("tenantIdAlt", unionLong),
    StructField("serverName", unionString)))

  /** Canonical schema covering every path the reference's filters read. */
  val schema: StructType = StructType(Seq(
    StructField("baseEventData", StructType(Seq(
      StructField(ContactEventClass, contactEvent),
      StructField(AgentEventClass, agentEvent)))),
    StructField("tenantId", tenantIdStruct)))

  /** Corrupt-record column name, mirroring the reference's fallback object
    * `{"INVALID JSON": <raw>}` (`kinesisReader/index.js:113-116`). */
  val CorruptField = "INVALID JSON"

  /** [[schema]] plus the corrupt-record column for PERMISSIVE parsing. */
  val schemaWithCorrupt: StructType =
    schema.add(StructField(CorruptField, StringType))

  // Filter-target paths (backticks guard the dotted class-name field).
  private def contactPath(leaf: String): Column =
    col(s"event.baseEventData.`$ContactEventClass`.mediaScopeIdentification.contactIdentification.$leaf.long")
  private def agentPath(leaf: String): Column =
    col(s"event.baseEventData.`$AgentEventClass`.agentShiftIdentification.agentIdentification.$leaf.long")
  private def shiftPath(leaf: String): Column =
    col(s"event.baseEventData.`$AgentEventClass`.agentShiftIdentification.$leaf.long")

  /** Main/alt equality filters (SURVEY.md O6-O10). A null (missing) path
    * compares to null → row filtered out, matching catch→false. */
  def contactIdFilter(id: Long): Column =
    contactPath("contactId") === id || contactPath("contactIdAlt") === id
  def agentIdFilter(id: Long): Column =
    agentPath("agentId") === id || agentPath("agentIdAlt") === id
  def agentShiftIdFilter(id: Long): Column =
    shiftPath("agentShiftId") === id || shiftPath("agentShiftIdAlt") === id
  def tenantIdFilter(id: Long): Column =
    col("event.tenantId.tenantId.long") === id ||
      col("event.tenantId.tenantIdAlt.long") === id
  def serverNameFilter(name: String): Column =
    lower(col("event.tenantId.serverName.string")) === name.toLowerCase

  /** Parse the UTF-8 JSON `payload` column into `event` (typed) + raw `json`.
    *
    * PERMISSIVE mode with `columnNameOfCorruptRecord` reproduces the
    * reference's `{"INVALID JSON": raw}` fallback as a populated
    * `event.`INVALID JSON`` field instead of a dropped or poisoned row.
    */
  def parse(df: DataFrame): DataFrame =
    df
      .withColumn("json", col("payload").cast(StringType))
      .withColumn(
        "event",
        from_json(
          col("json"),
          schemaWithCorrupt,
          Map(
            "mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> CorruptField)))
}
