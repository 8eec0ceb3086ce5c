package graft.api

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.BoundLong

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
  *
  * The id filters compare each leaf with a [[BoundLong]], which generated
  * code reads by reference, not a `Literal`, whose value would be spelled
  * in the source. Requests that name the same filters with other ids thus
  * generate the same predicate source, and Spark's codegen cache compiles
  * it once per filter shape, not once per request.
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

  // Filter-target paths (backticks guard the dotted class-name field).
  private def contactPath(leaf: String): Column =
    col(s"event.baseEventData.`$ContactEventClass`.mediaScopeIdentification.contactIdentification.$leaf.long")
  private def agentPath(leaf: String): Column =
    col(s"event.baseEventData.`$AgentEventClass`.agentShiftIdentification.agentIdentification.$leaf.long")
  private def shiftPath(leaf: String): Column =
    col(s"event.baseEventData.`$AgentEventClass`.agentShiftIdentification.$leaf.long")

  private def bound(id: Long): Column = GraftBridge.column(BoundLong(id))

  /** Main/alt equality filters (SURVEY.md O6-O10). A null (missing) path
    * compares to null → row filtered out, matching catch→false. */
  def contactIdFilter(id: Long): Column =
    contactPath("contactId") === bound(id) || contactPath("contactIdAlt") === bound(id)
  def agentIdFilter(id: Long): Column =
    agentPath("agentId") === bound(id) || agentPath("agentIdAlt") === bound(id)
  def agentShiftIdFilter(id: Long): Column =
    shiftPath("agentShiftId") === bound(id) || shiftPath("agentShiftIdAlt") === bound(id)
  def tenantIdFilter(id: Long): Column =
    col("event.tenantId.tenantId.long") === bound(id) ||
      col("event.tenantId.tenantIdAlt.long") === bound(id)
  /** Case-insensitive: Spark's `lower` maps both sides, so the match does
    * not depend on the JVM's default locale; the right side folds to a
    * literal. */
  def serverNameFilter(name: String): Column =
    lower(col("event.tenantId.serverName.string")) === lower(lit(name))

  /** Parse the UTF-8 JSON `payload` column into `event` (typed) + raw `json`.
    *
    * `from_json` decodes with [[schema]], PERMISSIVE: invalid JSON never
    * matches a filter (the pipeline echoes its text, not the reference's
    * `{"INVALID JSON": raw}`), and with no options the optimizer narrows
    * each decode to the one top-level field its filters read.
    *
    * Raw id guard (filter before you parse): given the query's numeric
    * `ids`, `from_json` reads `json` only where the payload's bytes contain
    * the decimal text of every id, and gets null, so `event = null`, for
    * any other payload. The stage order is lookback → KPL flatten → raw id
    * guard → JSON decode → filters. The guard never drops a match:
    *  - a `LongType` leaf of `from_json` takes only a JSON integer token
    *    (a string `"5"`, `5.0`, `5e0`, `05` or `+5` reads null), and a JSON
    *    integer has one spelling: optional `-`, digits, no leading zero, no
    *    escape. So a leaf equal to `id` is spelled `id.toString` in the
    *    text, `-` included; `-0` contains `0`;
    *  - `from_json` decodes the bytes as UTF-8, where an ASCII digit or
    *    `-` is always its own byte and no other sequence (invalid bytes
    *    included) decodes to one. So the text holds `id.toString` only if
    *    the bytes do, and `Column.contains` compares bytes.
    * Every equality filter on an id therefore rejects every payload the
    * guard nulls, and each surviving row's `event` is the unguarded one.
    *
    * The guard sits inside `from_json`'s input, not in the filter: the
    * generated filter code hoists the one `from_json` that both branches of
    * `main === id || alt === id` read (subexpression elimination), so a
    * `contains` conjunct in front of the predicate would still parse every
    * row. `serverName` stays unguarded: a JSON string may spell a letter as
    * `\u0063`, and the match is case-insensitive, so no byte test is sound
    * for it. With no ids the plan is the unguarded parse.
    */
  def parse(df: DataFrame, ids: Seq[Long] = Nil): DataFrame = {
    val json = col("payload").cast(StringType)
    val input = ids.distinct.map(id => json.contains(id.toString))
      .reduceOption(_ && _).fold(json)(when(_, json))
    df
      .withColumn("json", json)
      .withColumn("event", from_json(input, schema))
  }
}
