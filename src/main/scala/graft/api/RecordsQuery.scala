package graft.api

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.plans.KplExplode

/** The reference's `GET /records` query surface as a typed Scala API
  * (SURVEY.md §2.3): 7 URL parameters → validated plan over a record stream.
  *
  * Pipeline (SURVEY.md §3.1): source scan from the lookback start → KPL
  * de-aggregate (flatten) → raw id guard → JSON decode → conjunctive
  * filters → sink. The batch plan ([[plan]]) and the catch-up stream
  * ([[graft.streaming.RecordsStream.records]]) share [[pipeline]].
  */
object RecordsQuery {

  /** Allow/required lists, verbatim from `app/server/index.js:46-48`. */
  val RequiredParams: Set[String] = Set("streamname")
  val AllowedParams: Set[String] =
    Set("duration", "streamname", "contactId", "agentId", "serverName",
        "tenantId", "agentShiftId")

  /** Lookback clamp constants (`app/server/index.js:28-34`). */
  val DefaultDurationMinutes = 10L
  val MaxDurationMinutes     = 960L

  private val NumericParams = Set("duration", "contactId", "agentId", "tenantId", "agentShiftId")

  /** Structured 400 body, shape-compatible with `queryTools/index.js:33-36`. */
  final case class ValidationError(
      missingRequiredParams: Seq[String],
      invalidParams: Seq[String]) {
    val badRequest: Boolean = true
    def toJson: String = {
      def arr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      s"""{"badRequest":true,"missingRequiredParams":${arr(missingRequiredParams)},"invalidParams":${arr(invalidParams)}}"""
    }
  }

  /** A validated, typed query. */
  final case class Query(
      streamName: String,
      durationMinutes: Long,
      contactId: Option[Long],
      agentId: Option[Long],
      serverName: Option[String],
      tenantId: Option[Long],
      agentShiftId: Option[Long])

  /** Validate raw string params (O12 semantics, plus strict number parsing —
    * the engine rejects what JS `parseInt` would silently truncate, per
    * SURVEY.md §7.3; a malformed number lands in `invalidParams`). */
  def validate(params: Map[String, String]): Either[ValidationError, Query] = {
    val missing = RequiredParams.filterNot(params.contains).toSeq.sorted
    val unknown = params.keys.filterNot(AllowedParams).toSeq.sorted
    val malformed = params.collect {
      case (k, v) if NumericParams(k) && v.toLongOption.isEmpty => k
    }.toSeq.sorted
    val invalid = (unknown ++ malformed).distinct.sorted
    if (missing.nonEmpty || invalid.nonEmpty)
      Left(ValidationError(missing, invalid))
    else {
      def long(k: String): Option[Long] = params.get(k).map(_.toLong)
      val duration = long("duration").getOrElse(DefaultDurationMinutes)
      Right(Query(
        streamName = params("streamname"),
        // `Math.min(duration, 960)` clamp, `app/server/index.js:31-32`.
        durationMinutes = math.min(duration, MaxDurationMinutes),
        contactId = long("contactId"),
        agentId = long("agentId"),
        serverName = params.get("serverName"),
        tenantId = long("tenantId"),
        agentShiftId = long("agentShiftId")))
    }
  }

  /** Scan start = now − duration minutes (`app/server/index.js:28-34`). */
  def startTimestamp(q: Query, now: Instant): Instant =
    now.minusSeconds(q.durationMinutes * 60)

  /** AND of the supplied attribute filters (O6-O11); none supplied → true. */
  def predicate(q: Query): Column = {
    val preds: Seq[Column] = Seq(
      q.contactId.map(EventSchema.contactIdFilter),
      q.agentId.map(EventSchema.agentIdFilter),
      q.serverName.map(EventSchema.serverNameFilter),
      q.tenantId.map(EventSchema.tenantIdFilter),
      q.agentShiftId.map(EventSchema.agentShiftIdFilter)).flatten
    preds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** The `/records` lookback: envelope rows that arrived at or after
    * [[startTimestamp]] — the analog of the reference's AT_TIMESTAMP
    * iterator (`kinesisReader/index.js:77-81`). Batch ([[plan]]) and
    * stream ([[graft.streaming.RecordsStream.envelopeStream]]) both apply
    * this one plan filter; the kpl scan does not push it down, so every
    * frame is read and the filter drops those before the start. */
  def lookback(envelope: DataFrame, q: Query, now: Instant): DataFrame =
    envelope.filter(
      col("approximateArrivalTimestamp") >= lit(java.sql.Timestamp.from(startTimestamp(q, now))))

  /** Build the full plan over an envelope DataFrame
    * (`data: binary, approximateArrivalTimestamp: timestamp`, SURVEY.md
    * §1.4): [[lookback]], then [[pipeline]], projected to `json`. */
  def plan(envelope: DataFrame, q: Query, now: Instant): DataFrame =
    pipeline(lookback(envelope, q, now), q)

  /** The one records plan, shared by batch and stream: KPL flatten
    * (strict-drop, [[KplExplode.userRecords]]) → raw id guard → JSON
    * decode → the query's filters, projected to `json`: `from_json` feeds
    * only the `Filter`, and an unfiltered plan holds none.
    *
    * The guard ([[EventSchema.parse]]) hands `from_json` only payloads
    * whose bytes hold the decimal text of every numeric id the query
    * names; any other payload decodes to null, which the filters drop. It
    * is sound because a JSON integer has one spelling and an ASCII digit
    * is its own byte in UTF-8, so it never drops a match and every kept
    * row is byte-identical to the unguarded plan's. It lives inside the
    * decode's input because subexpression elimination evaluates the
    * shared `from_json` before any conjunct of the filter could skip it.
    * `serverName` is not guarded (a `\u0063` escape defeats a byte test). */
  def pipeline(envelope: DataFrame, q: Query): DataFrame = {
    val ids = Seq(q.contactId, q.agentId, q.tenantId, q.agentShiftId).flatten
    EventSchema.parse(KplExplode.userRecords(envelope), ids)
      .filter(predicate(q))
      .select(col("json"))
  }

  /** Validate + plan in one step, the `GET /records` analog. */
  def records(
      envelope: DataFrame,
      params: Map[String, String],
      now: Instant = Instant.now()): Either[ValidationError, DataFrame] =
    validate(params).map(q => plan(envelope, q, now))

  /** Hard cap on rows the JSON echo will materialize on the driver.
    * The reference's practical bound: it fully materializes the scan in
    * Node heap (`kinesisReader/index.js:18,33`) over at most 8 h of one
    * shard — bounded by construction; this constant makes the same bound
    * explicit rather than implicit. */
  val MaxEchoRows: Int = 100000

  /** Driver-side JSON-array echo of a *bounded* result — the reference's
    * HTTP response body (`responses/index.js:26-37`).
    *
    * THIS COLLECTS TO THE DRIVER by design: it is the API-parity echo of
    * the reference's in-memory HTTP response, and it refuses results over
    * [[MaxEchoRows]] with a loud error instead of OOMing the driver. Never
    * route a corpus through this — scale-out sinks
    * (`df.write.json(...)` / `writeStream`, see `Verify.scala`,
    * `FormatsSpec`) are the path for anything bigger than an API page.
    *
    * One Spark job over every partition: each partition ships at most
    * `MaxEchoRows + 1` rows, so the driver holds at most that many per
    * partition before the refusal. (`limit(n).collect()` would plan a
    * `CollectLimitExec`, whose incremental take runs a second job for the
    * partitions the first did not fill.) Partitions arrive in order, so a
    * sorted `df` keeps its order. */
  def toJsonArray(df: DataFrame): String = {
    val cap = MaxEchoRows + 1
    val rows = df.select(col("json")).as(Encoders.STRING)
      .mapPartitions((it: Iterator[String]) => it.take(cap))(Encoders.STRING)
      .collect()
    if (rows.length > MaxEchoRows)
      throw new IllegalStateException(
        s"toJsonArray: result exceeds MaxEchoRows=$MaxEchoRows; " +
          "use df.write.json(...) for corpus-sized output")
    rows.mkString("[", ",", "]")
  }
}
