package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant
import java.util.Locale

import org.apache.commons.codec.binary.Hex
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, JsonToStructs, Literal}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec
import graft.plans.{BoundLong, KplExplode}
import graft.sources.{KplFileSource, KplShardFiles}
import graft.streaming.RecordsStream

/** The raw id guard in front of the pipeline's `from_json`
  * ([[EventSchema.parse]]) and the ids the filters compare by reference
  * ([[graft.plans.BoundLong]]): the guard sits inside the decode's input,
  * neither changes an answer, and a request of a seen filter shape compiles
  * no code. Every plan is compared with the unguarded decode filtered by
  * plain literal comparisons written out in this spec, over payloads built
  * to fool a byte test. */
class IdGuardSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val nowMs = 960L * 60000L
  private val now = Instant.ofEpochMilli(nowMs)

  private def query(params: (String, String)*): RecordsQuery.Query =
    RecordsQuery.validate(Map("streamname" -> "s") ++ params).toOption.get

  /** An event with every filter leaf given as raw JSON text (`null` when
    * absent), so a leaf can be spelled any way, valid or not. */
  private def event(contact: String = "null", contactAlt: String = "null",
                    tenant: String = "null", tenantAlt: String = "null",
                    server: String = "null", extra: String = ""): String =
    s"""{$extra"baseEventData":{"com.incontact.datainfra.events.ContactEvent":{"mediaScopeIdentification":{"contactIdentification":{"contactId":$contact,"contactIdAlt":$contactAlt}}}},"tenantId":{"tenantId":$tenant,"tenantIdAlt":$tenantAlt,"serverName":$server}}"""

  private def agent(agentId: String = "null", agentAlt: String = "null",
                    shift: String = "null", shiftAlt: String = "null"): String =
    s"""{"baseEventData":{"com.incontact.datainfra.events.AgentEvent":{"agentShiftIdentification":{"agentIdentification":{"agentId":$agentId,"agentIdAlt":$agentAlt},"agentShiftId":$shift,"agentShiftIdAlt":$shiftAlt}}},"tenantId":{"tenantId":null,"tenantIdAlt":null,"serverName":null}}"""

  private def long(v: String) = s"""{"long":$v}"""
  private def utf8(s: String) = s.getBytes(UTF_8)
  private def bytes(xs: Int*) = xs.map(_.toByte).toArray

  /** Payloads that a raw byte test could get wrong; the number before
    * each is its index, which the queries below name. */
  private val payloads: Seq[Array[Byte]] = Seq[String](
    // 0-1: plain matches, main and alt
    event(contact = long("123"), tenant = long("7")),
    event(contactAlt = long("123"), tenant = long("7")),
    // 2-6: the id as a string, float, exponent, leading-zero or `+` spelling
    event(contact = long("\"123\""), tenant = long("7")),
    event(contact = long("123.0"), tenant = long("7")),
    event(contact = long("1.23e2"), tenant = long("7")),
    event(contact = long("0123"), tenant = long("7")),
    event(contact = long("+123"), tenant = long("7")),
    // 7-9: the id's digits only in other fields, or inside a longer number
    event(contact = long("5"), tenant = long("7"),
      extra = """"eventId":"123","eventTime":1234567,"""),
    event(contact = long("1234"), tenant = long("71")),
    event(contact = long("7"), tenant = long("123")),
    // 10-14: negative ids, and 0 against -0
    event(contact = long("-123"), tenant = long("-7")),
    event(contact = long("123"), tenant = long("-7")),
    agent(agentId = long("-0"), shift = long("-9")),
    agent(agentAlt = long("0"), shiftAlt = long("9")),
    agent(agentId = long("10"), shift = long("-90")),
    // 15-18: JSON escapes (\u006f): in a key the parse still reaches the
    // leaf, in a string value the digits can never match a long leaf
    event(tenant = long("7")).replace("\"contactId\":null",
      "\"c\\u006fntactId\":" + long("123")),
    event(contact = long("5"), tenant = long("7"),
      server = """{"string":"123"}"""),
    event(contact = long("123"), server = "{\"string\":\"\\u0063\\u0031\"}"),
    event(contact = long("123"), server = """{"string":"C1"}"""),
    // 19: overflow: a 20-digit integer holding the id's text is no long
    event(contact = long("12345678901234567890"), tenant = long("7")),
    // 20: the long bounds
    event(contact = long("-9223372036854775808"), tenant = long("9223372036854775807")),
  ).map(utf8) ++ Seq(
    // 21-23: invalid UTF-8 next to the digits: a lone lead byte before
    // them, a truncated sequence after them, stray continuation bytes
    utf8("""{"pad":"""") ++ bytes(0xC3) ++ utf8("123") ++ bytes(0xE2, 0x82) ++
      utf8("""",""" + event(contact = long("123"), tenant = long("7")).drop(1)),
    utf8(event(contact = long("123"), tenant = long("7")).dropRight(1) +
      ""","tail":"""") ++ bytes(0x80, 0xBF) ++ utf8("7") ++ bytes(0xFF) ++ utf8("\"}"),
    utf8("""{"pad":"""") ++ bytes(0xF0, 0x9F) ++ utf8("""",""" +
      event(contact = long("5"), tenant = long("7")).drop(1)),
    // 24-27: invalid JSON, with and without the ids' text
    utf8("not json at all 123 7"),
    utf8(event(contact = long("123"), tenant = long("7")).dropRight(3)),
    utf8("""{"tenantId":{"tenantId":{"long":7}}"""),
    utf8(""))

  /** Each query with the indices of the payloads it keeps. Truncated JSON
    * (25, 26) is invalid and matches no filter, as in the reference, whose
    * `JSON.parse` rejects it. */
  private val queries: Seq[(RecordsQuery.Query, Seq[Int])] = Seq(
    query() -> payloads.indices,
    query("contactId" -> "123") -> Seq(0, 1, 11, 15, 17, 18, 21, 22),
    query("tenantId" -> "7") -> Seq(0, 1, 2, 3, 4, 7, 15, 16, 19, 21, 22, 23),
    query("contactId" -> "123", "tenantId" -> "7") -> Seq(0, 1, 15, 21, 22),
    query("tenantId" -> "-7") -> Seq(10, 11),
    query("contactId" -> "-123") -> Seq(10),
    query("agentId" -> "0") -> Seq(12, 13),
    query("agentShiftId" -> "9") -> Seq(13),
    query("agentShiftId" -> "-9") -> Seq(12),
    query("serverName" -> "c1") -> Seq(17, 18),
    query("contactId" -> "123", "serverName" -> "C1") -> Seq(17, 18),
    query("contactId" -> "-9223372036854775808") -> Seq(20),
    query("tenantId" -> "9223372036854775807") -> Seq(20))

  /** One envelope per payload, plus one KPL aggregate of all of them,
    * inside the default 10-minute lookback. */
  private def store(): String = {
    val dir = Files.createTempDirectory("id-guard").toString
    val at = 955L * 60000L
    val frames = payloads.zipWithIndex.map { case (p, i) =>
      KplShardFiles.Frame(at, s"pk$i", p)
    }
    KplShardFiles.write(dir, 0, frames)
    KplShardFiles.write(dir, 1, Seq(KplShardFiles.Frame(at, "pk-agg",
      KplCodec.aggregate("pk-agg", payloads))))
    dir
  }

  private def envelope(dir: String): DataFrame =
    spark.read.format(KplFileSource.ProviderClass).option("path", dir).load()

  /** The query's filters as plain `lit` comparisons on the event's
    * paths, independent of [[EventSchema]]'s filter builders. */
  private def literalPredicate(q: RecordsQuery.Query): Column = {
    val contact = s"event.baseEventData.`${EventSchema.ContactEventClass}`" +
      ".mediaScopeIdentification.contactIdentification"
    val shift = s"event.baseEventData.`${EventSchema.AgentEventClass}`.agentShiftIdentification"
    def either(main: String, alt: String)(id: Long): Column =
      col(s"$main.long") === lit(id) || col(s"$alt.long") === lit(id)
    Seq(
      q.contactId.map(either(s"$contact.contactId", s"$contact.contactIdAlt")),
      q.agentId.map(either(s"$shift.agentIdentification.agentId",
        s"$shift.agentIdentification.agentIdAlt")),
      q.serverName.map(n =>
        lower(col("event.tenantId.serverName.string")) === lit(n.toLowerCase(Locale.ROOT))),
      q.tenantId.map(either("event.tenantId.tenantId", "event.tenantId.tenantIdAlt")),
      q.agentShiftId.map(either(s"$shift.agentShiftId", s"$shift.agentShiftIdAlt")),
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** The unguarded reference: decode every payload, then filter. */
  private def reference(dir: String, q: RecordsQuery.Query): DataFrame =
    EventSchema.parse(KplExplode.userRecords(RecordsQuery.lookback(envelope(dir), q, now)))
      .filter(literalPredicate(q))
      .select(col("json"))

  /** Each row's `json` bytes, in hex, so invalid UTF-8 survives a memory
    * sink too. */
  private def encoded(df: DataFrame): DataFrame =
    df.select(hex(col("json").cast("binary")).as("json"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq.sorted

  private def fromJsons(df: DataFrame): Seq[JsonToStructs] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(
      _.collect { case j: JsonToStructs => j }))

  /** The name of each operator that evaluates a `from_json`, once per
    * call it holds. */
  private def decodeSites[T <: QueryPlan[T]](plan: T): Seq[String] =
    plan.flatMap(p => p.expressions.flatMap(
      _.collect { case _: JsonToStructs => p.nodeName }))

  /** The expressions of each operator that evaluates a `from_json`. */
  private def decodeExpressions[T <: QueryPlan[T]](plan: T): Seq[Expression] =
    plan.flatMap(p => p.expressions.filter(_.exists(_.isInstanceOf[JsonToStructs])))

  /** The executed plan of a stream's last micro-batch, after an
    * `AvailableNow` drain into the noop sink. */
  private def executedPlan(stream: DataFrame): SparkPlan = {
    val query = stream.writeStream.format("noop").trigger(Trigger.AvailableNow()).start()
    query.awaitTermination(60000)
    query.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
  }

  private def guardTexts(j: JsonToStructs): Set[String] =
    j.child.collect { case Contains(_, Literal(v, StringType)) => v.toString }.toSet

  test("the optimized plan guards its one from_json input with every numeric id") {
    val dir = store()
    val filtered = query("contactId" -> "123", "tenantId" -> "-7", "serverName" -> "c1")
    val guarded = fromJsons(RecordsQuery.plan(envelope(dir), filtered, now))
    guarded.map(guardTexts).distinct shouldBe Seq(Set("123", "-7"))
    guarded.map(_.child.canonicalized).distinct should have size 1
    // One decode per top-level field the filters read, narrowed to it.
    guarded.map(_.schema.asInstanceOf[StructType].fieldNames.toSeq).toSet shouldBe
      Set(Seq("baseEventData"), Seq("tenantId"))
    val plain = fromJsons(RecordsQuery.plan(envelope(dir), query("serverName" -> "c1"), now))
    plain.map(_.canonicalized).distinct should have size 1
    plain.flatMap(_.child.collect { case c: Contains => c }) shouldBe empty
    // The answer is `json` alone, so `from_json` feeds only the filter, and
    // a query without filters never decodes.
    for (q <- Seq(filtered, query())) {
      val batch = RecordsQuery.plan(envelope(dir), q, now)
      val stream = RecordsStream.records(RecordsStream.envelopeStream(spark, dir, q, nowMs), q)
      batch.columns.toSeq shouldBe Seq("json")
      stream.columns.toSeq shouldBe Seq("json")
      val optimized = batch.queryExecution.optimizedPlan
      val executed = executedPlan(stream)
      for ((name, sites, exprs) <- Seq(
          ("batch optimized", decodeSites(optimized), decodeExpressions(optimized)),
          ("stream executed", decodeSites(executed), decodeExpressions(executed))))
        withClue(s"$name plan of $q: ") {
          if (q == filtered) {
            sites should not be empty
            sites.distinct shouldBe Seq("Filter")
            // The ids reach the decoding filter as references, never as
            // `bigint` literals spelled in its generated source.
            exprs.flatMap(_.collect { case l @ Literal(_, LongType) => l }) shouldBe empty
            exprs.flatMap(_.collect { case b: BoundLong => b.value }).toSet shouldBe Set(123L, -7L)
          } else sites shouldBe empty
        }
    }
  }

  test("a request of a served filter shape compiles no code, whatever its ids") {
    val dir = store()
    val hexes = payloads.map(p => Hex.encodeHexString(p, false))
    // (contactId, tenantId) -> the payloads kept, each bare and aggregated.
    val requests = Seq(
      ("123", "7") -> Seq(0, 1, 15, 21, 22),
      ("-123", "-7") -> Seq(10),
      ("123", "-7") -> Seq(11),
      ("1234", "71") -> Seq(8),
      ("7", "123") -> Seq(9),
      ("5", "7") -> Seq(7, 16, 23))
    for ((((contact, tenant), kept), i) <- requests.zipWithIndex) {
      val q = query("contactId" -> contact, "tenantId" -> tenant)
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val df = RecordsQuery.plan(envelope(dir), q, now)
      RecordsQuery.toJsonArray(df) // served as the server does, then read back
      val got = rows(encoded(df))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled
      withClue(s"$q: ") {
        if (i > 0) compiles shouldBe 0
        got.map(hexes.indexOf(_)).sorted shouldBe kept.flatMap(k => Seq(k, k)).sorted
      }
    }
  }

  test("guarded and unguarded plans return the same json rows, batch and stream") {
    val dir = store()
    for (((q, kept), i) <- queries.zipWithIndex) {
      val want = rows(encoded(reference(dir, q)))
      withClue(s"batch $q: ") {
        rows(encoded(RecordsQuery.plan(envelope(dir), q, now))) shouldBe want
      }
      encoded(RecordsStream.records(RecordsStream.envelopeStream(spark, dir, q, nowMs), q))
        .writeStream.format("memory").queryName(s"id_guard_$i")
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
      withClue(s"stream $q: ") { rows(spark.table(s"id_guard_$i")) shouldBe want }
      // Not vacuous: each kept payload, read bare and inside the aggregate.
      val hexes = payloads.map(p => Hex.encodeHexString(p, false))
      want.map(hexes.indexOf(_)).sorted shouldBe kept.flatMap(k => Seq(k, k)).sorted
    }
  }
}
