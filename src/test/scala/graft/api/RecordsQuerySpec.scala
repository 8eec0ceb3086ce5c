package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.Instant
import java.util.Locale

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec

/** Truth tables + golden e2e for the `GET /records` analog, mirroring the
  * reference's test seam (stubbed source, SURVEY.md §3.3) with the envelope
  * DataFrame as the stub point. */
class RecordsQuerySpec extends AnyFunSuite with Matchers with SparkSpec {

  // ---- fixture payloads (implied schema, SURVEY.md §1.2) -------------------

  private def contactEvent(contactId: Option[Long], alt: Option[Long] = None,
                           tenant: Option[Long] = None, server: Option[String] = None): String = {
    def l(v: Option[Long]) = v.map(x => s"""{"long":$x}""").getOrElse("null")
    def s(v: Option[String]) = v.map(x => s"""{"string":"$x"}""").getOrElse("null")
    s"""{"baseEventData":{"com.incontact.datainfra.events.ContactEvent":{"mediaScopeIdentification":{"contactIdentification":{"contactId":${l(contactId)},"contactIdAlt":${l(alt)}}}}},"tenantId":{"tenantId":${l(tenant)},"tenantIdAlt":null,"serverName":${s(server)}}}"""
  }

  private def agentEvent(agentId: Option[Long], agentIdAlt: Option[Long] = None,
                         shiftId: Option[Long] = None, shiftIdAlt: Option[Long] = None): String = {
    def l(v: Option[Long]) = v.map(x => s"""{"long":$x}""").getOrElse("null")
    s"""{"baseEventData":{"com.incontact.datainfra.events.AgentEvent":{"agentShiftIdentification":{"agentIdentification":{"agentId":${l(agentId)},"agentIdAlt":${l(agentIdAlt)}},"agentShiftId":${l(shiftId)},"agentShiftIdAlt":${l(shiftIdAlt)}}}},"tenantId":{"tenantId":null,"tenantIdAlt":null,"serverName":null}}"""
  }

  private val now = Instant.parse("2024-06-01T12:00:00Z")

  /** Envelope frame: each element is (arrivalOffsetMinutesAgo, rawBytes). */
  private def envelope(rows: Seq[(Long, Array[Byte])]): DataFrame = {
    val schema = StructType(Seq(
      StructField("data", BinaryType),
      StructField("approximateArrivalTimestamp", TimestampType)))
    val rws = rows.map { case (minAgo, bytes) =>
      Row(bytes, Timestamp.from(now.minusSeconds(minAgo * 60)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rws, 2), schema)
  }

  private def jsons(df: DataFrame): Seq[String] =
    df.select("json").collect().map(_.getString(0)).toSeq

  // ---- validator (O12) -----------------------------------------------------

  test("validator: missing streamname → structured 400 shape") {
    val Left(err) = RecordsQuery.validate(Map("duration" -> "5")): @unchecked
    err.badRequest shouldBe true
    err.missingRequiredParams shouldBe Seq("streamname")
    err.invalidParams shouldBe empty
    err.toJson shouldBe """{"badRequest":true,"missingRequiredParams":["streamname"],"invalidParams":[]}"""
  }

  test("validator: unknown params rejected against the allowlist") {
    val Left(err) = RecordsQuery.validate(
      Map("streamname" -> "s", "bogus" -> "1", "evil" -> "x")): @unchecked
    err.missingRequiredParams shouldBe empty
    err.invalidParams shouldBe Seq("bogus", "evil")
  }

  test("validator: malformed numbers are invalid (strict, not parseInt)") {
    val Left(err) = RecordsQuery.validate(
      Map("streamname" -> "s", "contactId" -> "12abc")): @unchecked
    err.invalidParams shouldBe Seq("contactId")
  }

  test("validator: duration default 10, clamp at 960") {
    RecordsQuery.validate(Map("streamname" -> "s")).toOption.get.durationMinutes shouldBe 10L
    RecordsQuery.validate(Map("streamname" -> "s", "duration" -> "99999"))
      .toOption.get.durationMinutes shouldBe 960L
    RecordsQuery.validate(Map("streamname" -> "s", "duration" -> "120"))
      .toOption.get.durationMinutes shouldBe 120L
  }

  // ---- filters (O5-O11) ----------------------------------------------------

  private def run(params: Map[String, String], rows: Seq[(Long, Array[Byte])]): Seq[String] =
    jsons(RecordsQuery.records(envelope(rows), params, now).toOption.get)

  private def bare(json: String): Array[Byte] = json.getBytes(UTF_8)

  test("time-range filter: only rows within the (clamped) lookback survive") {
    val in = contactEvent(Some(1L))
    val out = contactEvent(Some(2L))
    val got = run(
      Map("streamname" -> "s", "duration" -> "30"),
      Seq((5L, bare(in)), (31L, bare(out))))
    got shouldBe Seq(in)
  }

  test("contactId matches main or alt field; missing path is false") {
    val main = contactEvent(Some(7L))
    val alt = contactEvent(None, alt = Some(7L))
    val other = contactEvent(Some(8L))
    val agent = agentEvent(Some(7L)) // wrong branch: must NOT match contactId
    val got = run(
      Map("streamname" -> "s", "contactId" -> "7"),
      Seq((1L, bare(main)), (2L, bare(alt)), (3L, bare(other)), (4L, bare(agent))))
    got.toSet shouldBe Set(main, alt)
  }

  test("agentId and agentShiftId match under the AgentEvent branch") {
    val a = agentEvent(Some(5L), shiftId = Some(100L))
    val b = agentEvent(None, agentIdAlt = Some(5L), shiftIdAlt = Some(100L))
    val c = agentEvent(Some(6L), shiftId = Some(200L))
    run(Map("streamname" -> "s", "agentId" -> "5"),
        Seq((1L, bare(a)), (2L, bare(b)), (3L, bare(c)))).toSet shouldBe Set(a, b)
    run(Map("streamname" -> "s", "agentShiftId" -> "100"),
        Seq((1L, bare(a)), (2L, bare(b)), (3L, bare(c)))).toSet shouldBe Set(a, b)
  }

  test("serverName is case-insensitive; tenantId main/alt") {
    val x = contactEvent(Some(1L), tenant = Some(42L), server = Some("Prod-East"))
    val y = contactEvent(Some(2L), tenant = None, server = Some("prod-west"))
    run(Map("streamname" -> "s", "serverName" -> "PROD-EAST"),
        Seq((1L, bare(x)), (2L, bare(y)))) shouldBe Seq(x)
    run(Map("streamname" -> "s", "tenantId" -> "42"),
        Seq((1L, bare(x)), (2L, bare(y)))) shouldBe Seq(x)
  }

  test("serverName matches the same rows whatever the JVM's default locale") {
    val lowerCase = contactEvent(Some(1L), server = Some("irvine"))
    val upperCase = contactEvent(Some(2L), server = Some("IRVINE"))
    // Dotless ı: the Turkish lower case of `I`, and another server's name.
    val dotless = contactEvent(Some(3L), server = Some("\u0131rv\u0131ne"))
    val rows = Seq((1L, bare(lowerCase)), (2L, bare(upperCase)), (3L, bare(dotless)))
    val saved = Locale.getDefault
    Locale.setDefault(Locale.forLanguageTag("tr-TR"))
    try run(Map("streamname" -> "s", "serverName" -> "IRVINE"), rows).toSet shouldBe
      Set(lowerCase, upperCase)
    finally Locale.setDefault(saved)
  }

  test("filters compose conjunctively (O11)") {
    val both = contactEvent(Some(7L), tenant = Some(42L))
    val onlyContact = contactEvent(Some(7L), tenant = Some(43L))
    val onlyTenant = contactEvent(Some(8L), tenant = Some(42L))
    run(
      Map("streamname" -> "s", "contactId" -> "7", "tenantId" -> "42"),
      Seq((1L, bare(both)), (2L, bare(onlyContact)), (3L, bare(onlyTenant)))) shouldBe Seq(both)
  }

  // ---- de-aggregation + decode (O3/O4) -------------------------------------

  test("KPL aggregates flatten to user records before filtering") {
    val hit = contactEvent(Some(7L))
    val miss = contactEvent(Some(9L))
    val agg = KplCodec.aggregate("pk", Seq(hit.getBytes(UTF_8), miss.getBytes(UTF_8)))
    val got = run(
      Map("streamname" -> "s", "contactId" -> "7"),
      Seq((1L, agg), (2L, bare(miss))))
    got shouldBe Seq(hit)
  }

  test("golden e2e: unfiltered query echoes all in-window records as a JSON array") {
    val a = contactEvent(Some(1L))
    val b = agentEvent(Some(2L))
    val df = RecordsQuery.records(
      envelope(Seq((1L, bare(a)), (2L, bare(b)))),
      Map("streamname" -> "test-stream"), now).toOption.get
    val body = RecordsQuery.toJsonArray(df.orderBy("json"))
    body shouldBe Seq(a, b).sorted.mkString("[", ",", "]")
  }

  // ---- the echo: one job, bounded, ordered ---------------------------------

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftBridge.flushListenerBus(spark)
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("toJsonArray collects a request over several partitions in one Spark job") {
    val rows = (1L to 6L).map(i => (i, bare(contactEvent(Some(i)))))
    val df = RecordsQuery.records(envelope(rows), Map("streamname" -> "s"), now).toOption.get
    df.rdd.getNumPartitions should be >= 2
    val (body, jobs) = jobsDuring(RecordsQuery.toJsonArray(df))
    jobs shouldBe 1
    body shouldBe (1L to 6L).map(i => contactEvent(Some(i))).mkString("[", ",", "]")
  }

  test("toJsonArray refuses a result over MaxEchoRows spread over several partitions, in one job") {
    val n = RecordsQuery.MaxEchoRows + 3L
    val df = spark.range(0L, n, 1L, 3).selectExpr("cast(id as string) as json")
    val (err, jobs) = jobsDuring(intercept[IllegalStateException](RecordsQuery.toJsonArray(df)))
    err.getMessage should startWith(
      s"toJsonArray: result exceeds MaxEchoRows=${RecordsQuery.MaxEchoRows};")
    jobs shouldBe 1
  }

  test("toJsonArray keeps the order of a sorted plan over several partitions") {
    val payloads = (1L to 40L).map(i => contactEvent(Some(i), tenant = Some(41L - i)))
    val df = RecordsQuery.records(
      envelope(payloads.zipWithIndex.map { case (p, i) => (1L + i % 5, bare(p)) }),
      Map("streamname" -> "s"), now).toOption.get
    df.rdd.getNumPartitions should be >= 2
    RecordsQuery.toJsonArray(df.orderBy("json")) shouldBe payloads.sorted.mkString("[", ",", "]")
    RecordsQuery.toJsonArray(df.orderBy(org.apache.spark.sql.functions.col("json").desc)) shouldBe
      payloads.sorted.reverse.mkString("[", ",", "]")
  }
}
