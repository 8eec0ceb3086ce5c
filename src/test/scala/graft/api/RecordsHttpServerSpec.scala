package graft.api

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.time.{Duration, Instant}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.time.{Millis, Seconds, Span}

import graft.SparkSpec

/** End-to-end over a real socket, reproducing the reference's own e2e cases
  * (`app/server/test/index.js:38-80`): 200 with a JSON array, 404 on an
  * unknown path, structured 400 on validation failure — plus the
  * `{badRequest, error}` scan-failure body (`app/server/index.js:65-72`)
  * the reference covers only implicitly. */
class RecordsHttpServerSpec extends AnyFunSuite with Matchers with SparkSpec
    with BeforeAndAfterAll with Eventually {

  private val now = Instant.parse("2024-06-01T12:00:00Z")

  private def payload(contactId: Long): String =
    s"""{"baseEventData":{"com.incontact.datainfra.events.ContactEvent":{"mediaScopeIdentification":{"contactIdentification":{"contactId":{"long":$contactId},"contactIdAlt":null}}}},"tenantId":{"tenantId":null,"tenantIdAlt":null,"serverName":null}}"""

  private val schema = StructType(Seq(
    StructField("data", BinaryType),
    StructField("approximateArrivalTimestamp", TimestampType)))

  private def envelope(jsons: Seq[String]): DataFrame = {
    val rows = jsons.zipWithIndex.map { case (j, i) =>
      Row(j.getBytes(UTF_8), Timestamp.from(now.minusSeconds(60 * (i + 1))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private val records = Seq(payload(1), payload(2), payload(3))

  private var server: RecordsHttpServer = _
  private var port: Int = 0

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    // Start the shared session here, not inside the first call's deadline.
    spark.sparkContext
    server = new RecordsHttpServer(
      streamname =>
        if (streamname == "test-stream") envelope(records)
        else throw new IllegalArgumentException(
          s"Stream $streamname under account 000000000000 not found"),
      now = () => now)
    port = server.start()
  }

  override protected def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def getAsync(p: Int, path: String): CompletableFuture[HttpResponse[String]] =
    client.sendAsync(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
        .timeout(Duration.ofSeconds(15)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("GET /records returns OK with the records as a JSON array") {
    val res = get("/records?streamname=test-stream")
    res.statusCode() shouldBe 200
    res.headers().firstValue("Content-Type").get() shouldBe "application/json"
    // order-independent: the echo is unordered, like the reference's array
    res.body() should startWith("[")
    val parts = res.body().stripPrefix("[").stripSuffix("]")
      .split("""(?<=\}\})\,(?=\{)""").toSet
    parts shouldBe records.toSet
  }

  test("GET on an invalid path returns Not Found") {
    get("/INVALID_PATH").statusCode() shouldBe 404
  }

  test("GET / serves the self-contained browser client wired to /records (O15)") {
    val res = get("/")
    res.statusCode() shouldBe 200
    res.headers().firstValue("Content-Type").get() shouldBe
      "text/html; charset=utf-8"
    // the page is self-contained (air-gap safe: no external assets) and
    // issues the same wire call the reference UI does
    res.body() should include("records")
    res.body() should include("streamname")
    res.body() should include("duration")
    res.body() should include("Get JSON")
    (res.body() should not).include("http://") // no CDN script/style pulls
    (res.body() should not).include("https://")
    get("/ui").body() shouldBe res.body()
  }

  test("HEAD /records is served like GET (status + headers, no body) — Express app.get parity") {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/records?streamname=test-stream"))
        .method("HEAD", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    res.statusCode() shouldBe 200
    res.headers().firstValue("Content-Type").get() shouldBe "application/json"
    res.body() shouldBe ""
    // HEAD's whole purpose: advertise the GET body's length without the body
    val getLen = get("/records?streamname=test-stream").body()
      .getBytes(UTF_8).length.toLong
    res.headers().firstValueAsLong("Content-Length").getAsLong shouldBe getLen
  }

  test("non-GET methods on /records return Not Found (Express registers only app.get)") {
    val res = client.send(
      HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/records?streamname=test-stream"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    res.statusCode() shouldBe 404
  }

  test("GET /records without streamname returns the structured 400 shape") {
    val res = get("/records")
    res.statusCode() shouldBe 400
    res.body() shouldBe """{"badRequest":true,"missingRequiredParams":["streamname"],"invalidParams":[]}"""
  }

  test("unknown query params produce invalidParams in the 400 body") {
    val res = get("/records?streamname=test-stream&bogus=1")
    res.statusCode() shouldBe 400
    res.body() shouldBe """{"badRequest":true,"missingRequiredParams":[],"invalidParams":["bogus"]}"""
  }

  test("a source failure returns the {badRequest, error} body") {
    val res = get("/records?streamname=missing-stream")
    res.statusCode() shouldBe 400
    res.body() should startWith("""{"badRequest":true,"error":"""")
    res.body() should include("missing-stream")
  }

  test("malformed percent-encoding gets a 400 body, not a dropped connection") {
    // HttpClient refuses to even send such a URI, so drive a raw socket.
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      out.write(
        ("GET /records?streamname=%zz HTTP/1.1\r\n" +
          s"Host: 127.0.0.1:$port\r\nConnection: close\r\n\r\n").getBytes(UTF_8))
      out.flush()
      val response = new String(sock.getInputStream.readAllBytes(), UTF_8)
      // the JDK server layer rejects the malformed URI itself with a 400
      // before the handler runs; the handler's own catch covers anything
      // that slips through to the decode
      response should startWith("HTTP/1.1 400")
    } finally sock.close()
  }

  test("attribute filters apply over HTTP") {
    val res = get("/records?streamname=test-stream&contactId=2")
    res.statusCode() shouldBe 200
    res.body() shouldBe s"[${payload(2)}]"
  }

  // ---- concurrent serving: pool, deadline, overload, stop ------------------

  private def withServer[T](backend: String => DataFrame)(body: Int => T): T = {
    val s = new RecordsHttpServer(backend, now = () => now)
    try body(s.start()) finally s.stop()
  }

  /** An envelope of two partitions whose every row takes `sleepMs` to read
    * inside its Spark task: a hung backend read. */
  private def slowEnvelope(sleepMs: Long): DataFrame = {
    val bytes = payload(1).getBytes(UTF_8)
    val ts = Timestamp.from(now.minusSeconds(60))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(1, 2), 2).map { _ => Thread.sleep(sleepMs); Row(bytes, ts) },
      schema)
  }

  private def activeJobs: Seq[Int] = spark.sparkContext.statusTracker.getActiveJobIds.toSeq

  private def poolThreads(p: Int): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"records-$p-")).map(_.getName)

  private val patience = timeout(Span(10, Seconds))
  private val poll = interval(Span(20, Millis))

  test("parallel clients get byte-identical bodies to serial ones, served concurrently") {
    val paths = Seq("", "&contactId=1", "&contactId=2", "&contactId=3", "&duration=1")
      .map(q => s"/records?streamname=test-stream$q")
    val serial = paths.map(get).map(r => (r.statusCode(), r.body()))
    serial.map(_._1).toSet shouldBe Set(200)
    val parallel = Seq.fill(3)(paths).flatten.map(getAsync(port, _))
      .map(_.get(15, TimeUnit.SECONDS)).map(r => (r.statusCode(), r.body()))
    parallel shouldBe Seq.fill(3)(serial).flatten

    // Two calls are inside the backend at once: each waits for the other.
    val met = new CountDownLatch(2)
    val overlapped = new ConcurrentLinkedQueue[Boolean]()
    withServer { _ =>
      met.countDown()
      overlapped.add(met.await(5, TimeUnit.SECONDS))
      envelope(records)
    } { p =>
      val res = Seq.fill(2)(getAsync(p, "/records?streamname=s")).map(_.get(15, TimeUnit.SECONDS))
      res.map(_.statusCode()) shouldBe Seq(200, 200)
      overlapped.asScala.toSeq shouldBe Seq(true, true)
    }
  }

  test("a backend read past the deadline gets a timely 504 body and leaves no Spark job") {
    withServer(_ => slowEnvelope(12000L)) { p =>
      val t0 = System.nanoTime()
      val res = getAsync(p, "/records?streamname=s").get(15, TimeUnit.SECONDS)
      val ms = (System.nanoTime() - t0) / 1e6
      res.statusCode() shouldBe 504
      res.body() shouldBe
        s"""{"error":"Gateway Timeout","reason":"deadline","deadlineMs":${RecordsHttpServer.DeadlineMs}}"""
      ms should be >= RecordsHttpServer.DeadlineMs.toDouble - 50
      ms should be < RecordsHttpServer.DeadlineMs.toDouble + 2000
      eventually(patience, poll) { activeJobs shouldBe empty }
    }
  }

  test("with every worker busy and the queue full, a call is refused at once with a 503 body") {
    val extra = 3
    val admitted = RecordsHttpServer.Workers + RecordsHttpServer.QueueDepth
    val release = new CountDownLatch(1)
    withServer { _ => release.await(); envelope(records) } { p =>
      try {
        val calls = Seq.fill(admitted + extra)(getAsync(p, "/records?streamname=test-stream"))
        // No admitted call can finish before the release: the first answers
        // are the refusals, well inside the deadline.
        eventually(timeout(Span(3, Seconds)), poll) { calls.count(_.isDone) shouldBe extra }
        val (done, pending) = calls.partition(_.isDone)
        val refused = done.map(_.get())
        refused.map(_.statusCode()) shouldBe Seq.fill(extra)(503)
        refused.map(_.body()).toSet shouldBe
          Set("""{"error":"Service Unavailable","reason":"overloaded"}""")
        release.countDown()
        // Nothing was dropped: every admitted call is then served.
        val served = pending.map(_.get(15, TimeUnit.SECONDS))
        served.map(_.statusCode()).toSet shouldBe Set(200)
        served.size shouldBe admitted
      } finally release.countDown()
    }
  }

  test("stop() answers open calls, cancels their Spark jobs and leaves no pool threads") {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val s = new RecordsHttpServer({
      case "slow" => slowEnvelope(12000L)
      case _ => entered.countDown(); release.await(); envelope(records)
    }, now = () => now)
    val p = s.start()
    try {
      val slow = getAsync(p, "/records?streamname=slow")
      eventually(patience, poll) { activeJobs should not be empty }
      val stuck = getAsync(p, "/records?streamname=stuck")
      entered.await(5, TimeUnit.SECONDS) shouldBe true
      poolThreads(p) should not be empty
      val t0 = System.nanoTime()
      s.stop()
      (System.nanoTime() - t0) / 1e6 should be < 3000.0
      for (call <- Seq(slow, stuck)) {
        val res = call.get(5, TimeUnit.SECONDS)
        res.statusCode() shouldBe 503
        res.body() shouldBe """{"error":"Service Unavailable","reason":"stopping"}"""
      }
      eventually(patience, poll) { activeJobs shouldBe empty }
      eventually(patience, poll) { poolThreads(p) shouldBe empty }
    } finally { release.countDown(); s.stop() }
  }
}
