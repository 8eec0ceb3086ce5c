package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec

/** End-to-end proof of the LIVE transport ([[KinesisHttpApi]] /
  * [[KinesisHttpBackend]]): an in-process HTTP server speaks the public
  * `Kinesis_20131202` JSON protocol — statefully, with 56-digit sequence
  * numbers, gaps, ListShards NextToken pagination, AFTER_SEQUENCE_NUMBER
  * positioning, a closed shard, and one injected throttle — and VERIFIES
  * the SigV4 signature of every request it receives (the signer itself is
  * pinned to the specification's published vectors in [[AwsSigV4Spec]];
  * here we prove the transport sends exactly the bytes and headers it
  * signed). The full DSv2 scan then runs against the server through the
  * reflective `backend` option, closing the last seam between the engine
  * and a real stream: point `endpoint` at the regional Kinesis URL instead
  * of localhost and the same code path is production transport. */
class KinesisHttpSpec extends AnyFunSuite with Matchers with SparkSpec
    with BeforeAndAfterAll {

  // -- in-memory stream state -------------------------------------------------

  private val creds = AwsCredentials("AKIDTEST", "test-secret-key")
  private val region = "us-east-1"
  private val stream = "graft-e2e"

  private val base0 = BigInt("49579844037727333356165064238440708846556371693205002242")
  private val base1 = BigInt("49579844037749634101363594861582244564829020124710982674")

  private val kplAggregate: Array[Byte] =
    KplCodec.aggregate("pk-agg", Seq(
      """{"id": 1}""".getBytes(UTF_8), """{"id": 2}""".getBytes(UTF_8)))

  /** (absolute sequence, tsMillis, partitionKey, payload). Records start
    * ABOVE the shard's StartingSequenceNumber and carry gaps — both true
    * of the real service. */
  private val shard0: IndexedSeq[(BigInt, Long, String, Array[Byte])] = IndexedSeq(
    (base0 + 10, 1441215410867L, "partitionKey-0", "r0".getBytes(UTF_8)),
    (base0 + 12, 1441215411102L, "partitionKey-1", "r1".getBytes(UTF_8)),
    (base0 + 15, 1441215412000L, "pk-agg", kplAggregate))
  private val shard1: IndexedSeq[(BigInt, Long, String, Array[Byte])] = IndexedSeq(
    (base1 + 3, 1441215413450L, "partitionKey-9", "closed-tail".getBytes(UTF_8)))

  private def shardRecords(id: String) =
    if (id == "shardId-000000000000") shard0 else shard1
  private def closed(id: String) = id == "shardId-000000000001"

  // -- mock service -----------------------------------------------------------

  @volatile private var server: HttpServer = _
  @volatile private var endpoint: String = _
  private val sigFailures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val throttleOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
  /** When set, the NEXT GetRecords call fails with the live service's
    * `ExpiredIteratorException` (HTTP 400) — the 5-minute iterator TTL. */
  private val expireOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val requestCount = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Every GetShardIterator request's (shardId, iterator type) — the
    * evidence for positioned-vs-TRIM_HORIZON resume assertions. */
  private val iterRequests =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  private def recJson(r: (BigInt, Long, String, Array[Byte])): String =
    s"""{"SequenceNumber": "${r._1}",
       |"ApproximateArrivalTimestamp": ${r._2 / 1000.0},
       |"PartitionKey": "${r._3}",
       |"Data": "${Base64.getEncoder.encodeToString(r._4)}"}""".stripMargin

  private def shardJson(id: String, start: BigInt, end: Option[BigInt]): String = {
    val range = end match {
      case Some(e) =>
        s""""SequenceNumberRange": {"StartingSequenceNumber": "$start", "EndingSequenceNumber": "$e"}"""
      case None =>
        s""""SequenceNumberRange": {"StartingSequenceNumber": "$start"}"""
    }
    s"""{"ShardId": "$id", $range}"""
  }

  private def verifySignature(ex: HttpExchange, body: Array[Byte]): Unit = {
    val h = ex.getRequestHeaders
    val got = Option(h.getFirst("Authorization")).getOrElse("")
    val amzDate = Option(h.getFirst("x-amz-date")).getOrElse("")
    val want = AwsSigV4.sign("POST", "/", Seq.empty,
      Seq("host" -> Option(h.getFirst("Host")).getOrElse(""),
        "content-type" -> Option(h.getFirst("Content-Type")).getOrElse(""),
        "x-amz-target" -> Option(h.getFirst("X-Amz-Target")).getOrElse("")),
      body, region, "kinesis", creds, amzDate)("Authorization")
    if (got != want)
      sigFailures.add(s"target=${h.getFirst("X-Amz-Target")} got=$got want=$want")
  }

  private def handle(ex: HttpExchange): Unit = {
    val body = ex.getRequestBody.readAllBytes()
    requestCount.incrementAndGet()
    verifySignature(ex, body)
    val target = Option(ex.getRequestHeaders.getFirst("X-Amz-Target")).getOrElse("")
    val json = new String(body, UTF_8)
    def field(name: String): Option[String] = {
      val m = s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""".r
      m.findFirstMatchIn(json).map(_.group(1))
    }
    def num(name: String): Option[String] = {
      val m = s""""$name"\\s*:\\s*([0-9.Ee+-]+)""".r
      m.findFirstMatchIn(json).map(_.group(1))
    }
    val (status, resp) = target match {
      case "Kinesis_20131202.ListShards" =>
        field("NextToken") match {
          case None =>
            field("StreamName") match {
              case Some(`stream`) =>
                (200, s"""{"Shards": [${shardJson("shardId-000000000000", base0, None)}],
                         |"NextToken": "page-2-token"}""".stripMargin)
              case other =>
                (400, s"""{"__type": "ResourceNotFoundException", "message": "no stream $other"}""")
            }
          case Some("page-2-token") =>
            (200, s"""{"Shards": [${
              shardJson("shardId-000000000001", base1, Some(base1 + 3))}]}""")
          case Some(bad) =>
            (400, s"""{"__type": "InvalidArgumentException", "message": "bad token $bad"}""")
        }

      case "Kinesis_20131202.GetShardIterator" =>
        val shardId = field("ShardId").get
        iterRequests.add((shardId, field("ShardIteratorType").get))
        val recs = shardRecords(shardId)
        val idx = field("ShardIteratorType").get match {
          case "TRIM_HORIZON" => 0
          case "AT_TIMESTAMP" =>
            val tsMs = math.round(num("Timestamp").get.toDouble * 1000.0)
            val i = recs.indexWhere(_._2 >= tsMs)
            if (i < 0) recs.length else i
          case "AFTER_SEQUENCE_NUMBER" =>
            val seq = BigInt(field("StartingSequenceNumber").get)
            // the real service rejects unknown positions — exercised by
            // the transport's TRIM_HORIZON fallback path
            if (!recs.exists(_._1 == seq)) -1
            else recs.indexWhere(_._1 > seq) match {
              case -1 => recs.length
              case i => i
            }
          case other => sys.error(s"unsupported iterator type $other")
        }
        if (idx < 0)
          (400, """{"__type": "InvalidArgumentException", "message": "unknown sequence"}""")
        else
          (200, s"""{"ShardIterator": "${Base64.getEncoder.encodeToString(
            s"$shardId@$idx".getBytes(UTF_8))}"}""")

      case "Kinesis_20131202.GetRecords" =>
        if (throttleOnce.compareAndSet(true, false))
          (400, """{"__type": "ProvisionedThroughputExceededException", "message": "slow down"}""")
        else if (expireOnce.compareAndSet(true, false))
          (400, """{"__type": "ExpiredIteratorException", "message": "Iterator expired"}""")
        else {
          val it = new String(
            Base64.getDecoder.decode(field("ShardIterator").get), UTF_8)
          val Array(shardId, idxS) = it.split('@')
          val recs = shardRecords(shardId)
          val idx = idxS.toInt
          val limit = num("Limit").map(_.toDouble.toInt).getOrElse(10000)
          val page = recs.slice(idx, math.min(recs.length, idx + limit))
          val nextIdx = idx + page.length
          val atEnd = nextIdx >= recs.length
          val next =
            if (atEnd && closed(shardId)) "null"
            else s""""${Base64.getEncoder.encodeToString(
              s"$shardId@$nextIdx".getBytes(UTF_8))}""""
          val behind = if (atEnd) 0L else 1500L
          (200, s"""{"Records": [${page.map(recJson).mkString(",")}],
                   |"NextShardIterator": $next,
                   |"MillisBehindLatest": $behind}""".stripMargin)
        }

      case other =>
        (400, s"""{"__type": "UnknownOperationException", "message": "$other"}""")
    }
    val out = resp.toString.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/x-amz-json-1.1")
    ex.sendResponseHeaders(status, out.length)
    ex.getResponseBody.write(out)
    ex.close()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) =>
      try handle(ex)
      catch {
        case e: Exception =>
          val out = s"""{"__type": "InternalFailure", "message": "${e.getMessage}"}"""
            .getBytes(UTF_8)
          ex.sendResponseHeaders(500, out.length)
          ex.getResponseBody.write(out)
          ex.close()
      })
    server.start()
    endpoint = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def newApi() = new KinesisHttpApi(endpoint, region, creds)

  // -- tests ------------------------------------------------------------------

  test("ListShards pages on NextToken; live transport never trusts dense metadata") {
    val api = newApi()
    api.listShards(stream) shouldBe
      Seq("shardId-000000000000", "shardId-000000000001")
    // ordinal positions: real sequence spans (~10^38 on live streams, and
    // gap-ful even here) never map to dense longs, so the live transport
    // answers None for BOTH open and closed shards — the seam's bounded
    // drain (resumed from committed offsets) counts ordinals instead
    api.latestSequence(stream, "shardId-000000000000") shouldBe None
    api.latestSequence(stream, "shardId-000000000001") shouldBe None
  }

  test("backend over live transport: positions, gaps, resume, closed shard, throttle retry") {
    throttleOnce.set(true) // first GetRecords throttles; transport must retry
    val be = new KinesisShardBackend(newApi(), stream, pageSize = 2)
    be.listShards() shouldBe
      Seq("shardId-000000000000", "shardId-000000000001")
    // ORDINAL positions: 3 records (at gap-ful real sequences +10/+12/+15)
    // count as positions 0/1/2 → backlog end 3; the 186-bit sequences
    // themselves never enter the seam's long positions
    be.latestPosition("shardId-000000000000") shouldBe 3L
    be.latestPosition("shardId-000000000001") shouldBe 1L

    val got = be.read("shardId-000000000000", 0L, 3L)
    got.map(_.sequence) shouldBe Seq(0L, 1L, 2L)
    got.map(_.partitionKey) shouldBe
      Seq("partitionKey-0", "partitionKey-1", "pk-agg")
    new String(got.head.data, UTF_8) shouldBe "r0"

    // resumed range read: AFTER_SEQUENCE_NUMBER of the nearest recorded
    // page ANCHOR (real sequence string) — no re-drain of the shard prefix
    be.read("shardId-000000000000", 2L, 3L).map(_.sequence) shouldBe Seq(2L)
    be.read("shardId-000000000001", 0L, 1L).map(_.sequence) shouldBe Seq(0L)
  }

  test("per-partition backend instances share process-wide anchors: no TRIM_HORIZON re-drain") {
    // The DSv2 reader constructs a FRESH backend per partition per
    // micro-batch; anchors must survive that, or every executor read
    // re-drains the shard prefix (O(backlog²) across a catch-up).
    KinesisAnchorStore.dropInMemory()
    new KinesisShardBackend(newApi(), stream, pageSize = 2)
      .read("shardId-000000000000", 0L, 3L) should have size 3
    iterRequests.clear()
    // a brand-new instance (new partition, same process) resumes positioned
    val be2 = new KinesisShardBackend(newApi(), stream, pageSize = 2)
    be2.read("shardId-000000000000", 2L, 3L).map(_.partitionKey) shouldBe Seq("pk-agg")
    val types = iterRequests.asScala.toSeq.filter(_._1 == "shardId-000000000000")
    types.map(_._2).distinct shouldBe Seq("AFTER_SEQUENCE_NUMBER")
  }

  test("fresh-process resume without a snapshot: one TRIM_HORIZON re-enumeration, range filter re-aligns") {
    // dropInMemory simulates process death; no anchorDir was configured,
    // so nothing durable exists either: a positioned read must still
    // return exactly the requested range — via TRIM_HORIZON + the seam's
    // range filter — not crash or drift.
    KinesisAnchorStore.dropInMemory()
    iterRequests.clear()
    val be = new KinesisShardBackend(newApi(), stream, pageSize = 2)
    be.read("shardId-000000000000", 1L, 3L).map(_.sequence) shouldBe Seq(1L, 2L)
    be.read("shardId-000000000000", 1L, 3L)
      .map(_.partitionKey) shouldBe Seq("partitionKey-1", "pk-agg")
    iterRequests.asScala.map(_._2) should contain("TRIM_HORIZON")
  }

  test("durable anchors: a restarted process resumes positioned from the checkpoint snapshot") {
    KinesisAnchorStore.dropInMemory()
    val anchorDir = java.nio.file.Files
      .createTempDirectory("graft_anchor_spec").toString
    def apiWithDir() = new KinesisHttpApi(endpoint, region, creds,
      anchorDir = Some(anchorDir), anchorPersistEvery = 1)
    // first life: drain the shard, snapshotting an anchor per page
    new KinesisShardBackend(apiWithDir(), stream, pageSize = 2)
      .read("shardId-000000000000", 0L, 3L) should have size 3
    // process death: in-memory stores gone, snapshot files remain
    KinesisAnchorStore.dropInMemory()
    iterRequests.clear()
    val be2 = new KinesisShardBackend(apiWithDir(), stream, pageSize = 2)
    be2.read("shardId-000000000000", 2L, 3L).map(_.partitionKey) shouldBe Seq("pk-agg")
    val types = iterRequests.asScala.toSeq.filter(_._1 == "shardId-000000000000")
    types.map(_._2).distinct shouldBe Seq("AFTER_SEQUENCE_NUMBER")
  }

  test("resume below the anchor-eviction horizon falls back to TRIM_HORIZON, still exact") {
    KinesisAnchorStore.dropInMemory()
    // cap of 1 anchor per shard: after a pageSize-1 drain only the LAST
    // page's anchor survives, so a resume at position 1 has no floor
    // anchor and must pay the (loud, logged) TRIM_HORIZON fallback —
    // exactness comes from the seam's range filter, not the anchor.
    def cappedApi() = new KinesisHttpApi(endpoint, region, creds,
      maxAnchorsPerShard = 1)
    new KinesisShardBackend(cappedApi(), stream, pageSize = 1)
      .read("shardId-000000000000", 0L, 3L) should have size 3
    iterRequests.clear()
    val be = new KinesisShardBackend(cappedApi(), stream, pageSize = 1)
    be.read("shardId-000000000000", 1L, 3L).map(_.sequence) shouldBe Seq(1L, 2L)
    iterRequests.asScala.map(_._2) should contain("TRIM_HORIZON")
  }

  test("AT_TIMESTAMP pages write no ordinal resume anchors (distinct position space)") {
    KinesisAnchorStore.dropInMemory()
    val api = newApi()
    // timestamp iterator positioned at the SECOND record: its ordinals
    // 0.. are timestamp-relative — were its page anchors written into the
    // ordinal resume space, the positioned read below would floor onto a
    // far-ahead real sequence and silently skip ordinal 2.
    val it = api.getShardIterator(stream, "shardId-000000000000",
      Some(1441215411102L))
    val (tsRecords, _, _) = api.getRecords(it, 10)
    tsRecords.map(_.partitionKey) shouldBe Seq("partitionKey-1", "pk-agg")
    val be = new KinesisShardBackend(api, stream, pageSize = 2)
    be.read("shardId-000000000000", 2L, 3L).map(_.partitionKey) shouldBe Seq("pk-agg")
  }

  test("expired iterator mid-drain: re-acquire AFTER the last consumed sequence — no duplicate, no gap") {
    KinesisAnchorStore.dropInMemory()
    iterRequests.clear()
    val api = newApi()
    // first page consumed normally (records 0,1 at pageSize 2) ...
    val it0 = api.getShardIterator(stream, "shardId-000000000000", None)
    val (p1, next1, _) = api.getRecords(it0, 2)
    p1.map(_.sequence) shouldBe Seq(0L, 1L)
    // ... then the server expires the continuation token (the 5-minute
    // TTL every real deployment eventually hits): the transport must
    // re-acquire AFTER_SEQUENCE_NUMBER of the last consumed record and
    // resume — NOT TRIM_HORIZON (which would re-serve 0,1 as 0,1 again
    // AND misalign the ordinal space), and NOT fail the batch.
    expireOnce.set(true)
    val (p2, _, _) = api.getRecords(next1.get, 2)
    expireOnce.get() shouldBe false // the expiry really fired
    p2.map(_.sequence) shouldBe Seq(2L)
    p2.map(_.partitionKey) shouldBe Seq("pk-agg")
    val reacquires = iterRequests.asScala.toSeq
      .filter(_._1 == "shardId-000000000000").map(_._2)
    reacquires.last shouldBe "AFTER_SEQUENCE_NUMBER"
    // union of the two pages: every ordinal exactly once
    (p1 ++ p2).map(_.sequence) shouldBe Seq(0L, 1L, 2L)
  }

  test("expired iterator before any record was consumed: re-acquire from the lineage start") {
    KinesisAnchorStore.dropInMemory()
    val api = newApi()
    // ordinal lineage, nothing consumed → TRIM_HORIZON re-acquire is
    // exact (nextPos is still 0)
    val it = api.getShardIterator(stream, "shardId-000000000000", None)
    expireOnce.set(true)
    val (recs, _, _) = api.getRecords(it, 10)
    recs.map(_.sequence) shouldBe Seq(0L, 1L, 2L)
    // AT_TIMESTAMP lineage, nothing consumed → re-acquire at the SAME
    // timestamp point (its distinct position space stays aligned)
    val itTs = api.getShardIterator(stream, "shardId-000000000000",
      Some(1441215411102L))
    expireOnce.set(true)
    val (tsRecs, _, _) = api.getRecords(itTs, 10)
    tsRecs.map(_.partitionKey) shouldBe Seq("partitionKey-1", "pk-agg")
    tsRecs.map(_.sequence) shouldBe Seq(0L, 1L)
  }

  test("full DSv2 batch scan + de-aggregation through the HTTP backend; every request SigV4-valid") {
    sigFailures.clear()
    val df = spark.read.format(KplFileSource.ProviderClass)
      .option("backend", classOf[KinesisHttpBackend].getName)
      .option("endpoint", endpoint)
      .option("region", region)
      .option("streamName", stream)
      .option("accessKeyId", creds.accessKeyId)
      .option("secretAccessKey", creds.secretAccessKey)
      .load()
    val flat = graft.plans.KplExplode.userRecords(df)
    flat.selectExpr("CAST(payload AS STRING) AS p").collect()
      .map(_.getString(0)).sorted shouldBe
      Array("closed-tail", "r0", "r1", """{"id": 1}""", """{"id": 2}""")

    requestCount.get() should be > 0
    sigFailures.asScala.toSeq shouldBe Seq.empty
  }
}
