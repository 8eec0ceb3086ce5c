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
  /** Requests received per `X-Amz-Target`. */
  private val targetCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()
  private def targetCount(target: String): Int =
    Option(targetCounts.get(target)).map(_.get()).getOrElse(0)
  /** Every successful GetRecords response body, in serving order — the
    * bytes a recording of this session would hold. */
  private val servedPages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Every GetShardIterator request's (shardId, iterator type) — the
    * evidence for positioned-vs-TRIM_HORIZON resume assertions. */
  private val iterRequests =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  /** Every GetRecords request's `Limit`, in arrival order. */
  private val getRecordsLimits = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

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
    targetCounts.computeIfAbsent(target,
      _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
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
        num("Limit").foreach(l => getRecordsLimits.add(l.toDouble.toInt))
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
          val resp = s"""{"Records": [${page.map(recJson).mkString(",")}],
                   |"NextShardIterator": $next,
                   |"MillisBehindLatest": $behind}""".stripMargin
          servedPages.add(resp)
          (200, resp)
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
    api.listShards(stream) shouldBe Seq(
      ShardMeta("shardId-000000000000", Nil, closed = false),
      ShardMeta("shardId-000000000001", Nil, closed = true))
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
      anchorDir = Some(anchorDir))
    // first life: drain the shard until PersistEvery anchors were recorded
    // (2 per drain at page size 2), so the store writes its snapshot
    for (_ <- 1 to KinesisAnchorStore.PersistEvery / 2)
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
    new KinesisShardBackend(newApi(), stream, pageSize = 1)
      .read("shardId-000000000000", 0L, 3L) should have size 3
    // MaxAnchorsPerShard + 1 anchors above the drain's evict every anchor
    // the drain recorded, so a resume at position 1 has no floor anchor
    // and must pay the (loud, logged) TRIM_HORIZON fallback — exactness
    // comes from the walk, not the anchor.
    val store = KinesisAnchorStore.forShard(
      KinesisAnchorStore.Key(endpoint, stream, "shardId-000000000000", None))
    for (i <- 1 to KinesisAnchorStore.MaxAnchorsPerShard + 1)
      store.record(3L + i, "0")
    iterRequests.clear()
    val be = new KinesisShardBackend(newApi(), stream, pageSize = 1)
    be.read("shardId-000000000000", 1L, 3L).map(_.sequence) shouldBe Seq(1L, 2L)
    iterRequests.asScala.map(_._2) should contain("TRIM_HORIZON")
    KinesisAnchorStore.dropInMemory() // the recorded anchors point nowhere
  }

  test("expired iterator mid-drain: re-acquire AFTER the last consumed sequence — no duplicate, no gap") {
    KinesisAnchorStore.dropInMemory()
    iterRequests.clear()
    val api = newApi()
    // first page consumed normally (records 0,1 at pageSize 2) ...
    val it0 = api.getShardIterator(stream, "shardId-000000000000", 0L)
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
    // nothing consumed → TRIM_HORIZON re-acquire is exact (nextPos is
    // still 0)
    val it = api.getShardIterator(stream, "shardId-000000000000", 0L)
    expireOnce.set(true)
    val (recs, _, _) = api.getRecords(it, 10)
    recs.map(_.sequence) shouldBe Seq(0L, 1L, 2L)
  }

  test("an expired iterator whose anchor is gone re-opens early; the read keeps each position once") {
    KinesisAnchorStore.dropInMemory()
    iterRequests.clear()
    val api = newApi()
    // Before the second page, the anchor the first page recorded is
    // dropped and the server expires the continuation token: the re-open
    // finds no anchor at position 2 and falls back to TRIM_HORIZON.
    var pages = 0
    val dropping = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        api.listShards(streamName)
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String =
        api.getShardIterator(streamName, shardId, from)
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) = {
        pages += 1
        if (pages == 2) {
          KinesisAnchorStore.dropInMemory()
          expireOnce.set(true)
        }
        api.getRecords(iterator, limit)
      }
    }
    val got = new KinesisShardBackend(dropping, stream, pageSize = 2)
      .read("shardId-000000000000", 0L, 3L)
    expireOnce.get() shouldBe false // the expiry really fired
    got.map(_.sequence) shouldBe Seq(0L, 1L, 2L)
    got.map(_.partitionKey) shouldBe Seq("partitionKey-0", "partitionKey-1", "pk-agg")
    iterRequests.size shouldBe 2 // the first open, and the re-open
  }

  test("a range read through a fresh transport sends no ListShards request") {
    // The DSv2 reader builds a fresh transport per partition per
    // micro-batch; a read needs GetShardIterator + GetRecords only.
    KinesisAnchorStore.dropInMemory()
    targetCounts.clear()
    new KinesisShardBackend(newApi(), stream, pageSize = 2)
      .read("shardId-000000000000", 0L, 3L).map(_.sequence) shouldBe Seq(0L, 1L, 2L)
    targetCount("Kinesis_20131202.ListShards") shouldBe 0
    targetCount("Kinesis_20131202.GetShardIterator") shouldBe 1
  }

  test("the same GetRecords bodies read back equal, live and as a recording") {
    // Both transports count ordinals, so a shard's seam positions do not
    // depend on whether its pages came over the wire or from disk.
    KinesisAnchorStore.dropInMemory()
    val dir = java.nio.file.Files.createTempDirectory("kinesis-http-recorded")
    java.nio.file.Files.writeString(dir.resolve("list_shards.json"),
      s"""{"Shards": [${shardJson("shardId-000000000000", base0, None)},
         |${shardJson("shardId-000000000001", base1, Some(base1 + 3))}]}""".stripMargin)
    val shards = Seq("shardId-000000000000", "shardId-000000000001")
    val live = new KinesisShardBackend(newApi(), stream, pageSize = 2)
    val liveReads = shards.map { shard =>
      // the backlog probe pages from TRIM_HORIZON: record exactly its pages
      servedPages.clear()
      val end = live.latestPosition(shard)
      val shardDir = java.nio.file.Files.createDirectories(dir.resolve(shard))
      servedPages.asScala.zipWithIndex.foreach { case (body, i) =>
        java.nio.file.Files.writeString(shardDir.resolve(f"page-$i%03d.json"), body)
      }
      live.read(shard, 0L, end).map(r => (r.sequence, r.partitionKey))
    }
    liveReads.head.map(_._1) shouldBe Seq(0L, 1L, 2L)
    val recorded = new KinesisShardBackend(new RecordedKinesisApi(dir.toString), stream)
    shards.map { shard =>
      recorded.read(shard, 0L, recorded.latestPosition(shard))
        .map(r => (r.sequence, r.partitionKey))
    } shouldBe liveReads
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

  test("maxRecordsPerFetch is the row budget only, never the live GetRecords page size") {
    getRecordsLimits.clear()
    val df = spark.read.format(KplFileSource.ProviderClass)
      .option("backend", classOf[KinesisHttpBackend].getName)
      .option("endpoint", endpoint)
      .option("region", region)
      .option("streamName", stream)
      .option("accessKeyId", creds.accessKeyId)
      .option("secretAccessKey", creds.secretAccessKey)
      .option("maxRecordsPerFetch", "1")
      .load()
    df.selectExpr("sequenceNumber").collect().map(_.getString(0)).sorted shouldBe
      Array("0", "0", "1", "2")
    val limits = getRecordsLimits.asScala.toSeq
    limits should not be empty
    limits should not contain 1
  }
}
