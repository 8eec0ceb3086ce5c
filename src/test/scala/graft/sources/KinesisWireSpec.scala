package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Base64

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec

/** Recorded-wire-fixture replay: proves [[KinesisWireJson]] +
  * [[RecordedKinesisApi]] map the REAL GetRecords / GetShardIterator /
  * ListShards JSON shapes (the AWS JSON protocol bodies the reference's SDK
  * client consumes, documented at `kinesisReader/index.js:50-66`) onto the
  * [[ShardBackend]] seam correctly — 128-bit decimal-string sequence
  * numbers, epoch-seconds-double timestamps, base64 payloads, null
  * `NextShardIterator` as shard close, `MillisBehindLatest` as the catch-up
  * signal — and that the full DSv2 scan runs over a recorded session with
  * no AWS dependency. */
class KinesisWireSpec extends AnyFunSuite with Matchers with SparkSpec {

  // -- recorded fixture ------------------------------------------------------
  // Shapes mirror the public API documentation examples: 56-digit sequence
  // numbers, fractional epoch-second arrival timestamps, opaque iterator
  // tokens (whose VALUES replay ignores — only null-ness carries meaning).

  private val seq0 = BigInt("49579844037727333356165064238440708846556371693205002242")

  private def wireRecord(seqOffset: BigInt, tsSec: String, pk: String, data: Array[Byte]): String =
    s"""{"ApproximateArrivalTimestamp": $tsSec,
        |"Data": "${Base64.getEncoder.encodeToString(data)}",
        |"PartitionKey": "$pk",
        |"SequenceNumber": "${seq0 + seqOffset}"}""".stripMargin

  /** One KPL aggregate of two user records — the payload shape the real
    * producer puts on the wire (magic f3899ac2 + protobuf + MD5). */
  private val kplAggregate: Array[Byte] =
    KplCodec.aggregate("pk-agg", Seq(
      """{"id": 1}""".getBytes(UTF_8), """{"id": 2}""".getBytes(UTF_8)))

  private def writeFixture(): String = {
    val dir = Files.createTempDirectory("kinesis-wire").toString
    Files.writeString(Paths.get(dir, "list_shards.json"),
      """{"Shards": [
        |  {"ShardId": "shardId-000000000000",
        |   "HashKeyRange": {"StartingHashKey": "0", "EndingHashKey": "170141183460469231731687303715884105727"},
        |   "SequenceNumberRange": {"StartingSequenceNumber": "49579844037727333356165064238440708846556371693205002242"}},
        |  {"ShardId": "shardId-000000000001",
        |   "HashKeyRange": {"StartingHashKey": "170141183460469231731687303715884105728", "EndingHashKey": "340282366920938463463374607431768211455"},
        |   "SequenceNumberRange": {"StartingSequenceNumber": "49579844037749634101363594861582244564829020124710982674"}}
        |]}""".stripMargin)

    val s0 = Paths.get(dir, "shardId-000000000000")
    Files.createDirectories(s0)
    // page 0: two plain records, still behind
    Files.writeString(s0.resolve("page-000.json"),
      s"""{"MillisBehindLatest": 2100,
          |"NextShardIterator": "AAAAAAAAAAHSywljv0zEgPX4NyKdZ5wryM/opaque/1",
          |"Records": [
          |${wireRecord(0, "1441215410.867", "partitionKey-0", "r0".getBytes(UTF_8))},
          |${wireRecord(2, "1441215411.102", "partitionKey-1", "r1".getBytes(UTF_8))}
          |]}""".stripMargin)
    // page 1: a KPL aggregate, caught up
    Files.writeString(s0.resolve("page-001.json"),
      s"""{"MillisBehindLatest": 0,
          |"NextShardIterator": "AAAAAAAAAAE/opaque/2",
          |"Records": [
          |${wireRecord(5, "1441215412.000", "pk-agg", kplAggregate)}
          |]}""".stripMargin)

    val s1 = Paths.get(dir, "shardId-000000000001")
    Files.createDirectories(s1)
    // a shard CLOSED by a reshard: null NextShardIterator on its last page
    Files.writeString(s1.resolve("page-000.json"),
      s"""{"MillisBehindLatest": 0,
          |"NextShardIterator": null,
          |"Records": [
          |${wireRecord(0, "1441215413.450", "partitionKey-9", "closed-tail".getBytes(UTF_8))}
          |]}""".stripMargin)
    dir
  }

  test("wire decode: sequence strings, epoch-second timestamps, base64, iterator null-ness") {
    val page = KinesisWireJson.parseGetRecords(
      s"""{"MillisBehindLatest": 2100,
          |"NextShardIterator": "AAAA/opaque",
          |"Records": [${wireRecord(7, "1441215410.48", "pk", "hello".getBytes(UTF_8))}]}""".stripMargin)
    page.millisBehindLatest shouldBe 2100L
    page.nextShardIterator shouldBe Some("AAAA/opaque")
    val r = page.records.head
    r.sequence shouldBe seq0 + 7           // 128-bit decimal survives intact
    r.tsMillis shouldBe 1441215410480L     // seconds-double → millis
    r.partitionKey shouldBe "pk"
    new String(r.data, UTF_8) shouldBe "hello"

    KinesisWireJson.parseGetRecords(
      """{"MillisBehindLatest": 0, "NextShardIterator": null, "Records": []}""")
      .nextShardIterator shouldBe None
    KinesisWireJson.parseGetRecords(
      """{"MillisBehindLatest": 0, "Records": []}""")
      .nextShardIterator shouldBe None

    KinesisWireJson.parseListShardsPage("""{"Shards": [{"ShardId": "shardId-000000000000",
        |"SequenceNumberRange": {"StartingSequenceNumber": "1"}}]}""".stripMargin)
      ._1.map(_.shardId).shouldBe(Seq("shardId-000000000000"))
    KinesisWireJson.parseShardIterator("""{"ShardIterator": "AAAA=="}""") shouldBe "AAAA=="

    // a malformed body fails loudly, naming the missing field
    val e = intercept[IllegalArgumentException](
      KinesisWireJson.parseGetRecords("""{"Records": []}"""))
    e.getMessage should include("MillisBehindLatest")
  }

  test("KinesisShardBackend over a recorded session: paging, ranges, closed shard") {
    val dir = writeFixture()
    val api = new RecordedKinesisApi(dir)
    val be = new KinesisShardBackend(api, "recorded")

    be.listShards() shouldBe
      Seq("shardId-000000000000", "shardId-000000000001")

    // positions are ordinals: the records at gapped sequences +0/+2/+5
    // sit at 0, 1, 2 → end = 3
    be.latestPosition("shardId-000000000000") shouldBe 3L
    // the closed shard terminates the drain via its null NextShardIterator
    be.latestPosition("shardId-000000000001") shouldBe 1L

    val got = be.read("shardId-000000000000", 0L, 3L)
    got.map(_.sequence) shouldBe Seq(0L, 1L, 2L)
    got.map(_.partitionKey) shouldBe
      Seq("partitionKey-0", "partitionKey-1", "pk-agg")
    got.map(_.tsMillis) shouldBe
      Seq(1441215410867L, 1441215411102L, 1441215412000L)
    new String(got(0).data, UTF_8) shouldBe "r0"

    // the replayed KPL aggregate de-aggregates like any producer payload
    KplCodec.deaggregate(got(2).data) match {
      case KplCodec.Aggregate(payloads) =>
        payloads.map(new String(_, UTF_8)) shouldBe
          Seq("""{"id": 1}""", """{"id": 2}""")
      case other => fail(s"expected Aggregate, got $other")
    }

    // range read from a mid-stream position opens at the right page
    be.read("shardId-000000000000", 2L, 3L).map(_.sequence) shouldBe Seq(2L)
  }

  test("a recorded sequence span wider than a long reads back as ordinals") {
    // Live sequence numbers carry ingestion time in their high bits, so two
    // records of one shard may differ by far more than Long.MaxValue.
    val dir = Files.createTempDirectory("kinesis-wire-wide").toString
    Files.writeString(Paths.get(dir, "list_shards.json"),
      s"""{"Shards": [{"ShardId": "shardId-000000000000",
          |"SequenceNumberRange": {"StartingSequenceNumber": "$seq0"}}]}""".stripMargin)
    val wide = BigInt(10).pow(30)
    wide should be > BigInt(Long.MaxValue)
    val shard = Paths.get(dir, "shardId-000000000000")
    Files.createDirectories(shard)
    Files.writeString(shard.resolve("page-000.json"),
      s"""{"MillisBehindLatest": 0, "NextShardIterator": "AAAA/opaque",
          |"Records": [${wireRecord(0, "1441215410.867", "pk-a", "a".getBytes(UTF_8))},
          |${wireRecord(wide, "1441215411.102", "pk-b", "b".getBytes(UTF_8))}]}""".stripMargin)
    val backend = new KinesisShardBackend(new RecordedKinesisApi(dir), "recorded")
    backend.latestPosition("shardId-000000000000") shouldBe 2L
    backend.read("shardId-000000000000", 0L, 2L).map(r => (r.sequence, r.partitionKey)) shouldBe
      Seq((0L, "pk-a"), (1L, "pk-b"))
  }

  test("full DSv2 batch scan + de-aggregation over the recorded wire session") {
    val dir = writeFixture()
    val df = spark.read.format(KplFileSource.ProviderClass)
      .option("backend", classOf[RecordedKinesisBackend].getName)
      .option("path", dir)
      .load()
    // envelope rows surface the wire fields through the source schema
    val envelope = df.selectExpr("shardId", "sequenceNumber",
        "CAST(approximateArrivalTimestamp AS STRING) AS ts")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    envelope.map(_._1).distinct shouldBe
      Array("shardId-000000000000", "shardId-000000000001")
    envelope.length shouldBe 4

    // the downstream de-aggregation operator flattens the KPL aggregate:
    // 2 plain + 2 aggregated + 1 closed-shard record = 5 user records
    val flat = graft.plans.KplExplode.userRecords(df)
    flat.count() shouldBe 5L
    flat.selectExpr("CAST(payload AS STRING) AS p").collect()
      .map(_.getString(0)).sorted shouldBe
      Array("closed-tail", "r0", "r1", """{"id": 1}""", """{"id": 2}""")
  }
}
