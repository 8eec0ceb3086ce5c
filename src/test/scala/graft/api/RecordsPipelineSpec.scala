package graft.api

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.kpl.KplCodec
import graft.plans.KplExplode
import graft.sources.{KplFileSource, KplShardFiles}
import graft.streaming.{CrawlIngest, RecordsStream}

/** The `/records` batch plan and the catch-up stream are one pipeline:
  * same answers over the same shard store, one flatten in each plan, and
  * no hidden session state installed while planning. */
class RecordsPipelineSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val nowMs = 960L * 60000L
  private val now = Instant.ofEpochMilli(nowMs)

  private def event(tenant: Long, contact: Long): String =
    s"""{"baseEventData":{"com.incontact.datainfra.events.ContactEvent":{"mediaScopeIdentification":{"contactIdentification":{"contactId":{"long":$contact},"contactIdAlt":null}}}},"tenantId":{"tenantId":{"long":$tenant},"tenantIdAlt":null,"serverName":null}}"""

  /** Two shards; with the default 10-minute lookback the start is minute 950. */
  private def store(): String = {
    val dir = Files.createTempDirectory("records-pipeline").toString
    def at(minute: Long) = minute * 60000L
    def bytes(s: String) = s.getBytes(UTF_8)
    KplShardFiles.write(dir, 0, Seq(
      KplShardFiles.Frame(at(900), "pk-old", bytes(event(7, 1))),   // before the lookback
      KplShardFiles.Frame(at(950), "pk-edge", bytes(event(7, 2))),  // exactly at the start
      KplShardFiles.Frame(at(952), "pk-agg", KplCodec.aggregate("pk-agg",
        Seq(event(7, 3), event(8, 4), event(7, 3)).map(bytes))),  // a duplicate payload
      KplShardFiles.Frame(at(953), "pk-bad", KplCodec.Magic ++ Array.fill[Byte](40)(0x7F))))
    KplShardFiles.write(dir, 1, Seq(
      KplShardFiles.Frame(at(949), "pk-old", KplCodec.aggregate("pk-old",
        Seq(event(7, 5)).map(bytes))),                              // before the lookback
      KplShardFiles.Frame(at(955), "pk-junk", bytes("not json at all")),
      KplShardFiles.Frame(at(958), "pk-bare", bytes(event(8, 6)))))
    dir
  }

  private def query(params: (String, String)*): RecordsQuery.Query =
    RecordsQuery.validate(Map("streamname" -> "s") ++ params).toOption.get

  private def batch(dir: String, q: RecordsQuery.Query): DataFrame =
    RecordsQuery.plan(
      spark.read.format(KplFileSource.ProviderClass).option("path", dir).load(), q, now)

  private def stream(dir: String, q: RecordsQuery.Query): DataFrame =
    RecordsStream.records(RecordsStream.envelopeStream(spark, dir, q, nowMs), q)

  private def jsons(df: DataFrame): Seq[String] =
    df.select("json").collect().map(_.getString(0)).toSeq.sorted

  private def generators(plan: LogicalPlan): Seq[Generate] =
    plan.collect { case g: Generate => g }

  private def udfs(plan: LogicalPlan): Seq[ScalaUDF] =
    plan.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))

  test("batch plan and AvailableNow drain return the same JSON multiset") {
    val dir = store()
    for ((q, expected) <- Seq(
        query() -> Seq(event(7, 2), event(7, 3), event(8, 4), event(7, 3),
          "not json at all", event(8, 6)),
        query("tenantId" -> "7") -> Seq(event(7, 2), event(7, 3), event(7, 3)))) {
      val name = s"records_parity_${q.tenantId.getOrElse(0L)}"
      stream(dir, q).writeStream.format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(60000)
      val drained = jsons(spark.table(name))
      jsons(batch(dir, q)) shouldBe expected.sorted
      drained shouldBe expected.sorted
    }
  }

  test("batch and streaming records plans hold one KplExplode Generate and no ScalaUDF") {
    val dir = store()
    val q = query("tenantId" -> "7")
    for (plan <- Seq(batch(dir, q), stream(dir, q)).map(_.queryExecution.analyzed)) {
      generators(plan).map(_.generator.getClass) shouldBe Seq(classOf[KplExplode])
      udfs(plan) shouldBe empty
    }
  }

  test("planning /records or ingest in a new session installs no optimizer rule") {
    val session = spark.newSession()
    val envelope = session.read.format(KplFileSource.ProviderClass)
      .option("path", store()).load()
    session.experimental.extraOptimizations shouldBe empty
    RecordsQuery.plan(envelope, query("contactId" -> "3"), now).queryExecution.optimizedPlan
    CrawlIngest.docsFromEnvelopes(envelope).queryExecution.optimizedPlan
    session.experimental.extraOptimizations shouldBe empty
  }
}
