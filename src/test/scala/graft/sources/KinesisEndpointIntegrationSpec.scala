package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions.col

/** OPT-IN integration check against a real Kinesis-compatible server
  * (kinesalite, LocalStack, or AWS itself) — the protocol-drift net the
  * in-process stub of [[KinesisHttpSpec]] cannot provide (real error
  * bodies, pagination quirks, iterator TTLs).
  *
  * Gated on `SPARK_GRAFT_KINESIS_ENDPOINT`: unset (the usual sandbox/CI
  * case) CANCELS the tests — visibly skipped, never silently passed.
  * To run, e.g. against kinesalite:
  *
  * {{{
  * kinesalite --port 4567 &
  * aws --endpoint-url http://localhost:4567 kinesis create-stream \
  *   --stream-name graft-it --shard-count 2
  * aws --endpoint-url http://localhost:4567 kinesis put-record \
  *   --stream-name graft-it --partition-key a --data aGVsbG8=
  * SPARK_GRAFT_KINESIS_ENDPOINT=http://localhost:4567 \
  * SPARK_GRAFT_KINESIS_STREAM=graft-it \
  * AWS_ACCESS_KEY_ID=x AWS_SECRET_ACCESS_KEY=x sbt \
  *   "testOnly graft.sources.KinesisEndpointIntegrationSpec"
  * }}}
  *
  * Asserts only protocol-level invariants (shards exist, records
  * round-trip with monotonic ordinals, positioned resume returns the
  * same records) — not fixture contents, which the caller owns. */
class KinesisEndpointIntegrationSpec extends AnyFunSuite with Matchers
    with graft.SparkSpec {

  private val endpointEnv = sys.env.get("SPARK_GRAFT_KINESIS_ENDPOINT")
  private val streamName = sys.env.getOrElse("SPARK_GRAFT_KINESIS_STREAM", "graft-it")
  /** Set to the double's iterator TTL (ms) when it runs in TTL mode —
    * gates the expiry-recovery check. */
  private val ttlEnv = sys.env.get("SPARK_GRAFT_KINESIS_ITER_TTL_MS")
  /** Set to the EXPECTED total record count when the double runs in
    * reshard mode — gates the eventual-consistency admission check. */
  private val reshardExpectEnv = sys.env.get("SPARK_GRAFT_KINESIS_RESHARD_EXPECT")

  private def api(): KinesisHttpApi = {
    val endpoint = endpointEnv.get
    new KinesisHttpApi(endpoint,
      sys.env.getOrElse("AWS_REGION", "us-east-1"),
      AwsCredentials(
        sys.env.getOrElse("AWS_ACCESS_KEY_ID", "x"),
        sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", "x"),
        sys.env.get("AWS_SESSION_TOKEN")))
  }

  test("ListShards -> GetShardIterator -> GetRecords round-trips against the live endpoint") {
    assume(endpointEnv.isDefined,
      "SPARK_GRAFT_KINESIS_ENDPOINT not set; integration check skipped")
    val a = api()
    val shards = a.listShards(streamName).map(_.shardId)
    shards should not be empty
    // drain every shard from TRIM_HORIZON through the seam's backend:
    // ordinal positions must be dense from 0 and data must round-trip
    val backend = new KinesisShardBackend(a, streamName, pageSize = 100)
    val sizes = shards.map(s => s -> backend.latestPosition(s)).toMap
    withClue(s"stream $streamName has no records; put at least one before running") {
      sizes.values.sum should be > 0L
    }
    sizes.foreach { case (shard, n) if n > 0 =>
      val recs = backend.read(shard, 0L, n)
      recs.map(_.sequence) shouldBe (0L until n)
      recs.foreach(_.data should not be null)
    case _ => ()
    }
  }

  test("positioned resume via recorded anchors returns the identical tail") {
    assume(endpointEnv.isDefined,
      "SPARK_GRAFT_KINESIS_ENDPOINT not set; integration check skipped")
    val backend = new KinesisShardBackend(api(), streamName, pageSize = 2)
    val shard = backend.listShards().head
    val n = backend.latestPosition(shard)
    assume(n >= 2, s"need >=2 records in ${streamName}/$shard for the resume check")
    val full = backend.read(shard, 0L, n)
    // a second read of the tail opens its iterator at position n - 1 via
    // the anchor store; must agree byte-for-byte with the full drain
    val tail = backend.read(shard, n - 1, n)
    tail.map(_.sequence) shouldBe full.takeRight(1).map(_.sequence)
    tail.head.data.toSeq shouldBe full.last.data.toSeq
    // throttle-retry path: a burst of positioned reads must all succeed
    // (kinesalite throttles GetShardIterator at ~5/s/shard)
    (1 to 8).foreach { _ =>
      backend.read(shard, n - 1, n).map(_.sequence) shouldBe Seq(n - 1)
    }
  }

  test("iterator TTL expiry over the live socket: the drain resumes exactly, no duplicate, no gap") {
    assume(endpointEnv.isDefined && ttlEnv.isDefined,
      "SPARK_GRAFT_KINESIS_ENDPOINT / SPARK_GRAFT_KINESIS_ITER_TTL_MS not " +
        "set; run KinesisDouble with an iterator TTL (arg 5) to exercise this")
    val ttl = ttlEnv.get.toLong
    val a = api()
    val shard = a.listShards(streamName).head.shardId
    // expiry BEFORE anything was consumed: the transport re-acquires from
    // the lineage start (nothing to lose)
    val it0 = a.getShardIterator(streamName, shard, 0L)
    Thread.sleep(ttl + 300L)
    val (p1, next1, _) = a.getRecords(it0, 2)
    p1.map(_.sequence) shouldBe Seq(0L, 1L)
    // expiry MID-DRAIN: the transport must re-acquire AFTER the last
    // consumed real sequence and resume — not TRIM_HORIZON, not fail
    Thread.sleep(ttl + 300L)
    val (p2, _, _) = a.getRecords(next1.get, 100)
    val all = p1 ++ p2
    withClue("ordinals after the expiry recovery must be dense from 0 " +
      "(a gap = skipped records, a repeat = duplicates)") {
      all.map(_.sequence) shouldBe (0L until all.size.toLong)
    }
    all.map(_.partitionKey).distinct.size shouldBe all.size
  }

  test("eventually-consistent ListShards after a reshard: late children drain after the parent, exactly once") {
    assume(endpointEnv.isDefined && reshardExpectEnv.isDefined,
      "SPARK_GRAFT_KINESIS_ENDPOINT / SPARK_GRAFT_KINESIS_RESHARD_EXPECT " +
        "not set; run KinesisDouble in reshard mode (arg 6) to exercise this")
    val expect = reshardExpectEnv.get.toInt
    // the real streaming source against the live socket: shard discovery
    // re-lists per trigger, so the children — hidden by the server for
    // the first N sweeps — appear MID-STREAM, and parent-before-child
    // admission must hold across the late discovery.
    // re-arm the double's eventual-consistency window: earlier tests in
    // this suite already swept ListShards past the reveal point
    api().post("GraftTest.ResetReshardVisibility", "{}")
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]()
    val df = spark.readStream.format(KplFileSource.ProviderClass)
      .option("backend", classOf[KinesisHttpBackend].getName)
      .option("endpoint", endpointEnv.get)
      .option("region", sys.env.getOrElse("AWS_REGION", "us-east-1"))
      .option("streamName", streamName)
      .option("accessKeyId", sys.env.getOrElse("AWS_ACCESS_KEY_ID", "x"))
      .option("secretAccessKey", sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", "x"))
      .load()
    val q = df.selectExpr("shardId", "CAST(data AS STRING) AS payload")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(250L))
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: java.lang.Long) =>
          b.collect().foreach(r =>
            rows.add((id.longValue(), r.getString(0), r.getString(1))))
          ()
      }
      .start()
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while (rows.size < expect && System.currentTimeMillis() < deadline)
        Thread.sleep(500L)
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val got = rows.asScala.toVector
    withClue(s"expected $expect records (parent + late-revealed children), " +
      s"got ${got.size}: ${got.map(_._3).sorted}") {
      got.size shouldBe expect
    }
    // exactly once: no payload arrived twice across the reshard point
    got.map(_._3).distinct.size shouldBe expect
    // parent-before-child over the wire: every child-shard record lands
    // in a batch AT OR AFTER the batch that finished the (closed) parent
    val parentShard = got.map(_._2).min
    val parentIsClosed = new KinesisShardBackend(api(), streamName, 100)
      .shardMetas().exists(m => m.shardId == parentShard && m.closed)
    parentIsClosed shouldBe true
    val lastParentBatch = got.filter(_._2 == parentShard).map(_._1).max
    val childBatches = got.filterNot(_._2 == parentShard).map(_._1)
    childBatches should not be empty
    all(childBatches) should be >= lastParentBatch
  }

  /** A SECOND double instance (plain mode, ZERO seed records) dedicated
    * to the composed-mouth drain, so the adversarial TTL/reshard modes of
    * the primary instance don't interleave with the mouth's batches. */
  private val mouthEndpointEnv = sys.env.get("SPARK_GRAFT_KINESIS_MOUTH_ENDPOINT")
  private val mouthStream =
    sys.env.getOrElse("SPARK_GRAFT_KINESIS_MOUTH_STREAM", "graft-mouth")

  test("the composed admission mouth drains the live socket: crash between index commits, restart converges, second drain learns") {
    assume(mouthEndpointEnv.isDefined,
      "SPARK_GRAFT_KINESIS_MOUTH_ENDPOINT not set; start a second " +
        "KinesisDouble with 0 seed records (e.g. `KinesisDouble 4568 " +
        "graft-mouth 2 0`) to exercise the composed mouth over the wire")
    import graft.ops.MouthFixture._
    import graft.ops.{CorpusDedup, VectorSearch}
    val sess = spark
    import sess.implicits.{localSeqToDatasetHolder, newProductEncoder}

    val endpoint = mouthEndpointEnv.get
    val a = new KinesisHttpApi(endpoint,
      sys.env.getOrElse("AWS_REGION", "us-east-1"),
      AwsCredentials(
        sys.env.getOrElse("AWS_ACCESS_KEY_ID", "x"),
        sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", "x"),
        sys.env.get("AWS_SESSION_TOKEN")))
    // the crawl feed over the wire: one PutRecord per KPL AGGREGATE of
    // markup-wrapped doc payloads — the same bytes a producer fleet ships
    def pageOf(id: Long, text: String): String =
      Seq((id, text)).toDF("doc_id", "text")
        .select(graft.queries.TextAnalysis.htmlOf(
          org.apache.spark.sql.functions.col("text"),
          org.apache.spark.sql.functions.col("doc_id")))
        .collect().head.getString(0)
    def put(pk: String, docs: Seq[(Long, String, Option[Seq[Float]])]): Unit = {
      val payloads = docs.map { case (id, t, v) => docJson(id, pageOf(id, t), v) }
      val agg = graft.kpl.KplCodec.aggregate(pk, payloads)
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val n = m.createObjectNode()
      n.put("StreamName", mouthStream)
      n.put("PartitionKey", pk)
      n.put("Data", java.util.Base64.getEncoder.encodeToString(agg))
      a.post("Kinesis_20131202.PutRecord", m.writeValueAsString(n))
    }

    // fresh base pair: dedup over {1:tA, 2:tB}, IVF over the 32 basis vecs
    val dedupDir = java.nio.file.Files.createTempDirectory("wire-dedup").toString
    CorpusDedup.buildIndex(
      Seq(1L -> tA, 2L -> tB).toDF("doc_id", "text"), "doc_id", "text", dedupDir)
    val ivfDir = java.nio.file.Files.createTempDirectory("wire-ivf").toString
    VectorSearch.buildIvfIndex(
      (0 until 32).map(i => (301L + i) -> basis(i)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", ivfDir)
    val vDir = java.nio.file.Files.createTempDirectory("wire-v").toString
    val ck = java.nio.file.Files.createTempDirectory("wire-ck").toString

    def drive(failAfterStage: Long => Int = _ => Int.MaxValue): Option[String] = {
      val q = graft.streaming.CrawlIngest.admissionFromKinesis(
        spark,
        Map("backend" -> classOf[KinesisHttpBackend].getName,
          "endpoint" -> endpoint,
          "region" -> sys.env.getOrElse("AWS_REGION", "us-east-1"),
          "streamName" -> mouthStream,
          "accessKeyId" -> sys.env.getOrElse("AWS_ACCESS_KEY_ID", "x"),
          "secretAccessKey" -> sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", "x")),
        dedupDir, ivfDir, vDir, ck, extractMarkup = true,
        failAfterStage = failAfterStage)
      try { q.awaitTermination(); None }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          Some(Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage))
      } finally q.stop()
    }
    def manifest() = spark.read.parquet(s"$vDir/manifest")
      .select(col("doc_id"), col("is_dup"), col("sem_novel"), col("admitted"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toMap

    // drain 1: crash between the dedup commit and the ANN commit, over
    // the socket — then restart from the same checkpoint and converge
    put("pk-a", Seq((10L, tA, Some(pC)), (11L, tC, Some(basis(0))),
      (12L, tD, Some(pC))))
    val err = drive(failAfterStage = id => if (id == 0L) 1 else Int.MaxValue)
    err.getOrElse("") should include("injected crash after stage 1")
    drive() shouldBe None
    val m1 = manifest()
    m1(10L) shouldBe ((Some(true), None, false)) // text-dup of stored 1
    m1(11L) shouldBe ((Some(false), Some(false), false)) // sem-dup of 301
    m1(12L) shouldBe ((Some(false), Some(true), true)) // ADMITTED

    // drain 2 (same checkpoint, new wire records): both tiers LEARNED
    // from drain 1 through the socket path
    put("pk-b", Seq((20L, tD, Some(pD)), (22L, tF, Some(pD)), (23L, tG, None)))
    drive() shouldBe None
    val m2 = manifest()
    m2(20L) shouldBe ((Some(true), None, false)) // text-dup of admitted 12
    m2(22L) shouldBe ((Some(false), Some(true), true)) // ADMITTED
    m2(23L) shouldBe ((Some(false), None, true)) // no embedding: text gates

    // exactly-once across the crash + two drains: each id indexed once
    CorpusDedup.refreshIndex(spark, dedupDir)
    val sigs = CorpusDedup.fromIndex(spark, dedupDir).signatures
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    sigs shouldBe Array(1L, 2L, 11L, 12L, 22L, 23L)
    VectorSearch.refreshIvfIndex(spark, ivfDir)
    VectorSearch.fromIvfIndex(spark, ivfDir).vectors
      .select(col("vec_id")).collect().map(_.getLong(0)).sorted shouldBe
      ((301L to 332L) ++ Seq(12L, 22L)).sorted.toArray
  }
}
