package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Reshard lifecycle: parent-before-child admission ([[ReshardAdmission]],
  * the rule the public Kinesis Client Library applies after a shard
  * split/merge) and its end-to-end effect on the DSv2 micro-batch source —
  * a child shard serves NO records until every ancestor the stream still
  * lists is closed and fully consumed, so a partition key's records never
  * re-order across the reshard point. The reference reads a single fixed
  * shard (`kinesisReader/index.js:77`) and never faces this; at production
  * shard counts resharding is routine, so the engine's source must order
  * it.
  */
object HeldChildrenBackend {
  /** A closed parent with a 50-record backlog, split into two children
    * with 30 records each; GetRecords calls are counted per shard. */
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private def records(n: Int) =
    (0 until n).map(i => ShardRecord(i.toLong, 1000L + i, s"k$i", Array.emptyByteArray))
  val api = new StubKinesisApi(Map(
      "parent" -> records(50), "child-a" -> records(30), "child-b" -> records(30))) {
    override def listShards(streamName: String): Seq[ShardMeta] = Seq(
      ShardMeta("parent", Nil, closed = true),
      ShardMeta("child-a", Seq("parent"), closed = false),
      ShardMeta("child-b", Seq("parent"), closed = false))
    override def getRecords(iterator: String, limit: Int)
        : (Seq[ShardRecord], Option[String], Long) = {
      calls.merge(iterator.split("/")(0), 1, _ + _)
      super.getRecords(iterator, limit)
    }
  }
}

/** Page size 10 over [[HeldChildrenBackend.api]]. */
class HeldChildrenBackend(options: Map[String, String])
    extends StubKinesisBackend(HeldChildrenBackend.api, pageSize = 10)

class ReshardSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def meta(id: String, parents: Seq[String], closed: Boolean) =
    ShardMeta(id, parents, closed)

  // ---- unit: the admission rule ------------------------------------------

  test("split: children held until the closed parent is fully consumed") {
    val metas = Seq(
      meta("p", Nil, closed = true),
      meta("c1", Seq("p"), closed = false),
      meta("c2", Seq("p"), closed = false))
    val target = Map("p" -> 10L, "c1" -> 5L, "c2" -> 5L).withDefaultValue(0L)
    ReshardAdmission.admissible(metas, Map("p" -> 4L).withDefaultValue(0L), target) shouldBe Set("p")
    ReshardAdmission.admissible(metas, Map("p" -> 10L).withDefaultValue(0L), target) shouldBe
      Set("p", "c1", "c2")
  }

  test("merge: the child waits for BOTH parents") {
    val metas = Seq(
      meta("p1", Nil, closed = true),
      meta("p2", Nil, closed = true),
      meta("c", Seq("p1", "p2"), closed = false))
    val target = Map("p1" -> 3L, "p2" -> 4L, "c" -> 2L).withDefaultValue(0L)
    ReshardAdmission.admissible(metas,
      Map("p1" -> 3L, "p2" -> 1L).withDefaultValue(0L), target) shouldBe Set("p1", "p2")
    ReshardAdmission.admissible(metas,
      Map("p1" -> 3L, "p2" -> 4L).withDefaultValue(0L), target) shouldBe Set("p1", "p2", "c")
  }

  test("an OPEN parent blocks its children even when drained to the current end") {
    val metas = Seq(
      meta("p", Nil, closed = false), // more records may still arrive
      meta("c", Seq("p"), closed = false))
    val target = Map("p" -> 3L, "c" -> 2L).withDefaultValue(0L)
    ReshardAdmission.admissible(metas,
      Map("p" -> 3L).withDefaultValue(0L), target) shouldBe Set("p")
  }

  test("transitive: an EMPTY drained parent does not unlock the child while the grandparent has backlog") {
    // g (closed, undrained) -> p (closed, empty => trivially drained) -> c:
    // a non-transitive check would admit c off p alone and serve records
    // written before g's were read.
    val metas = Seq(
      meta("g", Nil, closed = true),
      meta("p", Seq("g"), closed = true),
      meta("c", Seq("p"), closed = false))
    val target = Map("g" -> 5L, "p" -> 0L, "c" -> 3L).withDefaultValue(0L)
    ReshardAdmission.admissible(metas, Map.empty[String, Long].withDefaultValue(0L),
      target) shouldBe Set("g") // p is g's child too: held with c
    ReshardAdmission.admissible(metas, Map("g" -> 5L).withDefaultValue(0L),
      target) shouldBe Set("g", "p", "c")
  }

  test("a parent the stream no longer lists (aged out) is treated as consumed") {
    val metas = Seq(meta("c", Seq("gone"), closed = false))
    ReshardAdmission.admissible(metas,
      Map.empty[String, Long].withDefaultValue(0L),
      Map.empty[String, Long].withDefaultValue(0L)) shouldBe Set("c")
  }

  test("a metadata cycle is refused loudly instead of planning garbage") {
    val metas = Seq(
      meta("a", Seq("b"), closed = true),
      meta("b", Seq("a"), closed = true))
    val zero = Map.empty[String, Long].withDefaultValue(0L)
    an[IllegalArgumentException] should be thrownBy
      ReshardAdmission.admissible(metas, zero, zero)
  }

  // ---- sidecar IO ----------------------------------------------------------

  test("shards.json sidecar roundtrips and absent files mean default metadata") {
    val dir = Files.createTempDirectory("reshard-meta").toString
    KplShardFiles.readMetas(dir) shouldBe Map.empty
    val metas = Seq(
      meta("shard-00000.kpl", Nil, closed = true),
      meta("shard-00001.kpl", Seq("shard-00000.kpl"), closed = false))
    KplShardFiles.writeMetas(dir, metas)
    KplShardFiles.readMetas(dir) shouldBe metas.map(m => m.shardId -> m).toMap
  }

  test("wire parse: ParentShardId/AdjacentParentShardId/EndingSequenceNumber drive ShardMeta") {
    val json =
      """{"Shards": [
        |  {"ShardId": "shardId-000", "SequenceNumberRange":
        |    {"StartingSequenceNumber": "100", "EndingSequenceNumber": "499"}},
        |  {"ShardId": "shardId-001", "ParentShardId": "shardId-000",
        |   "SequenceNumberRange": {"StartingSequenceNumber": "500"}},
        |  {"ShardId": "shardId-002", "ParentShardId": "shardId-000",
        |   "AdjacentParentShardId": "shardId-001",
        |   "SequenceNumberRange": {"StartingSequenceNumber": "900"}}
        |]}""".stripMargin
    val (infos, next) = KinesisWireJson.parseListShardsPage(json)
    next shouldBe None
    infos shouldBe Seq(
      ShardMeta("shardId-000", Nil, closed = true),
      ShardMeta("shardId-001", Seq("shardId-000"), closed = false),
      ShardMeta("shardId-002", Seq("shardId-000", "shardId-001"), closed = false))
  }

  // ---- end-to-end over the DSv2 source ------------------------------------

  /** Write a shard file with `n` single-byte records. */
  private def writeShard(dir: String, shardIdx: Int, n: Int, tsBase: Long): Unit =
    KplShardFiles.write(dir, shardIdx, (0 until n).map(i =>
      KplShardFiles.Frame(tsBase + i, s"k$i", Array[Byte](i.toByte))))

  private def shardFile(i: Int): String = KplShardFiles.shardFileName(i)

  /** Drain the source with foreachBatch, returning (batchId, shardId) per
    * record in delivery order. */
  private def drainCapture(dir: String, perFetch: Int,
      extraOptions: Map[String, String] = Map.empty): Seq[(Long, String)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q = extraOptions.foldLeft(
      spark.readStream.format(KplFileSource.ProviderClass)
        .option("path", dir)
        .option("maxRecordsPerFetch", perFetch.toString)) {
        case (r, (k, v)) => r.option(k, v)
      }
      .load()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("reshard-ck").toString)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: java.lang.Long) =>
          b.select("shardId").collect()
            .foreach(r => seen.add((id.longValue(), r.getString(0))))
          ()
      }
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("e2e split: every child record lands in a later batch than every parent record") {
    val dir = Files.createTempDirectory("reshard-split").toString
    writeShard(dir, 0, 6, tsBase = 1000) // parent, closed
    writeShard(dir, 1, 5, tsBase = 2000) // children of shard 0
    writeShard(dir, 2, 5, tsBase = 2000)
    KplShardFiles.writeMetas(dir, Seq(
      meta(shardFile(0), Nil, closed = true),
      meta(shardFile(1), Seq(shardFile(0)), closed = false),
      meta(shardFile(2), Seq(shardFile(0)), closed = false)))

    val got = drainCapture(dir, perFetch = 4)
    got.size shouldBe 16 // exactly once, nothing dropped while held
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val parentMax = byShard("shard-00000").max
    byShard("shard-00001").min should be > parentMax
    byShard("shard-00002").min should be > parentMax
  }

  test("e2e merge: the child waits for both parents to drain") {
    val dir = Files.createTempDirectory("reshard-merge").toString
    writeShard(dir, 0, 5, tsBase = 1000)
    writeShard(dir, 1, 7, tsBase = 1000)
    writeShard(dir, 2, 4, tsBase = 2000) // merge child of 0 and 1
    KplShardFiles.writeMetas(dir, Seq(
      meta(shardFile(0), Nil, closed = true),
      meta(shardFile(1), Nil, closed = true),
      meta(shardFile(2), Seq(shardFile(0), shardFile(1)), closed = false)))

    val got = drainCapture(dir, perFetch = 4)
    got.size shouldBe 16
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val parentsMax = math.max(byShard("shard-00000").max, byShard("shard-00001").max)
    byShard("shard-00002").min should be > parentsMax
  }

  test("e2e transitive: an empty mid-chain parent still orders the child after the grandparent") {
    val dir = Files.createTempDirectory("reshard-chain").toString
    writeShard(dir, 0, 5, tsBase = 1000) // grandparent, closed, needs 2 batches
    writeShard(dir, 1, 0, tsBase = 1500) // parent, closed, EMPTY
    writeShard(dir, 2, 3, tsBase = 2000) // child
    KplShardFiles.writeMetas(dir, Seq(
      meta(shardFile(0), Nil, closed = true),
      meta(shardFile(1), Seq(shardFile(0)), closed = true),
      meta(shardFile(2), Seq(shardFile(1)), closed = false)))

    val got = drainCapture(dir, perFetch = 4)
    got.size shouldBe 8
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byShard("shard-00002").min should be > byShard("shard-00000").max
  }

  test("e2e: a child referencing an aged-out parent is served immediately") {
    val dir = Files.createTempDirectory("reshard-aged").toString
    writeShard(dir, 1, 3, tsBase = 2000)
    KplShardFiles.writeMetas(dir, Seq(
      meta(shardFile(1), Seq(shardFile(0)), closed = false))) // shard 0 never written
    val got = drainCapture(dir, perFetch = 4)
    got.size shouldBe 3
  }

  test("e2e recorded wire session: ParentShardId ordering through the full DSv2 stream") {
    // A recorded ListShards body carries the real lineage fields; the
    // parent's final page closes it (null NextShardIterator). The DSv2
    // stream over RecordedKinesisBackend must hold the child until the
    // parent drains — the same admission proof as the file-backend e2e,
    // through the Kinesis-API-shaped seam instead of the sidecar.
    val dir = Files.createTempDirectory("reshard-rec").toString
    def write(rel: String, body: String): Unit = {
      val p = java.nio.file.Paths.get(dir, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, body.getBytes(UTF_8))
    }
    write("list_shards.json",
      """{"Shards": [
        |  {"ShardId": "parent-0", "SequenceNumberRange":
        |    {"StartingSequenceNumber": "1000", "EndingSequenceNumber": "1004"}},
        |  {"ShardId": "child-0", "ParentShardId": "parent-0",
        |   "SequenceNumberRange": {"StartingSequenceNumber": "2000"}}
        |]}""".stripMargin)
    def rec(seq: Long, pk: String) =
      s"""{"SequenceNumber": "$seq", "ApproximateArrivalTimestamp": 1.5,
         |"PartitionKey": "$pk", "Data": "${java.util.Base64.getEncoder
        .encodeToString(pk.getBytes(UTF_8))}"}""".stripMargin
    write("parent-0/page-000.json",
      s"""{"Records": [${rec(1000, "a")}, ${rec(1001, "b")}, ${rec(1002, "c")}],
         |"NextShardIterator": "p1", "MillisBehindLatest": 10}""".stripMargin)
    write("parent-0/page-001.json",
      s"""{"Records": [${rec(1003, "d")}, ${rec(1004, "e")}],
         |"NextShardIterator": null, "MillisBehindLatest": 0}""".stripMargin)
    write("child-0/page-000.json",
      s"""{"Records": [${rec(2000, "f")}, ${rec(2001, "g")}, ${rec(2002, "h")}],
         |"NextShardIterator": null, "MillisBehindLatest": 0}""".stripMargin)

    val got = drainCapture(dir, perFetch = 4,
      Map("backend" -> classOf[RecordedKinesisBackend].getName))
    got.size shouldBe 8
    val byShard = got.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byShard("child-0").min should be > byShard("parent-0").max
  }

  test("a budgeted backlog probe plans the same end offsets as a full probe") {
    // The probe looks at most k records past each committed offset s, so
    // it answers min(n, s + k), not the backlog end n. The planned offsets
    // must still be the full-probe formula min(n, s + max(1, k / pending))
    // for admitted shards, and s for held ones.
    val dir = Files.createTempDirectory("reshard-budget").toString
    val backlogs = Seq(23, 5, 40, 0, 12)
    backlogs.zipWithIndex.foreach { case (n, i) => writeShard(dir, i, n, 1000L * i) }
    KplShardFiles.writeMetas(dir, Seq(
      meta(shardFile(0), Nil, closed = true),
      meta(shardFile(1), Seq(shardFile(0)), closed = false),
      meta(shardFile(2), Seq(shardFile(0)), closed = false)))
    val ends = backlogs.zipWithIndex.map { case (n, i) => shardFile(i) -> n.toLong }.toMap
    val metas = new FileShardBackend(dir).shardMetas()
    for (k <- Seq(1L, 3L, 7L, 50L, 1000L)) {
      val stream = new KplFileMicroBatchStream(
        BackendSpec("files", Map("path" -> dir)), maxPerFetch = 100)
      var s = stream.initialOffset().asInstanceOf[KplShardOffsets].offsets
      while (s != ends) {
        val admitted = ReshardAdmission.admissible(metas, s, ends)
        val pending = ends.count { case (id, n) => admitted(id) && n > s(id) }
        val want = ends.map { case (id, n) =>
          id -> (if (admitted(id)) math.min(n, s(id) + math.max(1L, k / pending)) else s(id))
        }
        val got = stream.latestOffset(KplShardOffsets(s), ReadLimit.maxRows(k))
          .asInstanceOf[KplShardOffsets].offsets
        withClue(s"budget $k from $s: ") { got shouldBe want }
        got should not be s
        s = got
      }
    }
  }

  test("children held on a draining closed parent get no GetRecords call") {
    val calls = HeldChildrenBackend.calls
    val stream = new KplFileMicroBatchStream(
      BackendSpec(classOf[HeldChildrenBackend].getName, Map.empty), maxPerFetch = 20)
    var offset = stream.initialOffset().asInstanceOf[KplShardOffsets]
    for (parentEnd <- Seq(20L, 40L, 50L)) {
      calls.clear()
      offset = stream.latestOffset(offset, ReadLimit.maxRows(20)).asInstanceOf[KplShardOffsets]
      offset shouldBe KplShardOffsets(Map("parent" -> parentEnd, "child-a" -> 0L, "child-b" -> 0L))
      withClue(s"trigger ending the parent at $parentEnd: ") {
        calls.getOrDefault("child-a", 0) shouldBe 0
        calls.getOrDefault("child-b", 0) shouldBe 0
        calls.get("parent") should be > 0
      }
    }
    // The parent is drained: the children are admitted, probed and split
    // the budget.
    calls.clear()
    stream.latestOffset(offset, ReadLimit.maxRows(20)) shouldBe
      KplShardOffsets(Map("parent" -> 50L, "child-a" -> 10L, "child-b" -> 10L))
    calls.get("child-a") should be > 0
    calls.get("child-b") should be > 0
  }

  // ---- the Kinesis-API-shaped backend carries the lineage ------------------

  test("KinesisShardBackend.shardMetas surfaces the adapter's lineage") {
    val api = new StubKinesisApi(Map(
      "s0" -> (0 until 3).map(i => ShardRecord(i.toLong, 1000L + i, s"k$i", Array[Byte](i.toByte))))) {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("s0", Nil, closed = true),
          ShardMeta("s1", Seq("s0"), closed = false))
    }
    val backend = new KinesisShardBackend(api, "stream")
    backend.shardMetas() shouldBe Seq(
      ShardMeta("s0", Nil, closed = true),
      ShardMeta("s1", Seq("s0"), closed = false))
  }
}
