package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** In-memory stand-in for the AWS Kinesis data-plane client: validates the
  * paged catch-up logic in [[KinesisShardBackend]] without any network.
  * Iterators are encoded as "shard/position" strings, pages are capped at
  * the requested limit, and millisBehindLatest drops to 0 on the last page
  * — the same observable behavior as the real GetRecords loop. */
class StubKinesisApi(protected val data: Map[String, Seq[ShardRecord]]) extends KinesisDataApi {
  var getRecordsCalls: Int = 0
  var recordsServed: Int = 0

  override def listShards(streamName: String): Seq[ShardMeta] =
    data.keys.toSeq.sorted.map(ShardMeta(_, Nil, closed = false))

  override def getShardIterator(streamName: String, shardId: String,
                                from: Long): String = {
    val records = data(shardId)
    val at = records.indexWhere(_.sequence >= from) match {
      case -1 => records.length
      case i  => i
    }
    s"$shardId/$at"
  }

  override def getRecords(iterator: String, limit: Int)
      : (Seq[ShardRecord], Option[String], Long) = {
    getRecordsCalls += 1
    val Array(shard, posStr) = iterator.split("/")
    val pos = posStr.toInt
    val records = data(shard)
    val page = records.slice(pos, pos + limit)
    val nextPos = pos + page.length
    val behind = (records.length - nextPos).toLong // 0 ⇔ caught up
    recordsServed += page.length
    (page, Some(s"$shard/$nextPos"), behind)
  }
}

object InMemoryTestBackend {
  /** Static fixture the reflective backend serves (local-mode executors
    * share the JVM, so the test can seed it directly). */
  @volatile var data: Map[String, Seq[ShardRecord]] = Map.empty
  /** `latestPosition` calls across all instances. */
  val probes = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** A [[ShardBackend]] loadable by class name through [[BackendSpec]] —
  * proves the `backend=<fqcn>` option wires a non-file store through the
  * whole DSv2 read path. */
class InMemoryTestBackend(options: Map[String, String]) extends ShardBackend {
  override def shardMetas(): Seq[ShardMeta] =
    InMemoryTestBackend.data.keys.toSeq.sorted.map(ShardMeta(_, Nil, closed = false))
  override def latestPosition(shard: String, from: Long, limit: Long): Long = {
    InMemoryTestBackend.probes.incrementAndGet()
    from + math.min(limit, InMemoryTestBackend.data(shard).length - from)
  }
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] =
    InMemoryTestBackend.data(shard).filter(r => r.sequence >= from && r.sequence < until)
}

object BudgetedKinesisBackend {
  /** One 10,000-record shard; the stub counts GetRecords calls and the
    * records they served. */
  val api = new StubKinesisApi(Map("shardId-000" -> (0L until 10000L).map(i =>
    ShardRecord(i, 1000 + i, s"pk$i", Array.emptyByteArray))))
}

/** A [[KinesisShardBackend]] over a fixed stub, for subclasses loadable by
  * class name through [[BackendSpec]]. */
abstract class StubKinesisBackend(api: KinesisDataApi, pageSize: Int) extends ShardBackend {
  private val inner = new KinesisShardBackend(api, "s", pageSize)
  override def shardMetas(): Seq[ShardMeta] = inner.shardMetas()
  override def latestPosition(shard: String, from: Long, limit: Long): Long =
    inner.latestPosition(shard, from, limit)
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] =
    inner.read(shard, from, until)
}

/** Page size 30 over [[BudgetedKinesisBackend.api]]. */
class BudgetedKinesisBackend(options: Map[String, String])
    extends StubKinesisBackend(BudgetedKinesisBackend.api, pageSize = 30)

class ShardBackendSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def rec(seq: Long, ts: Long, payload: String) =
    ShardRecord(seq, ts, s"pk$seq", payload.getBytes(UTF_8))

  private val shardData = Map(
    "shardId-000" -> (0L until 25L).map(i => rec(i, 1000 + i, s"a$i")),
    "shardId-001" -> (0L until 7L).map(i => rec(i, 2000 + i, s"b$i")))

  test("KinesisShardBackend pages GetRecords until caught up (bounded loop)") {
    val api = new StubKinesisApi(shardData)
    val be = new KinesisShardBackend(api, "test-stream", pageSize = 10)
    be.listShards() shouldBe Seq("shardId-000", "shardId-001")
    be.latestPosition("shardId-000") shouldBe 25L
    // 25 records at page size 10 → exactly 3 pages, no spin after drain
    api.getRecordsCalls shouldBe 3
  }

  test("KinesisShardBackend reads a [from, until) range with early stop") {
    val api = new StubKinesisApi(shardData)
    val be = new KinesisShardBackend(api, "test-stream", pageSize = 10)
    val got = be.read("shardId-000", 5L, 12L)
    got.map(_.sequence) shouldBe (5L until 12L)
    got.map(r => new String(r.data, UTF_8)) shouldBe (5 until 12).map(i => s"a$i")
    // the iterator opens at position 5; page 1 covers [5,15) ⊇ [5,12)
    // → exactly one GetRecords, not a TRIM_HORIZON re-drain of the prefix
    api.getRecordsCalls shouldBe 1
  }

  test("range reads position the iterator at `from` (no O(shard) prefix drain)") {
    val api = new StubKinesisApi(shardData)
    val be = new KinesisShardBackend(api, "test-stream", pageSize = 5)
    be.read("shardId-000", 20L, 25L).map(_.sequence) shouldBe (20L until 25L)
    // one page at seq 20 covers [20,25); from TRIM_HORIZON it would take 5
    api.getRecordsCalls shouldBe 1
  }

  test("a live stream that never catches up cannot spin offset planning (total-page cap)") {
    // Non-empty pages forever, millisBehindLatest never 0: the stall rule
    // alone would not terminate; the trigger's budget must, and the page
    // cap bounds the one unbounded probe.
    val live = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("shardId-000", Nil, closed = false))
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = "0"
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) = {
        val pos = iterator.toLong
        (Seq(ShardRecord(pos, pos, "pk", Array.emptyByteArray)),
         Some((pos + 1).toString), 999L)
      }
    }
    val be = new KinesisShardBackend(live, "s", pageSize = 1)
    be.latestPosition("shardId-000", 0L, 20L) shouldBe 20L // stopped at the budget, not ∞
    be.latestPosition("shardId-000") shouldBe KinesisShardBackend.MaxProbePages.toLong
  }

  test("capped backlog probe resumes from the committed offset (no plateau)") {
    // 100-record backlog, probe budget of 20 records: a probe that
    // always restarts from TRIM_HORIZON would return 20 on EVERY trigger —
    // offset planning stalls forever. With the resume hint each trigger
    // advances by the probe budget until caught up.
    val api = new StubKinesisApi(
      Map("shardId-000" -> (0L until 100L).map(i => rec(i, 1000 + i, s"a$i"))))
    val backend = new KinesisShardBackend(api, "s", pageSize = 10)
    backend.latestPosition("shardId-000", 0L, 20L) shouldBe 20L // capped first probe
    backend.latestPosition("shardId-000", 0L, 20L) shouldBe 20L // hintless probe plateaus
    // simulated trigger loop: each probe resumes from the last committed end
    val ends = Iterator.iterate(0L)(off => backend.latestPosition("shardId-000", off, 20L))
      .drop(1).take(6).toSeq
    ends shouldBe Seq(20L, 40L, 60L, 80L, 100L, 100L)
    // the reported position never regresses below the committed offset even
    // if the adapter's fallback iterator starts earlier than the hint
    val noSeqIterator = new StubKinesisApi(
      Map("shardId-000" -> (0L until 100L).map(i => rec(i, 1000 + i, s"a$i")))) {
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String =
        super.getShardIterator(streamName, shardId, 0L) // TRIM_HORIZON fallback
    }
    val backend2 = new KinesisShardBackend(noSeqIterator, "s", pageSize = 10)
    backend2.latestPosition("shardId-000", 50L, 20L) should be >= 50L
  }

  test("a trigger's backlog probe pages only the records its budget admits") {
    val api = BudgetedKinesisBackend.api
    val stream = new KplFileMicroBatchStream(
      BackendSpec(classOf[BudgetedKinesisBackend].getName, Map.empty), maxPerFetch = 100)
    var offset = stream.initialOffset()
    for (trigger <- 1 to 2) {
      api.getRecordsCalls = 0
      api.recordsServed = 0
      offset = stream.latestOffset(offset, ReadLimit.maxRows(100))
      offset shouldBe KplShardOffsets(Map("shardId-000" -> 100L * trigger))
      // ⌈100 / 30⌉ pages, each asking for at most what is still wanted
      api.getRecordsCalls should be <= (100 + 29) / 30 + 1
      api.recordsServed should be <= 100
    }
  }

  test("a throttled stream (endless empty pages while behind) cannot spin the drain loop") {
    val throttled = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("shardId-000", Nil, closed = false))
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = "it"
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) =
        (Seq.empty, Some("it"), 999L) // never empty-handed AND never caught up
    }
    val be = new KinesisShardBackend(throttled, "s", pageSize = 10)
    be.latestPosition("shardId-000") shouldBe 0L // terminates via the stall rule
    // A PLANNED range read must not silently truncate: committing `until`
    // over a partial result drops records forever. Terminate by THROWING.
    assertThrows[IllegalStateException](be.read("shardId-000", 0L, 100L))
  }

  test("a non-advancing adapter (repeating pages) fails a range read rather than truncating") {
    val looping = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("shardId-000", Nil, closed = false))
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = "it"
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) =
        // same page forever, never caught up: sequence progress stalls
        (Seq(ShardRecord(3, 1003, "pk3", Array.emptyByteArray)), Some("it"), 999L)
    }
    val be = new KinesisShardBackend(looping, "s", pageSize = 10)
    assertThrows[IllegalStateException](be.read("shardId-000", 0L, 100L))
  }

  test("a page that repeats positions the read already kept is not kept twice") {
    // An iterator re-opened early (an expired lineage whose anchor is
    // gone) serves again positions the walk has passed.
    val reopened = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("shardId-000", Nil, closed = false))
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = "first"
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) = {
        def page(ps: Long*) = ps.map(p => rec(p, 1000 + p, s"a$p"))
        iterator match {
          case "first" => (page(0, 1), Some("early"), 999L)
          case "early" => (page(0, 1, 2, 3), Some("last"), 999L)
          case _ => (page(4), Some("end"), 0L)
        }
      }
    }
    val be = new KinesisShardBackend(reopened, "s", pageSize = 2)
    be.read("shardId-000", 0L, 5L).map(_.sequence) shouldBe (0L until 5L)
    be.read("shardId-000", 1L, 5L).map(_.sequence) shouldBe (1L until 5L)
  }

  test("an iterator that opens at TRIM_HORIZON pages up to `from` in full pages, not range-wide ones") {
    // Every open lands at position 0 (no anchor at or below `from`).
    val api = new StubKinesisApi(Map("s0" -> (0L until 2000L).map(i =>
      ShardRecord(i, 1000 + i, s"pk$i", Array.emptyByteArray)))) {
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = s"$shardId/0"
    }
    val backend = new KinesisShardBackend(api, "s")
    backend.read("s0", 500L, 501L).map(_.sequence) shouldBe Seq(500L)
    api.getRecordsCalls should be <= 2
    api.getRecordsCalls = 0
    backend.latestPosition("s0", 500L, 1L) shouldBe 501L
    api.getRecordsCalls should be <= 2
  }

  test("an advancing adapter with underfilled pages completes a large range (no page-count trap)") {
    // 1 record per page regardless of the requested limit: 500 pages for a
    // 500-record range. Progress resets the guard, so this must succeed.
    val dribble = new KinesisDataApi {
      override def listShards(streamName: String): Seq[ShardMeta] =
        Seq(ShardMeta("shardId-000", Nil, closed = false))
      override def getShardIterator(streamName: String, shardId: String,
                                    from: Long): String = from.toString
      override def getRecords(iterator: String, limit: Int)
          : (Seq[ShardRecord], Option[String], Long) = {
        val pos = iterator.toLong
        (Seq(ShardRecord(pos, 1000 + pos, s"pk$pos", Array.emptyByteArray)),
         Some((pos + 1).toString), if (pos >= 499) 0L else 999L)
      }
    }
    val be = new KinesisShardBackend(dribble, "s", pageSize = 100)
    be.read("shardId-000", 0L, 500L).map(_.sequence) shouldBe (0L until 500L)
  }

  test("file and Kinesis backends agree through the ShardBackend contract") {
    val dir = java.nio.file.Files.createTempDirectory("backend-parity").toString
    val frames = (0 until 9).map(i =>
      KplShardFiles.Frame(3000 + i, s"pk$i", s"x$i".getBytes(UTF_8)))
    KplShardFiles.write(dir, 0, frames)
    val file = new FileShardBackend(dir)
    val shard = file.listShards().head
    val kin = new KinesisShardBackend(
      new StubKinesisApi(Map(shard -> (0L until 9L).map(i =>
        rec(i, 3000 + i, s"x$i")))), "s", pageSize = 4)
    file.latestPosition(shard) shouldBe kin.latestPosition(shard)
    file.read(shard, 2, 6).map(r => (r.sequence, new String(r.data, UTF_8))) shouldBe
      kin.read(shard, 2, 6).map(r => (r.sequence, new String(r.data, UTF_8)))
  }

  test("indexed slice read equals the full decode for every slice; append re-indexes") {
    // readSlice is the micro-batch hot path: a per-(file,length) offset
    // index makes a batch O(its slice) instead of O(whole shard file) —
    // the difference between O(backlog) and O(backlog²) across a drain.
    val dir = java.nio.file.Files.createTempDirectory("slice-read").toString
    val frames = (0 until 23).map(i =>
      KplShardFiles.Frame(1000 + i, s"pk$i", (s"payload-$i" * (i % 3 + 1)).getBytes(UTF_8)))
    KplShardFiles.write(dir, 0, frames)
    val f = KplShardFiles.shardFileName(0)
    val full = KplShardFiles.read(dir, f)
    KplShardFiles.frameCount(dir, f) shouldBe 23L
    for (from <- Seq(0, 1, 7, 22, 23); until <- Seq(0, 1, 8, 23, 99)) {
      val slice = KplShardFiles.readSlice(dir, f, from.toLong, until.toLong)
      // each record's sequence is its frame index in the file
      slice.map(_.sequence) shouldBe (from until math.min(until, 23)).map(_.toLong)
      val got = slice
        .map(fr => (fr.tsMillis, fr.partitionKey, new String(fr.data, UTF_8)))
      val want = full.slice(from, until)
        .map(fr => (fr.tsMillis, fr.partitionKey, new String(fr.data, UTF_8)))
      got shouldBe want
    }
    // an appended (longer) file is re-indexed: the (path, length) key
    // changes, so new frames are visible without restarting the JVM
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(
      new java.io.File(dir, f), true))
    val pk = "late".getBytes(UTF_8); val data = "tail".getBytes(UTF_8)
    out.writeLong(9999L)
    out.writeInt(pk.length); out.write(pk)
    out.writeInt(data.length); out.write(data)
    out.close()
    KplShardFiles.frameCount(dir, f) shouldBe 24L
    val last = KplShardFiles.readSlice(dir, f, 23L, 24L)
    last.map(fr => (fr.tsMillis, new String(fr.data, UTF_8))) shouldBe
      Seq((9999L, "tail"))
  }

  test("a trailing partially-flushed frame is excluded, then picked up once complete") {
    // A concurrent writer mid-append can expose a file length landing
    // INSIDE a frame (DataOutputStream is not frame-atomic). The offset
    // index must stop at the last COMPLETE frame — not throw EOF, not
    // cache a bogus offset under (path, length) that would permanently
    // mis-frame subsequent slices of the live shard file.
    val dir = java.nio.file.Files.createTempDirectory("partial-frame").toString
    val frames = (0 until 5).map(i =>
      KplShardFiles.Frame(1000 + i, s"pk$i", s"payload-$i".getBytes(UTF_8)))
    KplShardFiles.write(dir, 0, frames)
    val f = KplShardFiles.shardFileName(0)
    val file = new java.io.File(dir, f)

    // racing append, flushed mid-frame: ts + pkLen + only 2 of 4 pk bytes
    val pk = "late".getBytes(UTF_8); val data = "tail-data".getBytes(UTF_8)
    val out1 = new java.io.DataOutputStream(new java.io.FileOutputStream(file, true))
    out1.writeLong(9999L); out1.writeInt(pk.length); out1.write(pk, 0, 2)
    out1.close()

    KplShardFiles.frameCount(dir, f) shouldBe 5L // partial tail excluded
    KplShardFiles.readSlice(dir, f, 4L, 5L)
      .map(fr => new String(fr.data, UTF_8)) shouldBe Seq("payload-4")

    // the writer finishes the frame: the next index call re-scans from
    // the complete-frame boundary and the new frame appears
    val out2 = new java.io.DataOutputStream(new java.io.FileOutputStream(file, true))
    out2.write(pk, 2, 2); out2.writeInt(data.length); out2.write(data)
    out2.close()
    KplShardFiles.frameCount(dir, f) shouldBe 6L
    KplShardFiles.readSlice(dir, f, 5L, 6L)
      .map(fr => (fr.tsMillis, fr.partitionKey, new String(fr.data, UTF_8))) shouldBe
      Seq((9999L, "late", "tail-data"))
  }

  test("backend=<class> option routes the DSv2 batch read through a custom store") {
    InMemoryTestBackend.data = Map(
      "shardId-000" -> Seq(rec(0, 5000, "hello"), rec(1, 6000, "world")),
      "shardId-001" -> Seq(rec(0, 7000, "again")))
    val df = spark.read.format(KplFileSource.ProviderClass)
      .option("backend", classOf[InMemoryTestBackend].getName)
      .load()
    val rows = df.selectExpr("CAST(data AS STRING) AS s", "shardId", "sequenceNumber")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
    rows shouldBe Array(
      ("again", "shardId-001", "0"),
      ("hello", "shardId-000", "0"),
      ("world", "shardId-000", "1"))
  }

  test("resharding: new shards after a split are picked up across restarts, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-reshard").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    // file sink: the one built-in sink with exactly-once checkpoint recovery
    def runOnce(): Array[(String, String)] = {
      val df = spark.readStream.format(KplFileSource.ProviderClass)
        .option("backend", classOf[InMemoryTestBackend].getName)
        .load()
      val q = df.selectExpr("CAST(data AS STRING) AS s", "shardId")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted
    }
    InMemoryTestBackend.data = Map(
      "shardId-000" -> Seq(rec(0, 5000, "p0"), rec(1, 6000, "p1")))
    runOnce() shouldBe Array(("p0", "shardId-000"), ("p1", "shardId-000"))
    // The parent closes (no further records) and two children open. Offset
    // planning lists shards per trigger and unknown shards start at 0, so a
    // restart from the SAME checkpoint appends ONLY the children's records —
    // the parent is not re-read (exactly-once across a split).
    InMemoryTestBackend.data = Map(
      "shardId-000" -> Seq(rec(0, 5000, "p0"), rec(1, 6000, "p1")),
      "shardId-001" -> Seq(rec(0, 7000, "c0")),
      "shardId-002" -> Seq(rec(0, 7000, "c1"), rec(1, 8000, "c2")))
    runOnce() shouldBe Array(
      ("c0", "shardId-001"), ("c1", "shardId-002"), ("c2", "shardId-002"),
      ("p0", "shardId-000"), ("p1", "shardId-000"))
  }

  test("resharding: a shard MERGE drains parent tails then the child, exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    def runOnce(): Array[(String, String)] = {
      val df = spark.readStream.format(KplFileSource.ProviderClass)
        .option("backend", classOf[InMemoryTestBackend].getName)
        .load()
      val q = df.selectExpr("CAST(data AS STRING) AS s", "shardId")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt).option("path", out)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.read.parquet(out).collect()
        .map(r => (r.getString(0), r.getString(1))).sorted
    }
    // two parents, both active
    InMemoryTestBackend.data = Map(
      "shardId-000" -> Seq(rec(0, 5000, "a0"), rec(1, 6000, "a1")),
      "shardId-001" -> Seq(rec(0, 5500, "b0")))
    runOnce() shouldBe Array(
      ("a0", "shardId-000"), ("a1", "shardId-000"), ("b0", "shardId-001"))
    // The merge: each parent takes a final pre-close record, then both close
    // and ONE child opens (the inverse of the split case). A restart from
    // the same checkpoint must append exactly the parent TAILS (offsets
    // resume past what was committed — nothing re-read) plus the child's
    // records (an unknown shard starts at 0).
    InMemoryTestBackend.data = Map(
      "shardId-000" -> Seq(rec(0, 5000, "a0"), rec(1, 6000, "a1"),
                           rec(2, 7000, "a2-tail")),
      "shardId-001" -> Seq(rec(0, 5500, "b0"), rec(1, 7000, "b1-tail")),
      "shardId-002" -> Seq(rec(0, 8000, "m0"), rec(1, 9000, "m1")))
    runOnce() shouldBe Array(
      ("a0", "shardId-000"), ("a1", "shardId-000"), ("a2-tail", "shardId-000"),
      ("b0", "shardId-001"), ("b1-tail", "shardId-001"),
      ("m0", "shardId-002"), ("m1", "shardId-002"))
    // idle restart: closed parents + a drained child add nothing (the
    // checkpointed offsets for CLOSED shards keep being honored)
    runOnce() shouldBe Array(
      ("a0", "shardId-000"), ("a1", "shardId-000"), ("a2-tail", "shardId-000"),
      ("b0", "shardId-001"), ("b1-tail", "shardId-001"),
      ("m0", "shardId-002"), ("m1", "shardId-002"))
  }

  test("stream start-up lists shards without probing any backlog") {
    InMemoryTestBackend.data = shardData
    InMemoryTestBackend.probes.set(0)
    val stream = new KplFileMicroBatchStream(
      BackendSpec(classOf[InMemoryTestBackend].getName, Map.empty), maxPerFetch = 100)
    stream.initialOffset() shouldBe
      KplShardOffsets(Map("shardId-000" -> 0L, "shardId-001" -> 0L))
    InMemoryTestBackend.probes.get() shouldBe 0
    // the backlog end is probed only once offsets are planned
    stream.prepareForTriggerAvailableNow()
    InMemoryTestBackend.probes.get() shouldBe 2
  }
}
