package graft.sources

import java.io.{DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Kinesis-shaped DataSource V2 micro-batch source (SURVEY.md O1/O2),
  * backed by local shard files so the engine's streaming surface is testable
  * offline. The interface mirrors a Kinesis reader one-to-one:
  *
  *  - one input partition per shard (`shard-*.kpl` file) — the analog of
  *    one reader per Kinesis shard; the reference reads only shard '0'
  *    (`kinesisReader/index.js:77`), this source generalizes to N;
  *  - offsets are per-shard record sequence numbers, checkpointed as JSON;
  *  - `startingTimestampMs` reproduces the AT_TIMESTAMP iterator (O5's
  *    time pushdown into the scan, `kinesisReader/index.js:78-81`);
  *  - `maxRecordsPerFetch` (default 100, the reference's page size at
  *    `kinesisReader/index.js:22`) feeds admission control, so
  *    `Trigger.AvailableNow` reproduces the bounded catch-up loop (O2);
  *  - rows carry the Kinesis envelope (`data` still KPL-aggregated —
  *    de-aggregation is the downstream [[graft.plans.KplExplode]]
  *    generator, exactly as in the reference pipeline).
  *
  * Shard file framing: repeated [tsMillis: i64][pkLen: i32][pk bytes]
  * [dataLen: i32][data bytes]. [[KplShardFiles.write]] produces it.
  *
  * The storage seam is pluggable via the `backend` option (see
  * [[BackendSpec]]): `files` (default) reads shard files through
  * [[FileShardBackend]]; any fully-qualified [[ShardBackend]] class name
  * plugs in a remote store — [[KinesisShardBackend]] maps the seam onto
  * the ListShards / GetShardIterator / GetRecords API shape the reference
  * consumes. Every planner-facing interface is backend-agnostic.
  */
object KplFileSource {
  val ProviderClass: String = classOf[KplFileTableProvider].getName

  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType),
    StructField("shardId", StringType)))
}

/** Frame-level IO for shard files (test fixture writer + reader). */
object KplShardFiles {
  final case class Frame(tsMillis: Long, partitionKey: String, data: Array[Byte])

  def shardFileName(shardId: Int): String = f"shard-$shardId%05d.kpl"

  def write(dir: String, shardId: Int, frames: Seq[Frame]): Unit = {
    val f = new java.io.File(dir)
    f.mkdirs()
    val out = new DataOutputStream(new FileOutputStream(new java.io.File(f, shardFileName(shardId))))
    try frames.foreach { fr =>
      out.writeLong(fr.tsMillis)
      val pk = fr.partitionKey.getBytes(UTF_8)
      out.writeInt(pk.length); out.write(pk)
      out.writeInt(fr.data.length); out.write(fr.data)
    } finally out.close()
  }

  def listShards(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.list()).getOrElse(Array.empty)
      .filter(n => n.startsWith("shard-") && n.endsWith(".kpl")).sorted.toSeq
  }

  /** Optional reshard-lifecycle sidecar, `<dir>/shards.json`:
    * `{"<shardFile>": {"parents": [...], "closed": true|false}, ...}` —
    * entries only for shards with non-default metadata. This is the file
    * store's stand-in for the ListShards `ParentShardId` /
    * `EndingSequenceNumber` fields, so the parent-before-child admission
    * rule ([[ReshardAdmission]]) is testable offline. */
  val MetaFileName = "shards.json"

  def writeMetas(dir: String, metas: Seq[ShardMeta]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    metas.foreach { m =>
      val n = root.putObject(m.shardId)
      val ps = n.putArray("parents")
      m.parentIds.foreach(ps.add)
      n.put("closed", m.closed)
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, MetaFileName),
      mapper.writeValueAsBytes(root))
  }

  def readMetas(dir: String): Map[String, ShardMeta] = {
    val p = java.nio.file.Paths.get(dir, MetaFileName)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readAllBytes(p))
    val out = Map.newBuilder[String, ShardMeta]
    root.properties().forEach { e =>
      val n = e.getValue
      val parents = Option(n.get("parents")).toSeq.flatMap { arr =>
        (0 until arr.size()).map(arr.get(_).asText())
      }
      out += e.getKey -> ShardMeta(e.getKey, parents,
        closed = Option(n.get("closed")).exists(_.asBoolean(false)))
    }
    out.result()
  }

  def read(dir: String, shardFile: String): Seq[Frame] = {
    val in = new DataInputStream(new FileInputStream(new java.io.File(dir, shardFile)))
    val buf = ArrayBuffer.empty[Frame]
    try {
      while (in.available() > 0) {
        val ts = in.readLong()
        val pk = new Array[Byte](in.readInt()); in.readFully(pk)
        val data = new Array[Byte](in.readInt()); in.readFully(data)
        buf += Frame(ts, new String(pk, UTF_8), data)
      }
    } finally in.close()
    buf.toSeq
  }

  /** Byte offset of every frame in a shard file, built by ONE buffered
    * sequential scan per (path, length) per JVM and memoized. Shard files
    * are append-only (a longer file re-indexes; existing offsets never
    * move), so (path, length) fully identifies the indexed prefix.
    *
    * This index is what makes the file store viable as a deep backlog: a
    * micro-batch must serve frames [from, until) — without the index that
    * is a full-file decode per batch per shard, O(backlog²) total across a
    * drain (measured: the 100× stream lane, 25k frames/shard, dropped to
    * 13.4k rec/s with per-batch time growing in file size). With it, a
    * batch seeks straight to its slice: O(slice) per batch, O(backlog)
    * per drain — the same contract a real Kinesis shard iterator gives. */
  private val offsetIndex =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Array[Long])]()

  private def offsetsFor(f: java.io.File): Array[Long] = {
    val path = f.getAbsolutePath
    val total = f.length()
    val cached = offsetIndex.get(path)
    if (cached != null && cached._1 == total) return cached._2
    // Index (or EXTEND a stale index — shard files are append-only, so a
    // previously indexed prefix is still valid and the scan resumes at
    // its end; a per-growth full re-index would itself be quadratic for
    // a live, growing shard).
    val (startPos, prevOffsets) = cached match {
      case (len, offs) if len < total => (len, offs)
      case _ => (0L, Array.empty[Long]) // first sight, or a truncated file
    }
    // (cached == null also lands in the default arm: null matches no
    // tuple pattern, and the guard protects the extend arm)
    //
    // TRAILING-PARTIAL TOLERANCE: a concurrent writer mid-append can
    // expose a length landing INSIDE a partially flushed frame
    // (DataOutputStream writes are not frame-atomic). Every header read
    // below is therefore bounds-checked against the length snapshot and
    // the scan STOPS at the last complete frame: the partial frame is
    // neither indexed nor cached — the cached length is the complete
    // -frame boundary, so the next call (after the writer finishes) sees
    // boundary < file length and re-scans just the tail, instead of
    // throwing EOF or poisoning the index with a bogus offset forever.
    val raf = new java.io.RandomAccessFile(f, "r")
    val buf = ArrayBuffer.empty[Long]
    buf ++= prevOffsets
    var boundary = startPos
    try {
      raf.seek(startPos)
      val in = new DataInputStream(
        new java.io.BufferedInputStream(new FileInputStream(raf.getFD), 1 << 20))
      var pos = startPos
      var partialTail = false
      while (!partialTail && pos + 12 <= total) { // ts(8) + pkLen(4) readable?
        in.skipNBytes(8) // ts
        val pkLen = in.readInt()
        require(pkLen >= 0, s"corrupt shard file $path: negative pkLen at $pos")
        if (pos + 12L + pkLen + 4L > total) partialTail = true
        else {
          in.skipNBytes(pkLen.toLong)
          val dataLen = in.readInt()
          require(dataLen >= 0, s"corrupt shard file $path: negative dataLen at $pos")
          val end = pos + 8L + 4L + pkLen + 4L + dataLen
          if (end > total) partialTail = true
          else {
            in.skipNBytes(dataLen.toLong)
            buf += pos
            pos = end
            boundary = end
          }
        }
      }
    } finally raf.close()
    val offs = buf.toArray
    offsetIndex.put(path, (boundary, offs))
    offs
  }

  /** Number of frames in a shard file — O(1) after the one-time index. */
  def frameCount(dir: String, shardFile: String): Long =
    offsetsFor(new java.io.File(dir, shardFile)).length.toLong

  /** Decode ONLY frames [from, until) of a shard file: seek to the
    * indexed offset, read the slice sequentially. */
  def readSlice(dir: String, shardFile: String, from: Long, until: Long): Seq[Frame] = {
    val f = new java.io.File(dir, shardFile)
    val offs = offsetsFor(f)
    val lo = math.min(math.max(from, 0L), offs.length.toLong).toInt
    val hi = math.min(math.max(until, lo.toLong), offs.length.toLong).toInt
    if (hi == lo) return Seq.empty
    val raf = new java.io.RandomAccessFile(f, "r")
    val buf = ArrayBuffer.empty[Frame]
    try {
      raf.seek(offs(lo))
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new FileInputStream(raf.getFD), 1 << 20))
      var i = lo
      while (i < hi) {
        val ts = in.readLong()
        val pk = new Array[Byte](in.readInt()); in.readFully(pk)
        val data = new Array[Byte](in.readInt()); in.readFully(data)
        buf += Frame(ts, new String(pk, UTF_8), data)
        i += 1
      }
    } finally raf.close()
    buf.toSeq
  }
}

class KplFileTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KplFileSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val props = {
      val b = Map.newBuilder[String, String]
      properties.forEach((k, v) => b += (k -> v))
      b.result()
    }
    new KplFileTable(props)
  }
}

class KplFileTable(props: Map[String, String]) extends Table with SupportsRead {
  private val spec = BackendSpec.fromOptions(props)
  require(spec.kind != "files" || props.contains("path"),
    "kpl-files source requires a 'path' option")
  override def name(): String = s"kpl(${spec.kind}:${props.getOrElse("path", "")})"
  override def schema(): StructType = KplFileSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new KplFileScan(spec, options)
}

class KplFileScan(spec: BackendSpec, options: CaseInsensitiveStringMap)
    extends ScanBuilder with Scan {
  private val startTsMs = Option(options.get("startingTimestampMs")).map(_.toLong).getOrElse(0L)
  private val maxPerFetch = Option(options.get("maxRecordsPerFetch")).map(_.toInt).getOrElse(100)

  override def build(): Scan = this
  override def readSchema(): StructType = KplFileSource.Schema
  override def description(): String = s"KplScan(backend=${spec.kind}, startTsMs=$startTsMs)"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // Durable resume anchors for the live transport ride the checkpoint:
    // unless the user pinned their own anchorDir, backends (driver AND
    // executors — the spec travels inside every input partition) persist
    // anchor snapshots next to the committed offsets, so a restarted
    // query resumes positioned instead of re-draining from TRIM_HORIZON.
    // The file backend simply ignores the option.
    val withAnchors =
      if (spec.options.contains("anchorDir")) spec
      else spec.copy(options =
        spec.options.updated("anchorDir", s"$checkpointLocation/graft-anchors"))
    new KplFileMicroBatchStream(withAnchors, startTsMs, maxPerFetch)
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      spec.create().listShards().map { shard =>
        KplShardPartition(spec, shard, 0L, Long.MaxValue, startTsMs): InputPartition
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = new KplShardReaderFactory
  }
}

/** Per-shard sequence-number offsets, JSON-serialized for checkpointing. */
case class KplShardOffsets(offsets: Map[String, Long]) extends Offset {
  override def json(): String =
    offsets.toSeq.sorted
      .map { case (s, n) => s""""$s":$n""" }
      .mkString("{", ",", "}")
}

object KplShardOffsets {
  private val Entry = """"([^"]+)":(\d+)""".r
  def fromJson(json: String): KplShardOffsets =
    KplShardOffsets(Entry.findAllMatchIn(json).map(m => m.group(1) -> m.group(2).toLong).toMap)
}

class KplFileMicroBatchStream(spec: BackendSpec, startTsMs: Long, maxPerFetch: Int)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val backend = spec.create() // driver-side instance (offset queries)

  private def scanShardSizes(): Map[String, Long] =
    backend.listShards().map(s => s -> backend.latestPosition(s)).toMap

  /** Under Trigger.AvailableNow, the backlog end is pinned here so the query
    * pages up to a fixed point and stops — the reference's catch-up
    * termination check (`MillisBehindLatest === 0`, O2). */
  private var pinnedEnd: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit = { pinnedEnd = Some(scanShardSizes()) }

  private def shardSizes(): Map[String, Long] = pinnedEnd.getOrElse(scanShardSizes())

  override def initialOffset(): Offset =
    KplShardOffsets(shardSizes().map { case (s, _) => s -> 0L })

  override def latestOffset(): Offset = KplShardOffsets(shardSizes())

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerFetch.toLong)

  /** Bounded catch-up (O2): advance each shard by at most the row limit's
    * per-shard share — the paged `getRecords(Limit=100)` loop, distributed.
    * The committed start offsets are passed to the backend as resume hints,
    * so a backend whose backlog probe must page (no metadata answer)
    * resumes from the committed position instead of re-draining the shard
    * head every trigger.
    *
    * RESHARD ordering ([[ReshardAdmission]]): a child shard is HELD at its
    * committed offset until every ancestor the stream still lists is
    * closed and fully consumed — reading a child early would re-order a
    * partition key's records across the reshard point. Admission is
    * recomputed from the committed offsets every trigger, so children
    * unlock the trigger after their parents drain. The row budget is
    * divided among shards with ADMITTED PENDING work only: fully-drained
    * closed parents and held children don't dilute the per-shard share,
    * so post-reshard throughput goes to the shards that can use it. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[KplShardOffsets].offsets.withDefaultValue(0L)
    val metas = backend.shardMetas()
    val sizes = pinnedEnd.getOrElse(
      metas.map(m => m.shardId ->
        backend.latestPosition(m.shardId, startOff(m.shardId))).toMap)
    val admitted = ReshardAdmission.admissible(
      metas, startOff, sizes.withDefaultValue(0L))
    metas.foreach { m =>
      if (!admitted(m.shardId) && sizes.getOrElse(m.shardId, 0L) > startOff(m.shardId))
        m.parentIds.find(p => metas.exists(x => x.shardId == p && !x.closed))
          .foreach(p => System.err.println(
            s"[graft] reshard: holding ${m.shardId} on OPEN parent $p — a " +
              "parent that never closes stalls its children (check the " +
              "shard lifecycle metadata)"))
    }
    val capped = limit match {
      case rl: streaming.ReadMaxRows =>
        val pending = sizes.count { case (s, n) => admitted(s) && n > startOff(s) }
        val perShard = math.max(1L, rl.maxRows() / math.max(1, pending))
        sizes.map { case (s, n) =>
          if (!admitted(s)) s -> startOff(s)
          else s -> math.min(n, startOff(s) + perShard)
        }
      case _ =>
        sizes.map { case (s, n) =>
          if (!admitted(s)) s -> startOff(s) else s -> n
        }
    }
    KplShardOffsets(capped)
  }

  override def deserializeOffset(json: String): Offset = KplShardOffsets.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KplShardOffsets].offsets.withDefaultValue(0L)
    val e = end.asInstanceOf[KplShardOffsets].offsets
    e.toSeq.sorted.collect {
      case (shard, until) if until > s(shard) =>
        KplShardPartition(spec, shard, s(shard), until, startTsMs): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new KplShardReaderFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class KplShardPartition(
    spec: BackendSpec, shard: String, from: Long, until: Long, startTsMs: Long)
    extends InputPartition

class KplShardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[KplShardPartition]
    new PartitionReader[InternalRow] {
      // AT_TIMESTAMP pushdown: frames before startTsMs are skipped at the
      // source, not post-filtered (mirrors the shard-iterator semantics).
      private val records = p.spec.create().read(p.shard, p.from, p.until)
        .filter(_.tsMillis >= p.startTsMs)
        .iterator
      private var current: ShardRecord = _

      override def next(): Boolean = {
        if (records.hasNext) { current = records.next(); true } else false
      }
      override def get(): InternalRow = {
        val r = current
        InternalRow(
          r.data,
          UTF8String.fromString(r.partitionKey),
          UTF8String.fromString(r.sequence.toString),
          r.tsMillis * 1000L,
          UTF8String.fromString(p.shard.stripSuffix(".kpl")))
      }
      override def close(): Unit = ()
    }
  }
}
