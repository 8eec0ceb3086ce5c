package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Decoders for the AWS Kinesis data-plane WIRE shape — the JSON bodies of
  * ListShards / GetShardIterator / GetRecords responses exactly as the AWS
  * JSON protocol puts them on the wire (and exactly as the reference's SDK
  * client surfaces them, documented inline at `kinesisReader/index.js:50-66`
  * and consumed at `:29,40,98-104`):
  *
  *  - `Records[].Data` — base64 string → bytes
  *  - `Records[].SequenceNumber` — decimal STRING (Kinesis sequence numbers
  *    are 128-bit; they do not fit a long) → `BigInt`
  *  - `Records[].ApproximateArrivalTimestamp` — epoch SECONDS as a double
  *    (the AWS JSON protocol's timestamp encoding) → epoch millis
  *  - `Records[].PartitionKey` — string, verbatim
  *  - `NextShardIterator` — absent/null ⇔ the shard is CLOSED (a reshard
  *    ended it); present ⇔ keep paging
  *  - `MillisBehindLatest` — 0 ⇔ caught up (the reference's catch-up
  *    termination signal)
  *
  * Keeping the decode at the wire level means an SDK adapter is nothing but
  * transport: however the bytes arrive (AWS SDK v2, raw HTTPS, a recorded
  * fixture), the field mapping proven by `KinesisWireSpec` is this one code
  * path. No AWS dependency is involved — the shapes are the public API
  * documentation's. */
object KinesisWireJson {

  private val mapper = new ObjectMapper()

  /** One record as decoded off the wire. `sequence` stays a BigInt: seam
    * positions are ordinals the transports count ([[KinesisDataApi]]), not
    * sequence numbers. */
  final case class WireRecord(
      sequence: BigInt,
      tsMillis: Long,
      partitionKey: String,
      data: Array[Byte])

  /** A decoded GetRecords page. */
  final case class GetRecordsPage(
      records: Seq[WireRecord],
      nextShardIterator: Option[String],
      millisBehindLatest: Long) {
    /** The page's records at seam positions: consecutive ordinals from
      * `from`, the position the page's iterator was opened at
      * ([[KinesisDataApi]]). */
    def shardRecords(from: Long): Seq[ShardRecord] =
      records.zipWithIndex.map { case (w, i) =>
        ShardRecord(from + i, w.tsMillis, w.partitionKey, w.data)
      }
  }

  private def node(json: String): JsonNode = mapper.readTree(json)

  private def req(n: JsonNode, field: String, ctx: String): JsonNode = {
    val v = n.get(field)
    require(v != null && !v.isNull, s"$ctx: missing required field '$field'")
    v
  }

  /** ListShards page with pagination: `(shards, NextToken)`. Each entry
    * becomes a [[ShardMeta]]: closed ⇔
    * `SequenceNumberRange.EndingSequenceNumber` present, and the reshard
    * lineage (`ParentShardId`, plus `AdjacentParentShardId` on a merge
    * child) that drives parent-before-child admission
    * ([[ReshardAdmission]]). The live transport loops until `NextToken` is
    * absent (the service pages at 1000 shards — at production shard
    * counts a single page is NOT the common case). */
  def parseListShardsPage(json: String): (Seq[ShardMeta], Option[String]) = {
    val n = node(json)
    val shards = req(n, "Shards", "ListShards response").elements().asScala.map { s =>
      val range = req(s, "SequenceNumberRange", "ListShards.Shards[]")
      def optText(field: String): Option[String] =
        Option(s.get(field)).filter(!_.isNull).map(_.asText()).filter(_.nonEmpty)
      ShardMeta(
        shardId = req(s, "ShardId", "ListShards.Shards[]").asText(),
        parentIds =
          (optText("ParentShardId") ++ optText("AdjacentParentShardId")).toSeq,
        closed = Option(range.get("EndingSequenceNumber")).exists(!_.isNull))
    }.toSeq
    (shards, Option(n.get("NextToken")).filter(!_.isNull).map(_.asText()))
  }

  /** `{"ShardIterator": "..."}` → the opaque iterator token. */
  def parseShardIterator(json: String): String =
    req(node(json), "ShardIterator", "GetShardIterator response").asText()

  /** Decode one GetRecords response body. */
  def parseGetRecords(json: String): GetRecordsPage = {
    val n = node(json)
    val records = req(n, "Records", "GetRecords response").elements().asScala.map { r =>
      val seq = BigInt(req(r, "SequenceNumber", "Records[]").asText())
      // AWS JSON protocol timestamps are epoch seconds with fractional part
      val tsSec = req(r, "ApproximateArrivalTimestamp", "Records[]").asDouble()
      WireRecord(
        sequence = seq,
        tsMillis = math.round(tsSec * 1000.0),
        partitionKey = req(r, "PartitionKey", "Records[]").asText(),
        data = java.util.Base64.getDecoder.decode(req(r, "Data", "Records[]").asText()))
    }.toSeq
    val next = Option(n.get("NextShardIterator")).filter(!_.isNull).map(_.asText())
    val behind = req(n, "MillisBehindLatest", "GetRecords response").asLong()
    GetRecordsPage(records, next, behind)
  }
}

/** [[KinesisDataApi]] over RECORDED wire responses — a directory of JSON
  * bodies captured from (or authored in the shape of) the real service:
  *
  * {{{
  *   <dir>/list_shards.json            ListShards response (one page)
  *   <dir>/<shardId>/page-000.json     consecutive GetRecords responses,
  *   <dir>/<shardId>/page-001.json     in paging order
  *   ...
  * }}}
  *
  * Replay semantics, chosen to preserve exactly what a live adapter sees:
  *
  *  - Iterator tokens are session-bound opaque strings in the real service,
  *    so replay issues its OWN tokens (`shard#pageIdx`); the RECORDED
  *    `NextShardIterator` contributes only its null-ness — a recorded null
  *    marks the shard closed, ending the chain exactly where the live
  *    session ended it.
  *  - Positions are ordinals, as on the live transport: a record's
  *    position is its index across the shard's recorded pages, whatever
  *    its `SequenceNumber`. An iterator at position `from` opens at the
  *    page holding that ordinal.
  *  - A page is served as recorded: `getRecords` ignores `limit`.
  *
  * Constructible through [[BackendSpec]]'s reflective path via
  * [[RecordedKinesisBackend]], so the full DSv2 scan — partitions, offsets,
  * checkpoint recovery — runs over a recorded wire session with zero AWS
  * dependency. */
final class RecordedKinesisApi(dir: String) extends KinesisDataApi {
  import KinesisWireJson._

  private def readFile(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private val listed: Seq[ShardMeta] =
    parseListShardsPage(readFile(Paths.get(dir, "list_shards.json")))._1

  /** shard → decoded pages, in recorded order. */
  private val pages: Map[String, IndexedSeq[GetRecordsPage]] =
    listed.map { m =>
      val shardDir = Paths.get(dir, m.shardId)
      val files =
        if (Files.isDirectory(shardDir)) {
          val stream = Files.list(shardDir)
          try stream.iterator().asScala
            .filter(_.getFileName.toString.matches("page-\\d+\\.json"))
            .toSeq.sortBy(_.getFileName.toString)
          finally stream.close()
        } else Seq.empty
      m.shardId -> files.map(f => parseGetRecords(readFile(f))).toIndexedSeq
    }.toMap

  /** shard → the position of each page's first record. */
  private val pageStarts: Map[String, IndexedSeq[Long]] =
    pages.map { case (s, ps) => s -> ps.scanLeft(0L)(_ + _.records.size).init }

  /** Lineage from the recorded listing; closed from the recorded
    * `EndingSequenceNumber` OR from replay's own closed signal (the last
    * recorded page's null `NextShardIterator`), whichever the session
    * captured. */
  private val metas: Seq[ShardMeta] = listed.map { m =>
    m.copy(closed = m.closed ||
      pages(m.shardId).lastOption.exists(_.nextShardIterator.isEmpty))
  }

  override def listShards(streamName: String): Seq[ShardMeta] = metas

  override def getShardIterator(streamName: String, shardId: String,
                                from: Long): String = {
    val starts = pageStarts.getOrElse(shardId, IndexedSeq.empty)
    s"$shardId#${math.max(0, starts.lastIndexWhere(_ <= from))}"
  }

  override def getRecords(iterator: String, limit: Int)
      : (Seq[ShardRecord], Option[String], Long) = {
    val sep = iterator.lastIndexOf('#')
    val (shard, idx) = (iterator.substring(0, sep), iterator.substring(sep + 1).toInt)
    val ps = pages.getOrElse(shard, IndexedSeq.empty)
    if (idx >= ps.length) (Seq.empty, None, 0L)
    else {
      val page = ps(idx)
      // a recorded null NextShardIterator closes the shard mid-stream
      val next =
        if (page.nextShardIterator.isEmpty) None else Some(s"$shard#${idx + 1}")
      (page.shardRecords(pageStarts(shard)(idx)), next, page.millisBehindLatest)
    }
  }
}

/** [[ShardBackend]] over a recorded wire session, loadable by class name
  * through the `backend` option (see [[BackendSpec]]). Options:
  * `path` (the recorded-session directory), optional `streamName`. Pages
  * replay as recorded, so no page-size option applies. */
final class RecordedKinesisBackend(options: Map[String, String]) extends ShardBackend {
  private val inner = new KinesisShardBackend(
    new RecordedKinesisApi(options.getOrElse("path",
      sys.error("recorded backend requires a 'path' option"))),
    options.getOrElse("streamName", "recorded"))
  override def shardMetas(): Seq[ShardMeta] = inner.shardMetas()
  override def latestPosition(shard: String, from: Long, limit: Long): Long =
    inner.latestPosition(shard, from, limit)
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] =
    inner.read(shard, from, until)
}
