package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.ObjectMapper

/** LIVE transport for the Kinesis source: a [[KinesisDataApi]] speaking the
  * public `Kinesis_20131202` JSON protocol (`application/x-amz-json-1.1`
  * POSTs dispatched by `X-Amz-Target`, SigV4-signed — the same wire
  * conversation the reference's SDK client holds, `kinesisReader/
  * index.js:19-27,77-108`) over the JDK's `java.net.http.HttpClient`.
  * Everything here is from public documentation: the protocol shape, the
  * header set, the error-type names. Zero AWS SDK dependency — the bodies
  * decode through the same [[KinesisWireJson]] path the recorded-replay
  * backend uses, so the field mapping is one spec-pinned code path however
  * the bytes arrive.
  *
  * Wire→seam position mapping: positions are the ORDINALS of the
  * [[KinesisDataApi]] contract — record index from the shard's readable
  * start — assigned by counting as pages arrive. REAL Kinesis sequence
  * numbers are 186-bit decimals whose high-order bits encode ingestion
  * time, so `sequence − base` deltas would NOT fit a long on a live stream
  * (they are ~10³⁸). Each served page records an ANCHOR (`position after
  * the page` → `last record's real sequence string`).
  * [[getShardIterator]] is the one way this transport opens a shard at a
  * position: `AFTER_SEQUENCE_NUMBER` of the nearest anchor at-or-below
  * `from`. A range read, a backlog probe and the re-open of an expired
  * iterator all come through it. Anchors live in
  * the PROCESS-WIDE [[KinesisAnchorStore]] — never per-instance, because
  * the DSv2 reader constructs a fresh backend per partition per
  * micro-batch — and, when an `anchorDir` is configured (the micro-batch
  * scan injects `<checkpointLocation>/graft-anchors`), they are
  * snapshotted to durable storage so a RESTARTED process also resumes
  * positioned. Only when no anchor is usable (first contact, a resume
  * below the eviction horizon, or an anchor the service rejects) does an
  * open fall back to TRIM_HORIZON. That opens early, never late, and
  * [[KinesisShardBackend]] keeps no position twice, so it costs pages,
  * never duplicates. It is correct while the
  * shard's readable start is where the committed ordinals started, but
  * if retention TRIMMED the shard in between, the re-counted ordinals
  * shift relative to the committed offsets; the fallback therefore logs
  * a data-integrity warning naming that hazard (a persisted anchor is
  * immune: `AFTER_SEQUENCE_NUMBER` is stream-absolute). Anchor maps are
  * bounded (oldest positions evicted) and the iterator→state map is a
  * bounded LRU, so a long-lived driver's footprint stays O(1) per shard.
  *
  * Throttling: `GetRecords` is limited per shard per second; throttled
  * calls surface as `ProvisionedThroughputExceededException` /
  * `ThrottlingException` (HTTP 400) or 5xx. Those retry on a bounded
  * exponential backoff, at most [[KinesisHttpApi.MaxRetries]] times;
  * anything else propagates (the micro-batch fails and retries rather
  * than committing a partial range — see [[KinesisShardBackend.read]]'s
  * loss contract).
  */
final class KinesisHttpApi(
    endpoint: String,
    region: String,
    creds: AwsCredentials,
    anchorDir: Option[String] = None) extends KinesisDataApi {

  import KinesisHttpApi.MaxRetries
  import KinesisWireJson._

  @transient private lazy val client =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  @transient private lazy val mapper = new ObjectMapper()
  @transient private lazy val uri = java.net.URI.create(
    if (endpoint.endsWith("/")) endpoint.dropRight(1) else endpoint)

  /** Per-token state: the stream/shard, the ordinal position of the next
    * record the iterator will yield, and the anchor store pages write
    * into. */
  private final case class IterState(
      streamName: String, shardId: String, nextPos: Long,
      anchors: KinesisAnchorStore.ShardAnchors)

  /** live iterator token → [[IterState]]. Tokens are opaque, so GetRecords
    * responses must be attributed here. BOUNDED LRU: latestPosition probes
    * and early-exiting reads legitimately abandon their final token
    * (nobody ever consumes it), so an unbounded map would leak one entry
    * per shard per trigger on a long-lived driver; evicted tokens would
    * have expired server-side (5-minute iterator TTL) long before the cap
    * is reached. */
  @transient private lazy val iteratorState =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, IterState](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, IterState]): Boolean =
          size() > 4096
      })

  private def anchorsFor(streamName: String, shardId: String) =
    KinesisAnchorStore.forShard(
      KinesisAnchorStore.Key(endpoint, streamName, shardId, anchorDir))

  private val RetryableTypes = Set(
    "ProvisionedThroughputExceededException", "ThrottlingException",
    "LimitExceededException", "ServiceUnavailableException")

  /** GetShardIterator error types that mean the POSITION is gone (anchor
    * aged past retention, crossed a reshard, or the parent shard was
    * deleted) rather than a transient failure: only these fall back to a
    * TRIM_HORIZON re-enumeration, which itself answers
    * `ResourceNotFoundException` for a shard the stream does not have.
    * Throttles/5xx already retried in [[post]]; anything else (auth,
    * serialization) must propagate. */
  private val PositionGoneTypes = Set(
    "InvalidArgumentException", "ResourceNotFoundException")

  private def hostHeader: String =
    uri.getHost + (if (uri.getPort != -1) s":${uri.getPort}" else "")

  private[sources] def post(target: String, body: String): String = {
    val payload = body.getBytes(UTF_8)
    var attempt = 0
    while (true) {
      val amzDate = AwsSigV4.amzDateOf(java.time.Instant.now())
      val baseHeaders = Seq(
        "host" -> hostHeader,
        "content-type" -> "application/x-amz-json-1.1",
        "x-amz-target" -> target)
      val signed = AwsSigV4.sign("POST", "/", Seq.empty, baseHeaders, payload,
        region, "kinesis", creds, amzDate)
      val b = java.net.http.HttpRequest.newBuilder(uri.resolve("/"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(payload))
        .header("Content-Type", "application/x-amz-json-1.1")
        .header("X-Amz-Target", target)
      signed.foreach { case (k, v) => b.header(k, v) }
      val (status, respBody) =
        try {
          val resp = client.send(b.build(),
            java.net.http.HttpResponse.BodyHandlers.ofString())
          (resp.statusCode(), resp.body())
        } catch {
          case e: java.io.IOException => (-1, e.toString) // retryable transport
        }
      if (status == 200) return respBody
      val errType =
        try Option(mapper.readTree(respBody).get("__type"))
          .map(_.asText().split('#').last).getOrElse("")
        catch { case _: Exception => "" }
      val retryable = status == -1 || status >= 500 || RetryableTypes(errType)
      if (!retryable || attempt >= MaxRetries)
        throw new KinesisApiException(errType,
          s"$target failed (HTTP $status${if (errType.nonEmpty) s", $errType" else ""}) " +
            s"after ${attempt + 1} attempt(s): ${respBody.take(300)}")
      Thread.sleep(math.min(100L << attempt, 3200L)) // bounded backoff
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  private def obj(fields: (String, Any)*): String = {
    val n = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v) => n.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(n)
  }

  private def register(token: String, st: IterState): String = {
    iteratorState.put(token, st); token
  }

  /** Full ListShards sweep, paged on NextToken, with the reshard lineage
    * straight off the wire shape: a child is held by [[ReshardAdmission]]
    * until its `ParentShardId` / `AdjacentParentShardId` ancestors
    * (closed ⇔ `EndingSequenceNumber` present) are fully consumed. */
  override def listShards(streamName: String): Seq[ShardMeta] = {
    var out = Vector.empty[ShardMeta]
    var token: Option[String] = None
    var first = true
    while (first || token.isDefined) {
      first = false
      val body = token match {
        case Some(t) => obj("NextToken" -> t)
        case None => obj("StreamName" -> streamName)
      }
      val (shards, next) =
        parseListShardsPage(post("Kinesis_20131202.ListShards", body))
      out ++= shards
      token = next
    }
    out
  }

  /** Opens `shardId` at ordinal `from`: TRIM_HORIZON for `from <= 0`,
    * else `AFTER_SEQUENCE_NUMBER` of the nearest anchor at-or-below `from`,
    * numbered from the anchor's position. The store is process-wide and
    * (with anchorDir) snapshot-backed, so fresh per-partition transports
    * AND restarted processes open positioned. When no anchor is usable the
    * open falls back to TRIM_HORIZON, which is early, never late. */
  override def getShardIterator(streamName: String, shardId: String,
                                from: Long): String = {
    val store = anchorsFor(streamName, shardId)
    def open(nextPos: Long, position: (String, String)*): String = register(
      parseShardIterator(post("Kinesis_20131202.GetShardIterator", obj(
        Seq("StreamName" -> streamName, "ShardId" -> shardId) ++ position: _*))),
      IterState(streamName, shardId, nextPos, store))
    val trimHorizon = "ShardIteratorType" -> "TRIM_HORIZON"
    if (from <= 0L) return open(0L, trimHorizon)
    val reason = store.floor(from) match {
      case Some((anchorPos, anchorSeq)) =>
        // Any other failure propagates and fails the batch rather than
        // turn a positioned read into a full-shard drain.
        try return open(anchorPos, "ShardIteratorType" -> "AFTER_SEQUENCE_NUMBER",
          "StartingSequenceNumber" -> anchorSeq)
        catch {
          case e: KinesisApiException if PositionGoneTypes(e.errorType) =>
            s"its resume anchor was rejected (${e.errorType})"
        }
      case None =>
        "it has no resume anchor (first contact, a fresh process without a " +
          "persisted snapshot, or a resume below the anchor-eviction horizon)"
    }
    System.err.println(
      s"[graft] kinesis: opening $shardId@$from from TRIM_HORIZON because " +
        s"$reason. WARNING: if retention trimmed this shard since the " +
        "offsets were committed, re-counted ordinals are SHIFTED vs the " +
        "committed positions — records may be skipped; configure anchorDir " +
        "(on by default under a checkpoint), or re-seed the query from a " +
        "fresh checkpoint if exactness is required")
    open(0L, trimHorizon)
  }

  /** One GetRecords page. Real iterators expire 5 minutes after issuance,
    * and any pause between acquiring and consuming (GC, backpressure, a
    * slow micro-batch) hits that on a live stream; the reference's loop
    * simply keeps reading (`kinesisReader/index.js:84-108`). So an expired
    * token re-opens its lineage at its own position through
    * [[getShardIterator]]: the page before recorded an anchor exactly
    * there, or the lineage is still at 0. */
  override def getRecords(iterator: String, limit: Int)
      : (Seq[ShardRecord], Option[String], Long) = {
    var st = Option(iteratorState.remove(iterator)).getOrElse(
      sys.error("getRecords called with an iterator this transport did not issue"))
    // Bounded: a freshly opened token expiring again means the pause is
    // systemic; propagate rather than spin.
    var token = iterator
    var page: KinesisWireJson.GetRecordsPage = null
    var expiries = 0
    while (page == null) {
      try page = parseGetRecords(post("Kinesis_20131202.GetRecords",
        obj("ShardIterator" -> token, "Limit" -> limit)))
      catch {
        case e: KinesisApiException
            if e.errorType == "ExpiredIteratorException" && expiries < 2 =>
          expiries += 1
          System.err.println(
            s"[graft] kinesis: iterator for ${st.shardId} expired " +
              s"(server-side TTL); re-opening at position ${st.nextPos}")
          token = getShardIterator(st.streamName, st.shardId, st.nextPos)
          st = iteratorState.remove(token)
      }
    }
    val nextPos = st.nextPos + page.records.size
    // One anchor per served page: to resume at `nextPos`, continue AFTER
    // the page's last real sequence. Eviction + durable snapshotting live
    // in the store.
    page.records.lastOption.foreach(last =>
      st.anchors.record(nextPos, last.sequence.toString))
    (page.shardRecords(st.nextPos),
      page.nextShardIterator.map(register(_, st.copy(nextPos = nextPos))),
      page.millisBehindLatest)
  }
}

object KinesisHttpApi {
  /** Retries of a throttled, 5xx or transport-failed call before it
    * propagates. The backoff doubles from 100 ms and caps at 3.2 s, so a
    * call gives up after 9 attempts and 12.7 s of backoff. */
  val MaxRetries = 8
}

/** A non-2xx (or retry-exhausted) Kinesis API response, carrying the
  * AWS error type (`__type` tail) so callers can distinguish a genuine
  * position rejection from a transient transport failure. */
final class KinesisApiException(val errorType: String, msg: String)
    extends java.io.IOException(msg)

/** [[ShardBackend]] over the live HTTP transport, loadable by class name
  * through the `backend` option (see [[BackendSpec]]):
  *
  * {{{
  * spark.readStream.format(KplFileSource.ProviderClass)
  *   .option("backend", classOf[KinesisHttpBackend].getName)
  *   .option("endpoint", "https://kinesis.us-east-1.amazonaws.com")
  *   .option("region", "us-east-1")
  *   .option("streamName", "my-stream")
  *   .option("accessKeyId", ...).option("secretAccessKey", ...)
  * }}}
  *
  * Credentials come from options or the standard public AWS environment
  * variables. Each executor partition constructs its own instance (the
  * HTTP client and iterator state are per-instance and never serialized). */
final class KinesisHttpBackend(options: Map[String, String]) extends ShardBackend {
  private def opt(k: String, env: String): Option[String] =
    options.get(k).orElse(sys.env.get(env))
  private val creds = AwsCredentials(
    accessKeyId = opt("accessKeyId", "AWS_ACCESS_KEY_ID").getOrElse(
      sys.error("kinesis http backend: missing accessKeyId")),
    secretAccessKey = opt("secretAccessKey", "AWS_SECRET_ACCESS_KEY").getOrElse(
      sys.error("kinesis http backend: missing secretAccessKey")),
    sessionToken = opt("sessionToken", "AWS_SESSION_TOKEN"))
  private val region = options.getOrElse("region", "us-east-1")
  private val inner = new KinesisShardBackend(
    new KinesisHttpApi(
      options.getOrElse("endpoint", s"https://kinesis.$region.amazonaws.com"),
      region, creds,
      // `anchorDir` is injected by the micro-batch scan as
      // `<checkpointLocation>/graft-anchors` (overridable); anchors then
      // survive process restarts wherever the checkpoint survives.
      anchorDir = options.get("anchorDir").filter(_.nonEmpty)),
    options.getOrElse("streamName",
      sys.error("kinesis http backend: missing streamName")))
  override def shardMetas(): Seq[ShardMeta] = inner.shardMetas()
  override def latestPosition(shard: String, from: Long, limit: Long): Long =
    inner.latestPosition(shard, from, limit)
  override def read(shard: String, from: Long, until: Long): Seq[ShardRecord] =
    inner.read(shard, from, until)
}
