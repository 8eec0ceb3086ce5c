package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import scala.jdk.CollectionConverters._

/** OUT-OF-PROCESS Kinesis double — a standalone `Kinesis_20131202` server
  * for [[KinesisEndpointIntegrationSpec]], so the live-endpoint transport
  * path has a real socket PEER PROCESS on record (the in-process stub in
  * [[KinesisHttpSpec]] shares the JVM with the client; this one does not).
  * It deliberately mimics the live service's awkward corners rather than
  * the fixtures' convenient ones:
  *
  *  - sequence numbers are 56-digit decimals with IRREGULAR gaps (real
  *    Kinesis sequences are sparse time-encoded ~10^55 values; dense
  *    small integers would mask any code path that treats sequences as
  *    ordinals — the transport contract says it must not);
  *  - `ListShards` pages at ONE shard per page with a `NextToken`, so
  *    multi-shard streams always exercise the pagination loop;
  *  - `GetShardIterator` is throttled at ~5 calls/s/shard with
  *    `ProvisionedThroughputExceededException`, the kinesalite behavior
  *    the integration spec's burst test exists for — the client's
  *    backoff-retry loop must absorb it;
  *  - every request's SigV4 signature is fully verified (same
  *    [[AwsSigV4]] math, server side); a mismatch is the live service's
  *    403 `InvalidSignatureException`, which the client must NOT retry;
  *  - OPTIONAL iterator TTL (arg 5, ms — 0 disables): a shard iterator
  *    older than the TTL fails `GetRecords` with the live service's
  *    `ExpiredIteratorException` (real iterators expire after 5 minutes —
  *    any pause between acquiring and consuming hits this), so the
  *    transport's re-acquire-and-resume path is exercised over a real
  *    socket;
  *  - OPTIONAL reshard topology with EVENTUALLY-CONSISTENT ListShards
  *    (arg 6, N ≥ 0 — negative disables): the stream becomes one CLOSED
  *    parent (`EndingSequenceNumber` set) plus `nShards` children
  *    carrying `ParentShardId`, and ListShards HIDES the children until
  *    N top-level sweeps have been served — the live service's
  *    eventual consistency after a reshard, where children appear in
  *    listings late; the source's parent-before-child admission must
  *    hold across the late discovery.
  *
  * Reference behavior at stake: the GetRecords/GetShardIterator loop of
  * `kinesisReader/index.js:50-108` in the reference, which this engine's
  * transport re-expresses.
  *
  * Run (seeded, prints READY when bound):
  * {{{
  * sbt "Test/runMain graft.sources.KinesisDouble 4567 graft-it 2 6"
  * // adversarial: 1500ms iterator TTL, children hidden for 2 sweeps
  * sbt "Test/runMain graft.sources.KinesisDouble 4567 graft-it 2 6 1500 2"
  * }}}
  * then in another process:
  * {{{
  * SPARK_GRAFT_KINESIS_ENDPOINT=http://127.0.0.1:4567 \
  * SPARK_GRAFT_KINESIS_STREAM=graft-it \
  * AWS_ACCESS_KEY_ID=x AWS_SECRET_ACCESS_KEY=x \
  * sbt "testOnly graft.sources.KinesisEndpointIntegrationSpec"
  * }}}
  *
  * `PutRecord` is implemented too, so the seeding flow of the spec's
  * docstring (create/put via CLI) has a wire-level equivalent. */
object KinesisDouble {

  private val mapper = new ObjectMapper()

  private final case class Rec(
      sequence: BigInt, tsMillis: Long, partitionKey: String, data: Array[Byte])

  private final class Shard(
      val shardId: String, seqBase: BigInt,
      val parent: Option[String] = None) {
    // Irregular, deterministic gaps: sequence i = base + Σ(7, 13, 19, ...)
    private var nextSeq: BigInt = seqBase
    val records = new java.util.concurrent.CopyOnWriteArrayList[Rec]()
    /** Closed shard (a reshard parent): records end here, forever. */
    @volatile var closedEnd: Option[BigInt] = None
    def append(pk: String, data: Array[Byte]): Rec = synchronized {
      require(closedEnd.isEmpty, s"shard $shardId is closed")
      nextSeq += BigInt(7) + BigInt(6) * records.size() + (nextSeq % 17)
      val r = Rec(nextSeq, System.currentTimeMillis(), pk, data)
      records.add(r); r
    }
    def close(): Unit = synchronized {
      closedEnd = Some(records.asScala.lastOption.map(_.sequence).getOrElse(seqBase))
    }
    def start: BigInt = seqBase
  }

  private final class Stream(
      val name: String, nShards: Int, reshard: Boolean) {
    private def seqBase(i: Int) =
      BigInt("49590338271490256608559692538361571095921575989136588800") +
        BigInt(i) * BigInt(10).pow(40)
    /** Plain mode: nShards open shards. Reshard mode: shard-0 is a CLOSED
      * parent (caller closes it after seeding) and shards 1..nShards are
      * its children — the lineage ListShards serves, eventually. */
    val shards: Seq[Shard] =
      if (!reshard) (0 until nShards).map(i => new Shard(f"shardId-$i%012d", seqBase(i)))
      else new Shard(f"shardId-${0}%012d", seqBase(0)) +:
        (1 to nShards).map(i =>
          new Shard(f"shardId-$i%012d", seqBase(i), parent = Some(f"shardId-${0}%012d")))
    def openShards: Seq[Shard] = shards.filter(_.closedEnd.isEmpty)
    def shardFor(pk: String): Shard = {
      val open = openShards
      open(math.abs(pk.hashCode) % open.size)
    }
    def shard(id: String): Option[Shard] = shards.find(_.shardId == id)
  }

  // GetShardIterator rate limit: kinesalite-style ~5/s/shard.
  private val iterCalls =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.ArrayDeque[Long]]()
  private def throttled(shardId: String): Boolean = {
    val q = iterCalls.computeIfAbsent(shardId, _ => new java.util.ArrayDeque[Long]())
    q.synchronized {
      val now = System.nanoTime()
      while (!q.isEmpty && now - q.peekFirst() > 1000000000L) q.pollFirst()
      if (q.size >= 5) {
        println(s"[double] THROTTLED GetShardIterator shard=$shardId " +
          "(>5 calls/s) -> ProvisionedThroughputExceededException")
        true
      } else { q.addLast(now); false }
    }
  }

  private def err(t: String, msg: String, status: Int = 400): (Int, String) =
    (status, s"""{"__type": "$t", "message": "$msg"}""")

  private def recJson(r: Rec): String =
    s"""{"SequenceNumber": "${r.sequence}",
       |"ApproximateArrivalTimestamp": ${r.tsMillis / 1000.0},
       |"PartitionKey": "${r.partitionKey}",
       |"Data": "${Base64.getEncoder.encodeToString(r.data)}"}""".stripMargin

  private def shardJson(s: Shard): String = {
    val end = s.closedEnd
      .map(e => s""", "EndingSequenceNumber": "$e"""").getOrElse("")
    val parent = s.parent
      .map(p => s""", "ParentShardId": "$p"""").getOrElse("")
    s"""{"ShardId": "${s.shardId}"$parent,
       |"SequenceNumberRange": {"StartingSequenceNumber": "${s.start}"$end}}"""
      .stripMargin
  }

  /** Iterator tokens carry their ISSUE time, so the TTL mode can expire
    * them the way the live service does (5-minute wall-clock TTL). */
  private def iterToken(shardId: String, idx: Int): String =
    Base64.getEncoder.encodeToString(
      s"$shardId@$idx@${System.currentTimeMillis()}".getBytes(UTF_8))

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(4567)
    val streamName = if (args.length > 1) args(1) else "graft-it"
    val nShards = if (args.length > 2) args(2).toInt else 2
    val nSeed = if (args.length > 3) args(3).toInt else 6
    /** 0 disables; otherwise GetRecords on a token older than this fails
      * with ExpiredIteratorException (the client must re-acquire). */
    val iterTtlMs = if (args.length > 4) args(4).toLong else 0L
    /** Negative disables; otherwise the stream is a reshard lineage and
      * ListShards hides the children for this many top-level sweeps. */
    val reshardRevealAfter = if (args.length > 5) args(5).toInt else -1
    val creds = AwsCredentials(
      sys.env.getOrElse("AWS_ACCESS_KEY_ID", "x"),
      sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", "x"), None)
    val region = sys.env.getOrElse("AWS_REGION", "us-east-1")

    val reshard = reshardRevealAfter >= 0
    val stream = new Stream(streamName, nShards, reshard)
    // Deterministic seed corpus: every shard gets records whose payloads
    // name their position, so the spec's round-trip check has real bytes.
    stream.shards.zipWithIndex.foreach { case (sh, si) =>
      (0 until nSeed).foreach { i =>
        sh.append(s"pk-$si-$i", s"payload-$si-$i".getBytes(UTF_8))
      }
    }
    // Reshard lineage: the parent closed when it split — its seed records
    // are the pre-reshard history the children's records must follow.
    if (reshard) stream.shard(f"shardId-${0}%012d").foreach(_.close())
    /** Count of top-level ListShards sweeps served, for the
      * eventual-consistency window. */
    val listSweeps = new java.util.concurrent.atomic.AtomicInteger(0)
    def visibleShards: Seq[Shard] =
      if (reshard && listSweeps.get() <= reshardRevealAfter)
        stream.shards.filter(_.parent.isEmpty)
      else stream.shards

    def verifySig(ex: HttpExchange, body: Array[Byte]): Option[(Int, String)] = {
      val h = ex.getRequestHeaders
      val got = Option(h.getFirst("Authorization")).getOrElse("")
      val amzDate = Option(h.getFirst("x-amz-date")).getOrElse("")
      val want = AwsSigV4.sign("POST", "/", Seq.empty,
        Seq("host" -> Option(h.getFirst("Host")).getOrElse(""),
          "content-type" -> Option(h.getFirst("Content-Type")).getOrElse(""),
          "x-amz-target" -> Option(h.getFirst("X-Amz-Target")).getOrElse("")),
        body, region, "kinesis", creds, amzDate)("Authorization")
      if (got != want)
        Some(err("InvalidSignatureException",
          "The request signature we calculated does not match", 403))
      else None
    }

    def handle(target: String, n: JsonNode): (Int, String) = target match {
      case "Kinesis_20131202.ListShards" =>
        val tok = Option(n.get("NextToken")).filter(!_.isNull).map(_.asText())
        val fromIdx = tok match {
          case Some(t) if t.startsWith("page-") => t.stripPrefix("page-").toInt
          case Some(_) => return err("InvalidArgumentException", "bad NextToken")
          case None =>
            val name = Option(n.get("StreamName")).map(_.asText()).getOrElse("")
            if (name != stream.name)
              return err("ResourceNotFoundException", s"Stream $name not found")
            // eventual consistency counts top-level sweeps, not pages
            val sweep = listSweeps.incrementAndGet()
            println(s"[double] ListShards sweep $sweep")
            if (reshard && sweep == reshardRevealAfter + 1)
              println(s"[double] ListShards sweep $sweep now REVEALS the " +
                "reshard children (eventual consistency window over)")
            0
        }
        // one shard per page: pagination is always exercised
        val visible = visibleShards
        val page = visible.slice(fromIdx, fromIdx + 1)
        val next =
          if (fromIdx + 1 < visible.size)
            s""", "NextToken": "page-${fromIdx + 1}""""
          else ""
        (200, s"""{"Shards": [${page.map(shardJson).mkString(",")}]$next}""")

      case "Kinesis_20131202.GetShardIterator" =>
        val shardId = Option(n.get("ShardId")).map(_.asText()).getOrElse("")
        if (throttled(shardId))
          return err("ProvisionedThroughputExceededException",
            s"Rate exceeded for shard $shardId")
        val sh = stream.shard(shardId).getOrElse(
          return err("ResourceNotFoundException", s"Shard $shardId not found"))
        val recs = sh.records.asScala.toVector
        val idx = Option(n.get("ShardIteratorType")).map(_.asText()).getOrElse("") match {
          case "TRIM_HORIZON" => 0
          case "LATEST" => recs.length
          case "AT_TIMESTAMP" =>
            val tsMs = math.round(n.get("Timestamp").asDouble() * 1000.0)
            val i = recs.indexWhere(_.tsMillis >= tsMs)
            if (i < 0) recs.length else i
          case "AT_SEQUENCE_NUMBER" | "AFTER_SEQUENCE_NUMBER" =>
            val seq = BigInt(n.get("StartingSequenceNumber").asText())
            val at = recs.indexWhere(_.sequence == seq)
            if (at < 0)
              return err("InvalidArgumentException", s"unknown sequence $seq")
            if (n.get("ShardIteratorType").asText() == "AT_SEQUENCE_NUMBER") at
            else at + 1
          case other =>
            return err("InvalidArgumentException", s"iterator type $other")
        }
        (200, s"""{"ShardIterator": "${iterToken(shardId, idx)}"}""")

      case "Kinesis_20131202.GetRecords" =>
        val tok = new String(
          Base64.getDecoder.decode(n.get("ShardIterator").asText()), UTF_8)
        val parts = tok.split('@')
        val (shardId, idxS) = (parts(0), parts(1))
        // the live 5-minute iterator TTL, scaled down: tokens carry their
        // issue time; a stale one fails and the client must re-acquire
        if (iterTtlMs > 0L && parts.length > 2 &&
            System.currentTimeMillis() - parts(2).toLong > iterTtlMs) {
          println(s"[double] EXPIRED iterator for $shardId " +
            s"(age > ${iterTtlMs}ms) -> ExpiredIteratorException")
          return err("ExpiredIteratorException",
            s"Iterator expired after ${iterTtlMs}ms")
        }
        val sh = stream.shard(shardId).getOrElse(
          return err("ResourceNotFoundException", s"Shard $shardId gone"))
        val recs = sh.records.asScala.toVector
        val idx = idxS.toInt
        val limit = Option(n.get("Limit")).map(_.asInt()).getOrElse(10000)
        val page = recs.slice(idx, math.min(recs.length, idx + limit))
        val nextIdx = idx + page.length
        val atEnd = nextIdx >= recs.length
        // a CLOSED shard's drain terminates: null NextShardIterator
        val nextIt =
          if (atEnd && sh.closedEnd.isDefined) "null"
          else s""""${iterToken(shardId, nextIdx)}""""
        (200, s"""{"Records": [${page.map(recJson).mkString(",")}],
                 |"NextShardIterator": $nextIt,
                 |"MillisBehindLatest": ${if (atEnd) 0 else 1500}}"""
          .stripMargin)

      // TEST-CONTROL endpoint (not a Kinesis API): re-arm the reshard
      // eventual-consistency window, so a spec that starts a stream AFTER
      // other tests already swept ListShards still observes the children
      // appearing late. SigV4-verified like everything else.
      case "GraftTest.ResetReshardVisibility" =>
        listSweeps.set(0)
        println("[double] reshard visibility window re-armed " +
          s"(children hidden for the next $reshardRevealAfter sweeps)")
        (200, "{}")

      case "Kinesis_20131202.PutRecord" =>
        val name = Option(n.get("StreamName")).map(_.asText()).getOrElse("")
        if (name != stream.name)
          return err("ResourceNotFoundException", s"Stream $name not found")
        val pk = n.get("PartitionKey").asText()
        val data = Base64.getDecoder.decode(n.get("Data").asText())
        val sh = stream.shardFor(pk)
        val r = sh.append(pk, data)
        (200, s"""{"ShardId": "${sh.shardId}", "SequenceNumber": "${r.sequence}"}""")

      case other =>
        err("UnknownOperationException", other)
    }

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val body = ex.getRequestBody.readAllBytes()
      val (status, resp) =
        try verifySig(ex, body).getOrElse {
          val target =
            Option(ex.getRequestHeaders.getFirst("X-Amz-Target")).getOrElse("")
          handle(target, mapper.readTree(new String(body, UTF_8)))
        } catch {
          case e: Exception =>
            (500, s"""{"__type": "InternalFailure", "message": "${e.getMessage}"}""")
        }
      val out = resp.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/x-amz-json-1.1")
      ex.sendResponseHeaders(status, out.length)
      ex.getResponseBody.write(out)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    println(s"READY http://127.0.0.1:$port stream=$streamName " +
      s"shards=${stream.shards.size} records/shard=$nSeed" +
      (if (iterTtlMs > 0) s" iterTtlMs=$iterTtlMs" else "") +
      (if (reshard) s" reshard(parent closed, children hidden for " +
        s"$reshardRevealAfter sweeps)" else ""))
    Thread.currentThread().join() // serve until killed
  }
}
