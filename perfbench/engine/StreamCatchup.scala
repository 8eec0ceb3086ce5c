package graftbench

import java.time.Instant
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions.{col, count, crc32, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.api.RecordsQuery
import graft.sources.{FileShardBackend, KplShardOffsets}
import graft.streaming.RecordsStream

/** Collects the progress events of the one streaming query the benchmark
  * runs at a time. */
final class ProgressLog extends StreamingQueryListener {
  @volatile var queryId: UUID = _
  @volatile var terminated = false
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  def reset(id: UUID): Unit = { progress.clear(); terminated = false; queryId = id }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == queryId) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.id == queryId) terminated = true

  /** Progress events are delivered asynchronously; the terminated event
    * trails every progress event of its query. */
  def awaitTerminated(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (!terminated && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def batches: Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(_.numInputRows > 0)
}

object ProgressLog {
  private val Keys = Seq("triggerExecution", "latestOffset", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets", "getBatch")

  /** One micro-batch's `durationMs` breakdown, its input rows, and the
    * output rows its `bench` observation counted (0 when unobserved). */
  def row(p: StreamingQueryProgress): Map[String, Any] =
    Keys.map(k => k -> Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(0L)).toMap ++
      Map("rows_in" -> p.numInputRows,
        "rows_out" -> Option(p.observedMetrics.get("bench")).map(_.getLong(0)).getOrElse(0L))
}

/** `stream_catchup`: `Trigger.AvailableNow` drains of a generated backlog
  * through `RecordsStream.envelopeStream` + `records` into the noop sink,
  * each from a fresh checkpoint, with an observed count + CRC checksum of
  * every output record for the oracle. */
final class StreamCatchup extends Command {
  private var log = register()
  private var lastBatches: Seq[StreamingQueryProgress] = Nil
  private var drains = 0

  private def register(): ProgressLog = {
    val l = new ProgressLog
    Engine.spark.streams.addListener(l)
    l
  }

  def apply(name: String, cmd: JsonNode): Map[String, Any] = name match {
    case "drain" => drain(cmd)
    case "replay" => replay(cmd)
    case "rescale" =>
      Engine.spark.stop()
      Engine.spark = Engine.session(cmd.get("cores").asInt())
      log = register()
      Map("cores" -> cmd.get("cores").asInt())
  }

  private def drain(cmd: JsonNode): Map[String, Any] = {
    val spark = Engine.spark
    val dir = Engine.str(cmd, "dir")
    val nowMs = Engine.long(cmd, "now_ms")
    val t0 = System.nanoTime()
    val q = RecordsQuery.validate(Engine.params(cmd.get("params"))).toOption
      .getOrElse(sys.error("drain query must validate"))
    val tv = System.nanoTime()
    val out = RecordsStream.records(RecordsStream.envelopeStream(spark, dir, q, nowMs), q)
      .observe("bench", count(lit(1)).as("n"),
        sum(crc32(col("json").cast("binary"))).as("crc"))
    val tp = System.nanoTime()
    drains += 1
    val ckpt = s"${Engine.workDir}/ckpt/drain-$drains"
    val sq = out.writeStream.format("noop")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    log.reset(sq.id)
    sq.awaitTermination()
    val wallMs = (System.nanoTime() - tp) / 1e6
    log.awaitTerminated()
    val bs = log.batches
    lastBatches = bs
    var n = 0L
    var crc = 0L
    bs.foreach { p =>
      Option(p.observedMetrics.get("bench")).foreach { r =>
        n += r.getLong(0)
        if (!r.isNullAt(1)) crc += r.getLong(1)
      }
    }
    Map("count" -> n, "crc" -> crc, "wall_ms" -> wallMs,
      "validate_us" -> (tv - t0) / 1e3, "plan_ms" -> (tp - tv) / 1e6,
      "batches" -> bs.map(ProgressLog.row))
  }

  /** Replays the layers under the last drain's micro-batches, one op per
    * micro-batch: `FileShardBackend.read` over the batch's offset ranges,
    * `KplCodec.deaggregate` over the frames inside the lookback, then
    * `EventSchema.parse` + the predicate over their payloads. */
  private def replay(cmd: JsonNode): Map[String, Any] = {
    val dir = Engine.str(cmd, "dir")
    val nowMs = Engine.long(cmd, "now_ms")
    val q = RecordsQuery.validate(Engine.params(cmd.get("params"))).toOption.get
    val startMs = RecordsQuery.startTimestamp(q, Instant.ofEpochMilli(nowMs)).toEpochMilli
    val backend = new FileShardBackend(dir)
    val tracer = new Tracer
    val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit =
      out.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[Double]) += v
    lastBatches.zipWithIndex.foreach { case (p, i) =>
      val op = i.toLong
      val src = p.sources.head
      val from = Option(src.startOffset).map(KplShardOffsets.fromJson(_).offsets)
        .getOrElse(Map.empty[String, Long]).withDefaultValue(0L)
      val until = KplShardOffsets.fromJson(src.endOffset).offsets
      tracer.span("op", op) {
        val (frames, readMs) = tracer.span("sources.read", op)(
          until.toSeq.sorted.flatMap { case (s, e) => backend.read(s, from(s), e) })
        val live = frames.filter(_.tsMillis >= startMs)
        val (payloads, deaggMs) = tracer.span("kpl.deaggregate", op)(
          live.flatMap(f => Layers.userPayloads(f.data)))
        val (_, parseMs) = tracer.span("decode.parse", op)(Layers.parseAndFilter(payloads, q))
        rec("frames_read", frames.length.toDouble)
        rec("read_ms", readMs)
        rec("deaggregate_ms", deaggMs)
        rec("frames_live", live.length.toDouble)
        rec("user_records", payloads.length.toDouble)
        rec("parse_ms", parseMs)
      }
    }
    Option(cmd.get("spans_path")).foreach(p => tracer.writeJsonl(p.asText()))
    out.toMap.map { case (k, v) => k -> v.toSeq } ++ Map("ops" -> lastBatches.length)
  }
}
