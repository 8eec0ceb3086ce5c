package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame

import graft.api.{RecordsHttpServer, RecordsQuery}
import graft.sources.{FileShardBackend, KplFileSource}

/** `records_http`: the program's own `RecordsHttpServer` over a batch read
  * of a generated shard store, with a fixed clock. The load itself comes
  * from `run.py`'s client process; this side starts/stops the server and
  * replays requests through the public functions for the per-layer trace.
  */
final class RecordsHttp extends Command {
  private var server: Option[RecordsHttpServer] = None

  private def envelope(dir: String): DataFrame =
    Engine.spark.read.format(KplFileSource.ProviderClass).option("path", dir).load()

  def apply(name: String, cmd: JsonNode): Map[String, Any] = name match {
    case "start" =>
      server.foreach(_.stop())
      val dir = Engine.str(cmd, "dir")
      val now = Instant.ofEpochMilli(Engine.long(cmd, "now_ms"))
      val t0 = System.nanoTime()
      val s = new RecordsHttpServer(_ => envelope(dir), 0, () => now)
      val port = s.start()
      server = Some(s)
      Map("port" -> port, "start_ms" -> (System.nanoTime() - t0) / 1e6)
    case "stop" =>
      server.foreach(_.stop())
      server = None
      Map("stopped" -> true)
    case "replay" => replay(cmd)
  }

  /** Single-caller replay of requests through validate → plan →
    * toJsonArray, then of the layers below over each request's frames:
    * `FileShardBackend.read`, `KplCodec.deaggregate`, and
    * `EventSchema.parse` + the request predicate. Returns per-op arrays. */
  private def replay(cmd: JsonNode): Map[String, Any] = {
    val dir = Engine.str(cmd, "dir")
    val nowMs = Engine.long(cmd, "now_ms")
    val now = Instant.ofEpochMilli(nowMs)
    val tracer = new Tracer
    val backend = new FileShardBackend(dir)
    val shards = backend.listShards()
    val frameTs: Map[String, Array[Long]] = shards.map { s =>
      s -> backend.read(s, 0L, backend.latestPosition(s)).map(_.tsMillis).toArray
    }.toMap
    val totalFrames = frameTs.values.map(_.length.toLong).sum
    val env = envelope(dir)
    val ops = cmd.get("requests").elements().asScala.toSeq.map(Engine.params)
    val out = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def rec(k: String, v: Double): Unit =
      out.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[Double]) += v
    ops.zipWithIndex.foreach { case (p, i) =>
      val op = i.toLong
      tracer.span("op", op) {
        val (v, validateMs) = tracer.span("api.validate", op)(RecordsQuery.validate(p))
        rec("validate_us", validateMs * 1e3)
        v match {
          case Left(err) =>
            rec("service_ms", validateMs)
            rec("response_bytes", err.toJson.getBytes(UTF_8).length.toDouble)
          case Right(q) =>
            Counters.settle()
            val read0 = Counters.recordsRead.get()
            val (df, planMs) = tracer.span("api.plan", op)(RecordsQuery.plan(env, q, now))
            val (body, execMs) = tracer.span("api.execute", op)(RecordsQuery.toJsonArray(df))
            Counters.settle()
            val framesRead = Counters.recordsRead.get() - read0
            rec("plan_ms", planMs)
            rec("service_ms", validateMs + planMs + execMs)
            rec("response_bytes", body.getBytes(UTF_8).length.toDouble)
            rec("results", countRows(body).toDouble)
            rec("frames_read", framesRead.toDouble)
            // The op's frames: every frame when the engine scanned the whole
            // store, else only those inside the request's lookback window.
            val startMs = RecordsQuery.startTimestamp(q, now).toEpochMilli
            val ranges = shards.map { s =>
              val ts = frameTs(s)
              val lo =
                if (framesRead >= totalFrames) 0
                else { val k = ts.indexWhere(_ >= startMs); if (k < 0) ts.length else k }
              (s, lo.toLong, ts.length.toLong)
            }
            val (frames, readMs) = tracer.span("sources.read", op)(
              ranges.flatMap { case (s, lo, hi) => backend.read(s, lo, hi) })
            val (payloads, deaggMs) = tracer.span("kpl.deaggregate", op)(
              frames.map(f => (f.tsMillis, Layers.userPayloads(f.data))))
            rec("read_ms", readMs)
            rec("deaggregate_ms", deaggMs)
            rec("frames_replayed", frames.length.toDouble)
            rec("user_records", payloads.map(_._2.length).sum.toDouble)
            val inWindow = payloads.filter(_._1 >= startMs).flatMap(_._2)
            val (_, parseMs) = tracer.span("decode.parse", op)(Layers.parseAndFilter(inWindow, q))
            rec("parse_ms", parseMs)
            rec("decoded", inWindow.length.toDouble)
        }
      }
    }
    Option(cmd.get("spans_path")).foreach(p => tracer.writeJsonl(p.asText()))
    out.toMap.map { case (k, v) => k -> v.toSeq } ++
      Map("total_frames" -> totalFrames, "ops" -> ops.length)
  }

  /** Rows in a `toJsonArray` body: every generated payload, valid or not,
    * starts with the same `{"eventId":"` prefix, which occurs nowhere else. */
  private def countRows(body: String): Int = {
    val marker = "{\"eventId\":\""
    var n = 0
    var i = body.indexOf(marker)
    while (i >= 0) { n += 1; i = body.indexOf(marker, i + marker.length) }
    n
  }
}
