package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.CorpusDedup

/** The dedup gate's layers (`ops`): an index `buildIndex` makes from a
  * generated corpus, and replays of the two halves of each
  * `CorpusDedup.gateStream` micro-batch over generated document batches. */
final class CorpusGate extends Command {
  /** Generated docs: one `doc_id<TAB>text` line each. */
  private def docs(path: String): Seq[(Long, String)] =
    Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq.filter(_.nonEmpty).map { l =>
      val t = l.indexOf('\t')
      (l.substring(0, t).toLong, l.substring(t + 1))
    }

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val spark = Engine.spark
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  def apply(name: String, cmd: JsonNode): Map[String, Any] = name match {
    case "build" =>
      val base = frame(docs(Engine.str(cmd, "base")))
      val t0 = System.nanoTime()
      CorpusDedup.buildIndex(base, "doc_id", "text", Engine.str(cmd, "index_dir"),
        buckets = cmd.get("buckets").asInt())
      Map("build_ms" -> (System.nanoTime() - t0) / 1e6) ++ indexStats(Engine.str(cmd, "index_dir"))
    case "stats" => indexStats(Engine.str(cmd, "index_dir"))
    case "replay" => replay(cmd)
  }

  /** Stored docs (signature rows), files and bytes under the index. */
  private def indexStats(indexDir: String): Map[String, Any] = {
    CorpusDedup.refreshIndex(Engine.spark, indexDir)
    val n = CorpusDedup.fromIndex(Engine.spark, indexDir).signatures.count()
    val files = Files.walk(Paths.get(indexDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).map(Files.size).toSeq
    Map("index_docs" -> n, "index_files" -> files.length, "index_bytes" -> files.sum)
  }

  /** Replays the gate's two halves through their public functions, one op
    * per batch: `scoreBatchAgainstIndex`, then `appendToIndex` of the
    * docs it verdicted novel (statistics restate deferred, as the gate
    * does). */
  private def replay(cmd: JsonNode): Map[String, Any] = {
    val indexDir = Engine.str(cmd, "index_dir")
    val tracer = new Tracer
    val paths = Engine.strings(cmd.get("batches"))
    val score = Seq.newBuilder[Double]
    val append = Seq.newBuilder[Double]
    val verdicts = Seq.newBuilder[Seq[Any]]
    paths.zipWithIndex.foreach { case (path, i) =>
      val op = i.toLong
      val rows = docs(path)
      tracer.span("op", op) {
        val (scored, scoreMs) = tracer.span("ops.score", op)(
          CorpusDedup.scoreBatchAgainstIndex(frame(rows), "doc_id", "text", indexDir)
            .select(col("doc_id"), col("is_novel")).collect())
        val novelIds = scored.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
        val (_, appendMs) = tracer.span("ops.append", op)(
          if (novelIds.nonEmpty)
            CorpusDedup.appendToIndex(frame(rows.filter(r => novelIds(r._1))),
              "doc_id", "text", indexDir, restateStats = false))
        score += scoreMs
        append += appendMs
        verdicts ++= scored.map(r => Seq(r.getLong(0), r.getBoolean(1)))
      }
    }
    Option(cmd.get("spans_path")).foreach(p => tracer.writeJsonl(p.asText()))
    Map("score_ms" -> score.result(), "append_ms" -> append.result(),
      "verdicts" -> verdicts.result(), "ops" -> paths.length)
  }
}
