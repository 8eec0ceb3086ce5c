package graftbench

import java.io.{BufferedReader, File, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Engine side of the benchmark: one JVM that hosts the program under test
  * and executes commands sent by `perfbench/run.py` over stdin, one JSON
  * object per line. Every reply is one stdout line `@@ {json}`; anything
  * else on stdout/stderr is log noise. The generator, the oracle and the
  * HTTP load client live in `run.py`, so this process receives
  * only generated inputs (file paths) and reports raw observations.
  */
object Engine {
  private val mapper = new ObjectMapper()
  @volatile var spark: SparkSession = _
  var workDir: String = _

  def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // Same optimizer exclusion the repository's own Bench main runs with:
      // the inferred generator filter re-runs the tokenizer per element.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.stopTimeout", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    workDir = new File(args(0)).getAbsolutePath
    val cores = args(1).toInt
    // Replies go to the real stdout; everything the engine prints goes to
    // stderr so a stray println can never be mistaken for a reply.
    val replies = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    spark = session(cores)
    // Commands are `<area>.<name>`; an area's handler is made on first use.
    val handlers = scala.collection.mutable.Map.empty[String, Command]
    def handler(area: String): Command = handlers.getOrElseUpdate(area, area match {
      case "http" => new RecordsHttp
      case "stream" => new StreamCatchup
      case "gate" => new CorpusGate
      case other => sys.error(s"unknown command area $other")
    })
    val in = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    var running = true
    while (running) {
      val line = in.readLine()
      if (line == null) running = false
      else if (line.trim.nonEmpty) {
        val cmd = mapper.readTree(line)
        val name = cmd.get("cmd").asText()
        val reply: Map[String, Any] =
          try {
            name match {
              case "env" => env(cores)
              case "trace_on" =>
                spark.sparkContext.addSparkListener(Counters)
                Counters.snapshot()
              case "trace_off" =>
                val c = Counters.snapshot()
                spark.sparkContext.removeSparkListener(Counters)
                c
              case "quit" => running = false; Map("peak_rss_mb" -> peakRssMb())
              case _ =>
                val dot = name.indexOf('.')
                handler(name.take(dot))(name.drop(dot + 1), cmd)
            }
          } catch {
            case e: Throwable =>
              e.printStackTrace()
              Map("error" -> s"${e.getClass.getName}: ${e.getMessage}")
          }
        replies.println("@@ " + Json.render(reply))
      }
    }
    try spark.stop() catch { case _: Throwable => () }
    replies.flush()
    System.exit(0)
  }

  /** Machine facts recorded with every run: cores, heap, and a fixed CPU
    * reference timing (2^26 rows of codegen'd arithmetic plus one aggregate,
    * the same workload as the repository Bench main's `cpu_ref_sec`), so
    * figures from different machines can be normalized. */
  private def env(cores: Int): Map[String, Any] = {
    spark.range(1L << 20).selectExpr("sum(id * 2)").collect()
    val t0 = System.nanoTime()
    spark.range(1L << 26).selectExpr("sum(id * 3 + (id % 7))").collect()
    Map(
      "cpu_ref_ms" -> (System.nanoTime() - t0) / 1e6,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "spark_version" -> spark.version)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def long(n: JsonNode, k: String): Long = n.get(k).asLong()
  def params(n: JsonNode): Map[String, String] =
    n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def writeText(path: String, text: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes(UTF_8))
  }
}

/** The command handler of one area (`http`, `stream`, `gate`). */
trait Command {
  def apply(name: String, cmd: JsonNode): Map[String, Any]
}

/** Spark-side counters for the traced window: jobs, tasks, shuffle bytes,
  * and input records read by scans. Registered only between `trace_on` and
  * `trace_off`, so untraced measurements carry no listener. Listener events arrive asynchronously,
  * so a snapshot waits until the counts stop moving. */
object Counters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleBytes = new AtomicLong
  val recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def settle(): Unit = {
    var last = -1L
    var now = tasks.get() + jobs.get()
    var waited = 0
    while (last != now && waited < 40) {
      Thread.sleep(50); waited += 1
      last = now; now = tasks.get() + jobs.get()
    }
  }

  def snapshot(): Map[String, Any] = {
    settle()
    Map("jobs" -> jobs.get(), "tasks" -> tasks.get(),
      "shuffle_bytes" -> shuffleBytes.get(), "records_read" -> recordsRead.get(),
      "gc_ms" -> Engine.gcMs())
  }
}

/** In-memory span store for the traced replays: (name, start, end, parent,
  * op id). Spans nest by call order on the calling thread; they are written
  * out once, when the benchmark ends. */
final class Tracer {
  private final case class Span(name: String, start: Long, var end: Long, parent: Int, op: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Runs `f` inside a span; returns its result and the span's duration
    * in ms. */
  def span[T](name: String, op: Long)(f: => T): (T, Double) = {
    val id = spans.length
    spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1), op)
    open = id :: open
    val r = try f finally {
      open = open.tail
      spans(id).end = System.nanoTime()
    }
    (r, (spans(id).end - spans(id).start) / 1e6)
  }

  def writeJsonl(path: String): Unit =
    Engine.writeText(path, spans.iterator.zipWithIndex.map { case (s, i) =>
      Json.render(Map("id" -> i, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "op" -> s.op))
    }.mkString("", "\n", "\n"))
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_] => render(a.toSeq)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** The layer calls the traced replays time, shared by the record workloads. */
object Layers {
  import graft.api.{EventSchema, RecordsQuery}
  import graft.kpl.KplCodec
  import org.apache.spark.sql.functions.col

  /** User payloads of one physical record, as the engine's de-aggregation
    * yields them: an aggregate's records, a bare record itself, nothing for
    * a corrupt aggregate (the `/records` plans drop those). */
  def userPayloads(data: Array[Byte]): Seq[Array[Byte]] =
    KplCodec.deaggregate(data) match {
      case KplCodec.Aggregate(ps) => ps
      case KplCodec.Single(p) => Seq(p)
      case KplCodec.Corrupt(_, _) => Seq.empty
    }

  /** `EventSchema.parse` plus the query predicate over local payloads, run
    * to completion into the noop sink. */
  def parseAndFilter(payloads: Seq[Array[Byte]], q: RecordsQuery.Query): Unit = {
    val spark = Engine.spark
    import spark.implicits._
    val df = payloads.map(Tuple1(_)).toDF("payload")
    EventSchema.parse(df).filter(RecordsQuery.predicate(q))
      .select(col("json"), col("event"))
      .write.format("noop").mode("overwrite").save()
  }
}
