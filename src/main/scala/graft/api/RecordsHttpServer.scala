package graft.api

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.{ArrayBlockingQueue, ConcurrentHashMap, Future, RejectedExecutionException, ScheduledFuture, ScheduledThreadPoolExecutor, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** HTTP binding of the `GET /records` surface — the reference's primary
  * entry point (an Express route on port 4000, `app/server/index.js:43-85`),
  * reproduced over the JDK's built-in server so the engine exposes the same
  * wire contract without any new dependency:
  *
  *  - `GET /records?...` → 200 with the filtered records as a JSON array
  *    (`responses/index.js:26-37`: Content-Type application/json).
  *  - validation failure → 400 with the structured
  *    `{badRequest, missingRequiredParams, invalidParams}` body (O12).
  *  - source/scan failure → 400 with `{badRequest, error}`
  *    (`app/server/index.js:65-72`).
  *  - any other path → 404 (the Express default for an unmatched route).
  *
  * Serving. The JDK dispatch thread parses each request and answers the
  * cheap cases (404, the browser page, a validation 400) itself. A valid
  * `/records` request is a call: it runs on one of [[Workers]] pool threads
  * (one per core), waiting in a queue of at most [[QueueDepth]] calls, so
  * concurrent clients are served concurrently and none is buffered
  * without bound. Every call is answered exactly once:
  *
  *  - pool and queue full → 503 `{"error":"Service Unavailable","reason":"overloaded"}`,
  *    at once, on the dispatch thread.
  *  - not answered [[DeadlineMs]] after admission (queue wait included) →
  *    504 `{"error":"Gateway Timeout","reason":"deadline","deadlineMs":5000}`.
  *    The call's Spark jobs carry its own job tag; the deadline cancels
  *    them by that tag, interrupting their tasks, and interrupts the
  *    worker, so a hung backend read frees its cores and its worker.
  *    (The tag is a `SparkContext` job tag: `SparkSession.interruptTag`
  *    only finds tags that the calling thread added, and the deadline
  *    fires on another thread.)
  *  - [[stop]] → 503 `{"error":"Service Unavailable","reason":"stopping"}`
  *    for every call still open, whose jobs are cancelled the same way.
  *
  * Start-up cost. The deadline has no exemption for the first call: if
  * the SparkSession is not running yet, or the call is the first of its
  * filter shape (which of the five filters it names), that call pays the
  * session start or the code generation inside its 5 s and may answer
  * 504. Generated code depends on the shape, not on the ids
  * ([[EventSchema]]), so one warm-up call per shape covers every later
  * call of that shape. Callers start the session before [[start]] and
  * send warm-up calls before serving load, as
  * `RecordsHttpServerSpec.beforeAll` (which touches `spark.sparkContext`)
  * and perfbench's set-up (warm-up requests after each start) do.
  * [[start]] itself warms nothing, so it stays as cheap as binding the
  * port.
  *
  * The response body is the reference-parity bounded echo
  * ([[RecordsQuery.toJsonArray]]); a production deployment sinks the same
  * plan with `df.write` / `writeStream` instead of buffering it through an
  * HTTP response. The source seam is `envelope(streamname)` — exactly the
  * stub point the reference's own e2e suite injects
  * (`app/server/test/index.js:13-18`).
  */
final class RecordsHttpServer(
    envelope: String => DataFrame,
    port: Int = 0,
    now: () => Instant = () => Instant.now()) {
  import RecordsHttpServer._

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  server.createContext("/", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = handleSafely(ex)
  })
  // The dispatch thread only parses and routes; calls run on `workers`.
  server.setExecutor(null)

  // Thread names carry the bound port, e.g. `records-4000-worker-1`.
  private val threadPrefix = s"records-${server.getAddress.getPort}"
  private val workers = new ThreadPoolExecutor(Workers, Workers, 0L, TimeUnit.MILLISECONDS,
    new ArrayBlockingQueue[Runnable](QueueDepth), daemonThreads(s"$threadPrefix-worker"))
  private val deadlines =
    new ScheduledThreadPoolExecutor(1, daemonThreads(s"$threadPrefix-deadline"))
  deadlines.setRemoveOnCancelPolicy(true)
  private val calls = ConcurrentHashMap.newKeySet[Call]()

  /** Start listening; returns the bound port (useful with port=0). */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Refuse new calls, answer and cancel the open ones, then release the
    * socket and every pool thread. */
  def stop(): Unit = {
    workers.shutdown()
    calls.forEach(_.expire(503, Stopping))
    server.stop(0)
    workers.shutdownNow()
    deadlines.shutdownNow()
    workers.awaitTermination(DeadlineMs, TimeUnit.MILLISECONDS)
    deadlines.awaitTermination(DeadlineMs, TimeUnit.MILLISECONDS)
  }

  private def handleSafely(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case e: Throwable =>
        // e.g. malformed percent-encoding in the query string: answer with
        // the scan-failure error shape rather than dropping the connection.
        try respond(ex, 400, scanFailure(e))
        catch { case _: Throwable => ex.close() }
    }

  private def route(ex: HttpExchange): Unit =
    // The reference registers ONLY app.get('/records'); Express answers every
    // other (method, path) with its default 404 — mirror that, so a POST
    // never triggers a scan. Express serves HEAD through app.get too
    // (status + headers, no body), so HEAD is routed like GET and
    // [[respond]] suppresses the body. The browser client the reference
    // hosts as a separate static app (O15) is served here at GET / — one
    // self-contained page ([[RecordsUi]]) calling the same /records wire.
    if (Set("/", "/index.html", "/ui")(ex.getRequestURI.getPath) &&
        Set("GET", "HEAD")(ex.getRequestMethod))
      respond(ex, 200, RecordsUi.Html, contentType = "text/html; charset=utf-8")
    else if (ex.getRequestURI.getPath != "/records" ||
        !Set("GET", "HEAD")(ex.getRequestMethod))
      respond(ex, 404, """{"error":"Not Found"}""")
    else
      RecordsQuery.validate(parseQuery(ex.getRequestURI.getRawQuery)) match {
        case Left(err) => respond(ex, 400, err.toJson)
        case Right(q) => admit(new Call(ex, q))
      }

  private def admit(call: Call): Unit = {
    calls.add(call)
    try {
      call.deadline = deadlines.schedule(
        (() => call.expire(504, TimedOut)): Runnable, DeadlineMs, TimeUnit.MILLISECONDS)
      call.worker = workers.submit(call)
    } catch {
      case _: RejectedExecutionException =>
        call.expire(503, if (workers.isShutdown) Stopping else Overloaded)
    }
  }

  /** One admitted `/records` request: its Spark job tag, and its exchange,
    * answered once — by the worker, the deadline, overload or [[stop]]. */
  private final class Call(ex: HttpExchange, q: RecordsQuery.Query) extends Runnable {
    private val tag = s"graft-records-${callIds.incrementAndGet()}"
    private val answered = new AtomicBoolean(false)
    @volatile private var expired = false
    @volatile private var context: SparkContext = _
    @volatile var deadline: ScheduledFuture[_] = _
    @volatile var worker: Future[_] = _

    private def answer(status: Int, body: String): Boolean =
      answered.compareAndSet(false, true) && {
        try respond(ex, status, body)
        catch { case _: Throwable => ex.close() }
        true
      }

    def run(): Unit =
      try {
        val df = RecordsQuery.plan(envelope(q.streamName), q, now())
        val sc = df.sparkSession.sparkContext
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        context = sc
        try { if (!expired) answer(200, RecordsQuery.toJsonArray(df)) }
        finally {
          // A job that started after the deadline fired is cancelled here.
          if (expired) sc.cancelJobsWithTag(tag)
          sc.removeJobTag(tag)
        }
      } catch {
        // Scan-failure shape, `app/server/index.js:65-72`.
        case e: Throwable => answer(400, scanFailure(e))
      } finally close()

    /** Answer with an error unless already answered, and cancel the work. */
    def expire(status: Int, body: String): Unit = {
      expired = true
      if (answer(status, body)) {
        Option(context).foreach(_.cancelJobsWithTag(tag))
        Option(worker).foreach(_.cancel(true))
      }
      close()
    }

    private def close(): Unit = {
      Option(deadline).foreach(_.cancel(false))
      calls.remove(this)
    }
  }

  /** Last-one-wins query-string parse (no params → empty map). */
  private def parseQuery(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).toSeq
      .flatMap(_.split("&").toSeq).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
        else URLDecoder.decode(kv.substring(0, i), UTF_8) ->
          URLDecoder.decode(kv.substring(i + 1), UTF_8)
      }.toMap

  private def scanFailure(e: Throwable): String =
    s"""{"badRequest":true,"error":${jsonString(e.toString)}}"""

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def respond(ex: HttpExchange, status: Int, body: String,
                      contentType: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    if (ex.getRequestMethod == "HEAD") {
      // Express HEAD semantics: same status + headers as GET — INCLUDING the
      // Content-Length the GET body would have (the header HEAD exists to
      // convey) — with no body. The JDK server refuses an explicit length
      // for HEAD (and logs a warning), so set the header directly and
      // declare "no response body" with -1.
      ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
      ex.sendResponseHeaders(status, -1L)
    } else {
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    ex.close()
  }
}

object RecordsHttpServer {

  /** Pool threads serving `/records` calls: one per core. */
  val Workers: Int = Runtime.getRuntime.availableProcessors()

  /** Admitted calls that may wait for a worker; one more is refused (503). */
  val QueueDepth: Int = 32

  /** Per-call deadline from admission, the reference's only latency figure:
    * its e2e suite's 5 s bound (`app/server/test/index.js:26`). */
  val DeadlineMs: Long = 5000L

  /** Job tags are unique in the JVM: servers may share one SparkContext. */
  private val callIds = new AtomicLong()

  private val Overloaded = """{"error":"Service Unavailable","reason":"overloaded"}"""
  private val TimedOut = s"""{"error":"Gateway Timeout","reason":"deadline","deadlineMs":$DeadlineMs}"""
  private val Stopping = """{"error":"Service Unavailable","reason":"stopping"}"""

  private def daemonThreads(prefix: String): ThreadFactory = {
    val n = new AtomicLong()
    r => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
