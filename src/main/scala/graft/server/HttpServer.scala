package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** ClickHouse-compatible HTTP API (reference `main.py:262-358`):
  *
  *  - `GET/POST /` — `query` param (POST body appended), `default_format`,
  *    `database`, `query_id` (cache replay), basic auth → tenant
  *  - `POST /` with `INSERT INTO t` + JSONEachRow body — bulk ingest
  *  - `GET /play` — SQL play UI
  *  - `GET /ping` — health check "Ok"
  *
  * Built on the JDK's HttpServer (zero extra deps; the env has no egress).
  * Each request runs on a cloned SparkSession scoped to its tenant database,
  * so concurrent queries and inserts don't share mutable session state —
  * the reference's "concurrent inserts and querying" claim
  * (`README.md:14`) maps to Spark's natural multi-session concurrency.
  *
  * Every reply is two writes on the socket: `sendResponseHeaders` flushes
  * the status line and headers, then the body follows (`respond` writes
  * the whole array, `respondStream` its chunks). With Nagle's algorithm on,
  * a small body waits behind the unacknowledged header segment until the
  * client's delayed ACK arrives (~40 ms on Linux), so every small reply on
  * a kept-alive connection (`/ping`, cache replays, `/flight/info`, ingest
  * acks, errors) took ~44 ms. `start` therefore turns `TCP_NODELAY` on for
  * every accepted connection. The JDK exposes this only as the system
  * property `sun.net.httpserver.nodelay`, which it reads once per process
  * when its first server is created, so the property must be set before
  * the first JDK `HttpServer` of the process starts: a server started
  * earlier without it fixes Nagle on for the whole process.
  */
final class HttpServer(spark: SparkSession, port: Int = 8123, uiDir: Option[String] = None) {

  private val tenants = new TenantManager(spark)
  private val cache = new ResultCache
  private var server: JdkHttpServer = _
  private var workers: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    // before the first create: the JDK reads it once per process (see the
    // class doc — without it each small reply waits for a delayed ACK)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = JdkHttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/", handle _)
    workers = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(workers)
    server.start()
    server.getAddress.getPort
  }

  /** Stops accepting, then ends the worker threads (they are not daemons,
    * so a pool left running keeps the JVM alive), waiting up to 10 s for
    * requests still in flight. */
  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (workers != null) {
      workers.shutdown()
      workers.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    }
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split('&').toIndexedSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(java.net.URLDecoder.decode(k, "UTF-8") ->
          java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) => Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def respond(ex: HttpExchange, code: Int, bytes: Array[Byte],
      contentType: String = "application/json; charset=UTF-8"): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
    ex.close()
  }

  private def respondText(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, (msg + "\n").getBytes(StandardCharsets.UTF_8), "text/plain")

  /** Chunked 200 reply (length 0): `write` streams the body through a
    * 64 KiB buffer, so a huge result never becomes one driver-side array.
    * A failure inside `write` leaves a truncated chunked body — the wire
    * signal for a mid-stream error. */
  private def respondStream(ex: HttpExchange, contentType: String)(
      write: java.io.OutputStream => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.getResponseHeaders.set("Access-Control-Allow-Origin", "*")
    ex.sendResponseHeaders(200, 0)
    val os = new java.io.BufferedOutputStream(ex.getResponseBody, 64 * 1024)
    try { write(os); os.flush() }
    finally { try os.close() catch { case _: Throwable => }; ex.close() }
  }

  private def handle(ex: HttpExchange): Unit =
    try route(ex)
    catch {
      case e: Throwable =>
        // if streaming already sent headers, this respond throws — the
        // connection just closes with a truncated chunked body, which is
        // the correct wire signal for a mid-stream failure
        try respond(ex, 500, Option(e.getMessage).getOrElse("internal error")
          .getBytes(StandardCharsets.UTF_8), "text/plain")
        catch { case _: Throwable => ex.close() }
    }

  private def route(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath
    val noQuery = {
      val p = queryParams(ex)
      p.get("query").isEmpty && p.get("query_id").isEmpty
    }
    path match {
      case "/ping" => respond(ex, 200, "Ok\n".getBytes, "text/plain")
      case p if p.startsWith("/flight/") => serveFlight(ex, p)
      // GET and HEAD both land on the console when no query is present
      // (reference routes them identically, main.py:262,279-280)
      case "/play" | "/" if (ex.getRequestMethod == "GET" ||
        ex.getRequestMethod == "HEAD") && noQuery => serveUi(ex)
      // reference: unknown paths fall back to the UI (404→index.html,
      // main.py:340-352) so deep links into the console work
      case p if p != "/" && ex.getRequestMethod == "GET" && noQuery => serveUi(ex)
      case _ => serveQuery(ex)
    }
  }

  /** Flight semantics over HTTP: the gRPC transport's jars are not
    * available in this environment (zero egress — see README), so the
    * byte-level Flight handlers ([[graft.flight.FlightActions]]) are
    * exposed as HTTP endpoints with the same request/response payloads a
    * Flight transport would carry:
    *
    *  - `POST /flight/do_get` — ticket bytes (raw SQL or JSON `{query}`)
    *    in the body → Arrow IPC stream of the result
    *  - `POST /flight/do_put?table=t` — Arrow IPC body → append; returns
    *    the `{rows_inserted: int64}` Arrow response table
    *  - `POST /flight/do_exchange?table=t` — per-batch insert loop, same
    *    response table
    *  - `GET /flight/info?query=…` — result schema as a schema-only Arrow
    *    IPC stream, read off the analyzed plan: no optimize, plan or
    *    execute step runs; `?path=<command>` — path-mode
    *    FlightInfo for the canned catalog flights (ticket echoed in the
    *    `X-Flight-Ticket` header)
    *  - `GET /flight/list_flights` — msgpack+zstd envelope of FlightInfo
    *    entries; no filter → the 4 canned catalog flights, the reference's
    *    `airport-list-flights-filter-catalog/-schema` headers (or
    *    `catalog`/`schema` params) → table listing
    *  - `GET /flight/list_schemas?catalog=…` — msgpack+zstd Airport
    *    envelope
    */
  private def serveFlight(ex: HttpExchange, path: String): Unit = {
    import graft.flight.FlightActions
    import graft.arrowio.ArrowIO
    val params = queryParams(ex)
    // read the request body lazily: the ingest endpoints decode it
    // incrementally from the stream instead (bounded driver memory)
    def body(): Array[Byte] = ex.getRequestBody.readAllBytes()
    val auth = tenants.parseAuthHeader(
      Option(ex.getRequestHeaders.getFirst("Authorization")))
    val session = tenants.sessionFor(auth, params.get("database"))
    val arrowType = "application/vnd.apache.arrow.stream"
    path match {
      case "/flight/do_get" =>
        val bodyBytes = body()
        val ticket = if (bodyBytes.nonEmpty) bodyBytes
          else params.getOrElse("ticket", "").getBytes(StandardCharsets.UTF_8)
        if (ticket.isEmpty) respondText(ex, 400, "no ticket")
        else {
          // analysis runs here, so bad SQL answers 400 before any header,
          // as on the query branch
          scala.util.Try(graft.engine.Engine.sqlScript(session, FlightActions.parseTicket(ticket)))
            .fold(e => respondText(ex, 400, QueryExecutor.errorMessage(e)),
              // each sealed record batch flushes to the client (gRPC do_get
              // likewise sends a stream of batches)
              df => respondStream(ex, arrowType)(ArrowIO.toArrowStreamTo(df, _)))
        }
      case "/flight/do_put" | "/flight/do_exchange" =>
        params.get("table") match {
          case None => respondText(ex, 400, "missing table param")
          case Some(table) =>
            // both routes use the incremental per-batch append (the
            // reference's do_exchange shape, main.py:1057-1075) reading
            // straight from the request stream — the upload body is never
            // materialized driver-side
            val resp = FlightActions.doExchange(session, table, ex.getRequestBody)
            respond(ex, 200, resp, arrowType)
        }
      case "/flight/info" =>
        // path mode first (reference main.py:834-851): ?path=show_databases
        // names a canned flight — reply is its schema-only IPC stream, the
        // ticket SQL echoed in a header so the client can do_get it
        params.get("path") match {
          case Some(p) =>
            FlightActions.pathFlightInfo(session, p) match {
              case Some((schema, ticket)) =>
                ex.getResponseHeaders.set("X-Flight-Ticket", ticket)
                respond(ex, 200, ArrowIO.schemaIpc(schema), arrowType)
              case None => respondText(ex, 404, s"no flight for path $p")
            }
          case None =>
            val sql = params.getOrElse("query", new String(body(), StandardCharsets.UTF_8))
            // schema without execution (S20), as in path mode
            if (sql.trim.isEmpty) respondText(ex, 400, "no query")
            else respond(ex, 200,
              ArrowIO.schemaIpc(FlightActions.commandSchema(session, sql)), arrowType)
        }
      case "/flight/list_flights" =>
        // filters arrive as the reference's airport-* headers or as query
        // params; both filters present → table listing, else canned flights
        def filter(header: String, param: String): Option[String] =
          Option(ex.getRequestHeaders.getFirst(header)).orElse(params.get(param))
        respond(ex, 200, FlightActions.listFlightsEnvelope(session,
          filter("airport-list-flights-filter-catalog", "catalog"),
          filter("airport-list-flights-filter-schema", "schema")),
          "application/octet-stream")
      case "/flight/list_schemas" =>
        respond(ex, 200,
          FlightActions.listSchemas(session, params.getOrElse("catalog", "spark_catalog")),
          "application/octet-stream")
      case _ =>
        respondText(ex, 404, s"unknown flight endpoint $path")
    }
  }

  private def serveUi(ex: HttpExchange): Unit = {
    val html = uiDir.map(d => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d, "index.html")), StandardCharsets.UTF_8))
      .getOrElse(PlayUi.html)
    val bytes = html.getBytes(StandardCharsets.UTF_8)
    if (ex.getRequestMethod == "HEAD") {
      ex.getResponseHeaders.set("Content-Type", "text/html; charset=UTF-8")
      ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
      ex.sendResponseHeaders(200, -1)
      ex.close()
    } else respond(ex, 200, bytes, "text/html; charset=UTF-8")
  }

  private def serveQuery(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val auth = tenants.parseAuthHeader(
      Option(ex.getRequestHeaders.getFirst("Authorization")))
    val defaultFormat = params.getOrElse("default_format", "JSONCompact")
    // a query_id names a result within its tenant and database: another
    // tenant's replay of the same id must not see it
    val cacheKey = params.get("query_id").map(id =>
      s"${tenants.tenantDatabase(auth)}\u0000${params.getOrElse("database", "")}\u0000$id")
    val paramQuery = params.getOrElse("query", "")

    // POST INSERT with NDJSON body (reference main.py:228-229,196-211):
    // the body streams straight off the socket into chunked appends — it
    // is never read into a String (a large bulk insert would OOM the
    // server; the other branches below still need the full body as SQL)
    val insertTarget = if (ex.getRequestMethod == "POST" && paramQuery.nonEmpty)
      QueryExecutor.insertTarget(paramQuery) else None
    if (insertTarget.isDefined) {
      val session = tenants.sessionFor(auth, params.get("database"))
      QueryExecutor.runInsertStream(session, insertTarget.get, ex.getRequestBody) match {
        case Right(_) =>
          cacheKey.foreach(id => cache.put(id, Array.emptyByteArray))
          respond(ex, 200, Array.emptyByteArray)
        case Left(err) => respondText(ex, 400, err)
      }
      return
    }

    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

    // cache replay: query_id with no query (reference main.py:276-278)
    if (paramQuery.isEmpty && body.isEmpty && cacheKey.nonEmpty) {
      cache.get(cacheKey.get) match {
        case Some(bytes) => respond(ex, 200, bytes)
        case None => respondText(ex, 404, "query_id not cached")
      }
      return
    }

    val session = tenants.sessionFor(auth, params.get("database"))

    val sql = if (paramQuery.nonEmpty && body.nonEmpty) s"$paramQuery\n$body"
      else if (paramQuery.nonEmpty) paramQuery else body
    if (sql.trim.isEmpty) { respondText(ex, 400, "no query"); return }
    // Analysis happened in prepare, so bad SQL answers 400 before any
    // header goes out
    QueryExecutor.prepare(session, sql, defaultFormat) match {
      case Left(err) => respondText(ex, 400, err)
      case Right(p) if ex.getRequestMethod == "HEAD" =>
        // HEAD: Content-Length + Accept-Ranges, no body (reference
        // main.py:290-298 — it too must encode the result to know the
        // length). The bytes are counted, none kept, and a runtime error
        // still answers 400 since nothing has been sent yet.
        val counter = new org.apache.commons.io.output.CountingOutputStream(
          java.io.OutputStream.nullOutputStream())
        try {
          graft.formats.Encoders.encodeTo(p.df, p.format, p.t0, counter)
          ex.getResponseHeaders.set("Content-Type", "application/json; charset=UTF-8")
          ex.getResponseHeaders.set("Accept-Ranges", "bytes")
          ex.getResponseHeaders.set("Content-Length", counter.getByteCount.toString)
          ex.sendResponseHeaders(200, -1)
          ex.close()
        } catch { case e: Throwable => respondText(ex, 400, QueryExecutor.errorMessage(e)) }
      case Right(p) =>
        // only runtime failures can strike mid-stream (the client sees a
        // truncated chunked body)
        respondStream(ex, "application/json; charset=UTF-8") { os =>
          cacheKey match {
            case None => graft.formats.Encoders.encodeTo(p.df, p.format, p.t0, os)
            case Some(id) =>
              val tee = new TeeOutputStream(os)
              graft.formats.Encoders.encodeTo(p.df, p.format, p.t0, tee)
              // cache only a COMPLETE result — a mid-stream failure must
              // not leave a truncated body replayable under its query_id;
              // an over-cap result is not cached (its replay answers 404)
              tee.copy.fold(cache.remove(id))(cache.put(id, _))
          }
        }
    }
  }

  /** Duplicates writes into a cache copy until the copy would pass
    * [[ResultCache.maxBytes]], then drops it; flush/close act on the
    * response stream only. */
  private final class TeeOutputStream(main: java.io.OutputStream) extends java.io.OutputStream {
    private var buf = new java.io.ByteArrayOutputStream()
    /** The whole result, or None once it outgrew the cap. */
    def copy: Option[Array[Byte]] = Option(buf).map(_.toByteArray)
    private def keep(n: Int): Boolean = {
      if (buf != null && buf.size.toLong + n > ResultCache.maxBytes) buf = null
      buf != null
    }
    override def write(b: Int): Unit = { main.write(b); if (keep(1)) buf.write(b) }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      main.write(b, off, len)
      if (keep(len)) buf.write(b, off, len)
    }
    override def flush(): Unit = main.flush()
    override def close(): Unit = main.close()
  }
}

/** Standalone entry point (reference S24 lifecycle, `main.py:1107-1127`). */
object HttpServerMain {
  def main(args: Array[String]): Unit = {
    val port = sys.env.getOrElse("GRAFT_HTTP_PORT", "8123").toInt
    val spark = graft.engine.Engine.localSession()
    sys.env.get("SPARK_GRAFT_SF_DIR").foreach(d => graft.engine.Engine.registerTables(spark, d))
    val s = new HttpServer(spark, port, sys.env.get("GRAFT_UI_DIR"))
    val actual = s.start()
    println(s"graft-spark HTTP listening on :$actual")
    Thread.currentThread.join()
  }
}
