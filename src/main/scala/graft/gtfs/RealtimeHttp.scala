package graft.gtfs

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.util.GraftConfig

/** HTTP transport over [[RealtimeApp.routes]] — the last edge shim
  * between the engine and the reference's serving surface
  * (realtime.py:76-101 mounts the configured GET routes on FastAPI;
  * realtime.py:93-101 adds the CORS middleware when
  * `app.cors_enabled`). Everything behind the transport (assembly,
  * caching, RSS gating, the review loop) lives in [[RealtimeApp]];
  * this class only binds a socket, so it uses the JDK's built-in
  * `com.sun.net.httpserver` — no server dependency enters the build.
  *
  * Response shape mirrors the reference endpoints: feed bytes are
  * `application/octet-stream` (realtime.py:305), the RSS channel is
  * `application/rss+xml` (realtime.py:616-621), only GET is mounted
  * (realtime.py:83-91 `methods=['GET']`), and CORS — when enabled —
  * allows any origin with credentials, GET only (realtime.py:95-101).
  *
  * Routes are re-resolved from [[RealtimeApp.routes]] per request, so
  * each hit flows through the app's per-feed TTL response cache
  * exactly as a FastAPI request body does — a served byte array is
  * identical to the golden assembly at the same clock (spec-pinned).
  *
  * Scale note: serving is driver-side I/O over already-assembled
  * bytes (the Spark work happens in the entity providers, amortized
  * by the cache TTLs) — a production deployment fronts this with any
  * load balancer; no engine state lives in the server object.
  */
final class RealtimeHttp(app: RealtimeApp, config: GraftConfig, port: Int = 0) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val corsEnabled = config.getBoolean("app.cors_enabled")

  server.createContext("/", (exchange: HttpExchange) => handle(exchange))
  server.setExecutor(null)

  /** realtime.py:616 vs 305: xml routes are the RSS channel, every
    * other mounted route serves protobuf feed bytes.
    */
  private def contentType(path: String): String =
    if (path.endsWith(".xml")) "application/rss+xml"
    else "application/octet-stream"

  /** A route body that throws (a failed Spark job in feed assembly)
    * answers 500 and logs one stderr line, instead of resetting the
    * connection with no status.
    */
  private def handle(exchange: HttpExchange): Unit = {
    val path = exchange.getRequestURI.getPath
    try {
      val headers = exchange.getResponseHeaders
      if (corsEnabled) {
        headers.set("Access-Control-Allow-Origin", "*")
        headers.set("Access-Control-Allow-Credentials", "true")
        headers.set("Access-Control-Allow-Methods", "GET")
        headers.set("Access-Control-Allow-Headers", "*")
      }
      if (exchange.getRequestMethod != "GET")
        respond(exchange, 405, "method not allowed".getBytes(StandardCharsets.UTF_8))
      else
        app.routes.get(path) match {
          case Some(body) =>
            val bytes = body()
            headers.set("Content-Type", contentType(path))
            respond(exchange, 200, bytes)
          case None =>
            respond(exchange, 404, "not found".getBytes(StandardCharsets.UTF_8))
        }
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[graft] realtime GET $path failed: $e")
        if (exchange.getResponseCode < 0)
          respond(exchange, 500, "internal server error".getBytes(StandardCharsets.UTF_8))
    } finally exchange.close()
  }

  private def respond(exchange: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    exchange.sendResponseHeaders(status, if (body.isEmpty) -1L else body.length.toLong)
    if (body.nonEmpty) {
      val os = exchange.getResponseBody
      try os.write(body)
      finally os.flush()
    }
  }

  def start(): this.type = { server.start(); this }

  /** The bound port — pass 0 to the constructor for an ephemeral one. */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)
}
