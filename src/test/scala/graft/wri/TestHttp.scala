package graft.wri

import java.util.concurrent.atomic.AtomicInteger

/** The ONE configurable HTTP range-server fixture for every spec that
  * exercises hosted-raster reads (RemoteIoSpec, CogQuerySpec previously
  * carried diverging copies). Serves files under `dir` with RFC 9110
  * range semantics, plus the failure knobs the robustness specs need:
  * dropped connections, 503 throttles, redirects, Content-Range skew,
  * and a Range-ignoring server. `requested` records EVERY request's
  * path (HEAD included — "zero requests for excluded layers" audits);
  * `gets` records GET paths only (fetch-count economy assertions, where
  * the HEAD length probe must not count as a byte fetch); `ranges`
  * records each GET's path and `Range` header (which GET was a header
  * prefix and which a tile); `connection` records each request's
  * method and `Connection` header. */
object TestHttp {
  def withHttpServer[T](dir: String,
      ignoreRange: Boolean = false,
      failFirstN: Int = 0,
      throttleFirstN: Int = 0,
      contentRangeSkew: Long = 0L,
      redirectTo: Option[String] = None,
      requested: Option[java.util.concurrent.ConcurrentLinkedQueue[String]] =
        None,
      gets: Option[java.util.concurrent.ConcurrentLinkedQueue[String]] =
        None,
      ranges: Option[
        java.util.concurrent.ConcurrentLinkedQueue[(String, String)]] = None,
      connection: Option[
        java.util.concurrent.ConcurrentLinkedQueue[(String, String)]] = None,
      // when set, every request must carry this exact (name, value)
      // header or be answered 401 — the token-protected-mirror knob
      requireAuth: Option[(String, String)] = None)(f: String => T): T = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val failures = new AtomicInteger(failFirstN)
    val throttles = new AtomicInteger(throttleFirstN)
    server.createContext("/", { exchange =>
      requested.foreach(_.add(exchange.getRequestURI.getPath))
      if (exchange.getRequestMethod == "GET") {
        gets.foreach(_.add(exchange.getRequestURI.getPath))
        ranges.foreach(_.add((exchange.getRequestURI.getPath,
          Option(exchange.getRequestHeaders.getFirst("Range"))
            .getOrElse("<none>"))))
      }
      connection.foreach(_.add((exchange.getRequestMethod,
        Option(exchange.getRequestHeaders.getFirst("Connection"))
          .getOrElse("<none>"))))
      if (failures.getAndDecrement() > 0) {
        // die without a response: the client sees a transient IOException
        exchange.close()
      } else if (throttles.getAndDecrement() > 0) {
        // the CDN/object-store throttle answer — transient by contract
        exchange.sendResponseHeaders(503, -1)
        exchange.close()
      } else if (redirectTo.isDefined) {
        exchange.getResponseHeaders.set("Location",
          redirectTo.get + exchange.getRequestURI.getPath)
        exchange.sendResponseHeaders(301, -1)
        exchange.close()
      } else if (requireAuth.exists { case (n, v) =>
          exchange.getRequestHeaders.getFirst(n) != v }) {
        exchange.sendResponseHeaders(401, -1)
        exchange.close()
      } else {
        val file = new java.io.File(dir, exchange.getRequestURI.getPath)
        if (!file.isFile) {
          exchange.sendResponseHeaders(404, -1)
        } else if (exchange.getRequestMethod == "HEAD") {
          exchange.getResponseHeaders.set("Content-Length",
            file.length.toString)
          exchange.sendResponseHeaders(200, -1)
        } else {
          val bytes = java.nio.file.Files.readAllBytes(file.toPath)
          val range = Option(exchange.getRequestHeaders.getFirst("Range"))
            .filter(_ => !ignoreRange)
            .map(_.stripPrefix("bytes=").split("-"))
            .map { case Array(a, b) =>
              (a.toLong, math.min(b.toLong, bytes.length - 1L)) }
          range match {
            case Some((a, b)) =>
              // RFC 9110: Content-Range is mandatory on a 206, and the
              // reader validates it before trusting any byte
              exchange.getResponseHeaders.set("Content-Range",
                s"bytes ${a + contentRangeSkew}-${b + contentRangeSkew}" +
                  s"/${bytes.length}")
              exchange.sendResponseHeaders(206, b - a + 1)
              exchange.getResponseBody.write(bytes, a.toInt,
                (b - a + 1).toInt)
            case None =>
              exchange.sendResponseHeaders(200, bytes.length.toLong)
              exchange.getResponseBody.write(bytes)
          }
        }
        exchange.close()
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }
}
