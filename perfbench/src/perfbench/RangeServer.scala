package perfbench

import java.io.{File, RandomAccessFile}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Serves the files of one directory over loopback HTTP with Range
  * support: the paper's hosted-COG mode. Counts every request, the range
  * requests that start past a file's first byte (tile fetches; a reader
  * takes the header prefix from offset 0), and every body byte it sends. */
final class RangeServer(dir: String, threads: Int) extends AutoCloseable {
  val requests = new AtomicLong
  val tileRequests = new AtomicLong
  val bytesSent = new AtomicLong

  private val pool = Executors.newFixedThreadPool(threads)
  private val server =
    HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit =
    try {
      requests.incrementAndGet()
      val f = new File(dir, ex.getRequestURI.getPath)
      if (!f.isFile) ex.sendResponseHeaders(404, -1)
      else if (ex.getRequestMethod == "HEAD") {
        ex.getResponseHeaders.set("Content-Length", f.length.toString)
        ex.sendResponseHeaders(200, -1)
      } else {
        val len = f.length
        val (a, b) = Option(ex.getRequestHeaders.getFirst("Range"))
          .map(_.stripPrefix("bytes=").split("-"))
          .map(r => (r(0).toLong, math.min(r(1).toLong, len - 1)))
          .getOrElse((0L, len - 1))
        if (a > 0) tileRequests.incrementAndGet()
        val n = (b - a + 1).toInt
        val buf = new Array[Byte](n)
        val raf = new RandomAccessFile(f, "r")
        try { raf.seek(a); raf.readFully(buf) } finally raf.close()
        if (ex.getRequestHeaders.containsKey("Range")) {
          ex.getResponseHeaders.set("Content-Range", s"bytes $a-$b/$len")
          ex.sendResponseHeaders(206, n)
        } else ex.sendResponseHeaders(200, n)
        ex.getResponseBody.write(buf)
        bytesSent.addAndGet(n)
      }
    } finally ex.close()

  def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(30, TimeUnit.SECONDS)
  }
}
