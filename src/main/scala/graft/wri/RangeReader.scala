package graft.wri

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Bounded byte-range access to one raster — the COG client contract
  * (`/root/reference/README.md:329-335`: COGs exist so clients stream
  * sub-windows via range requests instead of downloading files). Every
  * [[CogQuery]] read goes through this seam, so the same window code
  * serves local disk, HDFS/S3 (Hadoop schemes), and plain HTTP range
  * requests — the reference's actual serving mode.
  *
  * Implementations must be cheap to construct per file (one open per
  * layer task) and are used single-threaded within a task.
  */
trait RangeReader extends AutoCloseable {
  /** Total byte length of the object. */
  def length: Long
  /** Read exactly `buf.length` bytes starting at `offset`. */
  def readFully(offset: Long, buf: Array[Byte]): Unit
  /** The object's first `min(n, length)` bytes — the header prefix. A
    * reader that learns the length from this read itself overrides it,
    * so opening a file and reading its prefix cost one request. */
  def readPrefix(n: Int): Array[Byte] = {
    val buf = new Array[Byte](math.min(length, n.toLong).toInt)
    readFully(0L, buf)
    buf
  }
}

object RangeReader {

  /** Per-host auth-header configuration prefix. The reference names
    * authenticated range access its own Future path
    * (`/root/reference/README.md:209-214`: API tokens, credential
    * management, authenticated range reads) — the day the rasters move
    * off public hosting, every consumer verb must be able to present a
    * credential. One Hadoop conf key per HOST:
    *
    *   spark.hadoop.graft.http.auth.header.data.example.org =
    *     Authorization: Bearer <token>
    *
    * The value is one full header (`Name: value`); it rides on EVERY
    * request (HEAD + range GETs) to that host, and on no other host —
    * per-host scoping is the point: a bearer for the data mirror must
    * never leak to a redirect target or a second catalog. A key may
    * also name an explicit port (`...header.host.example.org:8443`),
    * which then WINS over the bare-host key for URLs on that port and
    * keeps the credential off the host's other ports; and a configured
    * credential refuses plain `http://` to non-loopback hosts
    * ([[authHeaderFor]]'s cleartext guard). The conf is
    * already what ships to executors (WriFs.confBroadcast), so the
    * credential reaches range reads wherever the task runs without any
    * new plumbing. */
  val AuthHeaderPrefix = "graft.http.auth.header."

  /** `host` names a loopback address textually — no DNS resolution (a
    * lookup here would make credential scoping depend on a resolver).
    * The 127/8 arm matches only a full IPv4 LITERAL: a DNS name whose
    * first label happens to be "127" (127.data.example.org) is a real
    * remote host and must NOT slip past the cleartext guard on a
    * string prefix. */
  private def isLoopback(host: String): Boolean =
    host == "localhost" || host == "::1" || host == "[::1]" ||
      host.matches("127(\\.\\d{1,3}){3}")

  /** The auth header configured for `url`'s host, if any. Lookup
    * precedence: the port-scoped key `<host>:<port>` (when the URL
    * names an explicit port) wins over the bare `<host>` key, so two
    * services on one host can carry distinct credentials — and a
    * credential scoped to a port never rides the other ports.
    *
    * Cleartext guard: a configured credential is REFUSED (loudly, not
    * silently dropped — silence would turn every request into a 401
    * with a misleading "no conf" message) when the URL is plain
    * `http://` to a non-loopback host; a bearer on the wire in
    * cleartext is a leak, not a transport choice. Loopback http stays
    * allowed — local test servers are the one legitimate cleartext
    * case. */
  private[wri] def authHeaderFor(url: String,
      conf: Configuration): Seq[(String, String)] = {
    val uri = java.net.URI.create(url)
    val host = uri.getHost
    val keys = Option(host).toSeq.flatMap { h =>
      (if (uri.getPort >= 0) Seq(s"$h:${uri.getPort}") else Nil) :+ h
    }
    keys.iterator
      .flatMap(k => Option(conf.get(AuthHeaderPrefix + k)).map((k, _)))
      .take(1).map { case (key, v) =>
        val i = v.indexOf(':')
        require(i > 0,
          s"$AuthHeaderPrefix$key must hold one 'Name: value' header, " +
            s"got '$v'")
        // scheme compared case-insensitively: URI schemes are
        // case-insensitive by RFC 3986 and HTTP clients accept
        // `HTTP://...`, so a case-sensitive check here would let an
        // uppercase scheme walk the bearer past the guard
        require(!"http".equalsIgnoreCase(uri.getScheme) || isLoopback(host),
          s"a credential is configured ($AuthHeaderPrefix$key) but " +
            s"$url is plain http:// to a non-loopback host — sending " +
            "the header would put it on the wire in cleartext. Use " +
            "https://, or unset the key if the mirror is genuinely " +
            "unauthenticated")
        (v.substring(0, i).trim, v.substring(i + 1).trim)
      }.toSeq
  }

  /** Reader for `url` — `http(s)://` goes over HTTP Range requests
    * (with the host's configured auth header, if any), everything else
    * resolves through the Hadoop [[Path]] machinery (`file://`, bare
    * paths, `hdfs://`, any registered scheme). */
  def open(url: String, conf: Configuration): RangeReader =
    if (url.startsWith("http://") || url.startsWith("https://"))
      new HttpRangeReader(url, headers = authHeaderFor(url, conf))
    else new HadoopRangeReader(url, conf)
}

/** Positioned reads through the Hadoop FileSystem API —
  * `FSDataInputStream.readFully(pos, buf)` is the seek+readFully range
  * contract, and on HDFS it reads only the blocks the range touches. */
final class HadoopRangeReader(url: String, conf: Configuration)
    extends RangeReader {
  private val path = new Path(url)
  private val fs = path.getFileSystem(conf)
  val length: Long = fs.getFileStatus(path).getLen
  private val in = fs.open(path)
  def readFully(offset: Long, buf: Array[Byte]): Unit =
    in.readFully(offset, buf)
  def close(): Unit = in.close()
}

/** HTTP Range-request reader — the COG serving mode the reference's
  * hosted catalog assumes: one `Range: bytes=a-b` GET per requested
  * range (header prefix + each tile). The object length comes from the
  * prefix read's own answer — the `Content-Range` total of a 206, or
  * the body of a 200 that fits the prefix — so an open plus its prefix
  * is ONE request; a `HEAD` goes out only when [[length]] is asked
  * before any answer carried it. A server that ignores Range (responds
  * 200 with the full body) is rejected loudly rather than silently
  * downloading whole rasters — the economy IS the contract; the one
  * legitimate 200 is a request whose range covers the entire object
  * (RFC 9110 permits either answer there).
  *
  * Robustness contract:
  *   - `Connection: close` rides on every request: the reader hangs up
  *     after each one, and RFC 9112 §9.6 requires a client that does
  *     not keep connections open to say so. A server that keeps them
  *     open instead and runs with Nagle's algorithm on (the JDK's
  *     HttpServer does) holds any response shorter than one TCP segment
  *     — every header prefix — until the client's delayed ACK, ~40 ms;
  *   - `Accept-Encoding: identity` rides on every request, so
  *     Content-Length and Range offsets always speak raw object bytes
  *     (a transparently-gzipping server would otherwise hand back
  *     lengths inconsistent with the byte offsets of later requests);
  *   - redirects the HTTP client will not follow transparently (e.g.
  *     cross-protocol http->https) are rejected with a message naming
  *     the redirect target instead of a bare 3xx;
  *   - a 206's `Content-Range` offsets are validated against the
  *     requested range before any byte is trusted;
  *   - transient failures are retried with backoff up to `maxAttempts`
  *     per request: `IOException`s (reset connections, mid-body EOF)
  *     AND throttle/server-side statuses (429, 5xx — the canonical
  *     CDN/object-store SlowDown answers); contract violations (Range
  *     ignored, bad offsets, 4xx other than 429) never retry. */
final class HttpRangeReader(url: String, maxAttempts: Int = 3,
    headers: Seq[(String, String)] = Nil)
    extends RangeReader {
  require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")

  private def connect(range: Option[(Long, Long)]) = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    // one connection per request, announced (see the class contract)
    c.setRequestProperty("Connection", "close")
    // raw bytes or nothing: a Content-Encoding would break the
    // Content-Length/Range-offset arithmetic this reader lives on
    c.setRequestProperty("Accept-Encoding", "identity")
    // the host's configured credential (RangeReader.AuthHeaderPrefix)
    // rides on every request — HEAD and range GETs alike. A credential
    // NEVER rides a redirect: auto-follow re-sends request properties
    // to wherever Location points, which would hand the bearer to any
    // host the (possibly compromised) origin names — so with headers
    // set, redirects are not followed and surface through
    // [[rejectRedirect]]'s loud, target-naming refusal instead.
    if (headers.nonEmpty) c.setInstanceFollowRedirects(false)
    headers.foreach { case (n, v) => c.setRequestProperty(n, v) }
    range.foreach { case (a, b) =>
      c.setRequestProperty("Range", s"bytes=$a-$b")
    }
    c
  }

  /** The answer's status after the checks every request shares:
    * redirect, auth and transient refusals. */
  private def status(c: java.net.HttpURLConnection, what: String): Int = {
    val code = c.getResponseCode
    rejectRedirect(code, c, what)
    rejectUnauthorized(code, what)
    rejectTransient(code, what)
    code
  }

  /** A 401/403 is an AUTH contract failure, not a transient blip and
    * not a Range violation: fail immediately, naming the per-host conf
    * key that fixes it — the first thing a consumer hits the day the
    * data moves behind token-protected storage. */
  private def rejectUnauthorized(code: Int, what: String): Unit =
    if (code == 401 || code == 403) {
      val host = java.net.URI.create(url).getHost
      throw new IllegalArgumentException(
        s"$what $url -> $code (${if (code == 401) "unauthorized"
          else "forbidden"}) — the server requires credentials" +
          (if (headers.isEmpty) "; none are configured for this host. " +
            s"Set ${RangeReader.AuthHeaderPrefix}$host to " +
            "'Authorization: Bearer <token>' (or the header your " +
            "provider expects) in the Hadoop/Spark configuration"
          else ". A credential IS configured for this host but the " +
            "server rejected it — check the token's validity and scope"))
    }

  /** HttpURLConnection only auto-follows same-protocol redirects; a 3xx
    * that reaches us is one it refused — fail naming the target so the
    * operator sees "this catalog moved to https://..." instead of a
    * bare status code. */
  private def rejectRedirect(code: Int, c: java.net.HttpURLConnection,
      what: String): Unit =
    if (code >= 300 && code < 400) {
      val target = Option(c.getHeaderField("Location")).getOrElse("<unset>")
      throw new IllegalArgumentException(
        s"$what $url -> $code redirect to $target — follow manually " +
          "(cross-protocol redirects are not followed)")
    }

  /** Throttle and server-side statuses are transient by nature — a 503
    * SlowDown mid-sweep must not fail a 64-layer catalog job. Raise
    * them as `IOException` so [[withRetries]] treats them exactly like
    * a reset connection; every other unexpected status stays a
    * non-retried contract violation. */
  private def rejectTransient(code: Int, what: String): Unit =
    if (code == 429 || (code >= 500 && code < 600))
      throw new java.io.IOException(s"$what $url -> $code (transient)")

  /** Run `attempt` up to [[maxAttempts]] times, retrying ONLY transient
    * I/O failures; contract violations surface immediately. */
  private def withRetries[T](attempt: () => T): T = {
    var tries = 0
    while (true) {
      tries += 1
      try return attempt()
      catch {
        case _: java.io.IOException if tries < maxAttempts =>
          Thread.sleep(100L * tries)
      }
    }
    sys.error("unreachable")
  }

  /** Set by the first answer that states the object length. */
  private var knownLength = -1L

  def length: Long = {
    if (knownLength < 0) knownLength = withRetries { () =>
      val c = connect(None)
      c.setRequestMethod("HEAD")
      try {
        val code = status(c, "HEAD")
        require(code == 200, s"HEAD $url -> $code")
        val len = c.getContentLengthLong
        require(len >= 0, s"HEAD $url returned no Content-Length")
        len
      } finally c.disconnect()
    }
    knownLength
  }

  /** A 206's `Content-Range` as (first, last, total when stated); the
    * caller checks it against its request before trusting any byte. */
  private def contentRange(
      c: java.net.HttpURLConnection): (Long, Long, Option[Long]) = {
    val cr = Option(c.getHeaderField("Content-Range")).getOrElse("")
    val m = "bytes (\\d+)-(\\d+)/(\\d+|\\*)".r.findFirstMatchIn(cr)
    require(m.isDefined, s"GET $url -> 206 with unparsable " +
      s"Content-Range '$cr'")
    (m.get.group(1).toLong, m.get.group(2).toLong,
      m.get.group(3).toLongOption)
  }

  private def rejectRange(c: java.net.HttpURLConnection, a: Long,
      b: Long): Nothing =
    throw new IllegalArgumentException(s"GET $url asked bytes=$a-$b, " +
      s"server answered '${c.getHeaderField("Content-Range")}'")

  private def readBody(c: java.net.HttpURLConnection, offset: Long,
      buf: Array[Byte]): Unit = {
    val in = c.getInputStream
    try {
      var off = 0
      while (off < buf.length) {
        val n = in.read(buf, off, buf.length - off)
        if (n < 0) throw new java.io.EOFException(
          s"short range read from $url at $offset ($off/${buf.length})")
        off += n
      }
    } finally in.close()
  }

  def readFully(offset: Long, buf: Array[Byte]): Unit = {
    if (buf.length == 0) return
    val last = offset + buf.length - 1
    withRetries { () =>
      val c = connect(Some((offset, last)))
      try {
        val code = status(c, "GET")
        // a 200 is acceptable ONLY when the requested range is the whole
        // object — then "the full body" and "the range" are the same
        // bytes; anywhere else it means Range was ignored. The length
        // is asked only then, so tile reads never cost a HEAD.
        require(code == 206 || (code == 200 && offset == 0 &&
            buf.length.toLong == length),
          s"GET $url range $offset+${buf.length} -> $code " +
            "(server does not honor Range requests)")
        if (code == 206) {
          val (a, b, _) = contentRange(c)
          if (a != offset || b != last) rejectRange(c, offset, last)
        }
        readBody(c, offset, buf)
      } finally c.disconnect()
    }
  }

  /** One GET for `bytes=0-(n-1)` that also learns the length: a 206
    * states it in its Content-Range total (clamping the range to a
    * shorter object), and a 200 is the whole object, accepted only when
    * it fits the prefix — a larger 200 means Range was ignored. */
  override def readPrefix(n: Int): Array[Byte] = withRetries { () =>
    val c = connect(Some((0L, n - 1L)))
    try {
      val code = status(c, "GET")
      val size =
        if (code == 206) {
          val (a, b, total) = contentRange(c)
          if (a != 0 || !total.fold(b < n)(t => b == math.min(t, n.toLong) - 1))
            rejectRange(c, 0, n - 1L)
          total.foreach(knownLength = _)
          b + 1
        } else {
          val len = c.getContentLengthLong
          require(code == 200 && len >= 0 && len <= n,
            s"GET $url range 0+$n -> $code (server does not honor " +
              "Range requests)")
          knownLength = len
          len
        }
      val buf = new Array[Byte](size.toInt)
      readBody(c, 0L, buf)
      buf
    } finally c.disconnect()
  }

  def close(): Unit = ()
}
