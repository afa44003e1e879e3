package graft.ct

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.sql.{Date, Timestamp}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.util.control.NonFatal
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The reference's REST surface (/root/reference/api/app.py) served over
  * the Spark engine — dependency-free via the JDK's HttpServer.
  *
  * Response shapes follow the reference: list-of-row-lists for /domain,
  * /subdomains, /recent, /tld (Flask jsonify of result_rows), a
  * column-name dict for /stats, {bytes, human_readable} for /size, an SSE
  * stream for /stream, and the route table at /.
  *
  * Deviations (documented): timestamps render as ISO-8601 UTC (the
  * reference's Flask renders RFC 822); /stream advances a keyset cursor on
  * the full (ts, fingerprint, domain, log_name) row-identity key (SURVEY
  * §2.10 ST4) instead of the reference's lossy `ts >` — loss-free even
  * when many batches of rows share one timestamp or the same cert appears
  * in several logs; rate limiting matches the reference's
  * flask-limiter defaults (app.py:10-11): fixed per-minute window per
  * client IP, DISABLED by default (`rateLimitPerMin` = None), 429 with an
  * error body when exceeded; a /stream poll that finds no new rows sends
  * one SSE comment line (`:`) as a heartbeat, which SSE clients ignore,
  * so a subscriber that went away is noticed at the next poll and its
  * `maxStreams` slot freed even while the store gets no commits.
  *
  * The reference trusts X-Forwarded-For for the IP allowlist because it
  * assumes a trusted reverse proxy (app.py:47). Served directly that header
  * is client-controlled spoofing, so honoring it is opt-in here via
  * `trustProxy` (default false = socket address only).
  *
  * Serving is driver-side: each request runs a DataFrame query whose scan
  * prunes partitions/row-groups by the request predicate (SURVEY §4) and
  * collects only the bounded result (every endpoint is LIMITed or
  * single-row by shape). /stream connections are long-lived poll loops, so
  * they run on their own unbounded executor (capped by `maxStreams`, excess
  * rejected 503) and never starve the request pool.
  */
class Server(spark: SparkSession, table: () => DataFrame, storePath: String,
    port: Int = 0, now: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
    allowedIps: Option[Set[String]] = None, trustProxy: Boolean = false,
    streamBatch: Int = 100, streamPollMs: Long = 2000L, maxStreams: Int = 64,
    rateLimitPerMin: Option[Int] = None) {

  private val http = HttpServer.create(new InetSocketAddress(port), 0)
  @volatile private var streaming = true
  private val activeStreams = new java.util.concurrent.atomic.AtomicInteger(0)
  private val streamPool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-sse"); t.setDaemon(true); t
  })
  // non-daemon: released by stop(), or the JVM could not exit
  private val requestPool = java.util.concurrent.Executors.newFixedThreadPool(4)

  def boundPort: Int = http.getAddress.getPort

  // ---- JSON rendering (tiny, dependency-free) ----
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  private def jval(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case t: Timestamp => jval(tsFmt.format(Instant.ofEpochMilli(t.getTime)))
    case d: Date => jval(d.toString)
    case s: scala.collection.Seq[_] => s.map(jval).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => jval(String.valueOf(k)) + ":" + jval(x) }.mkString("{", ",", "}")
    case b: Boolean => b.toString
    case n => n.toString
  }

  private def rowsAsLists(df: DataFrame): String =
    df.collect().map(r => jval(r.toSeq)).mkString("[", ",", "]")

  private def rowAsDict(r: Row): String =
    jval(r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap)

  private def send(ex: HttpExchange, code: Int, body: String,
      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The client's address hops: behind a trusted proxy the
    * X-Forwarded-For list (socket address when absent), otherwise the
    * socket address alone. ACCESS CONTROL takes the FIRST hop (reference
    * parity, app.py:47 — assumes the proxy REPLACES the header); RATE
    * LIMITING takes the LAST — the one value the proxy itself appended,
    * which a client cannot forge. Keying abuse control on the first hop
    * would let any client mint a fresh window per request (and grow the
    * window map unboundedly) by randomizing the header. Never empty:
    * the split keeps empty hops, so a header of bare commas is an
    * unlisted client, not a failed request. */
  private def clientHops(ex: HttpExchange): Seq[String] = {
    val socket = ex.getRemoteAddress.getAddress.getHostAddress
    val raw =
      if (trustProxy)
        Option(ex.getRequestHeaders.getFirst("X-Forwarded-For")).getOrElse(socket)
      else socket
    raw.split(",", -1).map(_.trim).toSeq
  }

  /** P13 allowlist (reference app.py:27-53): if a non-empty allowlist is
    * configured, the client IP must be in it; everything else is a 403.
    * The X-Forwarded-For header is honored only behind a trusted proxy
    * (`trustProxy`); otherwise the socket address is authoritative. */
  private def ipAllowed(ex: HttpExchange): Boolean = allowedIps match {
    case None => true
    case Some(ips) => ips.contains(clientHops(ex).head)
  }

  /** Fixed-window per-IP rate limiter (reference flask-limiter "100 per
    * minute", app.py:10-11; off unless `rateLimitPerMin` is set). Windows
    * key on (ip, epochMinute); stale windows are pruned opportunistically
    * so the map stays bounded by the active-client count. */
  private val rateWindows = new java.util.concurrent.ConcurrentHashMap[(String, Long), java.util.concurrent.atomic.AtomicInteger]()

  private def rateLimited(ex: HttpExchange): Boolean = rateLimitPerMin match {
    case None => false
    case Some(limit) =>
      val ip = clientHops(ex).last
      val minute = now().getTime / 60000L
      rateWindows.keySet.removeIf(k => k._2 < minute - 1)
      val n = rateWindows.computeIfAbsent((ip, minute),
        _ => new java.util.concurrent.atomic.AtomicInteger(0)).incrementAndGet()
      n > limit
  }

  /** Parse the reference's ips.txt format: one IP per line, blanks and
    * #-comments skipped; an empty result disables the filter. */
  def this(spark: SparkSession, table: () => DataFrame, storePath: String,
      port: Int, now: () => Timestamp, ipsFile: java.nio.file.Path) =
    this(spark, table, storePath, port, now,
      allowedIps = {
        if (java.nio.file.Files.exists(ipsFile)) {
          val ips = scala.io.Source.fromFile(ipsFile.toFile).getLines()
            .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSet
          if (ips.nonEmpty) Some(ips) else None
        } else None
      })

  private def handle(path: String, ex: HttpExchange): Unit = {
    if (!ipAllowed(ex)) { send(ex, 403, jval(Map("error" -> "Access denied"))); return }
    if (rateLimited(ex)) { send(ex, 429, jval(Map("error" -> "rate limit exceeded"))); return }
    val parts = path.stripPrefix("/").split("/", 2)
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val params = query.split("&").filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    (parts(0), parts.lift(1)) match {
      case ("", None) =>
        val routes = Seq("/", "/domain/<name>", "/subdomains/<base>", "/recent/<base>",
          "/tld/<tld>", "/stats", "/size", "/stream")
        send(ex, 200, jval(routes.map(r => Map("url" -> r))))
      case ("domain", Some(name)) =>
        send(ex, 200, rowsAsLists(CtQueries.domainLookup(table(), name)))
      case ("subdomains", Some(base)) =>
        send(ex, 200, rowsAsLists(CtQueries.subdomains(table(), base)))
      case ("recent", Some(base)) =>
        send(ex, 200, rowsAsLists(CtQueries.recent(table(), base, now())))
      case ("tld", Some(tld)) =>
        val limit = params.get("limit").flatMap(s => s.toIntOption).getOrElse(100)
        send(ex, 200, rowsAsLists(CtQueries.tldTopk(table(), tld, limit)))
      case ("stats", None) =>
        params.get("date") match {
          case Some(d) if scala.util.Try(Date.valueOf(d)).isFailure =>
            send(ex, 400, jval(Map("error" -> "Invalid date format. Use YYYY-MM-DD")))
          case dOpt =>
            val date = dOpt.map(Date.valueOf)
              .getOrElse(new Date(now().getTime)) // today() default, app.py:181
            val rows = CtQueries.stats(table(), date).collect()
            if (rows.isEmpty) send(ex, 200, "{}")
            else send(ex, 200, rowAsDict(rows(0)).dropRight(1) +
              s""","date":${jval(dOpt.getOrElse("today"))}}""")
        }
      case ("size", None) =>
        val b = CertStore.sizeBytes(spark, storePath)
        send(ex, 200, jval(Map("bytes" -> b, "human_readable" -> CertStore.humanBytes(b))))
      case ("stream", None) =>
        // SSE poll loop (2 s cadence, app.py:272) with a keyset cursor on
        // the full (ts, fingerprint, domain) sort key: each poll resumes
        // STRICTLY after the last emitted row, so >batch rows sharing one
        // timestamp drain over successive polls instead of livelocking.
        // Long-lived: runs on the dedicated stream pool, never a request
        // thread; excess concurrent streams are rejected, not queued.
        if (activeStreams.incrementAndGet() > maxStreams) {
          activeStreams.decrementAndGet()
          send(ex, 503, jval(Map("error" -> "too many streams")))
        } else streamPool.execute { () =>
          ex.getResponseHeaders.set("Content-Type", "text/event-stream")
          try {
            ex.sendResponseHeaders(200, 0)
            val out = ex.getResponseBody
            var cursor: Option[(Timestamp, String, String, String)] = None
            while (streaming) {
              // sorted (ts, fingerprint, domain, log_name)
              val rows = CtQueries.streamTailAfter(table(), cursor, streamBatch).collect()
              // an empty poll writes the heartbeat: the write is what
              // finds a closed client, so an idle store cannot hold a
              // dead subscriber's slot
              if (rows.isEmpty) out.write(":\n\n".getBytes(UTF_8))
              rows.foreach { r =>
                out.write(s"data: ${jval(r.toSeq)}\n\n".getBytes(UTF_8))
              }
              out.flush()
              rows.lastOption.foreach { last =>
                cursor = Some((last.getAs[Timestamp]("ts"),
                  last.getAs[String]("fingerprint"), last.getAs[String]("domain"),
                  last.getAs[String]("log_name")))
              }
              // full batch ⇒ backlog: drain immediately, only idle-sleep when caught up
              if (rows.length < streamBatch) Thread.sleep(streamPollMs)
            }
          } catch {
            // the client went away, or stop() ended the feed: a normal close
            case _: java.io.IOException | _: InterruptedException => ()
            case _ if !streaming => ()
            // a failed poll is reported to the subscriber, not hidden as
            // a close: one `event: error` frame carrying the message
            case NonFatal(e) =>
              System.err.println(s"[server] /stream poll failed: $e")
              try {
                val out = ex.getResponseBody
                out.write(("event: error\ndata: " +
                  jval(Map("error" -> String.valueOf(e.getMessage))) + "\n\n").getBytes(UTF_8))
                out.flush()
              } catch { case _: java.io.IOException => () }
          }
          finally { activeStreams.decrementAndGet(); ex.close() }
        }
      case _ => send(ex, 404, jval(Map("error" -> "not found")))
    }
  }

  def start(): Server = {
    http.createContext("/", (ex: HttpExchange) =>
      try handle(ex.getRequestURI.getPath, ex)
      catch { case e: Throwable =>
        try send(ex, 500, jval(Map("error" -> String.valueOf(e.getMessage))))
        catch { case _: Throwable => () }
      })
    http.setExecutor(requestPool)
    http.start()
    this
  }

  def stop(): Unit = {
    streaming = false
    http.stop(0)
    requestPool.shutdownNow()
    streamPool.shutdownNow()
  }
}
