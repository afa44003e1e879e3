package graft.bench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Stub RFC 6962 logs over a corpus: `get-sth` and `get-entries` for every
  * log of the corpus on one loopback JDK HttpServer, at `/log<i>`.
  * `treeSize(log, nowMs)` sets how many entries each log exposes at a given
  * time, so a fixed backlog and an open-loop growth schedule use the same
  * server. Counts what it serves, for the `log.*` metrics. */
final class StubLog(corpus: Corpus, treeSize: (Int, Long) => Int) {
  val sthCalls = new AtomicLong
  val entriesCalls = new AtomicLong
  val entriesServed = new AtomicLong
  val bytesServed = new AtomicLong

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
    val t = new Thread(r, "stub-log"); t.setDaemon(true); t
  })
  private val http = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  http.createContext("/", (ex: HttpExchange) =>
    try serve(ex) catch { case e: Throwable => reply(ex, 500, s"""{"error":"${e.getClass.getSimpleName}"}""") })
  http.setExecutor(pool)
  http.start()

  def url(log: Int): String = s"http://127.0.0.1:${http.getAddress.getPort}/log$log"

  /** Log-list JSON in the CT log-list v3 shape, every log usable. */
  def logListJson: String = corpus.logNames.indices.map { i =>
    s"""{"description":"${corpus.logNames(i)}","url":"${url(i)}","state":{"usable":{}}}"""
  }.mkString("""{"operators":[{"name":"bench","logs":[""", ",", "]}]}")

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
    bytesServed.addAndGet(b.length)
  }

  private def serve(ex: HttpExchange): Unit = {
    val parts = ex.getRequestURI.getPath.split('/') // "", "log<i>", "ct", "v1", op
    val log = parts.lift(1).filter(_.startsWith("log")).flatMap(_.drop(3).toIntOption)
      .filter(corpus.logNames.indices.contains)
    val size = log.map(l => treeSize(l, System.currentTimeMillis())).getOrElse(0)
    (log, parts.lift(4)) match {
      case (Some(_), Some("get-sth")) =>
        sthCalls.incrementAndGet()
        reply(ex, 200, s"""{"tree_size":$size,"timestamp":${System.currentTimeMillis()}}""")
      case (Some(l), Some("get-entries")) =>
        entriesCalls.incrementAndGet()
        val q = Option(ex.getRequestURI.getQuery).getOrElse("").split('&')
          .flatMap(kv => kv.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }).toMap
        (q.get("start").flatMap(_.toLongOption), q.get("end").flatMap(_.toLongOption)) match {
          case (Some(s), Some(e)) if s >= 0 && s <= e && s < size =>
            val last = math.min(e, size - 1L).toInt
            val sb = new java.lang.StringBuilder("""{"entries":[""")
            (s.toInt to last).foreach { i =>
              if (i > s) sb.append(',')
              sb.append("""{"leaf_input":"""").append(corpus.leafAt(l, i)).append("""","extra_data":""}""")
            }
            entriesServed.addAndGet(last - s + 1)
            reply(ex, 200, sb.append("]}").toString)
          case _ => reply(ex, 400, """{"error":"bad range"}""")
        }
      case _ => reply(ex, 404, """{"error":"not found"}""")
    }
  }

  def stop(): Unit = { http.stop(0); pool.shutdownNow() }
}
