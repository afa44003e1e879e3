package graft.ct

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Exercises the production HTTP entry source against a local stub CT log
  * (zero-egress): get-sth, get-entries, log-list fetch, and StreamIngest's
  * retry through get-sth failures (S9). */
class CtHttpSourceSpec extends AnyFunSuite {

  /** Stub CT logs on loopback: every log URL under `url` serves the same 3
    * entries. `transient` 503s that many of the next get-sth calls; a log
    * URL under `/down` answers every get-sth with 503. `outages` counts the
    * 503s served. */
  private final class Stub {
    val transient = new java.util.concurrent.atomic.AtomicInteger(0)
    val outages = new java.util.concurrent.atomic.AtomicInteger(0)
    private val http = HttpServer.create(new InetSocketAddress(0), 0)
    http.createContext("/", ex => {
      val path = ex.getRequestURI.getPath
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body: String = path match {
        case p if p.endsWith("/ct/v1/get-sth") =>
          if (p.startsWith("/down/") || transient.getAndDecrement() > 0) {
            outages.incrementAndGet(); null
          } else """{"tree_size": 3, "timestamp": 1700000000}"""
        case p if p.endsWith("/ct/v1/get-entries") =>
          val params = q.split("&").map(_.split("=")).map(a => a(0) -> a(1)).toMap
          val (s, e) = (params("start").toLong, params("end").toLong)
          (s to e)
            .map(_ => s"""{"leaf_input": "${Fixtures.leafB64()}", "extra_data": ""}""")
            .mkString("""{"entries": [""", ",", "]}")
        case _ => """{"operators": []}"""
      }
      if (body == null) { ex.sendResponseHeaders(503, -1); ex.close() }
      else {
        val b = body.getBytes(UTF_8)
        ex.sendResponseHeaders(200, b.length)
        ex.getResponseBody.write(b); ex.close()
      }
    })
    http.start()
    val url = s"http://127.0.0.1:${http.getAddress.getPort}"
    def stop(): Unit = http.stop(0)
  }

  private def withStub(f: Stub => Unit): Unit = {
    val stub = new Stub
    try f(stub) finally stub.stop()
  }

  private def logList(logs: (String, String, String)*): String =
    logs.map { case (name, url, state) =>
      s"""{"description":"$name","url":"$url","state":{"$state":{}}}"""
    }.mkString("""{"operators":[{"logs":[""", ",", "]}]}")

  private def ingestOpts(logListJson: String) = Map(
    "loglist" -> logListJson, "now" -> "2024-01-15T00:00:00Z", "batchsize" -> "2")

  private val t0 = () => java.sql.Timestamp.valueOf("2024-01-15 00:00:00")

  test("get-sth and get-entries parse the CT API responses") {
    withStub { stub =>
      val src = new CtHttpSource()
      val log = LogList.CtLog("Stub Log", stub.url, "usable")
      assert(src.treeSize(log) == 3L)
      val entries = src.fetchEntries(log, 0, 2)
      assert(entries.length == 3)
      assert(entries.map(_.entry_index) == Seq(0L, 1L, 2L))
      assert(entries.head.leaf_input == Fixtures.leafB64())
    }
  }

  test("log-list fetch serves from the daily disk cache within the TTL (S1)") {
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val http = HttpServer.create(new InetSocketAddress(0), 0)
    http.createContext("/", ex => {
      hits.incrementAndGet()
      val b = """{"operators": []}""".getBytes(UTF_8)
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    })
    http.start()
    try {
      val url = s"http://127.0.0.1:${http.getAddress.getPort}/log_list.json"
      val cache = java.nio.file.Files.createTempDirectory("loglist")
        .resolve("cache").resolve("log_list.json")
      val src = new CtHttpSource()
      assert(src.fetchLogListCached(url, cache).contains("operators"))
      assert(hits.get() == 1)
      assert(src.fetchLogListCached(url, cache).contains("operators"))
      assert(hits.get() == 1) // second call within TTL: no network hit
      // age the cache past the TTL → refetch
      java.nio.file.Files.setLastModifiedTime(cache,
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().minus(java.time.Duration.ofHours(25))))
      assert(src.fetchLogListCached(url, cache).contains("operators"))
      assert(hits.get() == 2)
    } finally http.stop(0)
  }

  test("ingest loop retries through transient source failures (S9)") {
    withStub { stub =>
      val spark = graft.SparkSpec.session
      val store = java.nio.file.Files.createTempDirectory("http-store").toString
      val ckpt = java.nio.file.Files.createTempDirectory("http-ckpt").toString
      stub.transient.set(2) // next two get-sth calls 503
      val q = StreamIngest.start(spark,
        ingestOpts(logList(("Stub Log", stub.url, "frozen"))), store, ckpt, t0,
        Trigger.ProcessingTime(100L))
      try {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (q.recentProgress.map(_.numInputRows).sum < 3L && q.isActive &&
            System.nanoTime() < deadline)
          Thread.sleep(50)
      } finally { q.stop(); q.awaitTermination() }
      assert(stub.outages.get() == 2, "both 503s were served")
      assert(q.recentProgress.map(_.numInputRows).sum == 3L)
      // 1 cert × 3 domains after dedup, despite two failed triggers
      assert(CertStore.read(spark, store).count() == 3)
    }
  }

  test("one log's failing get-sth holds only that log: the other is fully ingested") {
    withStub { stub =>
      val spark = graft.SparkSpec.session
      val store = java.nio.file.Files.createTempDirectory("http-down-store").toString
      val ckpt = java.nio.file.Files.createTempDirectory("http-down-ckpt").toString
      val logs = logList(("Up Log", s"${stub.url}/up", "usable"),
        ("Down Log", s"${stub.url}/down", "usable"))
      StreamIngest.start(spark, ingestOpts(logs), store, ckpt, t0,
        Trigger.AvailableNow()).awaitTermination()
      assert(stub.outages.get() > 0, "the down log's get-sth was asked")
      val rows = CertStore.read(spark, store)
      assert(rows.count() == 3)
      assert(rows.select("log_name").distinct().collect().map(_.getString(0)).toSeq
        == Seq("Up_Log"))
    }
  }
}
