package graft.ct

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SaveMode
import graft.SparkSpec

class ServerSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def afterAll(): Unit = {
    server.stop() // release the shared dispatcher thread + bound port
    super.afterAll()
  }
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val storeDir = {
    val dir = Files.createTempDirectory("server-store").toString
    val rows = Seq(
      CertDomain(ts("2024-01-15 10:00:00"), "a.example.com", "example.com", "f" * 64,
        "CN=CA", "CN=a", Seq("a.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1"),
      CertDomain(ts("2024-01-15 11:00:00"), "b.example.com", "example.com", "e" * 64,
        "CN=CA", "CN=b", Seq("b.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1"))
    CertStore.write(rows.toDF(), dir, SaveMode.Overwrite)
    dir
  }

  private lazy val server = new Server(spark, () => CertStore.read(spark, storeDir),
    storeDir, port = 0, now = () => ts("2024-01-15 12:00:00")).start()

  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("/ lists routes") {
    val (code, body) = get("/")
    assert(code == 200 && body.contains("/domain/<name>") && body.contains("/stream"))
  }

  test("/domain returns latest-first row lists") {
    val (code, body) = get("/domain/a.example.com")
    assert(code == 200)
    assert(body.startsWith("[[") && body.contains("a.example.com"))
    assert(!body.contains("b.example.com"))
  }

  test("/subdomains and /recent enumerate the base domain") {
    val (_, subs) = get("/subdomains/example.com")
    assert(subs.contains("a.example.com") && subs.contains("b.example.com"))
    val (_, rec) = get("/recent/example.com") // both rows within 24h of fixed now
    assert(rec.contains("a.example.com") && rec.contains("b.example.com"))
  }

  test("/tld applies LIKE suffix and limit clamp") {
    val (_, all) = get("/tld/com")
    assert(all.contains("a.example.com") && all.contains("b.example.com"))
    val (_, one) = get("/tld/com?limit=1")
    assert(one.contains("b.example.com") && !one.contains("a.example.com")) // most recent first
    val (_, clamped) = get("/tld/com?limit=99999") // clamps to 1000, still 200
    assert(clamped.contains("a.example.com"))
  }

  test("/stats returns a column dict; bad date is a 400") {
    val (code, body) = get("/stats?date=2024-01-15")
    assert(code == 200)
    assert(body.contains("\"total\":2") && body.contains("\"date\":\"2024-01-15\""))
    assert(get("/stats?date=nope")._1 == 400)
  }

  test("/size reports store bytes in reference format") {
    val (code, body) = get("/size")
    assert(code == 200)
    assert(body.contains("\"bytes\":") && body.contains("\"human_readable\":"))
    assert("\"bytes\":(\\d+)".r.findFirstMatchIn(body).get.group(1).toLong > 0)
  }

  test("/stream emits SSE frames for existing rows") {
    val req = HttpRequest.newBuilder(
      URI.create(s"http://127.0.0.1:${server.boundPort}/stream")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
    assert(resp.statusCode() == 200)
    assert(resp.headers().firstValue("Content-Type").orElse("").startsWith("text/event-stream"))
    val buf = new Array[Byte](8192)
    val n = resp.body().read(buf) // first chunk: the replayed table
    val chunk = new String(buf, 0, math.max(n, 0), java.nio.charset.StandardCharsets.UTF_8)
    assert(chunk.contains("data: ") && chunk.contains("a.example.com"))
    resp.body().close()
  }

  test("unknown route is 404") {
    assert(get("/nope")._1 == 404)
  }

  private def getWith(srv: Server, headers: Seq[(String, String)]): Int = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}/"))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString()).statusCode()
  }

  test("IP allowlist behind trustProxy honors first X-Forwarded-For hop (P13)") {
    val restricted = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => ts("2024-01-15 12:00:00"),
      allowedIps = Some(Set("10.1.2.3")), trustProxy = true).start()
    try {
      assert(getWith(restricted, Nil) == 403) // loopback not in list
      assert(getWith(restricted, Seq("X-Forwarded-For" -> "10.1.2.3, 192.168.0.1")) == 200)
      assert(getWith(restricted, Seq("X-Forwarded-For" -> "192.168.0.1, 10.1.2.3")) == 403)
    } finally restricted.stop()
  }

  test("IP allowlist served directly ignores the spoofable X-Forwarded-For header") {
    val direct = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => ts("2024-01-15 12:00:00"),
      allowedIps = Some(Set("10.1.2.3"))).start()
    try assert(getWith(direct, Seq("X-Forwarded-For" -> "10.1.2.3")) == 403)
    finally direct.stop()
    val loopback = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => ts("2024-01-15 12:00:00"),
      allowedIps = Some(Set("127.0.0.1"))).start()
    try assert(getWith(loopback, Nil) == 200)
    finally loopback.stop()
  }

  test("a proxied X-Forwarded-For of bare commas is an unlisted client, not a 500") {
    val srv = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => ts("2024-01-15 12:00:00"),
      allowedIps = Some(Set("10.1.2.3")), trustProxy = true,
      rateLimitPerMin = Some(3)).start()
    try assert(getWith(srv, Seq("X-Forwarded-For" -> ",")) == 403)
    finally srv.stop()
  }

  test("ipsFile allowlist (reference api/ips.txt): blank and # lines skipped, " +
      "a missing or empty file turns the filter off") {
    val dir = Files.createTempDirectory("server-ips")
    def file(name: String, lines: String*): java.nio.file.Path =
      Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8"))
    def statusWith(ipsFile: java.nio.file.Path): Int = {
      val srv = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
        0, () => ts("2024-01-15 12:00:00"), ipsFile).start()
      try getWith(srv, Nil) finally srv.stop()
    }
    // the loopback client listed among comments, blanks and padding
    assert(statusWith(file("listed.txt",
      "# office proxies", "", "  10.1.2.3  ", "127.0.0.1", "   ")) == 200)
    // any other IP listed: the loopback client is denied
    assert(statusWith(file("other.txt", "# office proxies", "10.1.2.3")) == 403)
    // only comments and blanks: nothing listed, so the filter is off
    assert(statusWith(file("comments.txt", "# nobody yet", "", "   ")) == 200)
    assert(statusWith(file("empty.txt")) == 200)
    assert(statusWith(dir.resolve("missing.txt")) == 200)
  }

  test("per-IP rate limit: fixed window 429s above the limit, resets next minute") {
    @volatile var clock = ts("2024-01-15 12:00:00")
    val limited = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => clock, rateLimitPerMin = Some(3)).start()
    try {
      assert((1 to 3).map(_ => getWith(limited, Nil)).forall(_ == 200))
      assert(getWith(limited, Nil) == 429) // 4th in the same minute
      clock = ts("2024-01-15 12:01:00")    // next window
      assert(getWith(limited, Nil) == 200)
    } finally limited.stop()
  }

  test("proxied rate limit keys on the proxy-appended last hop, not the forgeable first") {
    @volatile var clock = ts("2024-01-15 12:00:00")
    val limited = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, now = () => clock, trustProxy = true, rateLimitPerMin = Some(3)).start()
    try {
      // same real client (last hop) randomizing the first hop: windows must
      // NOT reset — forged first hops would otherwise evade the limit
      val codes = (1 to 4).map(i =>
        getWith(limited, Seq("X-Forwarded-For" -> s"10.0.0.$i, 198.51.100.7")))
      assert(codes.take(3).forall(_ == 200) && codes(3) == 429, s"got $codes")
      // a different real client has its own window
      assert(getWith(limited, Seq("X-Forwarded-For" -> "10.0.0.1, 198.51.100.8")) == 200)
    } finally limited.stop()
  }

  test("/stream drains more same-timestamp rows than one batch (keyset cursor, no livelock)") {
    val dir = Files.createTempDirectory("server-stream").toString
    val t0 = ts("2024-01-15 10:00:00")
    val rows = (0 until 5).map { i =>
      CertDomain(t0, s"d$i.example.com", "example.com", i.toString * 64,
        "CN=CA", s"CN=d$i", Seq(s"d$i.example.com"),
        ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1")
    }
    CertStore.write(rows.toDF(), dir, SaveMode.Overwrite)
    // batch 2 < 5 rows at one ts: the old ts>=cursor + seen-set scheme
    // re-reads the same first batch forever; the keyset cursor must not.
    val srv = new Server(spark, () => CertStore.read(spark, dir), dir,
      port = 0, now = () => ts("2024-01-15 12:00:00"),
      streamBatch = 2, streamPollMs = 50).start()
    try {
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:${srv.boundPort}/stream")).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.statusCode() == 200)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      val sb = new StringBuilder
      val buf = new Array[Byte](8192)
      val in = resp.body()
      def allSeen = (0 until 5).forall(i => sb.toString.contains(s"d$i.example.com"))
      while (!allSeen && System.nanoTime() < deadline) {
        val n = in.read(buf)
        if (n > 0) sb.append(new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8))
      }
      in.close()
      assert(allSeen, s"stream stalled before delivering all rows; got:\n$sb")
    } finally srv.stop()
  }

  test("a store with no commit yet serves empty answers, and /stream picks up the first write") {
    val dir = Files.createTempDirectory("server-empty").toString + "/store"
    val srv = new Server(spark, () => CertStore.read(spark, dir), dir,
      port = 0, now = () => ts("2024-01-15 12:00:00"), streamPollMs = 50).start()
    def at(path: String) = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${srv.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val dom = at("/domain/x")
      assert(dom.statusCode() == 200 && dom.body() == "[]", dom.body())
      val size = at("/size")
      assert(size.statusCode() == 200 && size.body().contains("\"bytes\":0"), size.body())
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/stream")).GET().build(),
        HttpResponse.BodyHandlers.ofInputStream())
      assert(resp.statusCode() == 200)
      Thread.sleep(300) // the subscriber polls the empty store a few times first
      val rows = Seq(CertDomain(ts("2024-01-15 10:00:00"), "first.example.com", "example.com",
        "a" * 64, "CN=CA", "CN=first", Seq("first.example.com"),
        ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1"))
      CertStore.write(rows.toDF(), dir)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      val sb = new StringBuilder
      val buf = new Array[Byte](8192)
      val in = resp.body()
      while (!sb.toString.contains("first.example.com") && System.nanoTime() < deadline) {
        val n = in.read(buf)
        if (n > 0) sb.append(new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8))
        else if (n < 0) fail(s"stream closed before the first write arrived:\n$sb")
      }
      in.close()
      assert(sb.toString.contains("first.example.com"), s"no row delivered:\n$sb")
      assert(!sb.toString.contains("event: error"), sb.toString)
      assert(at("/domain/first.example.com").body().contains("first.example.com"))
    } finally srv.stop()
  }

  test("/stream reports a failing poll as an error frame, not a silent close") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new Server(spark, () =>
        if (calls.incrementAndGet() == 2) throw new IllegalStateException("store unreadable")
        else CertStore.read(spark, storeDir),
      storeDir, port = 0, streamPollMs = 50).start()
    try {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/stream"))
        .timeout(java.time.Duration.ofSeconds(30)).GET().build()
      // the server closes the feed after the error frame, so the body ends
      val body = client.send(req, HttpResponse.BodyHandlers.ofString()).body()
      assert(body.contains("a.example.com"), s"first poll's rows missing:\n$body")
      assert(body.contains("event: error\ndata: {\"error\":\"store unreadable\"}\n\n"),
        s"no error frame:\n$body")
    } finally srv.stop()
  }

  test("/stream past maxStreams is a 503, and a subscriber that disconnects " +
      "from an idle store frees its slot") {
    val srv = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0, streamPollMs = 50, maxStreams = 1).start()
    // a raw socket, so closing it really drops the connection
    def subscribe(): (java.net.Socket, java.io.BufferedReader, String) = {
      val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
      sock.setSoTimeout(30000)
      sock.getOutputStream.write(
        s"GET /stream HTTP/1.0\r\nHost: 127.0.0.1\r\n\r\n".getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        sock.getInputStream, "UTF-8"))
      (sock, in, String.valueOf(in.readLine()))
    }
    try {
      val (first, firstIn, status) = subscribe()
      assert(status.contains(" 200"), status)
      // caught up: the store's last row has arrived, so every later poll
      // of this subscriber comes back empty
      var line = firstIn.readLine()
      while (line != null && !line.contains("b.example.com")) line = firstIn.readLine()
      assert(line != null, "the first subscriber never received the store's rows")
      val busy = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/stream")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(busy.statusCode() == 503 && busy.body().contains("too many streams"),
        busy.body())
      // the store gets no commit from here on: only the empty-poll
      // heartbeat can find that the first subscriber went away
      first.close()
      val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
      var admitted = false
      while (!admitted && System.nanoTime() < deadline) {
        val (next, _, st) = subscribe()
        next.close()
        admitted = st.contains(" 200")
        if (!admitted) Thread.sleep(100)
      }
      assert(admitted, "the closed subscriber's slot was never freed")
    } finally srv.stop()
  }

  test("stop() leaves no non-daemon thread the server started alive") {
    import scala.jdk.CollectionConverters._
    def nonDaemon(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon).toSet
    assert(getWith(server, Nil) == 200) // the shared server and client start first
    val before = nonDaemon()
    val srv = new Server(spark, () => CertStore.read(spark, storeDir), storeDir,
      port = 0).start()
    (1 to 8).foreach(_ => assert(getWith(srv, Nil) == 200))
    srv.stop()
    def leaked = nonDaemon() -- before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(leaked.isEmpty, s"threads left running: ${leaked.map(_.getName)}")
  }
}
