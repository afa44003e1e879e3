package graft.bench

import java.io.{BufferedReader, InputStreamReader}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One request a client is about to send: its route, the key it asks
  * about, and the path. */
final case class Req(route: String, key: String, path: String)

/** One completed request: `sendMs` is wall-clock, `sendNs`/`doneNs` are System.nanoTime. */
final case class Sample(req: Req, client: Int, sendMs: Long, sendNs: Long, doneNs: Long,
    status: Int, body: String) {
  def latencyMs: Double = (doneNs - sendNs) / 1e6
}

/** Closed-loop HTTP load: each client sends its next request only after the
  * previous one completed, over its own keep-alive connection. */
object Load {

  def client(): HttpClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  /** Send one request on `c` and time it. */
  def send(c: HttpClient, port: Int, r: Req, client: Int): Sample = {
    val wall = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val resp = c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${r.path}")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    Sample(r, client, wall, t0, System.nanoTime(), resp.statusCode(), resp.body())
  }

  /** Run `clients` closed-loop clients until System.nanoTime reaches `endNs`.
    * `next(client, sentSoFar, rnd)` picks each request; each client draws
    * from its own generator, seeded from `seed` and its index. */
  def closedLoop(port: Int, clients: Int, seed: Long, next: (Int, Int, SplittableRandom) => Req,
      endNs: Long): Vector[Sample] = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { i =>
      new Thread(() => {
        val c = client()
        val rnd = new SplittableRandom(seed * 1000 + i)
        var n = 0
        try {
          while (System.nanoTime() < endNs) {
            out.add(send(c, port, next(i, n, rnd), i))
            n += 1
          }
        } catch { case e: Throwable => errors.add(e) }
      }, s"bench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw new RuntimeException("load client failed", e))
    out.asScala.toVector.sortBy(_.sendNs)
  }
}

/** A `/stream` subscriber: reads the SSE feed, records when each row
  * arrived, and detects what the server cannot report — `/stream` turns a
  * failed poll into a silently closed stream, so an early close, a
  * duplicate and an out-of-order row are all counted here. */
final class SseClient(port: Int, id: Int) {
  final case class Got(row: com.fasterxml.jackson.databind.JsonNode, atMs: Long)

  private val received = new ConcurrentLinkedQueue[Got]()
  @volatile private var closing = false
  @volatile var closedEarly = false
  @volatile var failure: Option[String] = None
  // HTTP/1.0, so the server streams the body unchunked until it closes;
  // closing the socket is then the one way to stop a blocked read
  private val socket = new java.net.Socket("127.0.0.1", port)

  private val thread = new Thread(() => {
    try {
      val out = socket.getOutputStream
      out.write(s"GET /stream HTTP/1.0\r\nHost: 127.0.0.1:$port\r\n\r\n".getBytes(UTF_8))
      out.flush()
      val in = new BufferedReader(new InputStreamReader(socket.getInputStream, UTF_8))
      val status = Option(in.readLine()).getOrElse("")
      if (!status.contains(" 200")) failure = Some(s"/stream answered '$status'")
      var line = in.readLine()
      while (line != null && line.nonEmpty) line = in.readLine() // headers
      if (line != null) line = in.readLine()
      while (line != null) {
        if (line.startsWith("data: "))
          received.add(Got(Checker.parse(line.substring(6)), System.currentTimeMillis()))
        line = in.readLine()
      }
      if (!closing) closedEarly = true
    } catch {
      case e: Throwable => if (!closing) { closedEarly = true; failure = Some(e.toString) }
    }
  }, s"bench-sse-$id")
  thread.setDaemon(true)
  thread.start()

  def rows: Vector[Got] = received.asScala.toVector
  def count: Int = received.size()

  def close(): Unit = {
    closing = true
    socket.close()
    thread.join(5000)
  }
}
