package graft.ct

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.Timestamp

/** Reference-parity smoke over the FULL dataflow of the reference
  * deployment in one spec: log-list admission → StreamIngest of raw
  * Merkle leaves → parquet store → HTTP API — then replays the
  * README's four canonical queries (reference README.md:162-197) over
  * HTTP and pins the reference's JSON shapes: list-of-lists for the row
  * endpoints (api/app.py:106,117,129 jsonify result_rows), dict for
  * /stats (app.py:201-209). ServerSpec pins per-route behavior against a
  * hand-authored store; THIS spec pins that a store produced by the
  * ingest pipeline serves the same contract end-to-end. */
class CanonicalE2eSpec extends graft.SparkSpec
    with org.scalatest.BeforeAndAfterAll {

  private def ts(s: String) = Timestamp.valueOf(s)

  // forcing the lazy `server` in afterAll would RE-RUN a failed
  // ingest/store setup (failed lazy vals re-evaluate) and throw from
  // teardown, masking the real test failure — only stop what started
  @volatile private var serverStarted = false

  override def afterAll(): Unit = {
    if (serverStarted) server.stop() // release dispatcher thread + port
    super.afterAll()
  }

  private val logListJson =
    """{"operators":[{"logs":[
      |{"description":"Usable Log","url":"https://l1.example/","state":{"usable":{}},
      | "temporal_interval":{"start_inclusive":"2023-01-01T00:00:00Z","end_exclusive":"2025-01-01T00:00:00Z"}}
      |]}]}""".stripMargin

  private lazy val storeDir = {
    val src = new source.EntrySource {
      def treeSize(log: LogList.CtLog): Long = 3L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] =
        (start to end).map(i => RawEntry(log.name, i, Fixtures.leafB64()))
    }
    val store = Fixtures.ingest(spark, logListJson, src,
      ts("2024-01-15 00:00:00"), Map("batchsize" -> "2"))
    assert(CertStore.read(spark, store).count() > 0, "ingest produced no rows")
    store
  }

  private lazy val server = {
    val s = new Server(spark, () => CertStore.read(spark, storeDir),
      storeDir, port = 0, now = () => ts("2024-01-15 12:00:00")).start()
    serverStarted = true
    s
  }

  private lazy val client = HttpClient.newHttpClient()

  private def get(path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${server.boundPort}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("canonical 1 — total records: /stats dict total equals the ingested store count") {
    val stored = CertStore.read(spark, storeDir).count()
    assert(stored > 0)
    val (code, body) = get("/stats")
    assert(code == 200)
    assert(body.startsWith("{"), s"stats must be a JSON dict: $body")
    assert(body.contains(s""""total":$stored"""), s"want total=$stored in $body")
  }

  test("canonical 2 — domain search: /domain/<name> is a list-of-lists of that domain only") {
    val (code, body) = get("/domain/www.example.com")
    assert(code == 200)
    assert(body.startsWith("[["), s"row endpoint must be list-of-lists: $body")
    // exactly ONE row (the ingest dedups the identical leaves), whose
    // domain column is the queried name; the row's all_domains ARRAY may
    // of course carry the SAN siblings (SELECT * semantics)
    assert(!body.contains("],["), s"want exactly one row: $body")
    assert(body.contains("\"www.example.com\",\"example.com\""),
      s"want (domain, base_domain) = (www.example.com, example.com): $body")
  }

  test("canonical 3 — subdomain enumeration: /subdomains/<base> sorted, base-scoped") {
    val (code, body) = get("/subdomains/example.com")
    assert(code == 200)
    assert(body.startsWith("[["), s"row endpoint must be list-of-lists: $body")
    // cert SANs under base example.com, ordered by domain asc
    val i = body.indexOf("\"example.com\"")
    val j = body.indexOf("\"www.example.com\"")
    assert(i >= 0 && j > i, s"want example.com before www.example.com: $body")
    // api.example.org has base example.org — out of scope
    assert(!body.contains("api.example.org"), body)
  }

  test("canonical 4 — recent subdomains (24h window): both rows inside, none outside") {
    val (code, body) = get("/recent/example.com")
    assert(code == 200)
    assert(body.startsWith("[["), s"row endpoint must be list-of-lists: $body")
    assert(body.contains("example.com") && body.contains("www.example.com"), body)
    assert(!body.contains("api.example.org"), body)
  }
}
