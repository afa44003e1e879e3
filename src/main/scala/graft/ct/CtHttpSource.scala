package graft.ct

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.Base64

/** Production EntrySource over the CT log HTTP API — the engine-side port
  * of the reference's get-sth / get-entries calls
  * (/root/reference/ingestion/ct_ingestor.py:102-111), with the same
  * timeouts (10 s STH, 30 s entries). Zero-egress test environments inject
  * a fixture EntrySource instead; this class is the deployment
  * implementation and is exercised against a local stub server in tests.
  *
  * Also carries the log-list fetch (S1; 20 s timeout, ct_ingestor.py:54)
  * so a deployment needs no other HTTP plumbing.
  */
class CtHttpSource(client: HttpClient = CtHttpSource.defaultClient)
    extends source.EntrySource {

  /** GET `url` → response body; a non-2xx status is an IOException. */
  private def get(url: String, timeoutSec: Int): String = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }

  private def getJson(url: String, timeoutSec: Int): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(get(url, timeoutSec))

  /** S3: current tree size (high-watermark offset). */
  override def treeSize(log: LogList.CtLog): Long =
    getJson(s"${log.url}/ct/v1/get-sth", timeoutSec = 10).path("tree_size").asLong()

  /** S4: contiguous batch of leaf entries [start, endInclusive]. */
  override def fetchEntries(log: LogList.CtLog, start: Long, endInclusive: Long): Seq[RawEntry] = {
    val root = getJson(s"${log.url}/ct/v1/get-entries?start=$start&end=$endInclusive",
      timeoutSec = 30)
    val out = scala.collection.mutable.ArrayBuffer.empty[RawEntry]
    var i = start
    root.path("entries").forEach { e =>
      out += RawEntry(log.name, i, e.path("leaf_input").asText(""))
      i += 1
    }
    out.toSeq
  }

  /** S1: fetch the log list JSON (admission happens in LogList.parse). */
  def fetchLogList(url: String): String = get(url, timeoutSec = 20)

  /** S1 with the reference's daily disk cache (ct_ingestor.py:49-72):
    * if `cacheFile` exists and is younger than `ttl`, serve it without any
    * network call; otherwise fetch and overwrite the cache. No stale
    * fallback on fetch failure — reference parity (a failed refresh
    * propagates to the caller). `now` is injectable for
    * deterministic TTL tests. */
  def fetchLogListCached(url: String, cacheFile: java.nio.file.Path,
      ttl: Duration = Duration.ofHours(24),
      now: () => java.time.Instant = () => java.time.Instant.now()): String = {
    import java.nio.file.Files
    val fresh = Files.exists(cacheFile) &&
      Files.getLastModifiedTime(cacheFile).toInstant.plus(ttl).isAfter(now())
    if (fresh) new String(Files.readAllBytes(cacheFile), java.nio.charset.StandardCharsets.UTF_8)
    else {
      val body = fetchLogList(url)
      val dir = Option(cacheFile.getParent).getOrElse(java.nio.file.Paths.get("."))
      Files.createDirectories(dir)
      // unique-temp-then-atomic-rename: a crash mid-write must never leave
      // a truncated cache served as "fresh" for a whole TTL, and two
      // concurrent refreshes must not race on a shared temp name (losers
      // just replace the winner's identical content)
      val tmp = Files.createTempFile(dir, cacheFile.getFileName.toString, ".tmp")
      try {
        Files.write(tmp, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Files.move(tmp, cacheFile,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } finally Files.deleteIfExists(tmp)
      body
    }
  }
}

object CtHttpSource {
  lazy val defaultClient: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

  /** Base64 helper shared with tests building stub responses. */
  def b64(bytes: Array[Byte]): String = Base64.getEncoder.encodeToString(bytes)
}
