package graft.ct

import java.nio.file.Files
import java.sql.Timestamp
import java.util.Base64
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import graft.ct.source.{CtMicroBatchSource, EntrySource}

/** Test view over the pre-baked DER certificate fixture (see DemoFixture):
  * subject CN=Example.COM, O=Graft Test, C=RS;
  * SAN dNSNames: www.example.com, API.Example.org, example.com;
  * validity 2024-01-01T00:00:00Z .. 2033-12-29T00:00:00Z.
  * Expected parse (reference semantics, ct_ingestor.py:124-139): domains =
  * lowercase CN ∪ SAN = {api.example.org, example.com, www.example.com}.
  */
object Fixtures {
  val certDer: Array[Byte] = DemoFixture.certDer

  /** Known SHA-256 of certDer (sha256sum over the exported file). */
  val certSha256 = "9de4760c08330536f9bbedb7c3d15b12f1794ee60a807dcd3ab933800a1eb7df"

  val certDomains: Seq[String] =
    Seq("api.example.org", "example.com", "www.example.com")

  def makeLeaf(der: Array[Byte], leafType: Byte = 0): Array[Byte] =
    DemoFixture.makeLeaf(der, leafType)

  def leafB64(der: Array[Byte] = certDer, leafType: Byte = 0): String =
    Base64.getEncoder.encodeToString(makeLeaf(der, leafType))

  private val keys = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drain `src` through StreamIngest with Trigger.AvailableNow into
    * `store`, resuming from `checkpoint` (fresh directories by default).
    * Returns the store path. The source is registered under a key of its
    * own for the run; `opts` adds or overrides source options. */
  def ingest(spark: SparkSession, logListJson: String, src: EntrySource,
      ts: Timestamp, opts: Map[String, String] = Map.empty,
      store: String = Files.createTempDirectory("ingest-store").toString,
      checkpoint: String = Files.createTempDirectory("ingest-ckpt").toString): String = {
    val key = s"fixture-${keys.incrementAndGet()}"
    CtMicroBatchSource.register(key, src)
    try {
      StreamIngest.start(spark,
        Map("loglist" -> logListJson, "now" -> "2024-01-15T00:00:00Z",
          "sourcekey" -> key) ++ opts,
        store, checkpoint, () => ts, Trigger.AvailableNow()).awaitTermination()
      store
    } finally CtMicroBatchSource.unregister(key)
  }

  /** The canonical columns of a store's rows, in a stable order. */
  def rowsOf(spark: SparkSession, store: String): Seq[String] =
    canonicalRows(CertStore.read(spark, store))

  /** The rows one IngestPipeline pass over all of `entries` produces — the
    * reference a route's transport, batching and epoch layout must match. */
  def onePass(spark: SparkSession, entries: Seq[RawEntry], ts: Timestamp): Seq[String] = {
    import spark.implicits._
    canonicalRows(IngestPipeline.certDomains(spark.createDataset(entries), ts))
  }

  private def canonicalRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(CertDomain.columns.map(col): _*).collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("|"); case x => String.valueOf(x)
    }.mkString(",")).toSeq.sorted
}
