package graft.ct

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Runnable end-to-end smoke of the CT engine: log-list admission →
  * StreamIngest over a registered fixture entry source (production drops
  * the `sourcekey` option and reads the CT HTTP API) → partitioned store →
  * all 8 endpoint query shapes.
  *
  * `sbt "runMain graft.ct.CtDemo"` — prints each query's result.
  */
object CtDemo {

  // A self-signed cert fixture (CN=Example.COM; SAN www.example.com,
  // API.Example.org, example.com) wrapped in a CT Merkle leaf.
  private val certB64 = graft.ct.DemoFixture.certB64

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .appName("ct-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val now = Instant.parse("2024-01-15T12:00:00Z")
    val logListJson =
      """{"operators":[{"logs":[
        |{"description":"Demo Usable","url":"https://demo1.example/","state":{"usable":{}}},
        |{"description":"Demo Frozen","url":"https://demo2.example","state":{"frozen":{}}},
        |{"description":"Demo Retired","url":"https://demo3.example","state":{"retired":{}}}
        |]}]}""".stripMargin
    val logs = LogList.parse(logListJson, now)
    println(s"admitted logs: ${logs.map(l => s"${l.name}(${l.state})").mkString(", ")}")

    val store = Files.createTempDirectory("ct-demo-store").toString
    val checkpoint = Files.createTempDirectory("ct-demo-ckpt").toString
    source.CtMicroBatchSource.register("ct-demo", new source.EntrySource {
      def treeSize(log: LogList.CtLog): Long = 5L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] =
        (start to end).map(i => RawEntry(log.name, i, DemoFixture.leafB64))
    })
    StreamIngest.start(spark,
      Map("loglist" -> logListJson, "now" -> now.toString, "sourcekey" -> "ct-demo"),
      store, checkpoint, () => Timestamp.from(now), Trigger.AvailableNow())
      .awaitTermination()
    val table = CertStore.read(spark, store)
    println(s"ingested rows: ${table.count()} (store: $store, " +
      s"${CertStore.humanBytes(CertStore.sizeBytes(spark, store))})")

    println("-- /domain/www.example.com")
    CtQueries.domainLookup(table, "www.example.com").show(5, truncate = false)
    println("-- /subdomains/example.com")
    CtQueries.subdomains(table, "example.com").show(false)
    println("-- /recent/example.com")
    CtQueries.recent(table, "example.com", Timestamp.from(now)).show(false)
    println("-- /tld/com")
    CtQueries.tldTopk(table, "com", 100).show(false)
    println("-- /stats?date=2024-01-15")
    CtQueries.stats(table, Date.valueOf("2024-01-15")).show(false)
    println(s"-- count: ${table.count()}")
    println("-- /stream tail from the start of 2024-01-15")
    CtQueries.streamTailAfter(table, Some((Timestamp.valueOf("2024-01-15 00:00:00"), "", "", "")))
      .show(false)

    spark.stop()
  }
}
