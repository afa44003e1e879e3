package graft.ct

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.ct.source.EntrySource

/** End-to-end: log list admission → StreamIngest → store → queries
  * (SURVEY §5.2 "End-to-end"). Entries come from an injected fixture source
  * (zero-egress stand-in for get-sth/get-entries). */
class IngestorEndToEndSpec extends graft.SparkSpec {

  private val logListJson =
    """{"operators":[{"logs":[
      |{"description":"Usable Log","url":"https://l1.example/","state":{"usable":{}},
      | "temporal_interval":{"start_inclusive":"2023-01-01T00:00:00Z","end_exclusive":"2025-01-01T00:00:00Z"}},
      |{"description":"Frozen Log","url":"https://l2.example","state":{"frozen":{}}},
      |{"description":"Retired Log","url":"https://l3.example","state":{"retired":{}}},
      |{"description":"Future Log","url":"https://l4.example","state":{"usable":{}},
      | "temporal_interval":{"start_inclusive":"2030-01-01T00:00:00Z","end_exclusive":"2031-01-01T00:00:00Z"}}
      |]}]}""".stripMargin

  test("admission: retired and out-of-interval logs dropped (S2)") {
    val logs = LogList.parse(logListJson, Instant.parse("2024-01-15T00:00:00Z"))
    assert(logs.map(_.name) == Seq("Usable Log", "Frozen Log"))
    assert(logs.map(_.state) == Seq("usable", "frozen"))
    assert(logs.head.url == "https://l1.example") // trailing slash stripped
  }

  private val t0 = Timestamp.valueOf("2024-01-15 00:00:00")

  /** One distinct cert per (log, index): no cross-entry dedup. */
  private def entryAt(log: LogList.CtLog, i: Long): RawEntry = {
    val tag = (if (log.name == "Usable Log") 0L else 1L) * 1000L + i
    RawEntry(log.name, i, Fixtures.leafB64(DemoFixture.uniqueDer(tag)))
  }

  test("micro-batch ingest to store, offset resume, frozen-log boundedness") {
    val store = Files.createTempDirectory("store").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    // fixture source: every log has 3 entries, each the same fixture cert
    val source = new EntrySource {
      val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
      def treeSize(log: LogList.CtLog): Long = 3L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] = {
        fetches.incrementAndGet()
        (start to end).map(i => RawEntry(log.name, i, Fixtures.leafB64()))
      }
    }
    def run(): Unit = Fixtures.ingest(spark, logListJson, source, t0,
      Map("batchsize" -> "2"), store, ckpt)

    run()
    val n = CertStore.read(spark, store).count()
    assert(n > 0)
    // offsets advanced to tree size → second run is a no-op (bounded, S8)
    val before = source.fetches.get()
    run()
    assert(CertStore.read(spark, store).count() == n)
    assert(source.fetches.get() == before)

    // stored rows are queryable through the endpoint shapes
    val table = CertStore.read(spark, store)
    val subs = CtQueries.subdomains(table, "example.com").collect()
    assert(subs.map(_.getAs[String]("domain")).contains("www.example.com"))
    assert(CertStore.sizeBytes(spark, store) > 0)
  }

  test("a short get-entries return (RFC 6962 truncation) skips nothing: " +
      "the reader re-requests the rest of its range") {
    val logs = LogList.parse(logListJson, Instant.parse("2024-01-15T00:00:00Z"))
    // truncating source: EVERY fetch returns only the first entry of the
    // requested range — advancing to the range end on a short return
    // would skip the tail of every range for good
    val shortFetches = new java.util.concurrent.atomic.AtomicLong(0L)
    val shortSrc = new EntrySource {
      def treeSize(log: LogList.CtLog): Long = 5L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] = {
        shortFetches.incrementAndGet()
        Seq(entryAt(log, start))
      }
    }
    val ckpt = Files.createTempDirectory("ckpt-short").toString
    val store = Fixtures.ingest(spark, logListJson, shortSrc, t0,
      Map("batchsize" -> "2"), checkpoint = ckpt)
    val all = logs.flatMap(lg => (0L until 5L).map(entryAt(lg, _)))
    assert(Fixtures.rowsOf(spark, store) == Fixtures.onePass(spark, all, t0),
      "every truncated tail must be re-fetched, none skipped")
    assert(shortFetches.get() == all.length, "one fetch per entry")
    // the offsets reached tree size: the drained state is a bounded no-op
    Fixtures.ingest(spark, logListJson, shortSrc, t0, Map("batchsize" -> "2"),
      store, ckpt)
    assert(shortFetches.get() == all.length)
  }

  test("a get-entries return that is empty or longer than requested fails the task") {
    def failing(overrun: Boolean) = new EntrySource {
      def treeSize(log: LogList.CtLog): Long = 5L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] =
        if (overrun) (start to end + 1).map(entryAt(log, _)) else Seq.empty
    }
    // whichever range's task fails first reports it: a 2-entry range
    // overrun returns 3, the 1-entry tail range [4, 4] returns 2
    val report = """returned (\d+) entries for range \[\d+, \d+\] \((\d+) requested\)""".r
    for (overrun <- Seq(true, false)) {
      val e = intercept[StreamingQueryException] {
        Fixtures.ingest(spark, logListJson, failing(overrun), t0, Map("batchsize" -> "2"))
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq
      assert(messages.exists(m => report.findAllMatchIn(m).exists { r =>
          r.group(1).toLong == (if (overrun) r.group(2).toLong + 1 else 0L)
        }), messages.mkString("\n"))
    }
  }

  test("ingest evaluates the X.509 parse exactly once per entry") {
    // 3 entries per log, the last a precert leaf the parser rejects: a
    // rejected leaf is parsed once too
    val source = new EntrySource {
      def treeSize(log: LogList.CtLog): Long = 3L
      def fetchEntries(log: LogList.CtLog, start: Long, end: Long): Seq[RawEntry] =
        (start to end).map(i => RawEntry(log.name, i,
          Fixtures.leafB64(leafType = if (i == 2L) 1 else 0)))
    }
    CertParser.parseInvocations.set(0)
    val store = Fixtures.ingest(spark, logListJson, source, t0, Map("batchsize" -> "2"))
    assert(CertStore.read(spark, store).count() > 0)
    // 2 admitted logs × 3 entries: a filter on the parsed cert, pushed
    // below the explode's projection, raises this to 14 (each accepted
    // leaf parsed three times)
    assert(CertParser.parseInvocations.get() == 6L,
      s"expected 6 parse calls, got ${CertParser.parseInvocations.get()}")
  }
}
