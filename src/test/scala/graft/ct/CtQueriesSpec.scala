package graft.ct

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class CtQueriesSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Small hand-built cert_domains table with known answers. */
  private lazy val df: DataFrame = Seq(
    CertDomain(ts("2024-01-15 10:00:00"), "a.example.com", "example.com", "f" * 64,
      "CN=CA", "CN=a", Seq("a.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1"),
    CertDomain(ts("2024-01-15 11:00:00"), "a.example.com", "example.com", "e" * 64,
      "CN=CA", "CN=a", Seq("a.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1"),
    CertDomain(ts("2024-01-15 12:00:00"), "b.example.com", "example.com", "d" * 64,
      "CN=CA", "CN=b", Seq("b.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log2"),
    CertDomain(ts("2024-01-14 09:00:00"), "old.example.com", "example.com", "c" * 64,
      "CN=CA", "CN=o", Seq("old.example.com"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log2"),
    CertDomain(ts("2024-01-15 13:00:00"), "x.other.org", "other.org", "b" * 64,
      "CN=CA", "CN=x", Seq("x.other.org"), ts("2024-01-01 00:00:00"), ts("2025-01-01 00:00:00"), "log1")
  ).toDF()

  test("/domain: latest-first point lookup capped at 100 (O1)") {
    val r = CtQueries.domainLookup(df, "a.example.com").collect()
    assert(r.length == 2)
    assert(r.head.getAs[Timestamp]("ts") == ts("2024-01-15 11:00:00"))
  }

  test("/subdomains: per-domain last_seen ordered by domain (A2/O2)") {
    val r = CtQueries.subdomains(df, "example.com")
      .as[(String, Timestamp)].collect().toSeq
    assert(r == Seq(
      ("a.example.com", ts("2024-01-15 11:00:00")),
      ("b.example.com", ts("2024-01-15 12:00:00")),
      ("old.example.com", ts("2024-01-14 09:00:00"))))
  }

  test("/recent: 24h lookback distinct (P5/A3)") {
    val r = CtQueries.recent(df, "example.com", ts("2024-01-15 14:00:00"))
      .as[String].collect().toSeq
    assert(r == Seq("a.example.com", "b.example.com")) // old.example.com outside window
  }

  test("/tld: LIKE suffix + clamp semantics (P7/O3)") {
    val r = CtQueries.tldTopk(df, ".COM", limitRaw = 5000) // clamp to 1000, normalize tld
      .as[(String, Timestamp)].collect().toSeq
    assert(r.map(_._1) == Seq("b.example.com", "a.example.com", "old.example.com"))
    assert(CtQueries.tldTopk(df, "com", limitRaw = -3).count() == 1) // clamp to 1
  }

  test("/stats: one-pass multi-aggregate for a day (A1/A4/A5/A6)") {
    val r = CtQueries.stats(df, Date.valueOf("2024-01-15"), approx = false).collect()(0)
    assert(r.getAs[Long]("total") == 4)
    assert(r.getAs[Long]("subdomains") == 3)
    assert(r.getAs[Long]("domains") == 2)
    assert(r.getAs[Timestamp]("first_seen") == ts("2024-01-15 10:00:00"))
    assert(r.getAs[Timestamp]("last_seen") == ts("2024-01-15 13:00:00"))
  }

  test("/stats approximate variant stays within ±5% of exact (SURVEY §5.2)") {
    val exact = CtQueries.stats(df, Date.valueOf("2024-01-15"), approx = false)
      .collect()(0).getAs[Long]("subdomains")
    val approx = CtQueries.stats(df, Date.valueOf("2024-01-15"), approx = true)
      .collect()(0).getAs[Long]("subdomains")
    assert(math.abs(approx - exact).toDouble <= math.max(1.0, exact * 0.05))
  }

  test("/stream tail: boundary-safe incremental batch (ST4 fix)") {
    def tail(t: String, fp: String, dm: String, lg: String): Seq[String] =
      CtQueries.streamTailAfter(df, Some((ts(t), fp, dm, lg)), batch = 10).collect()
        .map(_.getAs[String]("domain")).toSeq
    // a cursor before the boundary second's first key keeps its row
    assert(tail("2024-01-15 12:00:00", "", "", "") == Seq("b.example.com", "x.other.org"))
    // resuming after that row's full key skips it, and nothing else
    assert(tail("2024-01-15 12:00:00", "d" * 64, "b.example.com", "log2") == Seq("x.other.org"))
  }
}
