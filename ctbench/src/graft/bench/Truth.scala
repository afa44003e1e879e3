package graft.bench

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One micro-batch as the engine reported it: its ingest timestamp and, per
  * log (display name), the entry range [from, until) it consumed. */
final case class Batch(id: Long, tsMs: Long, ranges: Map[String, (Long, Long)])

/** One expected `cert_domains` row. `logs` holds every stored log name that
  * carried the certificate inside the batch (the dedup keeps any one). */
final case class TruthRow(tsMs: Long, domain: String, base: String, cert: Cert, logs: Set[String])

/** Ground truth for a store: the rows the ingest must have produced from the
  * batches it reported, and the answer each route must give over them.
  *
  * The ingest dedups on (fingerprint, domain) within one micro-batch, so the
  * expected rows are one per (batch, fingerprint, domain). */
final class Truth(val corpus: Corpus, val batches: Seq[Batch]) {
  private val logIndex = corpus.logNames.zipWithIndex.toMap

  val (rows: Vector[TruthRow], entries: Long, rejected: Long, dedupDropped: Long) = {
    val out = Vector.newBuilder[TruthRow]
    var entries = 0L; var rejected = 0L; var exploded = 0L
    batches.foreach { b =>
      val seen = scala.collection.mutable.LinkedHashMap.empty[(String, String), (Cert, Set[String])]
      b.ranges.foreach { case (name, (from, until)) =>
        val l = logIndex(name)
        (from until until).foreach { i =>
          entries += 1
          val s = corpus.slots(l)(i.toInt)
          if (s < 0) rejected += 1
          else {
            val c = corpus.certs(s)
            c.domains.foreach { d =>
              exploded += 1
              val k = (c.fingerprint, d)
              val logs = seen.get(k).map(_._2).getOrElse(Set.empty) + corpus.storedLogNames(l)
              seen(k) = (c, logs)
            }
          }
        }
      }
      seen.foreach { case ((_, d), (c, logs)) =>
        out += TruthRow(b.tsMs, d, c.bases(c.domains.indexOf(d)), c, logs)
      }
    }
    val rs = out.result()
    (rs, entries, rejected, exploded - rs.length)
  }

  lazy val byDomain: Map[String, Vector[TruthRow]] = rows.groupBy(_.domain)
  lazy val byBase: Map[String, Vector[TruthRow]] = rows.groupBy(_.base)
  lazy val byDay: Map[LocalDate, Vector[TruthRow]] = rows.groupBy(r => Truth.day(r.tsMs))
  private val tldCache = new java.util.concurrent.ConcurrentHashMap[String, Vector[(String, Long)]]()

  // ---- expected answers, in response order ----

  def domain(name: String): Vector[TruthRow] =
    byDomain.getOrElse(name, Vector.empty)
      .sortBy(r => (-r.tsMs, r.cert.fingerprint, r.domain)).take(100)

  def subdomains(base: String): Vector[(String, Long)] =
    byBase.getOrElse(base, Vector.empty).groupBy(_.domain)
      .map { case (d, rs) => d -> rs.map(_.tsMs).max }.toVector.sortBy(_._1)

  def recent(base: String, nowMs: Long): Vector[String] =
    byBase.getOrElse(base, Vector.empty).filter(_.tsMs > nowMs - Truth.DayMs)
      .map(_.domain).distinct.sorted

  def tld(t: String): Vector[(String, Long)] = tldCache.computeIfAbsent(t, _ =>
    rows.filter(_.domain.endsWith("." + t)).groupBy(_.domain)
      .map { case (d, rs) => d -> rs.map(_.tsMs).max }.toVector
      .sortBy { case (d, ts) => (-ts, d) }.take(100))

  /** (total, distinct domains, distinct bases, first ts, last ts) on a UTC day. */
  def stats(day: LocalDate): (Long, Long, Long, Option[Long], Option[Long]) = {
    val rs = byDay.getOrElse(day, Vector.empty)
    (rs.length.toLong, rs.map(_.domain).distinct.length.toLong, rs.map(_.base).distinct.length.toLong,
      rs.map(_.tsMs).minOption, rs.map(_.tsMs).maxOption)
  }
}

object Truth {
  val DayMs: Long = 24L * 3600 * 1000
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(ZoneOffset.UTC)
  private val monthFmt = DateTimeFormatter.ofPattern("yyyyMM").withZone(ZoneOffset.UTC)
  /** The API renders timestamps as ISO-8601 UTC at second precision. */
  def iso(ms: Long): String = tsFmt.format(Instant.ofEpochMilli(ms))
  def month(ms: Long): String = monthFmt.format(Instant.ofEpochMilli(ms))
  def day(ms: Long): LocalDate = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate

  /** Reference /size rendering: base 1024, two decimals, no separator. */
  def humanBytes(n: Long): String =
    if (n == 0) "0B" else {
      val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
      var v = n.toDouble; var i = 0
      while (v >= 1024.0 && i < units.length - 1) { v /= 1024.0; i += 1 }
      f"$v%.2f${units(i)}"
    }
}

/** Compares API responses with the truth. Every method returns None when the
  * response is right, or a one-line description of the first difference. */
object Checker {
  private val mapper = new ObjectMapper()
  def parse(body: String): JsonNode = mapper.readTree(body)

  private def elems(n: JsonNode): Vector[JsonNode] = n.elements().asScala.toVector
  private def texts(n: JsonNode): Vector[String] = elems(n).map(_.asText())

  /** A full `cert_domains` row as /domain and /stream render it:
    * [ts, domain, base_domain, fingerprint, issuer, subject, san, not_before,
    * not_after, log_name, ts_month]. */
  def rowMismatch(got: JsonNode, want: TruthRow): Option[String] = {
    val c = want.cert
    val g = elems(got)
    def field(i: Int): String = if (i < g.length) g(i).asText() else "<missing>"
    val checks = Seq(
      "ts" -> (field(0), Truth.iso(want.tsMs)),
      "domain" -> (field(1), want.domain),
      "base_domain" -> (field(2), want.base),
      "fingerprint" -> (field(3), c.fingerprint),
      "issuer" -> (field(4), c.issuer),
      "subject" -> (field(5), c.subject),
      "san" -> (if (g.length > 6) texts(g(6)).mkString(",") else "<missing>", c.domains.mkString(",")),
      "not_before" -> (field(7), Truth.iso(c.notBeforeMs)),
      "not_after" -> (field(8), Truth.iso(c.notAfterMs)),
      "ts_month" -> (field(10), Truth.month(want.tsMs)))
    checks.collectFirst { case (k, (a, b)) if a != b => s"$k: got '$a', want '$b'" }
      .orElse(if (want.logs.contains(field(9))) None
        else Some(s"log_name: got '${field(9)}', want one of ${want.logs.mkString("|")}"))
  }

  /** Row identity as the /stream cursor orders it. */
  def rowKey(row: JsonNode): (String, String, String, String) = {
    val g = elems(row)
    (g(0).asText(), g(3).asText(), g(1).asText(), g(9).asText())
  }

  private def sameList(route: String, got: Vector[String], want: Vector[String]): Option[String] =
    if (got == want) None
    else {
      val i = got.zipAll(want, "<none>", "<none>").indexWhere { case (a, b) => a != b }
      Some(s"$route: ${got.length} rows, want ${want.length}; first difference at $i: " +
        s"got '${got.lift(i).getOrElse("<none>")}', want '${want.lift(i).getOrElse("<none>")}'")
    }

  def domain(t: Truth, name: String, body: String): Option[String] = {
    val got = elems(parse(body)); val want = t.domain(name)
    if (got.length != want.length) Some(s"/domain/$name: ${got.length} rows, want ${want.length}")
    else got.zip(want).iterator.map { case (g, w) => rowMismatch(g, w) }
      .collectFirst { case Some(m) => s"/domain/$name: $m" }
  }

  /** /domain while ingest runs: every row must be a true row, in order, and
    * every row of `mustInclude` (already delivered by the change feed before
    * the request was sent) must be present. */
  def domainLive(t: Truth, name: String, body: String,
      mustInclude: Set[(String, String, String)]): Option[String] = {
    val got = elems(parse(body))
    val byKey = t.byDomain.getOrElse(name, Vector.empty)
      .map(r => (Truth.iso(r.tsMs), r.cert.fingerprint, r.domain) -> r).toMap
    val keys = got.map(rowKey)
    val bad = got.iterator.map { g =>
      val (ts, fp, d, _) = rowKey(g)
      byKey.get((ts, fp, d)) match {
        case None => Some(s"unexpected row ($ts, $fp, $d)")
        case Some(w) => rowMismatch(g, w)
      }
    }.collectFirst { case Some(m) => m }
    val order = keys.map { case (ts, fp, d, _) => (ts, fp, d) }
    val sorted = order.sortBy { case (ts, fp, d) => (ts, fp, d) }(
      Ordering.Tuple3(Ordering.String.reverse, Ordering.String, Ordering.String))
    bad.orElse(if (order != sorted) Some("rows out of (ts desc, fingerprint, domain) order") else None)
      .orElse(if (got.length > 100) Some(s"${got.length} rows exceed LIMIT 100") else None)
      .orElse {
        val missing = if (byKey.size <= 100) mustInclude.diff(order.toSet) else Set.empty
        missing.headOption.map(k => s"row already delivered on /stream is missing: $k")
      }
      .map(m => s"/domain/$name (live): $m")
  }

  def subdomains(t: Truth, base: String, body: String): Option[String] =
    sameList(s"/subdomains/$base", elems(parse(body)).map(r => texts(r).mkString("@")),
      t.subdomains(base).map { case (d, ts) => s"$d@${Truth.iso(ts)}" })

  def recent(t: Truth, base: String, nowMs: Long, body: String): Option[String] =
    sameList(s"/recent/$base", elems(parse(body)).map(r => texts(r).mkString("@")), t.recent(base, nowMs))

  def tld(t: Truth, tld: String, body: String): Option[String] =
    sameList(s"/tld/$tld", elems(parse(body)).map(r => texts(r).mkString("@")),
      t.tld(tld).map { case (d, ts) => s"$d@${Truth.iso(ts)}" })

  /** `subdomains`/`domains` are HyperLogLog++ estimates (the reference's
    * uniqCombined), so they are checked to 20%; everything else exactly. */
  def stats(t: Truth, day: LocalDate, body: String): Option[String] = {
    val j = parse(body)
    val (total, domains, bases, first, last) = t.stats(day)
    def approx(field: String, want: Long): Option[String] = {
      val got = j.path(field).asLong(-1)
      if (math.abs(got - want) <= math.max(2.0, 0.2 * want)) None
      else Some(s"$field: got $got, want ~$want")
    }
    def ts(field: String, want: Option[Long]): Option[String] = {
      val got = if (j.path(field).isNull || j.path(field).isMissingNode) None else Some(j.path(field).asText())
      if (got == want.map(Truth.iso)) None else Some(s"$field: got $got, want ${want.map(Truth.iso)}")
    }
    val totalGot = j.path("total").asLong(-1)
    (if (totalGot == total) None else Some(s"total: got $totalGot, want $total"))
      .orElse(approx("subdomains", domains)).orElse(approx("domains", bases))
      .orElse(ts("first_seen", first)).orElse(ts("last_seen", last))
      .orElse(if (j.path("date").asText() == day.toString) None
        else Some(s"date: got ${j.path("date").asText()}, want $day"))
      .map(m => s"/stats?date=$day: $m")
  }

  def size(storeBytes: Long, body: String): Option[String] = {
    val j = parse(body)
    val got = (j.path("bytes").asLong(-1), j.path("human_readable").asText())
    val want = (storeBytes, Truth.humanBytes(storeBytes))
    if (got == want) None else Some(s"/size: got $got, want $want")
  }
}
