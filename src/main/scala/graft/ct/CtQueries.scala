package graft.ct

import java.sql.{Date, Timestamp}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's 8 REST query shapes as pure DataFrame → DataFrame
  * functions (testable without HTTP; SURVEY §7.2 step 3). Each cites the
  * SQL it reproduces in /root/reference/api/app.py.
  *
  * All functions take the `cert_domains` DataFrame (from CertStore.read) so
  * Catalyst pushes the filters into the Parquet scan; `now`/`today` are
  * parameters, never the wall clock (determinism, SURVEY §7.4).
  */
object CtQueries {

  /** The month literal must be rendered in the SAME zone `CertStore.write`
    * used for `date_format(ts, "yyyyMM")` — the session timezone — or a
    * non-UTC session would prune the wrong partition and silently lose
    * rows near month boundaries. */
  private def monthOf(df: DataFrame, t: Timestamp): String = {
    // Spark's own resolver, not ZoneId.of: Spark accepts ids like "PST"
    // and "+8:00" that java.time alone rejects, and the rendering must
    // match date_format's by construction
    val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      df.sparkSession.sessionState.conf.sessionLocalTimeZone)
    java.time.Instant.ofEpochMilli(t.getTime).atZone(zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
  }

  /** Partition-pruning discipline (SURVEY §4): a `ts` range predicate does
    * not prune the store's `ts_month=` Hive partitions by itself — Catalyst
    * cannot derive month bounds from a timestamp comparison — so every
    * time-predicate query ALSO states the implied month range. yyyyMM
    * strings compare correctly lexicographically. No-op for frames without
    * the partition column (fixtures, pre-store streams). */
  private def monthBound(df: DataFrame, from: Option[Timestamp],
      to: Option[Timestamp]): DataFrame =
    if (!df.columns.contains(CertStore.partitionCol)) df
    else {
      val lower = from.map(t => col(CertStore.partitionCol) >= monthOf(df, t))
      val upper = to.map(t => col(CertStore.partitionCol) <= monthOf(df, t))
      (lower ++ upper).reduceOption(_ && _).map(df.filter).getOrElse(df)
    }

  /** GET /domain/<name> (app.py:95):
    * SELECT * WHERE domain=? ORDER BY ts DESC LIMIT 100.
    * Sort+Limit plans as TakeOrderedAndProjectExec — top-k, no full sort.
    * fingerprint/domain added as tiebreakers for deterministic ties. */
  def domainLookup(certDomains: DataFrame, name: String): DataFrame =
    certDomains.filter(col("domain") === name)
      .orderBy(col("ts").desc, col("fingerprint"), col("domain"))
      .limit(100)

  /** GET /subdomains/<base> (app.py:112-114):
    * SELECT domain, max(ts) last_seen WHERE base_domain=? GROUP BY domain
    * ORDER BY domain. */
  def subdomains(certDomains: DataFrame, base: String): DataFrame =
    certDomains.filter(col("base_domain") === base)
      .groupBy(col("domain"))
      .agg(max(col("ts")).as("last_seen"))
      .orderBy(col("domain"))

  /** GET /recent/<base> (app.py:123-127): distinct domains seen in the last
    * day. `now` is the parameterized reference time. */
  def recent(certDomains: DataFrame, base: String, now: Timestamp): DataFrame = {
    val dayAgo = new Timestamp(now.getTime - 24L * 3600 * 1000)
    monthBound(certDomains, Some(dayAgo), None)
      .filter(col("base_domain") === base && col("ts") > lit(dayAgo))
      .select(col("domain")).distinct()
      .orderBy(col("domain"))
  }

  /** GET /tld/<tld>?limit= (app.py:133-153): LIKE suffix match, per-domain
    * last_seen, top-k by recency. Clamp semantics ported verbatim:
    * default 100, clamped to [1, 1000] (app.py:137-141); tld lowercased and
    * leading dots stripped (app.py:143). */
  def tldTopk(certDomains: DataFrame, tldRaw: String, limitRaw: Int = 100): DataFrame = {
    val limit = math.max(1, math.min(limitRaw, 1000))
    val tld = tldRaw.toLowerCase.dropWhile(_ == '.')
    certDomains.filter(col("domain").like(s"%.$tld"))
      .groupBy(col("domain"))
      .agg(max(col("ts")).as("last_seen"))
      .orderBy(col("last_seen").desc, col("domain"))
      .limit(limit)
  }

  /** GET /stats?date= (app.py:169-193): one-pass 5-fold aggregate for one
    * day. `approx` selects the reference's uniqCombined behavior
    * (approx_count_distinct = Spark HLL++) vs exact count(DISTINCT) for
    * oracle checks (SURVEY §5.2). */
  def stats(certDomains: DataFrame, date: Date, approx: Boolean = true): DataFrame = {
    // month derived from the calendar date itself (session tz renders both
    // ts_month and to_date(ts) in UTC, so no epoch conversion may intervene)
    val month = date.toLocalDate.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
    val bounded =
      if (certDomains.columns.contains(CertStore.partitionCol))
        certDomains.filter(col(CertStore.partitionCol) === month)
      else certDomains
    val day = bounded.filter(to_date(col("ts")) === lit(date))
    val uniq: String => org.apache.spark.sql.Column =
      if (approx) c => approx_count_distinct(col(c)) else c => countDistinct(col(c))
    day.agg(
      count(lit(1)).as("total"),
      uniq("domain").as("subdomains"),
      uniq("base_domain").as("domains"),
      min(col("ts")).as("first_seen"),
      max(col("ts")).as("last_seen"))
  }

  /** GET /stream poll step (app.py:258-262), keyset-paginated: the next
    * `batch` rows in (ts, fingerprint, domain, log_name) order, resuming
    * STRICTLY after the `after` key — `None` starts from the first row.
    * Deviation (SURVEY §2.10 ST4): the reference's `ts > last LIMIT
    * 100` loses rows sharing the boundary second. Unlike a bare `ts >=`
    * cursor with client-side dedup, this makes progress even when
    * more than one batch of rows shares a single timestamp (the normal
    * case — a whole ingest poll lands on one ingestTs), so delivery is
    * loss-free. log_name is part of the key because it is part of the
    * row's identity: the same cert domain observed by two logs yields two
    * store rows identical in the other three columns, and a cursor that
    * cannot order between them would drop one at a batch boundary.
    * The redundant `ts >= last` conjunct is pushed into the Parquet scan
    * (partition pruning + row-group min/max) — the tuple OR alone would
    * not prune. */
  def streamTailAfter(certDomains: DataFrame,
      after: Option[(Timestamp, String, String, String)],
      batch: Int = 100): DataFrame = {
    val rest = after.fold(certDomains) { case (lastTs, lastFingerprint, lastDomain, lastLogName) =>
      val afterKey =
        col("ts") > lit(lastTs) ||
          (col("ts") === lit(lastTs) &&
            (col("fingerprint") > lit(lastFingerprint) ||
              (col("fingerprint") === lit(lastFingerprint) &&
                (col("domain") > lit(lastDomain) ||
                  (col("domain") === lit(lastDomain) && col("log_name") > lit(lastLogName))))))
      monthBound(certDomains, Some(lastTs), None)
        .filter(col("ts") >= lit(lastTs) && afterKey)
    }
    rest.orderBy(col("ts"), col("fingerprint"), col("domain"), col("log_name"))
      .limit(batch)
  }
}
