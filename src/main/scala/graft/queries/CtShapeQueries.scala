package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's 8 endpoint query shapes (SURVEY §2/§3, api/app.py:92-272)
  * realized over the driver's `events` table, which is the testdata analog of
  * `cert_domains` (ts + key + payload, per FIXTURES.md §B).
  *
  * Shape mapping (reference file:line → here):
  *  - /domain point lookup + latest-100   api/app.py:95       → ctDomainLookup
  *  - /subdomains group-by max(ts)        api/app.py:112-114  → ctSubdomains
  *  - /recent time-window distinct        api/app.py:123-127  → ctRecent
  *  - /tld LIKE + group + top-k           api/app.py:146-153  → ctTldTopk
  *  - /stats multi-aggregate pass         api/app.py:184-193  → ctStats (exact) + ctStatsApprox (A4 sketch)
  *  - count()                             README.md:167       → ctCount
  *  - /stream incremental tail            api/app.py:258-262  → ctStreamTail
  *  - claimed fingerprint dedup           README.md:19        → ctDedupLatest (row_number window)
  *
  * Determinism: "now"/"today" are fixed literals inside the data's range
  * (events span 2024-01-01..2024-01-30), every ORDER BY..LIMIT carries a
  * full tiebreaker (FIXTURES.md oracle rules 1-2).
  */
object CtShapeQueries {

  private val NOW = "2024-01-30 12:00:00" // parameterized "now" (SURVEY §7.4)

  /** /domain/<name>: equality filter → latest-100 top-k.
    * Catalyst plans Sort+Limit as TakeOrderedAndProjectExec (no full sort). */
  def ctDomainLookup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === lit("click"))
      .orderBy(col("ts").desc, col("event_id"))
      .limit(100)

  /** /subdomains/<base>: filter → groupBy max(ts) → ordered enumeration. */
  def ctSubdomains(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === lit("purchase"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_seen"))
      .orderBy(col("user_id"))

  /** /recent/<base>: conjunctive filter with time lookback → GROUP BY as
    * distinct (Catalyst rewrites both to the same Aggregate). */
  def ctRecent(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === lit("view") &&
        col("ts") > lit(java.sql.Timestamp.valueOf("2024-01-29 12:00:00")))
      .select(col("user_id")).distinct()
      .orderBy(col("user_id"))

  /** /tld/<tld>: LIKE suffix match → group max → top-k by recency. */
  def ctTldTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("props").like("%9}"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_seen"))
      .orderBy(col("last_seen").desc, col("user_id"))
      .limit(50)

  /** /stats?date=: one-pass 5-fold aggregate over a single day.
    * Exact count(DISTINCT) here for the oracle; the approximate variant
    * (reference uniqCombined, api/app.py:187-188) is ctStatsApprox. */
  def ctStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-15")))
      .agg(
        count(lit(1)).as("total"),
        countDistinct(col("user_id")).as("users"),
        countDistinct(col("event_type")).as("types"),
        min(col("ts")).as("first_seen"),
        max(col("ts")).as("last_seen"))

  /** A4 uniqCombined analog: HyperLogLog++ sketch. Sketch values differ
    * across engines, so the estimates themselves cannot be oracle-hashed;
    * instead the declared row carries the exact counts (oracle-computable)
    * plus `*_within_tol` booleans asserting |approx-exact|/exact ≤ 5%.
    * The oracle pins the booleans to true, so the HLL path is now a
    * checked gate (the estimate must track exact), not rows-only. */
  def ctStatsApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("event_type")).as("exact_types"),
        approx_count_distinct(col("user_id"), 0.02).as("au"),
        approx_count_distinct(col("event_type"), 0.02).as("at"))
      .select(
        col("exact_users"), col("exact_types"),
        (abs(col("au") - col("exact_users")).cast("double") / col("exact_users") <= 0.05)
          .as("users_within_tol"),
        (abs(col("at") - col("exact_types")).cast("double") / col("exact_types") <= 0.05)
          .as("types_within_tol"))

  /** Total table count (README.md:167). */
  def ctCount(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(count(lit(1)).as("total"))

  /** /stream: incremental tail scan — ts > cursor, ascending, batch cap.
    * Uses ts >= boundary-safe tiebreaker ordering (fixes the reference's
    * boundary bug, SURVEY §2.10 ST4). */
  def ctStreamTail(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts") > lit(java.sql.Timestamp.valueOf(NOW)))
      .orderBy(col("ts"), col("event_id"))
      .limit(100)

  /** Claimed fingerprint dedup (README.md:19) done properly at scale:
    * keep the latest row per (user_id, event_type) via a ranking window —
    * the Window.partitionBy+row_number pattern from SURVEY §2.5. */
  def ctDedupLatest(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("ts").as("last_ts"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Ingest-pipeline throughput probe (S4-S10, ct_ingestor.py:180-221):
    * run N synthetic CT leaves through decode → X.509 parse → explode →
    * normalize → dedup. The declared output flattens `san` to a
    * comma-joined string (the harness canonicalizer cannot sort array
    * cells) and is checked against a literal oracle stating the fixture
    * cert's known-good parse — a real X.509-parse correctness gate, not
    * rows-only. N scales with the bench SF dir for the rows/sec signal. */
  def ctIngestPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = if (dir.endsWith("sf0.1")) 20000L else 2000L
    val leaf = graft.ct.DemoFixture.leafB64
    val raw = spark.range(n).select(
      lit("Bench Log").as("log_name"),
      col("id").as("entry_index"),
      lit(leaf).as("leaf_input")).as[graft.ct.RawEntry]
    graft.ct.IngestPipeline.certDomains(raw,
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      .withColumn("san", concat_ws(",", col("san")))
      .orderBy(col("domain"))
  }

  /** Keyset-pagination probe for the SSE /stream endpoint (ST4 deviation
    * contract): two consecutive 100-row pages pulled through the REAL
    * `CtQueries.streamTailAfter` over a cert_domains-shaped projection of
    * events with ts truncated to the HOUR — dozens of rows share every
    * timestamp, the exact regime where the reference's `ts > last` cursor
    * (api/app.py:258-262) silently drops boundary rows. Loss-free delivery
    * means page1 ++ page2 must equal the first 200 rows of the total
    * keyset order strictly after the initial cursor, with the page split
    * falling exactly at row 100 — which is what the oracle states in SQL.
    * Page 2's cursor is page 1's last emitted key: one bounded 100-row
    * driver round-trip, the same loop the SSE server runs per poll
    * (Server.scala /stream). */
  def ctStreamPage(spark: SparkSession, dir: String): DataFrame = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    // raw-ts pre-filter BEFORE the truncation: hour-truncating never moves
    // a row across an hour-aligned cursor, so this is semantically the
    // cursor's own ts bound — but stated on the raw column it reaches the
    // Parquet scan (PushedFilters), which the post-truncation predicate
    // cannot (the production streamTailAfter gets the same effect from
    // its raw-ts conjunct + month pruning)
    val frame = Tables.events(spark, dir)
      .filter(col("ts") >= lit(t0))
      .select(
        date_trunc("hour", col("ts")).as("ts"),
        col("event_type").as("fingerprint"),
        col("user_id").cast("string").as("domain"),
        col("event_id").cast("string").as("log_name"))
    val page1 = graft.ct.CtQueries.streamTailAfter(frame, Some((t0, "", "", "")), batch = 100)
    // the cursor for page 2 = max key of page 1 (the server keeps this
    // from the rows it just emitted; re-derived here from the page itself)
    val rows = page1.collect()
    if (rows.isEmpty) return page1.withColumn("page", lit(1)) // no data after cursor
    val k = rows.maxBy(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getString(2), r.getString(3)))
    // page 1 is already on the driver — feed it back as a local relation
    // instead of re-executing its top-k scan inside the union
    val page1Local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), page1.schema)
    val page2 = graft.ct.CtQueries.streamTailAfter(frame,
      Some((k.getTimestamp(0), k.getString(1), k.getString(2), k.getString(3))), batch = 100)
    page1Local.withColumn("page", lit(1))
      .union(page2.withColumn("page", lit(2)))
      .orderBy(col("page"), col("ts"), col("fingerprint"), col("domain"), col("log_name"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ct_ingest_pipeline" -> (ctIngestPipeline _),
    "ct_stream_page" -> (ctStreamPage _),
    "ct_domain_lookup" -> (ctDomainLookup _),
    "ct_subdomains" -> (ctSubdomains _),
    "ct_recent" -> (ctRecent _),
    "ct_tld_topk" -> (ctTldTopk _),
    "ct_stats" -> (ctStats _),
    "ct_stats_approx" -> (ctStatsApprox _),
    "ct_count" -> (ctCount _),
    "ct_stream_tail" -> (ctStreamTail _),
    "ct_dedup_latest" -> (ctDedupLatest _)
  )

  def oracleSql: Map[String, String] = Map(
    // Known-good parse of the demo fixture certificate (DemoFixture.certB64):
    // every leaf is identical, so after the (fingerprint, domain) dedup the
    // pipeline must emit exactly one row per SAN domain with these values.
    // Verifies admission, DER slice, X.509 fields, SHA-256, PSL base_domain
    // and log-name normalization end to end.
    "ct_ingest_pipeline" -> {
      val fp = "9de4760c08330536f9bbedb7c3d15b12f1794ee60a807dcd3ab933800a1eb7df"
      val dn = "CN=Example.COM,O=Graft Test,C=RS"
      val san = "api.example.org,example.com,www.example.com"
      def row(domain: String, base: String) =
        s"(TIMESTAMP '2024-01-15 00:00:00', '$domain', '$base', '$fp', '$dn', '$dn', " +
        s"'$san', TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2033-12-29 00:00:00', 'Bench_Log')"
      s"""SELECT * FROM (VALUES
         |  ${row("api.example.org", "example.org")},
         |  ${row("example.com", "example.com")},
         |  ${row("www.example.com", "example.com")})
         |AS t(ts, domain, base_domain, fingerprint, issuer, subject, san,
         |     not_before, not_after, log_name)
         |ORDER BY domain""".stripMargin
    },
    "ct_domain_lookup" ->
      """SELECT * FROM events WHERE event_type = 'click'
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin,
    "ct_subdomains" ->
      """SELECT user_id, max(ts) AS last_seen FROM events
        |WHERE event_type = 'purchase' GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ct_recent" ->
      """SELECT user_id FROM events
        |WHERE event_type = 'view' AND ts > TIMESTAMP '2024-01-29 12:00:00'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ct_tld_topk" ->
      """SELECT user_id, max(ts) AS last_seen FROM events
        |WHERE props LIKE '%9}' GROUP BY user_id
        |ORDER BY last_seen DESC, user_id LIMIT 50""".stripMargin,
    "ct_stats" ->
      """SELECT count(*) AS total,
        |  count(DISTINCT user_id) AS users,
        |  count(DISTINCT event_type) AS types,
        |  min(ts) AS first_seen, max(ts) AS last_seen
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'""".stripMargin,
    "ct_count" -> "SELECT count(*) AS total FROM events",
    "ct_stream_tail" ->
      s"""SELECT * FROM events WHERE ts > TIMESTAMP '$NOW'
         |ORDER BY ts, event_id LIMIT 100""".stripMargin,
    // the loss-free-cursor contract: two keyset pages == the first 200
    // rows of the total order after the cursor, split exactly at 100
    "ct_stream_page" ->
      """WITH f AS (SELECT date_trunc('hour', ts) AS ts, event_type AS fingerprint,
        |  CAST(user_id AS VARCHAR) AS domain, CAST(event_id AS VARCHAR) AS log_name
        |  FROM events),
        |o AS (SELECT *, row_number() OVER
        |    (ORDER BY ts, fingerprint, domain, log_name) AS rn
        |  FROM f WHERE ts >= TIMESTAMP '2024-01-10 00:00:00')
        |SELECT ts, fingerprint, domain, log_name,
        |  CAST(CASE WHEN rn <= 100 THEN 1 ELSE 2 END AS INTEGER) AS page
        |FROM o WHERE rn <= 200 ORDER BY page, ts, fingerprint, domain, log_name""".stripMargin,
    "ct_dedup_latest" ->
      """SELECT user_id, event_type, ts AS last_ts, event_id FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // The HLL estimates are engine-specific; the checkable facts are the
    // exact counts and that Spark's own estimate stayed within tolerance.
    "ct_stats_approx" ->
      """SELECT count(DISTINCT user_id) AS exact_users,
        |  count(DISTINCT event_type) AS exact_types,
        |  true AS users_within_tol, true AS types_within_tol
        |FROM events""".stripMargin
  )
}
