package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators over an event stream (ts, key, payload) —
  * the unbounded view of the engine's data (SURVEY §2.10). The reference's
  * streaming surface is a poll loop (ST4, ported as ct.Server's /stream
  * over CtQueries.streamTailAfter); these extend it with the
  * windowed/stateful operations a real deployment of the same data model
  * needs, all on the micro-batch engine with checkpointed exactly-once file
  * sources.
  *
  * At scale: windowed aggregation state is partitioned by (window, key)
  * across executors; the watermark bounds state size (late rows beyond it
  * are dropped); mapGroupsWithState shuffles once per batch on the key.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Unbounded read of an events directory (new Parquet files = new data). */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /** Unbounded read of a driver-testdata events file, schema-adaptive like
    * Tables.events: the streaming file source REQUIRES an explicit schema,
    * so probe the file's footer first (batch metadata read) and build the
    * streaming schema to match the physical `ts` encoding — raw-nanos
    * LONG (legacy generator) is floor-divided to micros; a micros
    * TIMESTAMP (UTC-adjusted or not) is read directly as TimestampType,
    * handing over the stored micros verbatim. Hard-coding either encoding
    * here has already mis-scaled event time 1000× once (watermarks,
    * windows, sessions, interval joins all silently wrong); the probe +
    * Tables' one-time [1950,2100) range check make that failure loud. */
  def readTestdataEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val tsIsLong = graft.Tables.eventsTsIsLong(spark, sfDir)
    // validate the batch-converted ts range once per (JVM, file) — the
    // streaming plan below applies the identical conversion
    graft.Tables.checkEventsTs(spark, sfDir, graft.Tables.events(spark, sfDir))
    val raw = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", if (tsIsLong) LongType else TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // the streaming file source requires a DIRECTORY; point it at the SF
    // dir and glob-filter down to the events file
    val src = spark.readStream.schema(raw)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    val converted =
      if (tsIsLong) src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else src
    converted.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
  }

  /** Tumbling-window per-type stats with a watermark: append-mode output,
    * closed windows only; rows later than the watermark are dropped and
    * their window's state is freed (ST3/ST5). The sum runs on
    * DECIMAL(18,2) and casts back to double, so the emitted value is
    * independent of per-batch partial-aggregation order — what makes the
    * stream_window_stats batch-parity oracle hashable. */
  def windowedStats(events: DataFrame, window: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding (hopping) windows: the overlapping-window form of
    * windowedStats — each event contributes to window÷slide windows
    * (exactly two at the 20 min / 10 min defaults), epoch-aligned like
    * Spark's tumbling windows. Append mode + watermark emit only closed
    * windows. At scale the state cost is windowedStats × (window÷slide):
    * the overlap factor multiplies state rows, not input reads — one
    * scan feeds every overlapping window — so keep the factor small and
    * let the watermark bound live state. */
  def slidingStats(events: DataFrame, window: String = "20 minutes",
      slide: String = "10 minutes", watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(
        org.apache.spark.sql.functions.window(col("ts"), window, slide),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming gap-based sessionization: the unbounded form of the batch
    * q26_sessions query. session_window merges events whose gaps stay under
    * `gap`; the watermark closes sessions (append mode emits only finalized
    * sessions, state for closed sessions is freed). The sum runs on
    * DECIMAL(18,2) like windowedStats, so emitted values are independent
    * of per-batch accumulation order — what makes the stream_sessions
    * batch-parity oracle hashable. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n"), col("sum_value"))

  /** Streaming session-grain conversion flags — sessionStats' composite
    * with the funnel question folded in: each gap-based session closes
    * (append mode, watermark) carrying whether it CONVERTED (contained
    * a purchase). The conversion flag is a max over an indicator —
    * order-free, so the closed-session row is deterministic however the
    * session's events arrived. */
  def sessionConversions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "30 minutes",
      convertType: String = "purchase"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n"),
        max(when(col("event_type") === convertType, 1L).otherwise(0L))
          .as("converted"))
      .select(col("user_id"), col("sw.start").as("s_start"),
        col("sw.end").as("s_end"), col("n"), col("converted"))

  /** Streaming exact dedup: first occurrence of each `idCols` key wins,
    * duplicates arriving within the watermark horizon are dropped, and —
    * the part a bare dropDuplicates gets wrong on unbounded streams — the
    * per-key state is FREED once the watermark passes its event time
    * (dropDuplicatesWithinWatermark), so state size tracks the horizon,
    * not stream history. The streaming face of Dedup.exact: an
    * at-least-once upstream (replays, retried batches) becomes
    * effectively-exactly-once downstream. */
  def dedupedEvents(events: DataFrame, watermark: String = "30 minutes",
      idCols: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join (ST5/ST6 family): pair every `aType`
    * event with the same user's `bType` events from the preceding
    * `lookback` window (inclusive both ends) — the attribution shape
    * ("which views preceded this click"). Both sides carry a watermark
    * and the join condition bounds b's event time relative to a's, which
    * is exactly what lets Spark expire join state: a buffered b row can
    * be dropped once the a-side watermark passes b_ts + lookback. Inner
    * join ⇒ append-mode output; every emitted pair is final, so a
    * batch range-join over the same data is a bit-exact oracle. */
  def eventPairsWithin(events: DataFrame, aType: String, bType: String,
      lookback: String = "10 minutes",
      watermark: String = "30 minutes"): DataFrame = {
    val a = events.filter(col("event_type") === aType)
      .select(col("event_id").as("a_id"), col("user_id"), col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val b = events.filter(col("event_type") === bType)
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") - expr(s"INTERVAL $lookback") &&
        col("b_ts") <= col("a_ts"))
      .select(col("a_id"), col("b_id"), col("user_id"), col("a_ts"), col("b_ts"))
  }

  // value is Option: an event row with NULL value must flow through the
  // typed ops with SQL null semantics (a bare Double field makes the
  // encoder throw NOT_NULL_ASSERT_VIOLATION on real-world data)
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Option[Double])
  case class UserAgg(user_id: Long, n_events: Long, total_value: Option[Double],
      last_ts: Timestamp)
  /** Internal state: the value sum is EXACT integer cents (each value
    * rounded to 2 dp HALF_UP — the same rule as Spark's double →
    * DECIMAL(18,2) cast), so the running total is independent of the
    * order rows reach the fold. A double accumulator would drift with
    * iterator order (shuffle-dependent within a batch) and could never
    * hash-match a batch oracle. */
  // not private: Spark's encoder codegen cannot access private nested
  // case classes ("Private member cannot be accessed")
  case class UserState(n: Long, cents: Long, hasValue: Boolean, lastTsUs: Long)

  /** A value as exact integer cents ([[UserState]]'s rounding rule) —
    * what the user aggregate, the z-state and the EWMA taps accumulate. */
  private def cents(v: Double): Long =
    java.math.BigDecimal.valueOf(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
      .movePointRight(2).longValueExact()

  // java.sql.Timestamp keeps sub-second precision in getNanos, not
  // getTime (ms) — state tracks full epoch MICROseconds or max(ts)
  // would silently truncate the micros the events carry
  private def tsToMicros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
  private def microsToTs(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stateful running per-user aggregate via mapGroupsWithState (ST6-style
    * custom state, update mode): state persists across micro-batches in the
    * checkpointed state store. */
  def runningUserAggs(spark: SparkSession, events: DataFrame): Dataset[UserAgg] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserAgg](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0L, false, Long.MinValue))
          // SQL aggregate semantics: count(*) counts every event, sum
          // skips NULLs, and a key whose values are ALL null sums to NULL
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserState(acc.n + 1, acc.cents + e.value.fold(0L)(cents),
              acc.hasValue || e.value.isDefined,
              math.max(acc.lastTsUs, tsToMicros(e.ts)))
          }
          state.update(next)
          // cents/100.0 is the nearest double to the exact decimal total —
          // identical to CAST(DECIMAL AS DOUBLE) in any engine
          UserAgg(userId, next.n,
            if (next.hasValue) Some(next.cents / 100.0) else None,
            microsToTs(next.lastTsUs))
      }
  }

  case class LatestState(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, value: Option[Double], deleted: Boolean)

  /** Streaming CDC latest-state with tombstones (the streaming face of
    * operators.Merge): per key, state is the (event-time, id)-max change
    * seen so far; a change whose type is the tombstone marks the key
    * deleted until a later change revives it. Update-mode emission per
    * batch; the terminal state per key must equal the batch latest-wins
    * resolution (the stream_merge oracle — a window rank in SQL).
    * Deterministic because the fold is a max over the TOTAL order
    * (ts_us, event_id), so arrival order inside the batch iterator is
    * immaterial. */
  def latestState(spark: SparkSession, events: DataFrame,
      tombstone: String): Dataset[LatestState] = {
    import spark.implicits._
    events.as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestState, LatestState](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[LatestState]) =>
          val incoming = batch.map(e => LatestState(userId, tsToMicros(e.ts),
            e.event_id, e.event_type, e.value, e.event_type == tombstone))
          val latest = (incoming ++ state.getOption.iterator)
            .maxBy(s => (s.ts_us, s.event_id))
          state.update(latest)
          latest
      }
  }

  /** The event-time buffer every ordered per-key fold below
    * ([[funnelStages]], [[seqCountStages]], [[anomalies]], [[ewma]]) runs
    * through: merge the key's persisted buffer with the batch's arrivals,
    * order by the op's (time, tiebreak) key, and split at the watermark —
    * everything ≤ it is ripe for the deterministic fold, the rest stays
    * buffered. The watermark bounds the buffer exactly as it bounds any
    * windowed aggregation's live state. With no watermark every row is
    * ripe: nothing is buffered, nothing is timed out, and the batch folds
    * in the same order.
    *
    * A non-empty buffer arms an event-time timeout so the key is
    * re-invoked when the watermark alone advances (terminal no-data
    * batch, or batches carrying only other keys). Spark fires a timeout
    * only when `timeoutTs < watermark` STRICTLY, so arm 1 ms BELOW the
    * earliest buffered event: an event exactly at a future watermark
    * millisecond then still gets its deciding invocation (the split is
    * the actual ≤-watermark gate — firing early is harmless, the buffer
    * just re-arms). The API requires a timestamp strictly above the
    * current watermark, hence the max. */
  private def splitRipe[A](state: GroupState[_], watermarked: Boolean,
      buffered: Seq[(Long, Long, A)], incoming: Iterator[(Long, Long, A)])
      : (Seq[(Long, Long, A)], Seq[(Long, Long, A)]) = {
    val all = (buffered ++ incoming).sortBy(t => (t._1, t._2))
    if (!watermarked) (all, Nil)
    else {
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val (ripe, stillBuf) = all.partition(_._1 <= wmUs)
      if (stillBuf.nonEmpty)
        state.setTimeoutTimestamp(
          math.max(stillBuf.head._1 / 1000L - 1L, wmUs / 1000L + 1L))
      (ripe, stillBuf)
    }
  }

  /** The events an ordered fold reads, carrying the `watermark` when one
    * is given, and the matching group-state timeout. */
  private def timed(events: DataFrame, watermark: Option[String]): DataFrame =
    watermark.fold(events)(events.withWatermark("ts", _))
  private def timeoutOf(watermark: Option[String]): GroupStateTimeout =
    if (watermark.isDefined) GroupStateTimeout.EventTimeTimeout
    else GroupStateTimeout.NoTimeout

  case class FunnelRow(user_id: Long, funnel_stage: Long)
  case class FunnelState(starts: Seq[Long], nFolded: Long,
      bufTsUs: Seq[Long], bufStage: Seq[Long])

  /** Streaming funnel (ST6-family): the windowFunnel DP as custom state —
    * acc[s] = max chain-start among chains at stage s+1, exactly the
    * batch operator's accumulator, so the terminal state must hash-match
    * the batch funnel (and therefore its join-chain oracle). (ts, stage)
    * pairs fold in the DP's own order through [[splitRipe]]: without a
    * `watermark` each batch folds whole (the stream_funnel gate's single
    * AvailableNow batch); with one they wait in the per-user event-time
    * buffer until the watermark passes them, so the terminal per-user
    * stage is batch-identical no matter how the key's events spread
    * across micro-batches. A user emits only after its first DECIDED
    * event: users whose events all sit inside the final horizon are
    * undecided, exactly what the terminal-watermark oracle states. Stage
    * counts only grow, so the terminal row is the per-user max across
    * update-mode emissions. */
  def funnelStages(spark: SparkSession, events: DataFrame, types: Seq[String],
      windowMicros: Long, watermark: Option[String] = None): Dataset[FunnelRow] = {
    import spark.implicits._
    val n = types.size
    val typeIdx = types.zipWithIndex.toMap
    timed(events, watermark)
      .filter(col("event_type").isin(types: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
          OutputMode.Update, timeoutOf(watermark)) {
        (userId: Long, batch: Iterator[(Long, Timestamp, String)],
            state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(
            FunnelState(Seq.fill(n)(Long.MinValue), 0L, Nil, Nil))
          val (ripe, stillBuf) = splitRipe(state, watermark.isDefined,
            prev.bufTsUs.lazyZip(prev.bufStage).map((t, s) => (t, s, ())).toSeq,
            batch.map { case (_, ts, et) =>
              (tsToMicros(ts), (typeIdx(et) + 1).toLong, ()) })
          val acc = prev.starts.toArray
          ripe.foreach { case (t, sL, _) =>
            val s = sL.toInt
            if (s == 1) acc(0) = math.max(acc(0), t)
            else if (acc(s - 2) != Long.MinValue && t <= acc(s - 2) + windowMicros)
              acc(s - 1) = math.max(acc(s - 1), acc(s - 2))
          }
          val folded = prev.nFolded + ripe.size
          state.update(FunnelState(acc.toSeq, folded,
            stillBuf.map(_._1), stillBuf.map(_._2)))
          if (folded > 0)
            Iterator(FunnelRow(userId, acc.count(_ != Long.MinValue).toLong))
          else Iterator.empty
      }
  }

  case class SeqCountRow(user_id: Long, n_matches: Long)
  case class SeqCountState(stage: Int, cnt: Long, nFolded: Long,
      bufTsUs: Seq[Long], bufStage: Seq[Long])

  /** Streaming sequence counting (ST6-family): q46_seq_count's greedy
    * state machine as custom state — (stage, count), an event matching
    * stage+1 advances, a completed chain resets and increments. Terminal
    * state must hash-match the batch operator (and therefore its
    * recursive-CTE oracle). Same (ts, stage) fold order, optional
    * event-time buffer and emission rule as [[funnelStages]]: counts only
    * grow, so the terminal row is the per-user max across update-mode
    * emissions; users with no decided event never emit. */
  def seqCountStages(spark: SparkSession, events: DataFrame,
      types: Seq[String], watermark: Option[String] = None): Dataset[SeqCountRow] = {
    import spark.implicits._
    val n = types.size
    val typeIdx = types.zipWithIndex.toMap
    timed(events, watermark)
      .filter(col("event_type").isin(types: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SeqCountState, SeqCountRow](
          OutputMode.Update, timeoutOf(watermark)) {
        (userId: Long, batch: Iterator[(Long, Timestamp, String)],
            state: GroupState[SeqCountState]) =>
          val prev = state.getOption.getOrElse(SeqCountState(0, 0L, 0L, Nil, Nil))
          val (ripe, stillBuf) = splitRipe(state, watermark.isDefined,
            prev.bufTsUs.lazyZip(prev.bufStage).map((t, s) => (t, s, ())).toSeq,
            batch.map { case (_, ts, et) =>
              (tsToMicros(ts), (typeIdx(et) + 1).toLong, ()) })
          var st = prev.stage
          var cnt = prev.cnt
          ripe.foreach { case (_, sL, _) =>
            val s = sL.toInt
            if (s == st + 1) { st += 1; if (st == n) { cnt += 1; st = 0 } }
          }
          val folded = prev.nFolded + ripe.size
          state.update(SeqCountState(st, cnt, folded,
            stillBuf.map(_._1), stillBuf.map(_._2)))
          if (folded > 0) Iterator(SeqCountRow(userId, cnt)) else Iterator.empty
      }
  }

  case class AnomalyRow(user_id: Long, event_id: Long, ts_us: Long,
      value: Double, n_prior: Long, mean_prior: Double)
  case class AnomalyState(n: Long, cents: Long, sqCents: Long,
      bufTsUs: Seq[Long], bufId: Seq[Long], bufValue: Seq[Double])

  /** Streaming per-key z-score anomaly detection (ST6-family): flag an
    * event whose value deviates from the mean of the SAME user's PRIOR
    * events (event-time order) by more than `kSigma` standard deviations,
    * once at least `minPrior` priors exist. The z-state is three
    * integers — count, exact-cents sum, exact-cents sum of squares — so
    * it is bounded per key forever, and the flag test is evaluated in
    * exact integer arithmetic: (x·n − s)² > k²·(n·ss − s²) is the z-test
    * cleared of divisions, computed on BigInt so no magnitude ever
    * rounds, which is what lets a SQL window oracle (HUGEINT math) gate
    * the stream hash-exact. Events fold in (ts, event_id) order through
    * [[splitRipe]]: without a `watermark` each batch folds whole (the
    * stream_anomaly gate's single AvailableNow batch); with one, arriving
    * events wait in the per-key event-time buffer and each is decided
    * only once the watermark passes its event time, so the emitted
    * prefix is immutable no matter how many micro-batches the stream
    * takes or how keys interleave across them. The stream_anomaly_replay
    * gate replays the events table as four time-sliced files; its oracle
    * is the batch z-test restricted to ts ≤ the terminal watermark
    * (events inside the final horizon are still buffered when the stream
    * ends — never decided). State is the z-state plus only the ≤-horizon
    * buffer. Flags are emitted as they are decided (update mode) and
    * never retracted — each decision depends only on the immutable
    * prefix before the event. */
  def anomalies(spark: SparkSession, events: DataFrame,
      minPrior: Int = 8, kSigma: Int = 3,
      watermark: Option[String] = None): Dataset[AnomalyRow] = {
    import spark.implicits._
    // the z-test is a statement about VALUES: an event with NULL value
    // carries no sample, so the op runs on the value-bearing subset (its
    // oracles filter WHERE value IS NOT NULL identically) — e.value.get
    // below is safe by this filter. The filter is written after
    // withWatermark, but Catalyst pushes a predicate that does not
    // reference the event-time column BELOW the EventTimeWatermark
    // operator — so the executed plan's watermark tracks the FILTERED
    // stream (equivalent to a source that never carried the value-less
    // rows). The replay oracle computes wm over the same filtered set;
    // don't "fix" the order here without changing it there.
    timed(events, watermark)
      .filter(col("value").isNotNull).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AnomalyState, AnomalyRow](
          OutputMode.Update, timeoutOf(watermark)) {
        (userId: Long, batch: Iterator[Event], state: GroupState[AnomalyState]) =>
          val prev = state.getOption.getOrElse(AnomalyState(0L, 0L, 0L, Nil, Nil, Nil))
          val (ripe, stillBuf) = splitRipe(state, watermark.isDefined,
            prev.bufTsUs.lazyZip(prev.bufId).lazyZip(prev.bufValue).toSeq,
            batch.map(e => (tsToMicros(e.ts), e.event_id, e.value.get)))
          var (n, s, ss) = (prev.n, prev.cents, prev.sqCents)
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyRow]
          ripe.foreach { case (tUs, id, v) =>
            val c = cents(v)
            if (n >= minPrior) {
              val dev = BigInt(c) * n - BigInt(s)
              val varTerm = BigInt(n) * ss - BigInt(s) * s
              if (dev * dev > BigInt(kSigma.toLong * kSigma) * varTerm)
                out += AnomalyRow(userId, id, tUs, v, n, s.toDouble / (100.0 * n))
            }
            n += 1; s += c; ss += c * c
          }
          state.update(AnomalyState(n, s, ss,
            stillBuf.map(_._1), stillBuf.map(_._2), stillBuf.map(_._3)))
          out.iterator
      }
  }

  case class EwmaRow(user_id: Long, event_id: Long, ts: Timestamp,
      value: Double, ewma: Double)
  case class EwmaState(taps: Seq[Long],
      bufTsUs: Seq[Long], bufId: Seq[Long], bufValue: Seq[Double])

  /** Streaming 16-tap EWMA — the unbounded face of the batch q64 window:
    * per-key state is the last ≤`taps` exact-cents values (bounded
    * forever), and each event emits its smoothed value from the tap list.
    * Because the weights are dyadic (α = 0.5, truncated at 16 taps) every
    * intermediate is an exact binary fraction, so summation order cannot
    * matter and the streamed result must BIT-EQUAL the batch lag-chain —
    * the q64 oracle gates this stream verbatim. Same (ts, event_id) fold
    * order and optional event-time buffer as [[anomalies]]: with a
    * `watermark` each event's smoothed value is emitted only once the
    * watermark passes its event time, however many micro-batches
    * delivered the key's events, and the state adds the ≤-horizon
    * buffer. A NULL-value event carries nothing to smooth — the op runs
    * on the value-bearing subset, mirrored by the oracles'
    * value IS NOT NULL. */
  def ewma(spark: SparkSession, events: DataFrame, taps: Int = 16,
      watermark: Option[String] = None): Dataset[EwmaRow] = {
    import spark.implicits._
    timed(events, watermark)
      .filter(col("value").isNotNull).as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
          OutputMode.Update, timeoutOf(watermark)) {
        (userId: Long, batch: Iterator[Event], state: GroupState[EwmaState]) =>
          val prev = state.getOption.getOrElse(EwmaState(Nil, Nil, Nil, Nil))
          val (ripe, stillBuf) = splitRipe(state, watermark.isDefined,
            prev.bufTsUs.lazyZip(prev.bufId).lazyZip(prev.bufValue).toSeq,
            batch.map(e => (tsToMicros(e.ts), e.event_id, e.value.get)))
          var tapsNow = prev.taps.toList
          val out = ripe.map { case (tUs, id, v) =>
            tapsNow = (cents(v) :: tapsNow).take(taps)
            var num = 0.0; var den = 0.0
            tapsNow.zipWithIndex.foreach { case (c, i) =>
              val w = math.pow(0.5, i + 1)
              num += c.toDouble * w; den += w
            }
            EwmaRow(userId, id, microsToTs(tUs), v, num / den / 100.0)
          }
          state.update(EwmaState(tapsNow,
            stillBuf.map(_._1), stillBuf.map(_._2), stillBuf.map(_._3)))
          out.iterator
      }
  }

  /** Convenience: run a streaming frame to a named in-memory table and
    * process everything currently available (test/dev helper). */
  def runToMemory(df: DataFrame, name: String, checkpoint: String,
      mode: OutputMode = OutputMode.Append()): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .start()
}
