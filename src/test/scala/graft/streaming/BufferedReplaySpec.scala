package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.streaming.OutputMode
import graft.SparkSpec

/** Pins the event-time-buffer contract of the stateful operators run
  * with a watermark, across APPENDED batches:
  *
  *  - an event is DECIDED (folded + emitted) only once the watermark
  *    passes its event time — events inside the final horizon never emit;
  *  - a genuinely LATE event (behind the watermark when its batch
  *    arrives) is dropped by the stateful operator's late-row filter and
  *    never perturbs the already-decided prefix — Spark's watermark
  *    contract, stated here so nobody mistakes the time-ordered replay
  *    gates for accidental behavior;
  *  - decisions fold in (ts, event_id) order even when the key's events
  *    arrive across several micro-batches.
  */
class BufferedReplaySpec extends SparkSpec {
  import spark.implicits._
  import EventStreams.Event

  private def ts(s: String) = Timestamp.valueOf(s)

  private def writeBatch(dir: String, rows: Seq[Event]): Unit =
    rows.toDF().coalesce(1).write.mode(SaveMode.Append).parquet(dir)

  test("anomaliesBuffered: watermark decides, late events drop, spike flags") {
    val dir = Files.createTempDirectory("events-anom-buf").toString
    val ckpt = Files.createTempDirectory("ckpt-anom-buf").toString

    // user 1: eight 1.00-valued priors + a 9.00 spike (id 10)
    val priors = (1 to 9).map(i =>
      Event(i.toLong, ts(f"2024-01-01 00:${(i - 1) * 5}%02d:00"), 1, "click", Some(1.0)))
    writeBatch(dir, priors :+ Event(10, ts("2024-01-01 00:45:00"), 1, "click", Some(9.0)))

    val q = EventStreams.runToMemory(
      EventStreams.anomalies(spark,
        EventStreams.readEvents(spark, dir), watermark = Some("30 minutes")).toDF(),
      "anom_buf_out", ckpt, OutputMode.Update())
    q.processAllAvailable()
    // watermark = 00:45 − 30 min = 00:15 → only ids 1-4 decided, none
    // flaggable (fewer than minPrior priors)
    assert(spark.table("anom_buf_out").count() == 0)

    // batch 2: a far-future event (advances the watermark to 02:30) and a
    // genuinely LATE event (00:01 < current watermark 00:15) whose 500.00
    // value WOULD flag enormously if it were ever folded
    writeBatch(dir, Seq(
      Event(11, ts("2024-01-01 03:00:00"), 1, "click", Some(1.0)),
      Event(12, ts("2024-01-01 00:01:00"), 1, "click", Some(500.0))))
    q.processAllAvailable()
    q.stop()

    val flagged = spark.table("anom_buf_out")
      .select("event_id").as[Long].collect().toSet
    // ids 5-10 became decided (≤ 02:30): the spike flags, the late 500.00
    // never folded (it would have flagged), the 03:00 event is undecided
    assert(flagged == Set(10L), s"got $flagged")
    spark.catalog.dropTempView("anom_buf_out")
  }

  test("watermark tracks the FILTERED stream: pushdown moves the type filter below EventTimeWatermark") {
    // The replay oracles compute their terminal watermark over the
    // type/value-FILTERED events, because Catalyst pushes a predicate
    // that does not reference the event-time column below the
    // EventTimeWatermark operator — even when withWatermark is written
    // first. This spec pins that behavior: the corpus's LATEST event is
    // a non-qualifying type; if it advanced the watermark, the last
    // qualifying events (31+ min before it) would be decided and a
    // second sequence counted. If a future Spark
    // version stops pushing the predicate, this test flips — and the
    // four *_replay oracles must flip their wm CTEs with it.
    val dir = Files.createTempDirectory("events-wm-push").toString
    val ckpt = Files.createTempDirectory("ckpt-wm-push").toString
    writeBatch(dir, Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", Some(1.0)),
      Event(2, ts("2024-01-01 00:01:00"), 1, "click", Some(1.0)),
      Event(3, ts("2024-01-01 00:02:00"), 1, "purchase", Some(1.0)),
      // one full hour later: a qualifying event...
      Event(4, ts("2024-01-01 01:02:00"), 1, "view", Some(1.0)),
      Event(5, ts("2024-01-01 01:03:00"), 1, "click", Some(1.0)),
      Event(6, ts("2024-01-01 01:04:00"), 1, "purchase", Some(1.0)),
      // ...and the corpus's latest event, NON-qualifying, 31 min after
      // the last qualifying one: filtered-stream wm = 01:04 − 30 min =
      // 00:34 → the second sequence stays undecided (count 1);
      // unfiltered wm would be 01:35 − 30 min = 01:05 > 01:04 → the
      // purchase at 01:04 would be decided and the count would read 2
      Event(7, ts("2024-01-01 01:35:00"), 1, "error", Some(1.0))))
    val q = EventStreams.runToMemory(
      EventStreams.seqCountStages(spark, EventStreams.readEvents(spark, dir),
        Seq("view", "click", "purchase"), watermark = Some("30 minutes")).toDF(),
      "wm_push_out", ckpt, OutputMode.Update())
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("wm_push_out")
      .select("user_id", "n_matches").as[(Long, Long)].collect()
    assert(counts.map(_._2).max == 1L,
      s"filtered-stream watermark must leave the second sequence undecided: ${counts.toSeq}")
  }

  test("watermark-BOUNDARY row arriving in a later file: admitted, folded in (ts,id) order across the file boundary") {
    // The worst LEGAL lateness of a log-structured replay: a row whose
    // event time is EXACTLY the watermark its preceding file established.
    // Spark's stateful late-row filter removes rows STRICTLY behind the
    // watermark, so the boundary row must be admitted — and because the
    // key receives the late row as INCOMING data in its batch, splitRipe
    // merges it with the still-buffered earlier arrivals and folds in
    // (ts, event_id) order even when its ts-tie partner arrived one file
    // EARLIER with a LARGER id. This is the case the hostile replay
    // split plants at every slice boundary (eventsSplitByTime's odd-id
    // boundary rule). Both files are pre-written and replayed with
    // maxFilesPerTrigger=1 — the gate's AvailableNow shape, where file
    // batches run back-to-back with no interleaved no-data flush (a LIVE
    // stream that idles between the files would flush the tie partner at
    // the earlier watermark, which is why the replay fixture never makes
    // a boundary row arrive MORE than one file late).
    val dir = Files.createTempDirectory("events-wmb-buf").toString
    val ckpt = Files.createTempDirectory("ckpt-wmb-buf").toString

    // file 1: ids 1, 3, 9 — max ts 00:40 → wm after batch 0 = 00:10
    writeBatch(dir, Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "click", Some(1.0)),
      Event(3, ts("2024-01-01 00:10:00"), 1, "click", Some(3.0)),
      Event(9, ts("2024-01-01 00:40:00"), 1, "click", Some(9.0))))
    // file 2: id 2 at EXACTLY that watermark (00:10), tying id 3's ts
    // with a SMALLER id; id 10 only advances the terminal wm to 01:00
    writeBatch(dir, Seq(
      Event(2, ts("2024-01-01 00:10:00"), 1, "click", Some(5.0)),
      Event(10, ts("2024-01-01 01:30:00"), 1, "click", Some(1.0))))
    // deterministic replay order: file 1 strictly older than file 2
    val parts = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(1700000000000L + i * 60000L) }

    val src = spark.readStream.schema(EventStreams.eventSchema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = EventStreams.runToMemory(
      EventStreams.ewma(spark, src, watermark = Some("30 minutes")).toDF(),
      "wmb_buf_out", ckpt, OutputMode.Update())
    q.processAllAvailable()
    q.stop()
    val all = spark.table("wmb_buf_out")
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    // terminal wm = 01:00: ids 1, 2, 3, 9 decided; 10 undecided. The
    // boundary row was NOT late-dropped (ts == wm, not <), and the fold
    // order is (ts, id) — id 2 between id 1 and its tie partner id 3.
    assert(all.keySet == Set(1L, 2L, 3L, 9L), s"got ${all.keySet}")
    assert(math.abs(all(2L) - (5.0 * 0.5 + 1.0 * 0.25) / 0.75) < 1e-12,
      s"id 2 must fold after id 1 only: ${all(2L)}")
    assert(math.abs(all(3L) - (3.0 * 0.5 + 5.0 * 0.25 + 1.0 * 0.125) / 0.875) < 1e-12,
      s"id 3 must fold after the boundary row id 2: ${all(3L)}")
    assert(math.abs(all(9L) -
      (9.0 * 0.5 + 3.0 * 0.25 + 5.0 * 0.125 + 1.0 * 0.0625) / 0.9375) < 1e-12)
    spark.catalog.dropTempView("wmb_buf_out")
  }

  test("ewmaBuffered: emits exactly the decided prefix, in-order smoothing") {
    val dir = Files.createTempDirectory("events-ewma-buf").toString
    val ckpt = Files.createTempDirectory("ckpt-ewma-buf").toString

    writeBatch(dir, (1 to 4).map(i =>
      Event(i.toLong, ts(f"2024-01-01 00:${(i - 1) * 10}%02d:00"), 1, "click",
        Some(i.toDouble))))
    val q = EventStreams.runToMemory(
      EventStreams.ewma(spark,
        EventStreams.readEvents(spark, dir), watermark = Some("30 minutes")).toDF(),
      "ewma_buf_out", ckpt, OutputMode.Update())
    q.processAllAvailable()
    // wm = 00:30 − 30 min = 00:00 → only id 1 decided; first tap = value
    val first = spark.table("ewma_buf_out")
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    assert(first == Map(1L -> 1.0), s"got $first")

    // advance far enough to decide ids 2-4; id 5 itself stays undecided
    writeBatch(dir, Seq(Event(5, ts("2024-01-01 02:00:00"), 1, "click", Some(9.0))))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("ewma_buf_out")
      .select("event_id", "ewma").as[(Long, Double)].collect().toMap
    assert(all.keySet == Set(1L, 2L, 3L, 4L), s"got ${all.keySet}")
    // 16-tap dyadic smoothing in (ts, id) order: id 2 = (2·1/2 + 1·1/4)/(3/4)
    assert(math.abs(all(2L) - (2.0 * 0.5 + 1.0 * 0.25) / 0.75) < 1e-12)
    spark.catalog.dropTempView("ewma_buf_out")
  }

  /** Two appended batches whose keys straddle them, and the terminal
    * watermark they leave (02:10 − 30 min). User 1's click arrives in
    * batch 2 but precedes its batch-1 purchase in event time, so only a
    * (ts, stage)-ordered fold completes its chain; user 2's purchase
    * sits inside the final horizon; user 3 has only undecided events. */
  private val straddleTypes = Seq("view", "click", "purchase")
  private val straddleWm = ts("2024-01-01 01:40:00")

  private def straddle(kind: String,
      op: DataFrame => DataFrame): (Seq[Event], DataFrame) = {
    val dir = Files.createTempDirectory(s"events-$kind-straddle").toString
    val ckpt = Files.createTempDirectory(s"ckpt-$kind-straddle").toString
    val b1 = Seq(
      Event(1, ts("2024-01-01 00:00:00"), 1, "view", Some(1.0)),
      Event(2, ts("2024-01-01 01:00:00"), 1, "purchase", Some(1.0)),
      Event(3, ts("2024-01-01 00:10:00"), 2, "view", Some(1.0)))
    // batch 2 arrives at watermark 00:30: nothing in it is late
    val b2 = Seq(
      Event(4, ts("2024-01-01 00:40:00"), 1, "click", Some(1.0)),
      Event(5, ts("2024-01-01 00:50:00"), 2, "click", Some(1.0)),
      Event(6, ts("2024-01-01 01:50:00"), 2, "purchase", Some(1.0)),
      Event(7, ts("2024-01-01 02:10:00"), 3, "view", Some(1.0)))
    writeBatch(dir, b1)
    val q = EventStreams.runToMemory(op(EventStreams.readEvents(spark, dir)),
      s"${kind}_straddle_out", ckpt, OutputMode.Update())
    q.processAllAvailable()
    writeBatch(dir, b2)
    q.processAllAvailable()
    q.stop()
    (b1 ++ b2, spark.table(s"${kind}_straddle_out"))
  }

  test("funnelStages with a watermark: terminal per-user stage is the batch funnel over the decided events") {
    val (all, out) = straddle("funnel", ev => EventStreams.funnelStages(spark, ev,
      straddleTypes, windowMicros = 21600000000L, watermark = Some("30 minutes")).toDF())
    val streamed = out.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max($"funnel_stage"))
      .as[(Long, Long)].collect().toMap
    spark.catalog.dropTempView("funnel_straddle_out")
    val batch = graft.operators.Funnel.windowFunnel(
        all.filter(!_.ts.after(straddleWm)).toDF(), straddleTypes, 21600000000L)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // user 1 completes in (ts, stage) order; user 2's horizon purchase is
    // not folded; user 3 never emits
    assert(batch == Map(1L -> 3L, 2L -> 2L), s"got $batch")
  }

  test("seqCountStages with a watermark: terminal per-user count is the batch fold over the decided events") {
    val (all, out) = straddle("seq", ev => EventStreams.seqCountStages(spark, ev,
      straddleTypes, watermark = Some("30 minutes")).toDF())
    val streamed = out.groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max($"n_matches"))
      .as[(Long, Long)].collect().toMap
    spark.catalog.dropTempView("seq_straddle_out")
    val batch = graft.operators.Funnel.sequenceCount(
        all.filter(!_.ts.after(straddleWm)).toDF(), straddleTypes)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    assert(batch == Map(1L -> 1L, 2L -> 0L), s"got $batch")
  }
}
