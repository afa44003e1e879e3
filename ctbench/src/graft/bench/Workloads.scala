package graft.bench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ct._

/** Records the ingest timestamp the engine asked for in each micro-batch,
  * keyed by batch id. `schedule` may pin a batch's timestamp; otherwise it
  * is the wall clock, as in StreamIngest's default. */
final class IngestClock(spark: SparkSession, schedule: Long => Option[Long]) {
  val ts = new ConcurrentHashMap[Long, java.lang.Long]()
  private val calls = new AtomicLong
  val fn: () => Timestamp = () => {
    val n = calls.getAndIncrement()
    val id = Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(n)
    val t = schedule(id).getOrElse(System.currentTimeMillis())
    ts.put(id, t)
    new Timestamp(t)
  }
}

/** One StreamIngest run: the batches it reported and when each became visible. */
final case class Drain(batches: Seq[Batch], startMs: Long, endMs: Long,
    commitMs: Map[Long, Long], progress: Seq[StreamingQueryProgress], parseCalls: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def dataProgress: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
}

/** Request keys drawn from the truth: Zipf(1.1) over a seeded shuffle of
  * each key space; 10% of /domain names do not exist. */
final class Keys(t: Truth, seed: Long, nowMs: Long, dates: Vector[LocalDate]) {
  private def shuffled(xs: Iterable[String], salt: Long): Vector[String] = {
    val a = xs.toArray.sorted
    val rnd = new SplittableRandom(seed * 7919 + salt)
    for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
    a.toVector
  }
  val domains: Vector[String] = shuffled(t.byDomain.keys, 1)
  val bases: Vector[String] = shuffled(t.byBase.keys, 2)
  private val recentBases = {
    val r = shuffled(t.rows.filter(_.tsMs > nowMs - Truth.DayMs).map(_.base).distinct, 3)
    if (r.isEmpty) bases else r
  }
  val tlds: Vector[String] = shuffled(t.rows.map(_.domain.split('.').last).distinct, 4)
  private val zd = new Corpus.Zipf(domains.length, 1.1)
  private val zb = new Corpus.Zipf(bases.length, 1.1)
  private val zr = new Corpus.Zipf(recentBases.length, 1.1)
  private val zt = new Corpus.Zipf(tlds.length, 1.1)
  private val zs = new Corpus.Zipf(dates.length, 1.1)
  private val spanDays = java.time.temporal.ChronoUnit.DAYS.between(dates.min, dates.max).toInt

  def domainName(rnd: SplittableRandom): String =
    if (rnd.nextDouble() < 0.1) s"nx${rnd.nextInt(1000000)}.${bases(zb.sample(rnd))}"
    else domains(zd.sample(rnd))

  def req(route: String, rnd: SplittableRandom): Req = route match {
    case "domain" => val d = domainName(rnd); Req(route, d, s"/domain/$d")
    case "subdomains" => val b = bases(zb.sample(rnd)); Req(route, b, s"/subdomains/$b")
    case "recent" => val b = recentBases(zr.sample(rnd)); Req(route, b, s"/recent/$b")
    case "tld" => val x = tlds(zt.sample(rnd)); Req(route, x, s"/tld/$x")
    case "stats" =>
      val d = if (rnd.nextDouble() < 0.25) dates.head.plusDays(rnd.nextInt(-3, spanDays + 4).toLong)
        else dates(zs.sample(rnd))
      Req(route, d.toString, s"/stats?date=$d")
    case "size" => Req(route, "", "/size")
  }
}

object Workloads {
  val Routes: Vector[String] = Vector("domain", "subdomains", "recent", "tld", "stats", "size")
  /** serve_read's route mix as a fixed 20-request cycle: /domain 50%,
    * /subdomains 15%, /recent 10%, /tld 10%, /stats 10%, /size 5%. A cycle
    * rather than a random draw, so every run sends the same route mix. */
  val ServeCycle: Vector[String] = Vector("domain", "subdomains", "domain", "recent", "domain", "tld",
    "domain", "stats", "domain", "subdomains", "domain", "size", "domain", "recent", "domain", "tld",
    "domain", "stats", "domain", "subdomains")
  /** mixed_tail's probe of the other routes: ServeCycle without /domain. */
  val ProbeCycle: Vector[String] = ServeCycle.filter(_ != "domain")
  val QueryRoutes: Vector[String] = Vector("domain", "subdomains", "recent", "tld", "stats", "stream")

  /** mixed_tail's stub-log growth rate, entries per second over all logs. */
  val TailRate = 50.0
}

final class Workloads(spark: SparkSession, o: Main.Opts, res: Results) {
  import Workloads._

  private val trace: Option[Trace] = if (o.trace) Some(new Trace(spark)) else None
  private var dirs = 0
  private val born = System.nanoTime()
  /** Progress on stderr: seconds since the workload object was made. */
  private def phase(name: String): Unit =
    System.err.println(f"ctbench ${(System.nanoTime() - born) / 1e9}%7.2f s  $name")
  private def fresh(name: String): String = { dirs += 1; s"${o.work}/$name-$dirs" }

  // ---------------------------------------------------------------- ingest

  private def offsets(json: String): Map[String, Long] =
    if (json == null || json == "null") Map.empty
    else {
      val n = Checker.parse(json)
      n.fieldNames().asScala.map(k => k -> n.get(k).asLong()).toMap
    }

  private def drainOf(q: StreamingQuery, clock: IngestClock, t0: Long, t1: Long, calls: Long): Drain = {
    val progress = q.recentProgress.toSeq
    val data = progress.filter(_.numInputRows > 0).groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
    val batches = data.map { p =>
      val src = p.sources.head
      val from = offsets(src.startOffset)
      val ts = Option(clock.ts.get(p.batchId)).getOrElse(
        throw new IllegalStateException(s"no ingest timestamp recorded for batch ${p.batchId}"))
      Batch(p.batchId, ts.longValue, offsets(src.endOffset).map { case (log, hi) =>
        log -> (from.getOrElse(log, 0L), hi) })
    }
    val commits = data.map(p => p.batchId ->
      (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)).toMap
    Drain(batches, t0, t1, commits, progress, calls)
  }

  /** Drain the stub logs' backlog into a fresh store with Trigger.AvailableNow. */
  private def drain(stub: StubLog, store: String, clock: IngestClock): Drain = {
    val calls0 = CertParser.parseInvocations.get()
    val t0 = System.currentTimeMillis()
    val q = StreamIngest.start(spark, Map("loglist" -> stub.logListJson), store,
      fresh("checkpoint"), clock.fn, Trigger.AvailableNow())
    q.awaitTermination()
    drainOf(q, clock, t0, System.currentTimeMillis(), CertParser.parseInvocations.get() - calls0)
  }

  /** Warm the JVM and Spark on a small corpus of its own before anything is timed. */
  private def warmUp(): Unit = {
    val c = Corpus.generate(CorpusSpec(o.seed + 1000003, 400, 1, 0.0, 0.02))
    val stub = new StubLog(c, (l, _) => c.slots(l).length)
    try {
      val store = fresh("warmup-store")
      drain(stub, store, new IngestClock(spark, _ => None))
      CertStore.read(spark, store).filter("domain = 'x'").collect()
    } finally stub.stop()
  }

  /** Check the store holds exactly the truth's rows; returns its row count. */
  private def checkStore(t: Truth, store: String): Long = {
    val want = new java.util.HashMap[(String, String, Long), Set[String]]()
    t.rows.foreach(r => want.put((r.cert.fingerprint, r.domain, r.tsMs), r.logs))
    val seen = new java.util.HashSet[(String, String, Long)]()
    var unexpected, dup, wrongLog = 0L
    val rows = CertStore.read(spark, store).select("fingerprint", "domain", "ts", "log_name").collect()
    var example = ""
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1), r.getTimestamp(2).getTime)
      val logs = want.get(k)
      if (logs == null) { unexpected += 1; example = s"unexpected row $k" }
      else {
        if (!seen.add(k)) { dup += 1; example = s"duplicate row $k" }
        if (!logs.contains(r.getString(3))) { wrongLog += 1; example = s"row $k has log ${r.getString(3)}" }
      }
    }
    val missing = want.size - seen.size
    if (missing > 0) example = s"$missing truth rows missing from the store"
    res.check(if (unexpected + dup + wrongLog + missing == 0) None
      else Some(s"store: $unexpected unexpected, $dup duplicate, $wrongLog wrong-log, $missing missing rows ($example)"))
    rows.length
  }

  /** Rejected entries as seen from outside: consumed entries whose
    * certificate never reached the store. Must equal the planted rejects. */
  private def checkRejects(t: Truth, store: String): Long = {
    val fps = CertStore.read(spark, store).select("fingerprint").distinct().collect().map(_.getString(0)).toSet
    val logIndex = t.corpus.logNames.zipWithIndex.toMap
    val rejected = t.batches.iterator.flatMap(_.ranges).map { case (log, (from, until)) =>
      (from until until).count { i =>
        val s = t.corpus.slots(logIndex(log))(i.toInt)
        s < 0 || !fps.contains(t.corpus.certs(s).fingerprint)
      }.toLong
    }.sum
    res.check(if (rejected == t.rejected) None
      else Some(s"rejected entries: $rejected, planted ${t.rejected}"))
    rejected
  }

  /** The store's committed data files (Spark hides paths starting with '_'). */
  private def storeFiles(store: String): Vector[Path] = {
    val root = Paths.get(store)
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
      .toVector
  }

  private def storeBytes(store: String): Long = storeFiles(store).map(Files.size).sum

  // --------------------------------------------------------------- serving

  private def startServer(store: String, nowMs: Option[Long]): Server = {
    val table: () => DataFrame = trace.map(_.table(store)).getOrElse(() => CertStore.read(spark, store))
    nowMs match {
      case Some(ms) => new Server(spark, table, store, port = 0, now = () => new Timestamp(ms)).start()
      case None => new Server(spark, table, store, port = 0).start()
    }
  }

  private def check(t: Truth, s: Sample, nowMs: Option[Long], bytes: Long): Option[String] =
    if (s.status != 200) Some(s"${s.req.path}: HTTP ${s.status}: ${s.body.take(200)}")
    else try {
      s.req.route match {
        case "domain" => Checker.domain(t, s.req.key, s.body)
        case "subdomains" => Checker.subdomains(t, s.req.key, s.body)
        case "recent" => Checker.recent(t, s.req.key, nowMs.getOrElse(s.sendMs), s.body)
        case "tld" => Checker.tld(t, s.req.key, s.body)
        case "stats" => Checker.stats(t, LocalDate.parse(s.req.key), s.body)
        case "size" => Checker.size(bytes, s.body)
      }
    } catch { case e: Exception => Some(s"${s.req.path}: unreadable response ($e)") }

  /** Client `c`'s n-th request follows the cycle from offset 5c. */
  private def cyclePicker(keys: Keys, cycle: Vector[String]): (Int, Int, SplittableRandom) => Req =
    (c, n, rnd) => keys.req(cycle((n + 5 * c) % cycle.length), rnd)

  /** setup_s: median of three cold starts of the serving stack over the
    * store — a new Server until it has answered every route once. */
  private def coldStarts(t: Truth, store: String, nowMs: Option[Long], keys: Keys): Unit = {
    val bytes = storeBytes(store)
    val times = (0 until 3).map { rep =>
      val rnd = new SplittableRandom(o.seed * 31 + rep)
      val reqs = Routes.map(keys.req(_, rnd))
      val t0 = System.nanoTime()
      val srv = startServer(store, nowMs)
      val c = Load.client()
      val samples = reqs.map(Load.send(c, srv.boundPort, _, 0))
      val dt = (System.nanoTime() - t0) / 1e9
      srv.stop()
      samples.foreach(s => res.check(check(t, s, nowMs, bytes)))
      dt
    }
    res.put("setup_s", Stats.median(times), "s")
  }

  private def timed(port: Int, clients: Int, seed: Long, pick: (Int, Int, SplittableRandom) => Req,
      seconds: Double): (Vector[Sample], Double) = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val all = Load.closedLoop(port, clients, seed, pick, end)
    (all, all.count(_.doneNs <= end) / seconds)
  }

  /** One client alone asks every route in turn, 6 rounds, for the traced
    * run's per-request layer breakdown (a request's executions are its own). */
  private def soloSweep(t: Truth, srv: Server, nowMs: Option[Long], keys: Keys, bytes: Long): Vector[Sample] = {
    val rnd = new SplittableRandom(o.seed * 13 + 5)
    val c = Load.client()
    val solo = (0 until 6).flatMap(_ => Routes).map(r => Load.send(c, srv.boundPort, keys.req(r, rnd), 0)).toVector
    solo.foreach(s => res.check(check(t, s, nowMs, bytes)))
    solo
  }

  private def routeP50(samples: Seq[Sample], r: String): Double =
    Stats.median(samples.filter(_.req.route == r).map(_.latencyMs))

  /** qps, p50, p90 and domain_p50 from `loaded`; the other routes' p50 from
    * `routes`. p90 is the highest percentile with at least ten samples beyond
    * it at the ~130-230 requests of a window. */
  private def latencyMetrics(loaded: Seq[Sample], qps: Double, routes: Seq[Sample]): Unit = {
    res.put("qps", qps, "req/s")
    res.put("p50_ms", Stats.median(loaded.map(_.latencyMs)), "ms")
    res.put("p90_ms", Stats.pct(loaded.map(_.latencyMs), 90), "ms")
    res.put("domain_p50_ms", routeP50(loaded, "domain"), "ms")
    Routes.filter(_ != "domain").foreach(r => res.put(s"${r}_p50_ms", routeP50(routes, r), "ms"))
  }

  /** freshness for a backlog drain: every entry is due when the drain
    * starts and visible when its micro-batch commits. */
  private def backlogFreshness(t: Truth, d: Drain): Seq[Double] = {
    val byTs = d.batches.map(b => b.tsMs -> d.commitMs(b.id)).toMap
    t.rows.flatMap(r => byTs.get(r.tsMs).map(c => (c - d.startMs) / 1000.0))
  }

  private def putFreshness(xs: Seq[Double]): Unit = {
    res.put("freshness_p50_s", Stats.median(xs), "s")
    res.put("freshness_p99_s", Stats.pct(xs, 99), "s")
  }

  /** Drain `corpus` from a fresh store, check the result, return it. */
  private def drainChecked(corpus: Corpus, stub: StubLog, clock: IngestClock): (Drain, Truth, String, Long) = {
    val store = fresh("store")
    val d = drain(stub, store, clock)
    val t = new Truth(corpus, d.batches)
    res.check(if (t.entries == corpus.entries) None
      else Some(s"drain consumed ${t.entries} of ${corpus.entries} entries"))
    val rows = checkStore(t, store)
    checkRejects(t, store)
    (d, t, store, rows)
  }

  // ------------------------------------------------------------ workloads

  /** serve_read: the read-only API under a closed loop of 4 clients over a
    * store built by the real ingest route. */
  def serveRead(): Unit = {
    warmUp()
    phase("warm-up done")
    val corpus = Corpus.generate(CorpusSpec(o.seed, 12000, 8, 0.03, 0.02))
    recordCorpus(corpus)
    val stub = new StubLog(corpus, (l, _) => corpus.slots(l).length)
    // batch b is stamped t0 + 30 days * b: ~3 months of `ts` at the default admission cap
    val t0 = Instant.parse("2025-01-06T00:00:00Z").toEpochMilli + (o.seed % 24) * 3600000L
    val clock = new IngestClock(spark, b => Some(t0 + b * 30 * Truth.DayMs + b * 997))
    trace.foreach(_.install())
    phase("corpus generated")
    val (d, t, store, rows) = drainChecked(corpus, stub, clock)
    phase("store drained and checked")
    res.put("ingest_rows_per_s", rows / d.seconds, "rows/s")
    putFreshness(backlogFreshness(t, d))

    val nowMs = t.rows.map(_.tsMs).max + 12 * 3600000L
    val keys = new Keys(t, o.seed, nowMs, t.batches.map(b => Truth.day(b.tsMs)).distinct.toVector)
    coldStarts(t, store, Some(nowMs), keys)
    phase("cold starts done")
    val srv = startServer(store, Some(nowMs))
    val bytes = storeBytes(store)
    val pick = cyclePicker(keys, ServeCycle)
    resetEngineCounters()
    val (loaded, qps) = timed(srv.boundPort, 4, o.seed, pick, o.seconds)
    phase("loaded window done")
    loaded.foreach(s => res.check(check(t, s, Some(nowMs), bytes)))
    val solo = if (o.trace) soloSweep(t, srv, Some(nowMs), keys, bytes) else Vector.empty
    latencyMetrics(loaded, qps, loaded)
    res.put("store_bytes_per_row", bytes.toDouble / rows, "bytes/row")
    res.put("success_rate", res.successRate, "ratio")
    if (o.trace) layers(t, store, srv, loaded, solo, Seq(d), stub, corpus, sse = Nil)
    stub.stop()
  }

  /** mixed_tail's serving probe on its final store: setup_s cold starts,
    * then 4 closed-loop clients on serve_read's mix without /domain for half
    * of --seconds, for the other routes' p50; `loaded` is the window's
    * /domain traffic. */
  private def serveAfterIngest(t: Truth, store: String, drains: Seq[Drain], stub: StubLog,
      corpus: Corpus, sse: Seq[SseClient], loaded: (Vector[Sample], Double)): Unit = {
    val today = LocalDate.now(java.time.ZoneOffset.UTC)
    val dates = (t.batches.map(b => Truth.day(b.tsMs)) :+ today).distinct.sorted.toVector
    val keys = new Keys(t, o.seed, System.currentTimeMillis(), dates)
    coldStarts(t, store, None, keys)
    phase("cold starts done")
    val srv = startServer(store, None)
    val bytes = storeBytes(store)
    val (main, qps) = loaded
    if (o.trace) {
      val solo = soloSweep(t, srv, None, keys, bytes)
      latencyMetrics(main, qps, solo)
      layers(t, store, srv, main, solo, drains, stub, corpus, sse)
    } else {
      val (probe, _) = timed(srv.boundPort, 4, o.seed + 17, cyclePicker(keys, ProbeCycle), o.seconds / 2.0)
      phase("route probe done")
      probe.foreach(s => res.check(check(t, s, None, bytes)))
      latencyMetrics(main, qps, probe)
    }
    res.put("success_rate", res.successRate, "ratio")
  }

  /** mixed_tail: the stub logs grow on an open-loop schedule while
    * StreamIngest runs on its default trigger, 2 /stream subscribers follow
    * the feed and 2 closed-loop clients look up recently ingested names. */
  def mixedTail(): Unit = {
    warmUp()
    val nLogs = 4
    val corpus = Corpus.generate(CorpusSpec(o.seed, (TailRate * (o.seconds + 12)).toInt, nLogs, 0.0, 0.02))
    recordCorpus(corpus)
    res.context("tail_rate_entries_per_s") = TailRate.toString
    val perLog = corpus.slots(0).length
    val msPerEntry = 1000.0 / TailRate
    // entry i of log l is global entry g = i * nLogs + l, due at t0 + g / rate.
    // t0 sits on the default trigger's 5 s wall-clock grid, so every run
    // meets the same phase between due times, triggers and the window.
    val t0 = ((System.currentTimeMillis() + 1500) / 5000 + 1) * 5000
    val cutoff = new AtomicLong(Long.MaxValue)
    def dueMs(l: Int, i: Int): Long = t0 + ((i.toLong * nLogs + l) * msPerEntry).toLong
    def visible(l: Int, now: Long): Int = {
      val g = math.floor((math.min(now, cutoff.get) - t0) / msPerEntry).toLong
      if (g < l) 0 else math.min(perLog.toLong, (g - l) / nLogs + 1).toInt
    }
    val stub = new StubLog(corpus, visible)
    val store = fresh("store")
    val clock = new IngestClock(spark, _ => None)
    trace.foreach(_.install())
    val srv = startServer(store, None)
    val calls0 = CertParser.parseInvocations.get()
    val q = StreamIngest.start(spark, Map("loglist" -> stub.logListJson), store, fresh("checkpoint"), clock.fn)
    // /stream on a store with no files fails (and closes): subscribe once
    // a commit has written rows
    def hasRows = scala.util.Try(storeFiles(store).nonEmpty).getOrElse(false)
    val setupDeadline = System.currentTimeMillis() + 30000
    while (!hasRows && System.currentTimeMillis() < setupDeadline) Thread.sleep(20)
    require(hasRows, "stream ingest wrote no rows within 30 s")
    val subs = (0 until 2).map(new SseClient(srv.boundPort, _))
    phase("first commit; subscribed")

    // measured window: from the trigger after t0, for --seconds
    val wStart = t0 + 5000
    val wEnd = wStart + o.seconds * 1000L
    cutoff.set(wEnd)
    Thread.sleep(math.max(0L, wStart - System.currentTimeMillis()))
    resetEngineCounters()
    val recent = subs.head
    val pick: (Int, Int, SplittableRandom) => Req = (_, _, rnd) => {
      val got = recent.rows
      val now = System.currentTimeMillis()
      val last30s = got.reverseIterator.takeWhile(_.atMs > now - 30000).toVector
      val from = if (last30s.nonEmpty && rnd.nextDouble() < 0.8) last30s else got
      val d = from(rnd.nextInt(from.length)).row.get(1).asText()
      Req("domain", d, s"/domain/$d")
    }
    val (loaded, qps) = timed(srv.boundPort, 2, o.seed, pick, (wEnd - System.currentTimeMillis()) / 1000.0)
    phase("loaded window done")

    // let ingest and both feeds catch up with every entry due before the cutoff
    val lastDue = (0 until nLogs).map(l => visible(l, wEnd).toLong).sum
    val catchUp = System.currentTimeMillis() + 30000
    def consumed = q.recentProgress.lastOption.map(p => offsets(p.sources.head.endOffset).values.sum).getOrElse(0L)
    while (consumed < lastDue && System.currentTimeMillis() < catchUp) Thread.sleep(50)
    val storeRows = CertStore.read(spark, store).count()
    while (subs.exists(_.count < storeRows) && System.currentTimeMillis() < catchUp) Thread.sleep(50)
    Thread.sleep(300)
    phase("caught up")
    q.stop()
    subs.foreach(_.close())
    srv.stop()
    phase("stopped ingest and feeds")
    val d = drainOf(q, clock, t0, System.currentTimeMillis(), CertParser.parseInvocations.get() - calls0)
    val t = new Truth(corpus, d.batches)
    res.check(if (consumed == lastDue) None else Some(s"ingest consumed $consumed of $lastDue due entries"))
    val rows = checkStore(t, store)
    checkRejects(t, store)
    checkFeeds(t, store, subs)
    phase("store and feeds checked")
    loaded.foreach { s =>
      val delivered = recent.rows.iterator.filter(g => g.atMs < s.sendMs && g.row.get(1).asText() == s.req.key)
        .map(g => Checker.rowKey(g.row)).map { case (ts, fp, dm, _) => (ts, fp, dm) }.toSet
      res.check(if (s.status != 200) Some(s"${s.req.path}: HTTP ${s.status}")
        else Checker.domainLive(t, s.req.key, s.body, delivered))
    }

    // freshness: due time at the stub log -> row read by a subscriber
    val due = new java.util.HashMap[String, java.lang.Long]()
    for (l <- 0 until nLogs; i <- 0 until perLog) {
      val s = corpus.slots(l)(i)
      if (s >= 0) due.put(corpus.certs(s).fingerprint, dueMs(l, i))
    }
    def inWindow(fp: String): Boolean = { val dm = due.get(fp).longValue; dm >= wStart && dm < wEnd }
    putFreshness(subs.flatMap(_.rows).flatMap { g =>
      val fp = g.row.get(3).asText()
      if (inWindow(fp)) Some((g.atMs - due.get(fp).longValue) / 1000.0) else None
    })
    val lastCommit = d.commitMs.values.max
    res.put("ingest_rows_per_s", t.rows.count(r => inWindow(r.cert.fingerprint)) /
      ((lastCommit - wStart) / 1000.0), "rows/s")
    res.put("store_bytes_per_row", storeBytes(store).toDouble / rows, "bytes/row")
    serveAfterIngest(t, store, Seq(d), stub, corpus, subs, (loaded, qps))
    stub.stop()
  }

  /** Each subscriber must have read every stored row exactly once, in
    * cursor order, with the right content, and its stream must still be
    * open when the benchmark closed it. */
  private def checkFeeds(t: Truth, store: String, subs: Seq[SseClient]): Unit = {
    val stored = CertStore.read(spark, store).select("ts", "fingerprint", "domain", "log_name").collect()
      .map(r => (Truth.iso(r.getTimestamp(0).getTime), r.getString(1), r.getString(2), r.getString(3))).toSet
    val byKey = t.rows.map(r => (Truth.iso(r.tsMs), r.cert.fingerprint, r.domain) -> r).toMap
    subs.zipWithIndex.foreach { case (s, i) =>
      val got = s.rows
      val keys = got.map(g => Checker.rowKey(g.row))
      val dups = keys.length - keys.distinct.length
      val outOfOrder = keys.sliding(2).count { case Seq(a, b) => !lt(a, b); case _ => false }
      val missing = stored.diff(keys.toSet).size
      val extra = keys.toSet.diff(stored).size
      val wrong = got.iterator.map { g =>
        val (ts, fp, dm, _) = Checker.rowKey(g.row)
        byKey.get((ts, fp, dm)).map(Checker.rowMismatch(g.row, _)).getOrElse(Some("unknown row"))
      }.count(_.isDefined)
      res.check(if (dups + outOfOrder + missing + extra + wrong == 0 && !s.closedEarly) None
        else Some(s"/stream subscriber $i: $dups duplicate, $outOfOrder out-of-order, $missing missing, " +
          s"$extra extra, $wrong wrong rows; closed early: ${s.closedEarly} ${s.failure.getOrElse("")}"))
    }
    sseTotals = (subs.map(_.count.toLong).sum,
      subs.map(s => { val k = s.rows.map(g => Checker.rowKey(g.row)); (k.length - k.distinct.length).toLong }).sum,
      subs.map(s => stored.diff(s.rows.map(g => Checker.rowKey(g.row)).toSet).size.toLong).sum)
  }
  private var sseTotals = (0L, 0L, 0L)

  private def lt(a: (String, String, String, String), b: (String, String, String, String)): Boolean =
    Ordering.Tuple4[String, String, String, String].lt(a, b)

  private def recordCorpus(c: Corpus): Unit = res.context ++= Seq(
    "corpus.certs" -> c.certs.length.toString, "corpus.logs" -> c.spec.nLogs.toString,
    "corpus.entries" -> c.entries.toString, "corpus.domain_rows" -> c.domainRows.toString,
    "corpus.planted_rejects" -> c.rejectEntries.toString, "corpus.dup_entries" -> c.dupEntries.toString)

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
  }

  // --------------------------------------------------------- traced layers

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private var counters0 = Vector.empty[Long]
  private def engineCounters: Vector[Long] = trace.map(tr => Vector(tr.jobs, tr.tasks, tr.cpuNs,
    tr.gcMs, tr.inputBytes, tr.shuffleWriteBytes, tr.outputBytes).map(_.get)).getOrElse(Vector.fill(7)(0L))
  private def resetEngineCounters(): Unit = {
    counters0 = engineCounters
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Per-layer metrics for `--trace 1`. `main` are the workload's timed
    * requests (traced); the layer breakdown comes from one more client
    * alone, so each request's executions are its own. */
  private def layers(t: Truth, store: String, srv: Server, main: Seq[Sample], solo: Seq[Sample],
      drains: Seq[Drain], stub: StubLog, corpus: Corpus, sse: Seq[SseClient]): Unit = {
    val tr = trace.get
    val c1 = engineCounters.zip(counters0).map { case (a, b) => a - b }
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Seq("jobs" -> "count", "tasks" -> "count", "task_cpu_s" -> "s", "gc_s" -> "s",
      "input_bytes" -> "bytes", "shuffle_write_bytes" -> "bytes", "output_bytes" -> "bytes")
      .zip(c1).foreach { case ((n, u), v) =>
        res.put(s"spark.$n", if (n == "task_cpu_s") v / 1e9 else if (n == "gc_s") v / 1e3 else v.toDouble, u)
      }
    res.put("jvm.heap_peak_mb", heapMb, "MB")
    val bytes = storeBytes(store)
    val probe = if (sse.isEmpty) streamProbe(srv, store) else Nil
    tr.settle()
    val reads = tr.reads.asScala.toVector

    final case class Layer(route: String, httpMs: Double, readMs: Double, planMs: Double, execMs: Double,
        files: Long, scanned: Long, bytesRead: Long, returned: Long, tasks: Long)
    val perReq = solo.map { s =>
      val rs = reads.filter(r => !r.thread.startsWith("graft-sse") && r.startNs >= s.sendNs && r.endNs <= s.doneNs)
      val ex = rs.flatMap(r => tr.execsFor(r.token))
      val returned = s.req.route match {
        case "stats" => 1L
        case "size" => 0L
        case _ => scala.util.Try(Checker.parse(s.body).size().toLong).getOrElse(0L)
      }
      Layer(s.req.route, s.latencyMs, rs.map(_.ms).sum, ex.map(_.planMs).sum, ex.map(_.execMs).sum,
        ex.map(_.files).sum, ex.map(_.rowsScanned).sum, ex.map(_.bytesRead).sum, returned, ex.map(_.tasks).sum)
    }
    val streamExecs = tr.execs.values.asScala.toVector.filter(_.token.startsWith("graft-sse"))
    val streamReads = reads.filter(_.thread.startsWith("graft-sse"))
    val streamLayers = streamExecs.map(e => Layer("stream", 0, 0, e.planMs, e.execMs, e.files,
      e.rowsScanned, e.bytesRead, math.min(e.rowsOut, 100L), e.tasks))
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    QueryRoutes.foreach { r =>
      val ls = if (r == "stream") streamLayers else perReq.filter(_.route == r)
      res.put(s"queries.$r.plan_ms", med(ls.map(_.planMs)), "ms")
      res.put(s"queries.$r.exec_ms", med(ls.map(_.execMs)), "ms")
      res.put(s"queries.$r.files_read", med(ls.map(_.files.toDouble)), "count")
      res.put(s"queries.$r.rows_scanned", med(ls.map(_.scanned.toDouble)), "rows")
      res.put(s"queries.$r.rows_returned", med(ls.map(_.returned.toDouble)), "rows")
      res.put(s"queries.$r.scan_per_returned",
        med(ls.map(l => l.scanned.toDouble / math.max(1L, l.returned))), "ratio")
      res.put(s"queries.$r.bytes_read", med(ls.map(_.bytesRead.toDouble)), "bytes")
      res.put(s"queries.$r.tasks", med(ls.map(_.tasks.toDouble)), "count")
    }

    // store
    res.put("store.read_ms", med(reads.filter(r => !r.thread.startsWith("graft-sse")).map(_.ms)), "ms")
    val sizeMs = (0 until 5).map { _ => val s0 = System.nanoTime(); CertStore.sizeBytes(spark, store); (System.nanoTime() - s0) / 1e6 }
    res.put("store.size_ms", Stats.median(sizeMs), "ms")
    val sample = sampleEntries(corpus, 4096)
    val batchRows = {
      import spark.implicits._
      IngestPipeline.certDomains(spark.createDataset(sample), new Timestamp(System.currentTimeMillis())).localCheckpoint()
    }
    val writeMs = (0 until 3).map { _ =>
      val p = fresh("write-probe"); val s0 = System.nanoTime()
      CertStore.write(batchRows, p, SaveMode.Overwrite)
      val ms = (System.nanoTime() - s0) / 1e6; deleteTree(p); ms
    }
    res.put("store.write_ms", Stats.median(writeMs), "ms")
    val files = storeFiles(store)
    val month = (p: Path) => p.iterator().asScala.map(_.toString).find(_.startsWith("ts_month=")).getOrElse("?")
    val perMonth = files.groupBy(month).map(_._2.length)
    res.put("store.files", files.length.toDouble, "count")
    res.put("store.bytes", bytes.toDouble, "bytes")
    res.put("store.months", perMonth.size.toDouble, "count")
    res.put("store.files_per_month_max", perMonth.max.toDouble, "count")

    // server
    val domainSolo = perReq.filter(_.route == "domain")
    res.put("server.self_ms", med(domainSolo.map(l => l.httpMs - l.readMs - l.planMs - l.execMs)), "ms")
    res.put("server.contention_ms", Stats.median(main.filter(_.req.route == "domain").map(_.latencyMs)) -
      Stats.median(domainSolo.map(_.httpMs)), "ms")
    res.put("server.non2xx", (main ++ solo).count(_.status / 100 != 2).toDouble, "count")
    if (domainSolo.nonEmpty) {
      val b = domainSolo.minBy(l => math.abs(l.httpMs - med(domainSolo.map(_.httpMs))))
      System.out.println(f"trace /domain request: http ${b.httpMs}%.1f ms = store.read ${b.readMs}%.1f + " +
        f"plan ${b.planMs}%.1f + exec ${b.execMs}%.1f + server self ${b.httpMs - b.readMs - b.planMs - b.execMs}%.1f ms")
    }

    // sse
    val (delivered, dupRows, missingRows) =
      if (sse.nonEmpty) sseTotals else (probe.length.toLong, (probe.length - probe.distinct.length).toLong, 0L)
    res.put("sse.polls", streamExecs.length.toDouble, "count")
    res.put("sse.useful_poll_ratio",
      if (streamExecs.isEmpty) 0.0 else streamExecs.count(_.rowsOut > 0).toDouble / streamExecs.length, "ratio")
    res.put("sse.rows_delivered", delivered.toDouble, "rows")
    res.put("sse.dup_rows", dupRows.toDouble, "rows")
    res.put("sse.missing_rows", missingRows.toDouble, "rows")
    res.put("sse.poll_read_ms", med(streamReads.map(_.ms)), "ms")

    // stream ingest
    val prog = drains.flatMap(_.dataProgress)
    def dur(k: String): Seq[Double] = prog.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
    res.put("stream.micro_batches", prog.length.toDouble / drains.length, "count")
    res.put("stream.trigger_ms", med(dur("triggerExecution")), "ms")
    res.put("stream.latest_offset_ms", med(dur("latestOffset")), "ms")
    res.put("stream.add_batch_ms", med(dur("addBatch")), "ms")
    res.put("stream.wal_commit_ms", med(dur("walCommit")), "ms")
    res.put("stream.planning_ms", med(dur("queryPlanning")), "ms")
    res.put("stream.rows_per_batch", med(prog.map(_.numInputRows.toDouble)), "rows")
    res.put("stream.lag_entries_max", prog.map { p =>
      val s = p.sources.head
      math.max(0L, offsets(s.latestOffset).values.sum - offsets(s.endOffset).values.sum).toDouble
    }.maxOption.getOrElse(0.0), "count")

    // ingest
    val drained = drains.map(d => new Truth(corpus, d.batches))
    val entries = drained.map(_.entries).sum
    res.put("ingest.parse_calls_per_entry", drains.map(_.parseCalls).sum.toDouble / entries, "ratio")
    res.put("ingest.rows_per_entry", drained.map(_.rows.length.toLong).sum.toDouble / entries, "ratio")
    res.put("ingest.dedup_dropped", drained.map(_.dedupDropped).sum.toDouble / drains.length, "rows")
    res.put("ingest.rejected", drained.map(_.rejected).sum.toDouble / drains.length, "count")
    val leaves = sample.map(e => java.util.Base64.getDecoder.decode(e.leaf_input))
    def perItemUs(n: Int)(f: => Unit): Double = {
      (0 until 2).foreach(_ => f)
      Stats.median((0 until 3).map { _ => val s0 = System.nanoTime(); f; (System.nanoTime() - s0) / 1e3 / n })
    }
    res.put("ingest.parse_us_per_entry", perItemUs(leaves.length)(leaves.foreach(CertParser.parseLeaf)), "us")
    val names = sample.flatMap(e => Option(CertParser.parseLeaf(java.util.Base64.getDecoder.decode(e.leaf_input))))
      .flatMap(_.domains)
    res.put("ingest.psl_us_per_domain", perItemUs(names.length)(names.foreach(PublicSuffix.baseDomain)), "us")
    val pipeMs = {
      import spark.implicits._
      val ds = spark.createDataset(sample)
      (0 until 4).map { _ =>
        val s0 = System.nanoTime()
        IngestPipeline.certDomains(ds, new Timestamp(System.currentTimeMillis()))
          .write.format("noop").mode(SaveMode.Overwrite).save()
        (System.nanoTime() - s0) / 1e6
      }.drop(1)
    }
    res.put("ingest.pipeline_ms_per_kentry", Stats.median(pipeMs) / (sample.length / 1000.0), "ms")

    // stub logs
    res.put("log.sth_calls", stub.sthCalls.get.toDouble, "count")
    res.put("log.entries_calls", stub.entriesCalls.get.toDouble, "count")
    res.put("log.entries_served", stub.entriesServed.get.toDouble, "count")
    res.put("log.bytes_served", stub.bytesServed.get.toDouble, "bytes")
    res.put("log.fetch_amplification", stub.entriesServed.get.toDouble / entries, "ratio")

    res.put("traced.p50_ms", Stats.median(main.map(_.latencyMs)), "ms")
  }

  /** The first `n` entries over all logs, as the source would emit them. */
  private def sampleEntries(c: Corpus, n: Int): Seq[RawEntry] =
    (0 until c.slots(0).length).iterator.flatMap(i => c.logNames.indices.map(l => (l, i)))
      .take(n).map { case (l, i) => RawEntry(c.logNames(l), i, c.leafAt(l, i)) }.toVector

  /** One subscriber reads the start of the feed; its rows must be the store's
    * first rows in cursor order. */
  private def streamProbe(srv: Server, store: String): Seq[(String, String, String, String)] = {
    val s = new SseClient(srv.boundPort, 9)
    val deadline = System.currentTimeMillis() + 8000
    while (s.count < 400 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    s.close()
    val got = s.rows.map(g => Checker.rowKey(g.row))
    val first = CertStore.read(spark, store).select("ts", "fingerprint", "domain", "log_name")
      .orderBy("ts", "fingerprint", "domain", "log_name").limit(got.length).collect()
      .map(r => (Truth.iso(r.getTimestamp(0).getTime), r.getString(1), r.getString(2), r.getString(3))).toVector
    res.check(if (got == first) None
      else Some(s"/stream probe: ${got.length} rows differ from the store's first rows in cursor order"))
    got
  }
}
