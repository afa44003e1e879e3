package graft.ct

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SaveMode
import graft.SparkSpec

class CertStoreSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(month: String, n: Int): Seq[CertDomain] =
    (0 until n).map { i =>
      val ts = Timestamp.valueOf(s"$month-10 12:00:0${i % 10}")
      CertDomain(ts, s"d$i.example.com", "example.com", f"$i%064d",
        "CN=CA", "CN=d", Seq(s"d$i.example.com"),
        Timestamp.valueOf("2024-01-01 00:00:00"),
        Timestamp.valueOf("2025-01-01 00:00:00"), "log")
    }

  test("write/read roundtrip with monthly hive partitioning") {
    val dir = Files.createTempDirectory("certstore").toString
    CertStore.write((fixture("2024-01", 5) ++ fixture("2024-02", 5)).toDF(),
      dir, SaveMode.Overwrite)
    val back = CertStore.read(spark, dir)
    assert(back.count() == 10)
    assert(back.select("ts_month").distinct().as[String].collect().sorted.toSeq
      == Seq("202401", "202402"))
    // hive layout on disk
    assert(new java.io.File(s"$dir/ts_month=202401").isDirectory)
  }

  test("month predicate prunes partitions (reads fewer files)") {
    val dir = Files.createTempDirectory("certstore").toString
    CertStore.write((fixture("2024-01", 5) ++ fixture("2024-02", 5)).toDF(),
      dir, SaveMode.Overwrite)
    import org.apache.spark.sql.functions.input_file_name
    def filesRead(df: org.apache.spark.sql.DataFrame): Long =
      df.select(input_file_name()).distinct().count()
    val table = CertStore.read(spark, dir)
    val all = filesRead(table)
    val one = filesRead(table.filter($"ts_month" >= "202402" && $"ts_month" <= "202402"))
    assert(one < all, s"pruned read should touch fewer files ($one vs $all)")
  }

  test("time-predicate queries prune ts_month partitions at the scan (SURVEY §4)") {
    val dir = Files.createTempDirectory("certstore").toString
    CertStore.write(
      (fixture("2024-01", 5) ++ fixture("2024-02", 5) ++ fixture("2024-03", 5)).toDF(),
      dir, SaveMode.Overwrite)
    import org.apache.spark.sql.execution.FileSourceScanExec
    def scannedPartitions(df: org.apache.spark.sql.DataFrame): Int = {
      val scan = df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }.head
      scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters).length
    }
    val table = CertStore.read(spark, dir)
    val total = scannedPartitions(table)
    assert(total == 3)
    val recent = CtQueries.recent(table, "example.com",
      Timestamp.valueOf("2024-03-10 18:00:00"))
    assert(scannedPartitions(recent) == 1, "24h lookback must touch one month")
    assert(recent.count() == 5) // and still see that month's rows
    val stats = CtQueries.stats(table, java.sql.Date.valueOf("2024-02-10"), approx = false)
    assert(scannedPartitions(stats) == 1, "single-day stats must touch one month")
    assert(stats.collect()(0).getAs[Long]("total") == 5)
    val tail = CtQueries.streamTailAfter(table, Some((Timestamp.valueOf("2024-02-01 00:00:00"), "", "", "")))
    assert(scannedPartitions(tail) == 2, "tail from Feb must skip January")
    assert(tail.count() == 10)
  }

  test("compact rewrites into fewer files per month, same rows") {
    val dir = Files.createTempDirectory("certstore").toString
    // three appends → several small files
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    val dest = Files.createTempDirectory("compacted").toString
    CertStore.compact(spark, dir, dest)
    assert(CertStore.read(spark, dest).count() == CertStore.read(spark, dir).count())
    assert(CertStore.read(spark, dest).inputFiles.length
      <= CertStore.read(spark, dir).inputFiles.length)
  }

  test("compact with dedupe collapses cross-log duplicate certs (README.md:19 semantics)") {
    val dir = Files.createTempDirectory("certstore").toString
    val rows = fixture("2024-01", 3)
    CertStore.write(rows.toDF(), dir, SaveMode.Append)
    CertStore.write(rows.map(_.copy(log_name = "other_log")).toDF(), dir, SaveMode.Append)
    val dest = Files.createTempDirectory("compacted").toString
    CertStore.compact(spark, dir, dest, dedupe = true)
    val back = CertStore.read(spark, dest)
    assert(back.count() == 3) // one row per (fingerprint, domain)
    assert(back.select("log_name").distinct().as[String].collect().toSeq == Seq("log"))
  }

  test("compactDrifted rewrites only fragmented months in place; dedupe is month-scoped") {
    val dir = Files.createTempDirectory("certstore-drift").toString
    // January: five appends → five files (fragmented past the bound).
    // February: one write → one file (within bound, must not be touched).
    for (_ <- 1 to 5) CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    CertStore.write(fixture("2024-02", 4).toDF(), dir, SaveMode.Append)
    def files(month: String): Seq[String] =
      new java.io.File(s"$dir/ts_month=$month").listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).sorted
    assert(files("202401").size == 5)
    val febBefore = files("202402")
    val rowsBefore = CertStore.read(spark, dir).count()
    val months = CertStore.compactDrifted(spark, dir, maxFilesPerMonth = 4)
    assert(months == Seq(202401L), s"only January drifted, got $months")
    assert(files("202401").size == 1, "drifted month must compact to one file")
    assert(files("202402") == febBefore, "in-bound month's files must be untouched")
    assert(CertStore.read(spark, dir).count() == rowsBefore, "in-place compaction keeps rows")
    // dedupe: January holds 5 copies of each (fingerprint, domain) from
    // the chained appends; a month-scoped ReplacingMergeTree merge
    // collapses them without touching February (ClickHouse semantics:
    // dedup within the partition's merge only)
    for (_ <- 1 to 5) CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    val dedupMonths = CertStore.compactDrifted(spark, dir, maxFilesPerMonth = 4, dedupe = true)
    assert(dedupMonths == Seq(202401L))
    val back = CertStore.read(spark, dir)
    assert(back.filter($"ts_month" === "202401").count() == 4, "one row per cert after merge")
    assert(back.filter($"ts_month" === "202402").count() == 4, "February rows unchanged")
    // crash window: the archived month with live missing is restored by
    // the shared kernel's recovery sweep on the next invocation
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(dir, "ts_month=202401")
    val archive = new org.apache.hadoop.fs.Path(dir, ".old_ts_month=202401")
    assert(fs.rename(live, archive))
    CertStore.compactDrifted(spark, dir, maxFilesPerMonth = 1000)
    assert(fs.exists(live) && !fs.exists(archive), "archived month must be restored")
    assert(CertStore.read(spark, dir).filter($"ts_month" === "202401").count() == 4)
  }

  test("sizeBytes sums parquet files; humanBytes formats base-1024 (S12/F19)") {
    val dir = Files.createTempDirectory("certstore").toString
    CertStore.write(fixture("2024-01", 5).toDF(), dir, SaveMode.Overwrite)
    assert(CertStore.sizeBytes(spark, dir) > 0)
    assert(CertStore.sizeBytes(spark, dir + "/nope") == 0)
    assert(CertStore.humanBytes(0) == "0B")
    assert(CertStore.humanBytes(1536) == "1.50KB")
    assert(CertStore.humanBytes(5L * 1024 * 1024 * 1024) == "5.00GB")
  }

  private def epochBatch(n: Long) =
    (0L until n).map(i => RawEntry("log", i, Fixtures.leafB64())).toDF()

  /** Sum of the store's data files, listed independently of CertStore. */
  private def parquetBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") &&
        !root.relativize(p).iterator().asScala.exists(_.toString.startsWith("_")))
      .map(Files.size).sum
  }

  test("every writer commits: the next read sees its rows, never a stale snapshot") {
    val dir = Files.createTempDirectory("certstore-snap").toString
    def rows(): Long = CertStore.read(spark, dir).count()
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    assert(rows() == 4)
    CertStore.write(fixture("2024-02", 3).toDF(), dir, SaveMode.Append)
    assert(rows() == 7, "Append")
    assert(CertStore.sizeBytes(spark, dir) == parquetBytes(dir), "/size from the snapshot")
    CertStore.write(fixture("2024-03", 2).toDF(), dir, SaveMode.Overwrite)
    assert(rows() == 2, "Overwrite")
    assert(CertStore.sizeBytes(spark, dir) == parquetBytes(dir))

    // compact into a destination that was read (and pinned) before
    val dest = Files.createTempDirectory("certstore-snap-dest").toString
    CertStore.write(fixture("2024-05", 1).toDF(), dest, SaveMode.Overwrite)
    assert(CertStore.read(spark, dest).count() == 1)
    CertStore.compact(spark, dir, dest)
    assert(CertStore.read(spark, dest).count() == 2, "compact at dest")

    // compactDrifted in place, with dedupe so the row count changes
    for (_ <- 1 to 5) CertStore.write(fixture("2024-03", 2).toDF(), dir, SaveMode.Append)
    assert(rows() == 12)
    CertStore.compactDrifted(spark, dir, maxFilesPerMonth = 4, dedupe = true)
    assert(rows() == 2, "compactDrifted")
    assert(CertStore.sizeBytes(spark, dir) == parquetBytes(dir))

    // writeEpoch, a replayed batchId included
    val live = Files.createTempDirectory("certstore-snap-epochs").toString
    val t = Timestamp.valueOf("2024-01-15 00:00:00")
    StreamIngest.writeEpoch(epochBatch(3), live, batchId = 0L, ts = t)
    val perEpoch = CertStore.read(spark, live).count()
    assert(perEpoch == 3L)
    StreamIngest.writeEpoch(epochBatch(3), live, batchId = 1L, ts = t)
    assert(CertStore.read(spark, live).count() == 2 * perEpoch, "new epoch")
    StreamIngest.writeEpoch(epochBatch(3), live, batchId = 1L, ts = t)
    assert(CertStore.read(spark, live).count() == 2 * perEpoch, "replayed epoch")
    assert(new java.io.File(s"$live/_commit").isFile)
    assert(!new java.io.File(s"$live/epoch=1/_commit").exists, "epochs commit at the root")
  }

  test("two reads at one commit share one snapshot; a commit replaces it") {
    val dir = Files.createTempDirectory("certstore-pin").toString
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    val a = CertStore.read(spark, dir)
    assert(CertStore.read(spark, dir) eq a, "same token, same pinned frame")
    CertStore.write(fixture("2024-01", 4).toDF(), dir, SaveMode.Append)
    val b = CertStore.read(spark, dir)
    assert(!(b eq a) && b.count() == 8)
    assert(CertStore.read(spark, dir) eq b)
    // a pinned snapshot serves the files of its commit, not later ones
    assert(a.count() == 4)
  }

  test("a store without a commit token still sees files written behind CertStore's back") {
    val dir = Files.createTempDirectory("certstore-bare").toString
    def bare(month: String, n: Int): Unit =
      fixture(month, n).toDF()
        .withColumn("ts_month", org.apache.spark.sql.functions.date_format($"ts", "yyyyMM"))
        .write.mode(SaveMode.Append).partitionBy("ts_month").parquet(dir)
    bare("2024-01", 3)
    assert(CertStore.read(spark, dir).count() == 3)
    bare("2024-02", 2)
    assert(CertStore.read(spark, dir).count() == 5)
    assert(CertStore.sizeBytes(spark, dir) == parquetBytes(dir))
    assert(!new java.io.File(s"$dir/_commit").exists)
  }

  test("a store path with no commit yet reads empty, with the populated schema") {
    val dir = Files.createTempDirectory("certstore-empty").toString + "/store"
    val empty = CertStore.read(spark, dir)
    assert(empty.count() == 0 && CertStore.sizeBytes(spark, dir) == 0)
    CertStore.write(fixture("2024-01", 2).toDF(), dir, SaveMode.Append)
    val back = CertStore.read(spark, dir)
    assert(empty.schema == back.schema)
    assert(back.count() == 2, "the empty frame is not memoized")
    // a commit that wrote no data files (every entry of the epoch was
    // rejected) also reads empty instead of failing schema inference
    val live = Files.createTempDirectory("certstore-rejected").toString
    val junk = Seq(RawEntry("log", 0L, "AAAA")).toDF()
    StreamIngest.writeEpoch(junk, live, batchId = 0L, ts = Timestamp.valueOf("2024-01-15 00:00:00"))
    assert(new java.io.File(s"$live/_commit").isFile)
    val none = CertStore.read(spark, live)
    assert(none.schema == back.schema && none.count() == 0)
    assert(CertStore.sizeBytes(spark, live) == 0)
  }

  test("concurrent readers never see fewer rows than were committed before they read") {
    val live = Files.createTempDirectory("certstore-race").toString
    val t = Timestamp.valueOf("2024-01-15 00:00:00")
    StreamIngest.writeEpoch(epochBatch(3), live, batchId = 0L, ts = t)
    val perEpoch = CertStore.read(spark, live).count()
    val committed = new java.util.concurrent.atomic.AtomicLong(perEpoch)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (0 until 4).map { i =>
      val th = new Thread(() =>
        try while (!done.get) {
          val floor = committed.get
          val n = CertStore.read(spark, live).count()
          reads.incrementAndGet()
          if (n < floor) bad.add(s"reader $i counted $n, $floor committed before")
        } catch { case e: Throwable => bad.add(s"reader $i failed: $e") })
      th.start(); th
    }
    try for (id <- 1L to 5L) {
      StreamIngest.writeEpoch(epochBatch(3), live, batchId = id, ts = t)
      committed.addAndGet(perEpoch)
    } finally { done.set(true); readers.foreach(_.join()) }
    assert(bad.isEmpty, bad.toString)
    assert(reads.get > 4, "the readers overlapped the commits")
    assert(CertStore.read(spark, live).count() == 6 * perEpoch)
  }

  /** Rows, Spark tasks and shuffle exchanges of one run of `df`. Tasks are
    * counted by job group; a marker job in another group, run after `df`,
    * shows the listener has seen every event `df` posted. */
  private def profile(df: org.apache.spark.sql.DataFrame)
      : (Seq[org.apache.spark.sql.Row], Int, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = s"certstore-shape-${java.util.UUID.randomUUID()}"
    val marker = group + "-marker"
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            e.stageIds.foreach(stages.put(_, g))
            if (g == marker) markerJobs.add(e.jobId)
          }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.get(e.stageId) == group) tasks.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "shape")
      val rows = try df.collect().toSeq finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
      val exchanges = plans.collect(df.queryExecution.executedPlan) {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }.length
      (rows, tasks.get, exchanges)
    } finally sc.removeSparkListener(listener)
  }

  /** The six query shapes the server runs, `/stream` with and without a
    * cursor, over the snapshot `t`. */
  private def shapes(t: org.apache.spark.sql.DataFrame): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val cursor = (Timestamp.valueOf("2024-02-10 12:00:02"), f"${2}%064d", "d2.example.com", "log")
    Seq(
      "domain" -> CtQueries.domainLookup(t, "d3.example.com"),
      "subdomains" -> CtQueries.subdomains(t, "example.com"),
      "recent" -> CtQueries.recent(t, "example.com", Timestamp.valueOf("2024-03-10 18:00:00")),
      "tld" -> CtQueries.tldTopk(t, "com", 3),
      "stats" -> CtQueries.stats(t, java.sql.Date.valueOf("2024-02-10")),
      "stream" -> CtQueries.streamTailAfter(t, None, 4),
      "stream cursor" -> CtQueries.streamTailAfter(t, Some(cursor), 4))
  }

  private object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def scanOf(df: org.apache.spark.sql.DataFrame) =
    plans.collectFirst(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get

  test("a small store serves every shape as one single-task job, " +
      "filters still pushed into the scan") {
    val dir = Files.createTempDirectory("certstore-shape").toString
    for (m <- Seq("2024-01", "2024-02", "2024-03"))
      CertStore.write(fixture(m, 6).toDF(), dir, SaveMode.Append)
    assert(CertStore.read(spark, dir).inputFiles.length <= CertStore.SingleTaskMaxFiles)
    assert(CertStore.sizeBytes(spark, dir) <= CertStore.SingleTaskMaxBytes)
    shapes(CertStore.read(spark, dir)).foreach { case (name, df) =>
      val (rows, tasks, exchanges) = profile(df)
      assert(rows.nonEmpty, name)
      assert(exchanges == 0, s"$name plans an exchange:\n${df.queryExecution.executedPlan}")
      assert(tasks == 1, s"$name ran $tasks tasks")
    }
    // the partition and data filters still reach the scan through the Coalesce
    val t = CertStore.read(spark, dir)
    val byName = shapes(t).toMap
    for (name <- Seq("recent", "stream cursor")) {
      val scan = scanOf(byName(name))
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "ts_month")),
        s"$name lost its ts_month partition filter: ${scan.partitionFilters}")
      assert(scan.metadata("PushedFilters").contains("GreaterThan"),
        s"$name lost its pushed ts filter: ${scan.metadata("PushedFilters")}")
    }
    assert(scanOf(byName("recent")).metadata("PushedFilters")
      .contains("EqualTo(base_domain,example.com)"))
  }

  test("the commit that takes a store past SingleTaskMaxFiles switches it to the " +
      "parallel plans at the next token, with the same rows as one task") {
    val dir = Files.createTempDirectory("certstore-shape-files").toString
    // one file per append: a new month each
    for (m <- 1 to CertStore.SingleTaskMaxFiles + 1) {
      CertStore.write(fixture(f"2024-$m%02d", 6).toDF(), dir, SaveMode.Append)
      val t = CertStore.read(spark, dir)
      assert(t.inputFiles.length == m)
      assert((t.rdd.getNumPartitions == 1) == (m <= CertStore.SingleTaskMaxFiles),
        s"$m files in ${t.rdd.getNumPartitions} partitions")
    }
    val t = CertStore.read(spark, dir)
    shapes(t).zip(shapes(t.coalesce(1))).foreach { case ((name, df), (_, one)) =>
      val (rows, tasks, exchanges) = profile(df)
      assert(rows.nonEmpty, name)
      assert(rows == one.collect().toSeq, s"$name answers differently in parallel")
      assert(tasks > 1, s"$name ran $tasks tasks")
      if (Set("subdomains", "recent", "tld", "stats")(name))
        assert(exchanges > 0, s"$name planned no exchange")
    }
  }

  test("the commit that takes a store past SingleTaskMaxBytes switches it to the " +
      "parallel plans at the next token") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("certstore-shape-bytes").toString
    CertStore.write(fixture("2024-01", 6).toDF(), dir, SaveMode.Append)
    // random fingerprints, so the bytes grow as a real store's do
    def bulk(part: Int) = spark.range(CertStore.SingleTaskMaxBytes / 150).select(
      (lit(1706745600L) + col("id") % 86400).cast("timestamp").as("ts"),
      concat(lit("h"), (col("id") % 50).cast("string"), lit(".example.com")).as("domain"),
      lit("example.com").as("base_domain"),
      sha2(concat(lit(s"p$part-"), col("id").cast("string")), 256).as("fingerprint"),
      lit("CN=CA").as("issuer"), lit("CN=d").as("subject"),
      array(concat(lit("h"), (col("id") % 50).cast("string"), lit(".example.com"))).as("san"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("not_before"),
      lit(Timestamp.valueOf("2025-01-01 00:00:00")).as("not_after"),
      lit("log").as("log_name"))
    var appends = 0
    while (CertStore.sizeBytes(spark, dir) <= CertStore.SingleTaskMaxBytes) {
      assert(CertStore.read(spark, dir).rdd.getNumPartitions == 1,
        s"${CertStore.sizeBytes(spark, dir)} bytes")
      CertStore.write(bulk(appends), dir, SaveMode.Append)
      appends += 1
    }
    assert(appends > 1, "the store was under the bound at a token before it grew past")
    val grown = CertStore.read(spark, dir)
    assert(grown.inputFiles.length <= CertStore.SingleTaskMaxFiles)
    assert(grown.rdd.getNumPartitions > 1, "a store past the bytes bound is read in parallel")
    assert(profile(CtQueries.subdomains(grown, "example.com"))._3 > 0)
  }
}
