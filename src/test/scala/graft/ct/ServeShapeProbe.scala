package graft.ct

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: the serving plan-shape crossover behind
  * `CertStore.SingleTaskMaxBytes` (SCALE.md, "Round 18").
  *
  * Builds stores of growing size through `CertStore.write`, each from
  * a few appends and from many (one sorted file per append in one month,
  * so a 32-append store has 8× the files of a 4-append one to open for
  * the same bytes).
  * Rows are synthetic: 2,000 base domains × 50 hosts, random 64-hex
  * fingerprints. Each store is read as the parallel frame
  * (`spark.read.parquet`) and as its `coalesce(1)`; `/domain` and
  * `/subdomains` run as `CtQueries` collects on random keys, with no
  * HTTP. Every store and shape is warmed before anything is timed.
  * Prints one `RESULT` line per store and shape: solo medians of 21
  * runs per route, and the throughput of 4 threads alternating the two
  * routes for 6 s.
  *
  * Usage: sbt "Test/runMain graft.ct.ServeShapeProbe <scratch dir> [MB,...] [appends,...]"
  * (default sizes 2,4,8,16,32,64 and appends 4,32: ~15 min on 4 cores;
  * the stores stay in the scratch dir, ~270 MB).
  */
object ServeShapeProbe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]").appName("serve-shape-probe")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = args(0)
    def list(i: Int, default: String) = args.lift(i).getOrElse(default).split(',').toSeq
    val sizesMb = list(1, "2,4,8,16,32,64").map(_.toDouble)
    val appendCounts = list(2, "4,32").map(_.toInt)
    val bases = 2000
    def host(id: org.apache.spark.sql.Column) = concat(lit("h"), (id % 50).cast("string"),
      lit(".b"), (id % bases).cast("string"), lit(".example.com"))
    def rows(n: Long, part: Int): DataFrame = spark.range(n).select(
      (lit(1704067200L + part % 28 * 86400L) + col("id") % 86400).cast("timestamp").as("ts"),
      host(col("id")).as("domain"),
      concat(lit("b"), (col("id") % bases).cast("string"), lit(".example.com")).as("base_domain"),
      sha2(concat(lit(s"p$part-"), col("id").cast("string")), 256).as("fingerprint"),
      lit("CN=Test CA,O=Test").as("issuer"),
      concat(lit("CN=h"), col("id").cast("string")).as("subject"),
      array(host(col("id"))).as("san"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("not_before"),
      lit(Timestamp.valueOf("2025-01-01 00:00:00")).as("not_after"),
      concat(lit("log"), (col("id") % 8).cast("string")).as("log_name"))
    def build(dir: String, n: Long, appends: Int): Long = {
      for (p <- 0 until appends) CertStore.write(rows(n / appends, p), dir, SaveMode.Append)
      CertStore.sizeBytes(spark, dir)
    }
    val calibRows = 200000L
    val perRow = build(s"$root/calib", calibRows, 4).toDouble / calibRows
    val rnd = new scala.util.Random(7)
    def median(xs: Seq[Double]) = { val s = xs.sorted; (s((s.length - 1) / 2) + s(s.length / 2)) / 2 }
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val stores = for (mb <- sizesMb; appends <- appendCounts) yield {
      val dir = s"$root/store_${mb}mb_$appends"
      val n = (mb * 1048576 / perRow).toLong
      (dir, n, appends, build(dir, n, appends))
    }
    def domain(t: DataFrame) =
      CtQueries.domainLookup(t, s"h${rnd.nextInt(50)}.b${rnd.nextInt(bases)}.example.com").collect()
    def subs(t: DataFrame) = CtQueries.subdomains(t, s"b${rnd.nextInt(bases)}.example.com").collect()
    def shapesOf(dir: String) = {
      val p = spark.read.parquet(dir)
      Seq("parallel" -> p, "one-task" -> p.coalesce(1))
    }
    for ((dir, _, _, _) <- stores; (_, t) <- shapesOf(dir); _ <- 1 to 10) { domain(t); subs(t) }
    for ((dir, n, appends, bytes) <- stores; (name, t) <- shapesOf(dir)) {
      val d = median((1 to 21).map(_ => time(domain(t))))
      val s = median((1 to 21).map(_ => time(subs(t))))
      val done = new AtomicLong
      val seconds = 6
      val end = System.nanoTime() + seconds * 1000000000L
      val threads = (0 until 4).map { i =>
        new Thread(() => {
          var k = i
          while (System.nanoTime() < end) {
            if (k % 2 == 0) domain(t) else subs(t)
            k += 1
            done.incrementAndGet()
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      println(f"RESULT store ${bytes / 1048576.0}%.1f MB appends $appends rows $n shape $name " +
        f"domain_solo_ms $d%.1f subdomains_solo_ms $s%.1f qps_4thread ${done.get.toDouble / seconds}%.1f")
    }
    spark.stop()
  }
}
