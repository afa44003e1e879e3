package graft.bench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point: `graft.bench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file> [--commit <sha>] [--source-hash <h>]`.
  * Writes the result JSON to `--out`; ctbench/run.py prints it. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, commit: String, sourceHash: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("out"), kv.getOrElse("commit", "none"), kv.getOrElse("source-hash", "none"))
    val cores = Runtime.getRuntime.availableProcessors
    val confs = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.streaming.numRecentProgressUpdates" -> "1000")
    val spark = confs.foldLeft(SparkSession.builder().appName("ctbench")) { case (b, (k, v)) => b.config(k, v) }
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val res = new Results
    res.context ++= Seq("workload" -> o.workload, "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString, "trace" -> (if (o.trace) "1" else "0"),
      "git_commit" -> o.commit, "source_hash" -> o.sourceHash, "nproc" -> cores.toString,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version) ++
      confs.map { case (k, v) => s"conf.$k" -> v }
    val w = new Workloads(spark, o, res)
    o.workload match {
      case "serve_read" => w.serveRead()
      case "mixed_tail" => w.mixedTail()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    res.report(o.out)
    // Server.stop() leaves the request pool's non-daemon threads running,
    // so the JVM would not exit on its own.
    System.exit(0)
  }
}

/** Metrics, checks and run context of one run. */
final class Results {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val context = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one checked output; `mismatch` is None when it was right. */
  def check(mismatch: Option[String]): Unit = synchronized {
    attempted += 1
    mismatch.foreach { m =>
      failed += 1
      if (failures.length < 20) failures += m
    }
  }

  def successRate: Double = synchronized { 1.0 - failed.toDouble / math.max(1L, attempted) }

  def report(path: String): Unit = {
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    println("context " + context.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}"))
    metrics.foreach { case (k, (v, u)) => println(f"metric $k%-36s ${num(v)} $u") }
    println(s"checks attempted=$attempted failed=$failed")
    if (failed > 0) {
      System.err.println(s"CORRECTNESS FAILURE: $failed of $attempted checked outputs were wrong")
      failures.foreach(f => System.err.println(s"  mismatch: $f"))
    }
    val body = metrics.map { case (k, (v, u)) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
      .mkString("{", ",", "}")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$body}""")
    finally w.close()
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = pct(xs, 50)
}
