package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only: per-micro-batch duration breakdown of one streaming gate
  * entry, to attribute the stream_* bench family's cost between engine
  * fixed overhead (planning, WAL, state commit) and actual data work.
  * Not part of any deliverable pipeline; delete-or-keep freely. */
object ProfileStream {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("stream_ewma_replay")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the harness runs each stream on spark.newSession(); listeners on the
    // shared context's StreamingQueryManager are per-session, so register
    // on ALL sessions via the global listener bus equivalent: easiest is
    // to listen on the root session AND rely on newSession sharing the
    // listener bus (StreamingQueryListener events flow through the shared
    // SparkContext listener bus, delivered to every session's manager
    // that registered). Register on the root; if no events arrive, the
    // fallback below still prints wall times.
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[profile] query started ${e.name}")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[profile] batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        System.err.println(s"[profile] query terminated")
    }
    spark.streams.addListener(listener)
    // run ONE streaming query directly on this session (the harness uses
    // newSession, whose manager the listener can't see) — the watermarked
    // ewma over the four-file time-sliced replay, the stream_ewma_replay body
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    import graft.queries.StreamingQueries
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      val ckpt = java.nio.file.Files.createTempDirectory("profile_ckpt").toString
      val q = graft.streaming.EventStreams.ewma(spark,
          StreamingQueries.replayEvents(spark, sfDir),
          watermark = Some(StreamingQueries.ReplaySlicing.Watermark)).toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName(s"profile_$i")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.catalog.dropTempView(s"profile_$i")
      graft.operators.Dedup.rmdir(new java.io.File(ckpt))
      System.err.println(f"[profile] pass $i total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
