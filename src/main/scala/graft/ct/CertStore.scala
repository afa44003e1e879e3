package graft.ct

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.operators.FsPointers

/** Columnar store for `cert_domains`: the Spark analog of the reference's
  * MergeTree layout (/root/reference/clickhouse/init.sql:16-18).
  *
  *  - `PARTITION BY toYYYYMM(ts)` → Hive-style `ts_month=` directory
  *    partitioning; Catalyst prunes partitions when queries carry a
  *    `ts_month` predicate (SURVEY §4).
  *  - `ORDER BY (base_domain, domain, fingerprint)` → sort-within-partitions
  *    on write, so Parquet row-group min/max stats give row-group skipping
  *    for `base_domain =` / `domain =` predicates.
  *  - LSM append + background merges → append-mode writes + `compact`.
  *
  * At 100 TB: monthly dirs bound each write job's shuffle to one month of
  * data; the repartition key (`ts_month`) co-locates a partition dir's rows
  * on one task so each dir gets few, large, sorted files.
  *
  * Commits: every writer here (and `StreamIngest.writeEpoch`) ends a
  * successful mutation by replacing the one-line `_commit` file at the
  * store root with a fresh random token — the store's version, as the
  * set of active parts is a MergeTree table's. Readers build one pinned
  * snapshot per token (see [[read]]).
  */
object CertStore {

  val partitionCol = "ts_month"

  /** The commit-token file. The leading `_` hides it from Spark's listing
    * and from data-file byte counts. */
  private val CommitFile = "_commit"

  /** Append a batch of canonical rows, partitioned + sorted for scan
    * speed, then commit. */
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Append): Unit = {
    writeFiles(df, path, mode)
    commit(path)
  }

  /** The data-file half of [[write]], without the commit: for writers
    * that commit somewhere else (an epoch dir commits at its store root). */
  private[ct] def writeFiles(df: DataFrame, path: String, mode: SaveMode): Unit =
    df.withColumn(partitionCol, date_format(col("ts"), "yyyyMM"))
      .repartition(col(partitionCol))
      .sortWithinPartitions("base_domain", "domain", "fingerprint")
      .write.mode(mode)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Publish a new commit token at store root `root` (atomic replace). A
    * random token, not a counter: a directory swapped in by the "stop,
    * compact, swap" procedure, or rebuilt by an Overwrite that deleted
    * the old file, must never reuse a value a reader has cached. */
  private[ct] def commit(root: String): Unit =
    FsPointers.publish(root, CommitFile, java.util.UUID.randomUUID().toString)

  /** The store's current token, or None when it has none: a path that does
    * not exist, a store written by a bare `df.write.parquet`, or an
    * unreadable token file (then the caller lists the tree afresh, which is
    * never stale). Every read pays this, so it is one `open` on the cached
    * FileSystem rather than `FsPointers.read`'s exists-then-open through a
    * fresh FileContext. */
  private def token(fs: FileSystem, root: Path): Option[String] =
    try {
      val in = fs.open(new Path(root, CommitFile))
      try Some(new String(in.readAllBytes(), "UTF-8").trim) finally in.close()
    } catch { case _: java.io.IOException => None }

  /** One store version: the frame built under `token` and its data bytes
    * (`token` is empty for a store listed without one). */
  private final case class Snapshot(token: String, df: DataFrame, bytes: Long)
  private final class Slot { @volatile var snap: Option[Snapshot] = None }
  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]()

  /** The pinned snapshot for the store's current token, built at most once
    * per (session, qualified path, token); None when the store has no
    * token. The token is read BEFORE the listing, so a snapshot is never
    * older than the token it is cached under. A reader that sees a new
    * token waits for the rebuild under the store's lock — it is never
    * served the previous snapshot, since /domain must show every row
    * committed before the request. */
  private def pinned(spark: SparkSession, path: String): Option[Snapshot] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    token(fs, root).flatMap { seen =>
      val slot = slots.computeIfAbsent((spark, fs.makeQualified(root).toString), _ => new Slot)
      slot.snap.filter(_.token == seen).orElse(slot.synchronized {
        // another reader may have rebuilt meanwhile, or a writer committed again
        token(fs, root).map { now =>
          slot.snap.filter(_.token == now).getOrElse {
            val built = load(spark, path).copy(token = now)
            slot.snap = Some(built)
            built
          }
        }
      })
    }
  }

  /** Read the table back; `ts_month` appears as a partition column. A
    * streaming store's per-epoch directories (StreamIngest.writeEpoch)
    * surface as an extra `epoch` partition column — an idempotency
    * implementation detail, dropped here.
    *
    * The result is the store's pinned snapshot: its file index (listing
    * plus inferred schema) is built once per commit token and shared by
    * every request, `/stream` poll and route until the next commit, so a
    * read costs one small file read, not a listing and a schema job. Only
    * a writer's commit ends a snapshot's lifetime: files written behind
    * CertStore's back into a store that has a token stay invisible until
    * the next commit. A store without a token (e.g. written by a bare
    * `df.write.parquet`) is listed afresh on every call, as before. A path
    * that does not exist yet, or holds no data files, reads as an empty
    * frame with the populated store's schema (memoized only under a
    * token).
    *
    * Plan shape: a store of at most [[SingleTaskMaxFiles]] data files and
    * [[SingleTaskMaxBytes]] data bytes is served as `coalesce(1)`.
    * Filters and projections still push through the `Coalesce` into the
    * scan, and every aggregate, sort and top-k above it then needs no
    * exchange, so a request runs as one single-task job instead of a scan
    * stage, a hash or range exchange and the range-sampling job. The
    * shape is decided once per listing, where the files and bytes are
    * known, so every route, every `/stream` poll and a tokenless read get
    * the same one; a store past either bound keeps the parallel plans. */
  def read(spark: SparkSession, path: String): DataFrame =
    pinned(spark, path).getOrElse(load(spark, path)).df

  /** The serving plan-shape bounds (see [[read]]), set from the crossover
    * measured by `ServeShapeProbe` (SCALE.md, "Round 18": 4 cores,
    * `local[4]`, solo medians of `/domain` and `/subdomains` as DataFrame
    * collects, which spread ~15% run to run). One task reads the files in
    * turn, so its cost follows the file count more than the bytes. At
    * ~2 MB and at ~16 MB, up to 8 files, one task cut solo `/subdomains`
    * by 3–41% and moved solo `/domain` by −7% to +25%; at 12 files it
    * lost solo `/domain` by 50–62%. With 4 files it won both routes at
    * 16 MB and lost both at 31 MB (+12% and +4%) and 61 MB (+9% and
    * +17%). The bounds guard unloaded latency: under 4 concurrent
    * threads one task won throughput at every size and file count
    * measured, 32 files and 64 MB included. */
  private[ct] val SingleTaskMaxFiles = 8
  private[ct] val SingleTaskMaxBytes: Long = 16L << 20

  /** A fresh listing of the store, shaped by its files and bytes (see
    * [[read]]): the snapshot `pinned` caches, here under no token. */
  private def load(spark: SparkSession, path: String): Snapshot = {
    val df = try {
      val df = spark.read.parquet(path)
      if (df.columns.contains("epoch")) df.drop("epoch") else df
    } catch {
      case e: AnalysisException
          if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA").contains(e.getCondition) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), emptySchema(spark))
    }
    val index = df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
    val bytes = index.fold(0L)(_.sizeInBytes)
    val oneTask = bytes <= SingleTaskMaxBytes &&
      index.forall(_.inputFiles.length <= SingleTaskMaxFiles)
    Snapshot("", if (oneTask) df.coalesce(1) else df, bytes)
  }

  /** `CertDomain.schema` plus `ts_month` typed as partition inference types
    * a yyyyMM directory value. */
  private def emptySchema(spark: SparkSession) =
    CertDomain.schema.add(partitionCol,
      if (spark.sessionState.conf.partitionColumnTypeInferenceEnabled) IntegerType else StringType)

  /** The ReplacingMergeTree dedupe window: one row per
    * (`within`…, fingerprint, domain), the earliest by (ts, log_name). */
  private def keepEarliest(df: DataFrame, within: Column*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(within ++ Seq(col("fingerprint"), col("domain")): _*)
      .orderBy(col("ts"), col("log_name"))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** MergeTree background-merge analog: rewrite each monthly partition into
    * one sorted file. Plain batch job, no custom strategy
    * (SURVEY §4). Writes to `dest` (caller swaps directories atomically).
    * `dedupe` applies the ReplacingMergeTree-style merge the README claims
    * (README.md:19): collapse rows sharing (fingerprint, domain) — e.g. the
    * same certificate observed in several CT logs or replayed batches —
    * keeping the earliest ts. Commits at `dest`. */
  def compact(spark: SparkSession, src: String, dest: String,
      dedupe: Boolean = false): Unit = {
    val base = read(spark, src)
    val merged = if (dedupe) keepEarliest(base) else base
    // Repartition keeps one task per month (hash on the partition column)
    // so every monthly dir compacts in parallel. A global coalesce here
    // would funnel the whole store through one task.
    merged.repartition(col(partitionCol))
      .sortWithinPartitions("base_domain", "domain", "fingerprint")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCol)
      .parquet(dest)
    commit(dest)
  }

  /** In-place drifted-month compaction — the OPERATIONAL background-merge
    * analog. [[compact]] rewrites the WHOLE store into a new directory
    * (the explicit full-rebuild / global-dedupe path); at 100 TB of
    * time-partitioned certs that rewrites years of immutable months to
    * fix fragmentation that only accumulates where ingest appends land
    * (the current month — `write` appends one file per touched month
    * per batch). This path detects months fragmented past
    * `maxFilesPerMonth` and rewrites ONLY those, in one batched job,
    * swapped in per month behind the crash-recoverable
    * archive-then-swap protocol — the shared
    * [[graft.operators.PartitionCompaction]] kernel the embedding
    * store's recluster uses, so cost scales with drift, not store size.
    *
    * `dedupe` applies the ReplacingMergeTree-style merge the README
    * claims (README.md:19 — the reference table itself is plain
    * MergeTree, `clickhouse/init.sql:16` supplies only the monthly
    * partitioning and sort key this layout mirrors) WITHIN each
    * rewritten month — faithful to ClickHouse merge semantics, where a
    * background merge deduplicates only among rows merged inside the
    * same partition and cross-partition duplicates survive until
    * `OPTIMIZE FINAL` (the full [[compact]] with dedupe=true is this
    * store's FINAL).
    *
    * Epoch-partitioned streaming stores' month dirs hold epoch
    * SUBDIRECTORIES, which the kernel never treats as drifted (a flat
    * rewrite would lose the per-epoch idempotency layout) — use the
    * full [[compact]] for those. Returns the compacted months.
    *
    * Commits after every call on an existing store, compacted months or
    * none: the kernel's recovery sweep may have moved a month back. */
  def compactDrifted(spark: SparkSession, path: String,
      maxFilesPerMonth: Int = 4, dedupe: Boolean = false): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val merge: DataFrame => DataFrame =
      if (!dedupe) identity else keepEarliest(_, col(partitionCol))
    val months = graft.operators.PartitionCompaction.compactDrifted(spark, fs, root,
      partitionCol, Seq("base_domain", "domain", "fingerprint"),
      hash(col("fingerprint")), maxFilesPerMonth, target = 1, transform = merge)
    commit(path)
    months
  }

  /** `system.parts` bytes_on_disk analog (reference api/app.py:224-229):
    * file metadata only (SURVEY §2.1 S12). A store with a commit token
    * answers from its pinned snapshot's file index — the same snapshot
    * [[read]] serves, built by whichever of the two comes first after a
    * commit — so /size costs no listing; one without a token sums a
    * fresh listing's file index, the same one a snapshot pins. */
  def sizeBytes(spark: SparkSession, path: String): Long =
    pinned(spark, path).getOrElse(load(spark, path)).bytes

  /** Human-readable byte size, reference semantics (api/app.py:211-219):
    * base 1024, two decimals, no separator, 0 → "0B". */
  def humanBytes(n: Long): String = {
    if (n == 0) return "0B"
    val units = Seq("B", "KB", "MB", "GB", "TB", "PB")
    var v = n.toDouble
    var i = 0
    while (v >= 1024.0 && i < units.length - 1) { v /= 1024.0; i += 1 }
    f"$v%.2f${units(i)}"
  }
}
