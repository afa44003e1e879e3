package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The id-partitioned corpus TEXT store — the point-read side of the
  * incremental near-dup serving path. The persisted band index makes
  * candidate GENERATION track the increment (bucket-pruned band join);
  * this store makes candidate VERIFICATION track the candidates: the
  * handful of corpus docs an increment band-collides with are fetched
  * by pruned direct-dir reads instead of a semi-join that scans the
  * whole corpus text per lookup. It is the MergeTree primary-key
  * point-read analog (reference clickhouse/init.sql:18 — the sort key
  * that serves `WHERE domain = ...` without a table scan) applied to
  * (doc_id, text): rows Hive-partitioned by `idp = pmod(doc_id,
  * n_parts)` and doc_id-sorted within each file, so a lookup opens the
  * touched idp DIRECTORIES only and row-group min/max on doc_id skips
  * inside them.
  *
  * Accounting meta carries the partition count (every layout-sensitive
  * read derives its pruning from meta, never from a constant), the
  * torn-append row token, and the SAME corpus-of-record receipt as the
  * band index ([[StoreManifest.docReceipt]] folded over build +
  * appends) — so a serving lookup can require, for the price of two
  * one-row meta reads, that the text store and the band index describe
  * the SAME corpus instead of silently fetching stale text.
  *
  * Failure-window waiver (the per-store discipline): append-only rows
  * with scan/point readers, same as the band index — a reader
  * overlapping an append sees a prefix of the increment (self-heals
  * next read); a crash between the row append and the meta rewrite is
  * caught by the next append's torn-append validation with a rebuild
  * message. Derived-data recovery (rebuild from the corpus of record)
  * is the whole story; no epoch protocol.
  */
object CorpusStore {

  /** Layout version IN THE PATH (dir names), so a layout bump can never
    * half-reuse stale dirs — same rule as [[Dedup.BandIndexLayout]].
    * `cst2` adds the listing manifest (file count + bytes,
    * [[StoreManifest]]) so appends validate tears with one parallel
    * listing instead of an O(store files) footer pass — the round-14
    * probe measured the footer pass growing 8.8 → 42 → 92 s per
    * 5-append batch across ×1/×10/×100 on this store's own appends. */
  private[graft] val Layout = "cst2"

  /** Default id-partition count for NEW stores (local[32] economics; a
    * real 100 TB corpus raises it at write time — the count is a
    * per-store property read from meta, never assumed from here). */
  private[graft] val DefaultParts = 64

  private[graft] case class CorpusStoreMeta(nParts: Int, nDocs: Long,
      docXor: Long, nFiles: Long = 0L, nBytes: Long = 0L)

  private def rowsDirOf(dir: String): String = s"$dir/docs_$Layout"
  private def metaDirOf(dir: String): String = s"$dir/meta_$Layout"

  private def idPart(docId: org.apache.spark.sql.Column, nParts: Int) =
    pmod(docId, lit(nParts.toLong)).cast("int")

  /** Explicit schema: a store can legitimately hold zero docs in a
    * partition dir, and inference over an empty partitioned dir throws. */
  private def readRows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("idp", IntegerType))))
      .parquet(rowsDirOf(dir))
  }

  /** Write meta with the row dirs' listing manifest as it is on disk
    * now, so the next append validates against what this write left. */
  private def writeMeta(s: SparkSession, dir: String,
      m: CorpusStoreMeta): Unit = {
    val l = StoreManifest.list(s, rowsDirOf(dir))
    StoreManifest.writeMeta(s, metaDirOf(dir), lit(Layout).as("layout"),
      lit(m.nParts).as("n_parts"), lit(m.nDocs).as("n_docs"),
      lit(m.docXor).as("doc_xor"),
      lit(l.files).as("n_files"), lit(l.bytes).as("n_bytes"),
      lit("xxhash64_v1").as("receipt_kind"))
  }

  private[graft] def readMeta(s: SparkSession, dir: String): CorpusStoreMeta = {
    val r = StoreManifest.readMeta(s, metaDirOf(dir),
      s"no $Layout corpus store at $dir: the dir holds a legacy dump or " +
        "nothing at all — build it with CorpusStore.write (idp-partitioned " +
        "layout with the partition count and integrity tokens in meta)")
    CorpusStoreMeta(r.getAs[Int]("n_parts"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("doc_xor"), r.getAs[Long]("n_files"),
      r.getAs[Long]("n_bytes"))
  }

  /** The torn-append check against meta's listing manifest (cst2): a
    * tear leaves whole committed files beyond meta, so (file count,
    * bytes) detects it for one parallel listing — the footer row-count
    * pass was O(store files) per append (measured 7-9 s on a 9k-file
    * store), a corpus-size tax on an increment-bounded operation. */
  private def requireUntorn(s: SparkSession, dir: String,
      meta: CorpusStoreMeta, before: String): Unit = {
    StoreManifest.requireUntorn(s, dir,
      Seq(StoreManifest.Recorded("store", rowsDirOf(dir), meta.nFiles, meta.nBytes)),
      "a prior append or compaction crashed between its data write and " +
        s"its meta rewrite; rebuild with CorpusStore.write before $before")
    ()
  }

  /** Cold-build the store from `docs` (doc_id, text — extra columns are
    * dropped; doc_ids must be unique, the corpus contract every Dedup
    * operator shares). One shuffle on the id partition, doc_id-sorted
    * files (row-group min/max point-read skipping from the first write,
    * the band-index build lesson). */
  def write(docs: DataFrame, dir: String, nParts: Int = DefaultParts): Unit = {
    require(nParts > 0, s"nParts must be positive, got $nParts")
    val s = docs.sparkSession
    val (nDocs, docXor) = StoreManifest.receiptOf(docs)
    docs.select(col("doc_id"), col("text"))
      .withColumn("idp", idPart(col("doc_id"), nParts))
      .repartition(col("idp"))
      .sortWithinPartitions("idp", "doc_id")
      .write.mode("overwrite").partitionBy("idp").parquet(rowsDirOf(dir))
    val nRows = StoreManifest.footerCount(
      readRows(s, dir).select(col("doc_id"), col("idp")))
    require(nRows == nDocs,
      s"corpus store write at $dir landed $nRows rows for $nDocs " +
        "input docs — the write must be row-preserving; retry the build")
    writeMeta(s, dir, CorpusStoreMeta(nParts, nDocs, docXor))
  }

  /** Append an increment (disjoint doc_ids — same contract as
    * [[Dedup.appendBandIndex]], and normally the SAME increment appended
    * to both stores in the same maintenance step). Single-writer; torn
    * appends from a prior crash are detected against meta's row token
    * with a rebuild message before any rows land. */
  def append(increment: DataFrame, dir: String): Unit = {
    val s = increment.sparkSession
    val meta = readMeta(s, dir)
    requireUntorn(s, dir, meta, "appending again")
    val (incDocs, incXor) = StoreManifest.receiptOf(increment)
    increment.select(col("doc_id"), col("text"))
      .withColumn("idp", idPart(col("doc_id"), meta.nParts))
      .repartition(col("idp"))
      .sortWithinPartitions("idp", "doc_id")
      .write.mode("append").partitionBy("idp").parquet(rowsDirOf(dir))
    writeMeta(s, dir, meta.copy(nDocs = meta.nDocs + incDocs,
      docXor = meta.docXor ^ incXor))
  }

  /** Full scan of the store as (doc_id, text) — the rebuild/backfill
    * read and the over-cap fallback's corpus frame. */
  def read(s: SparkSession, dir: String): DataFrame =
    readRows(s, dir).select(col("doc_id"), col("text"))

  /** Cap on [[fetchDocs]]'s literal id predicate: at or below it the
    * lookup keeps the point shape (InSet pushed to the scan, row-group
    * skipping on the doc_id sort); above it the SAME read is
    * semi-joined against a broadcast LocalRelation of the ids — never
    * a full-store predicate pass, and safe up to the 2M ids the stored
    * verify path can legally hand over (8-byte rows ≈ 16 MB broadcast).
    * The default is MEASURED, not guessed (round 16, ×100 store at
    * 4096 idp dirs): the InSet's per-literal cost grows linearly and
    * crosses the flat semi-join between 2k and 5k literals — 5.0 vs
    * 5.0 s at 2k ids, 13.8 vs 9.2 at 5k, 17.8 vs 9.3 at 10k, 116 vs
    * 9.1 at the 100k the old default allowed (the r14 cap guarded the
    * driver analysis cliff but left the executor-side predicate tax
    * unmeasured). Overridable per session via
    * `graft.dedup.fetchDocsMaxIds` (same knob/spec pattern as the
    * band/pair collect caps). */
  private val FetchDocsMaxIds = 4096L

  /** Point-fetch `ids` as (doc_id, text): the touched `idp=` directories
    * are derived driver-side from meta's partition count and opened
    * DIRECTLY — never the partitioned root, whose per-query partition
    * discovery grows with the partition count (the measured band-index
    * lesson: 10.6 s of pure listing at 4096 dirs) — until the touched
    * set covers ≥ half the existing dirs, where one root discovery is
    * measured cheaper than enumerating thousands of paths (the
    * saturation guard below). Inside the read the doc_id predicate is
    * an InSet pushed to the scan, with the files' doc_id sort making
    * row-group min/max skip to the touched groups — or, above
    * [[FetchDocsMaxIds]], a broadcast semi-join (the measured winner
    * from ~5k ids up). Absent ids contribute no rows (the semi-join
    * contract); an empty `ids` returns an empty frame without touching
    * the FS. */
  def fetchDocs(s: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    val meta = readMeta(s, dir)
    if (ids.isEmpty)
      return readRows(s, dir).filter(lit(false))
        .select(col("doc_id"), col("text"))
    val touched = ids.map(id => java.lang.Math.floorMod(id, meta.nParts.toLong)
      .toInt).distinct
    val root = new org.apache.hadoop.fs.Path(rowsDirOf(dir))
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    // one listStatus of the root maps which partitions exist (a touched
    // partition holding no docs has no dir)
    val existing: Set[Int] = fs.listStatus(root).iterator
      .map(_.getPath.getName).filter(_.startsWith("idp="))
      .map(_.stripPrefix("idp=").toInt).toSet
    val dirs = touched.filter(existing).map(p => s"${rowsDirOf(dir)}/idp=$p")
    if (dirs.isEmpty)
      return readRows(s, dir).filter(lit(false))
        .select(col("doc_id"), col("text"))
    import org.apache.spark.sql.types._
    // SATURATION GUARD (round 16 — the appendPairTerm precedent,
    // measured on THIS store): enumerating thousands of individual dir
    // paths costs more than one root discovery once the touched set
    // covers most of the store — at ×100/4096 parts the semi-join read
    // 9.2 s over ~2.9k direct dirs (70% coverage) and 9.1 s at full
    // coverage vs 7.7 s via the root, while at 39% coverage the direct
    // shape still wins 5.0 vs 7.8 (and at POINT volumes it is the whole
    // store's reason to exist). ≥50% coverage takes the one-discovery
    // root read; below it the direct dirs stand. On object storage the
    // inversion is far larger than the measured local-FS 1.2× (each
    // enumerated path is its own listing round-trip).
    val pruned =
      if (2 * dirs.length >= existing.size)
        readRows(s, dir).select(col("doc_id"), col("text"))
      else s.read.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(dirs: _*)
    val cap = s.conf.getOption("graft.dedup.fetchDocsMaxIds")
      .map(_.toLong).getOrElse(FetchDocsMaxIds)
    val matched =
      if (ids.length <= cap) pruned.filter(col("doc_id").isin(ids: _*))
      else {
        import s.implicits._
        // LocalRelation of ids, size-known → guaranteed broadcast; the
        // pruned dirs are scanned once and only matching rows survive
        pruned.join(broadcast(ids.toDF("doc_id")), Seq("doc_id"), "left_semi")
      }
    matched.select(col("doc_id"), col("text"))
  }

  /** In-place compaction of partitions fragmented past `maxFilesPerPart`
    * by repeated appends — the shared [[PartitionCompaction]] kernel
    * (cost ∝ drift, crash-recoverable archive-then-swap), restoring the
    * per-file doc_id sort. Row-preserving by checked invariant, same as
    * the band index. Returns the compacted partition values. */
  def compact(spark: SparkSession, dir: String, maxFilesPerPart: Int = 4,
      filesPerPart: Int = 1): Seq[Long] = {
    val meta = readMeta(spark, dir)
    // same cheap listing-manifest tear check as the append path — a
    // whole-store footer pass here was the second corpus-size term the
    // round-14 probe surfaced (the first was the append's)
    requireUntorn(spark, dir, meta,
      "compacting (a compaction would bake the tear in)")
    val root = new org.apache.hadoop.fs.Path(rowsDirOf(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // row preservation is validated INSIDE the kernel, scoped to the
    // drifted partitions and before the swap — cost ∝ drift
    val parts = PartitionCompaction.compactDrifted(spark, fs, root,
      "idp", Seq("doc_id"), xxhash64(col("doc_id")),
      maxFilesPerPart, filesPerPart, requireRowPreserving = true)
    // the rewrite changed the file layout: re-record the manifest so
    // the next append's validation sees the compacted state (a crash
    // before this write IS the torn state the next append reports)
    if (parts.nonEmpty) writeMeta(spark, dir, meta)
    parts
  }

  /** Maintenance check: does `corpus` match the store's build+append
    * history? Bounded aggregate vs meta's count + receipt — NOT on the
    * query path (it scans the corpus, the cost the store avoids). */
  def verifyReceipt(corpus: DataFrame, dir: String): Unit = {
    val meta = readMeta(corpus.sparkSession, dir)
    StoreManifest.requireReceipt(corpus, dir, meta.nDocs, meta.docXor)
  }
}
