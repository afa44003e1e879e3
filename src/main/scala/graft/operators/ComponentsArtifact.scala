package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The components artifact: connected components of the ≥0.5-jaccard
  * near-dup graph, PERSISTED once per corpus snapshot and read by every
  * consumer (dedup_clusters resolves it, dedup_keep_best applies a
  * survivor policy over it, pipeline_report/pipeline_kept fold it into
  * the funnel). At 100 TB the components table is exactly this — a
  * written artifact refreshed with the corpus, the same pattern as the
  * band/content indexes — not a per-policy recomputation of pair
  * generation + union-find (measured 10.5 s of the keep-best query's
  * 10.5 s at sf0.1 before sharing).
  *
  * Layout — one format, which cold builds and compactions both write:
  * every generation lives in `gen-<g>/` behind the `GEN` pointer (the
  * cold build writes `gen-0/`, an absent `GEN` means `gen-0`), and
  * holds the snapshot index incremental maintenance needs
  * (`shingles/`, `sizes/`, `hot/`) plus its epochs
  * `clusters_v<e>/` (doc_id → cluster_id parquet) and `meta_v<e>/`
  * (1-row parquet: n_pairs — the candidate-pair count the report
  * quotes, persisted at build time so no consumer ever re-runs the
  * pair join just to count it — plus the integrity, drift and receipt
  * fields) behind the generation's `CURRENT` pointer (absent = epoch
  * 0). Appends stage epochs, compactions publish generations — both
  * through [[FsPointers]]; the meta row, listing manifest, torn-append
  * check and corpus-of-record receipt ride the shared [[StoreManifest]]
  * kernel. The declared
  * queries' SHARED artifact (cache-keyed by corpus content stamp and
  * build parameters, built through a staging + atomic rename) is
  * resolved in `graft.queries.PipelineQueries`. */
object ComponentsArtifact {

  /** Shingle width and jaccard threshold of the near-dup graph (also
    * encoded in the shared artifact's path). */
  private[graft] val ComponentsK = 3
  private[graft] val ComponentsThreshold = 0.5

  /** Default file-fragmentation bound per shingle-index bucket dir —
    * drift direction (c): each append adds ~one file per touched
    * bucket, so at a daily cadence 64 ≈ two months before the flag
    * calls for the compaction that restores one file per bucket. */
  private[graft] val MaxShingleFilesPerBucket = 64

  /** Broadcast-safety cap for the append's adaptive increment-shingle
    * pushdown: an increment whose shingle-ROW count (which bounds its
    * distinct-shingle count) stays under this takes the broadcast
    * semi-join shapes; above it the append degrades to the plain
    * shuffle joins. 2M longs ≈ 16 MB on the driver — the same order as
    * Spark's own broadcast-join economics. */
  private val IncrementBroadcastMaxShingleRows = 2L * 1000 * 1000

  /** Hot-row volume above which the append turns the candidate-pruned
    * verify ON adaptively (round 16): the prune trades one extra eager
    * materialization for removing the verify's O(hot corpus rows)
    * docHot shuffle, measured to cross from a −2.7 s loss at 2M hot
    * rows to +10 s at 20M and +70 s at 80M on the ×100 hot corpora
    * (SCALE.md round-16 third wave; locally calibrated, like every
    * measured threshold here). Compared against the LOWER bound
    * |hot| × minHotDf so the adaptive trigger only fires safely inside
    * the win regime. Overridable per session via
    * `graft.dedup.pruneVerifyHotRows` (spec hook + deployment tuning). */
  private val PruneVerifyHotRowsDefault = 10L * 1000 * 1000
  private def pruneVerifyHotRowsCutoff(s: SparkSession): Long =
    s.conf.getOption("graft.dedup.pruneVerifyHotRows").map(_.toLong)
      .getOrElse(PruneVerifyHotRowsDefault)

  /** The shingle index is PARTITIONED at rest by `shb = sh mod
    * n_buckets` (the 100 TB remedy SCALE.md round 9 named): a serving
    * append touches a bounded shingle set, so every
    * corpus-index read on the append path filters to the touched
    * buckets FIRST — parquet PartitionFilters prune whole directories
    * instead of scanning the full index and filtering rows (the ×100
    * probe's residual scan term). 64 buckets keeps the per-write file
    * count sane on local[32]; at real 100 TB the same layout carries
    * more buckets. A bucket-count change can never silently mix
    * layouts: the count is encoded in the shared artifact's path
    * (`PipelineQueries.componentsArtifactPath`'s `b64` suffix, so a
    * changed default re-paths and re-builds it by construction) AND —
    * since round 12 —
    * every layout-sensitive read derives its pmod from the artifact's
    * OWN persisted `meta.n_buckets`, so a private-dir artifact built
    * with any bucket count appends/compacts correctly under any
    * binary. */
  private[graft] val ShingleBuckets = 64

  /** The bucket count is a PER-ARTIFACT property, not a binary
    * property (round-11 verdict ask #2): every layout-sensitive read
    * takes the artifact's own `meta.n_buckets`, so an artifact built
    * with 32 or 128 buckets appends/compacts correctly under a binary
    * whose [[ShingleBuckets]] default differs — per-scale bucket
    * counts are a build-time choice with no binary lockstep.
    * [[ShingleBuckets]] is only the default for NEW builds (and the
    * shared artifact's path suffix). */
  private def shingleBucket(sh: Column, nBuckets: Int): Column =
    pmod(sh, lit(nBuckets.toLong)).cast("int")

  /** Read the bucketed shingle index with an EXPLICIT schema: an
    * all-shingle-less corpus writes zero partition directories, and
    * schema inference over an empty partitioned dir throws where the
    * unpartitioned layout read an empty (but schema-bearing) file. */
  private def readShingleIndex(s: SparkSession, genRoot: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("sh", LongType),
        StructField("shb", IntegerType))))
      .parquet(s"$genRoot/shingles")
  }

  /** Per-phase wall-clock lines to stderr (`[components] <op> phase
    * <name> <seconds>`): which phase dominates a build or an append at
    * ×100 is what a 100 TB operator needs attributed, not re-derived. */
  private def phaseLogger(op: String): String => Unit = {
    var tPhase = System.nanoTime()
    name => {
      val now = System.nanoTime()
      System.err.println(
        f"[components] $op phase $name%-12s ${(now - tPhase) / 1e9}%6.2f s")
      tPhase = now
    }
  }

  /** Two named long metrics from an `observe()` node, with a bounded
    * wait and a loud fallback: CollectMetrics values surface through an
    * async listener after the carrying action completes, so a caller
    * that just ran the action polls briefly instead of racing
    * `getOrEmpty` (or hanging forever in `get` if the node's execution
    * path ever stops reporting — e.g. an exotic cached-plan shape).
    * The fallback recomputes the same expressions as their own pass —
    * bit-identical values, just the cost the observe existed to save. */
  private def observedPair(obs: org.apache.spark.sql.Observation,
      a: String, b: String, fallback: => (Long, Long)): (Long, Long) = {
    // 2 s deadline (ADVICE r16): metrics surface within milliseconds of
    // the carrying action completing, so a long wait only delays the
    // loud fallback in a degraded-listener regime — three call sites per
    // build/append would silently eat 30 s of driver wall at the old
    // 10 s before any warning printed
    val t0 = System.nanoTime()
    val deadline = t0 + 2L * 1000000000L
    // getOrEmpty NPEs on the schemaless metrics row an EMPTY observed
    // input produces (Spark 4.1, Observation.scala:116) — a DEGENERATE
    // row means the metrics exist but are unreadable, so bail to the
    // fallback immediately (polling would burn the whole deadline on an
    // empty increment); None = not yet surfaced, keep polling
    def read(): Option[Map[String, Any]] =
      try Some(org.apache.spark.sql.graftbridge.Bridge.observationGetOrEmpty(obs))
      catch { case _: NullPointerException => None }
    var m = read()
    while (m.exists(_.isEmpty) && System.nanoTime() < deadline) {
      Thread.sleep(20); m = read()
    }
    m.filter(_.nonEmpty) match {
      case Some(mm) => (mm(a).asInstanceOf[Long], mm(b).asInstanceOf[Long])
      case None =>
        // the elapsed wait makes a degraded-listener regime VISIBLE in
        // phase logs (ADVICE r16): an empty-input bail reads ~0 ms, a
        // listener that stopped delivering reads the full deadline
        System.err.println("[components] NOTE: observe() metrics did not " +
          s"surface for ($a, $b) after ${(System.nanoTime() - t0) / 1000000} ms; " +
          "recomputing with a standalone pass")
        fallback
    }
  }

  /** Cold build over an explicit docs frame into `out`'s generation 0
    * (`out/gen-0/`). `nBuckets` is the shingle index's pmod (a
    * per-artifact property recorded in meta; the cross-bucket-count
    * spec passes its own). */
  private[graft] def buildComponentsArtifactFrom(s: SparkSession,
      docs: DataFrame, out: String, nBuckets: Int = ShingleBuckets): Unit =
    buildGeneration(s, docs, s"$out/gen-0", nBuckets)

  /** Build one complete generation at `gen` (epoch 0). Besides
    * `clusters_v0/` + `meta_v0/`, a generation persists the SNAPSHOT
    * INDEX incremental maintenance needs ([[appendComponentsArtifact]]):
    * `shingles/` (the full (doc_id, sh) index, bucketed at rest by
    * `shb = sh mod nBuckets`), `sizes/` (per-doc distinct-shingle
    * counts) and `hot/` (the shingles the snapshot's df cutoff cut from
    * candidate generation — FIXED until the next full rebuild, the
    * compaction step). Raw text is shingled exactly once: the pair
    * build, the sizes table, the hot set and the drift floors all read
    * the WRITTEN index back. */
  private def buildGeneration(s: SparkSession, docs: DataFrame, out: String,
      nBuckets: Int): Unit = {
    // corpus accounting in ONE pass: the raw doc count (the cutoff
    // formula's n) plus the hashed row receipt
    // ([[StoreManifest.docReceipt]]) —
    // compactComponentsArtifact validates its corpus-of-record against
    // both (count catches short/stale corpora, the receipt catches
    // same-count swaps and altered text). Appends fold their
    // increment's receipt in, so it tracks the full build+append
    // history.
    // the cold build IS the compaction cost: per-phase wall-clock
    // (index write vs df shuffle vs pair join vs components)
    val phaseLog = phaseLogger("build")
    // index FIRST: raw text is shingled exactly once; the pair build,
    // sizes and hot set all read the written 8-byte (doc_id, sh) grain.
    // Bucketed by sh so the append path's corpus-index reads prune
    // partitions instead of scanning the full index; the repartition
    // co-locates each bucket into one task so the layout is ~one file
    // per bucket, not tasks×buckets shards — every append lists these
    // files for the torn-append validation.
    // The corpus accounting (raw doc count for the cutoff formula +
    // hashed row receipt) RIDES THIS SCAN via observe() instead of its
    // own pass — at 100 TB the old standalone docs.agg was one full
    // extra read of the raw corpus per build (r16; identical values:
    // same expressions over the same rows, [[observedPair]] falls back
    // to the standalone aggregate if the metrics don't surface).
    val receiptObs = org.apache.spark.sql.Observation(
      s"components_build_receipt_${System.nanoTime()}")
    Dedup.shingleIndex(
        docs.observe(receiptObs,
          count(lit(1)).as("n_docs"), StoreManifest.docReceipt.as("doc_xor")),
        ComponentsK)
      .withColumn("shb", shingleBucket(col("sh"), nBuckets))
      .repartition(col("shb"))
      .write.mode("overwrite").partitionBy("shb").parquet(s"$out/shingles")
    val (nDocsTotal, docIdXor) = observedPair(receiptObs, "n_docs", "doc_xor",
      fallback = StoreManifest.receiptOf(docs))
    val cutoff = Dedup.autoDfCutoffFor(nDocsTotal)
    phaseLog("index-write+receipt")
    val shWritten = readShingleIndex(s, out)
    // the meta integrity tokens (indexed-doc count, index row count)
    // ride the sizes write the same way — previously a re-read of the
    // just-written sizes parquet (O(docs) at scale)
    val sizesObs = org.apache.spark.sql.Observation(
      s"components_build_sizes_${System.nanoTime()}")
    shWritten.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .observe(sizesObs, count(lit(1)).as("n_docs_indexed"),
        coalesce(sum(col("n")), lit(0L)).as("n_shingle_rows"))
      .write.mode("overwrite").parquet(s"$out/sizes")
    phaseLog("sizes")
    // the per-shingle df shuffle runs ONCE: hot/, the pair build's hot-id
    // collect, and meta's drift floor all derive from this persisted
    // table ((sh, df) grain, O(distinct shingles) rows — spillable, and
    // at 100 TB it's the df sidecar a compaction would persist anyway;
    // previously each consumer re-aggregated the full index)
    val dfT = shWritten.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dfT.filter(col("df") > cutoff).select(col("sh"))
      .write.mode("overwrite").parquet(s"$out/hot")
    phaseLog("df+hot")
    val pairs = Dedup.pairsFromShingles(
        shWritten.select(col("doc_id"), col("sh")), ComponentsThreshold,
        dfCutoff = Some(cutoff), dfTable = Some(dfT),
        // edge-set consumer: components() is order-insensitive, so the
        // declared queries' deterministic global sort (range exchange +
        // its sampling job) is pure waste here (r16)
        sorted = false)
      .select(col("i"), col("j"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPairs = pairs.count()
    phaseLog("pairs")
    Dedup.components(pairs).write.mode("overwrite")
      .parquet(epochDir(out, "clusters", 0L))
    pairs.unpersist(false)
    phaseLog("components")
    // snapshot accounting for meta (one bounded aggregate each):
    //  - the index-integrity tokens appendComponentsArtifact validates
    //    against (doc and row counts of the persisted index), so a torn
    //    append is DETECTED on the next append instead of silently
    //    losing pairs against the unindexed increment;
    //  - the drift floors, both directions (ADVICE r9): the largest
    //    document frequency among NON-hot shingles (appends keep a
    //    running max of the same quantity over the shingles they touch;
    //    rebuild_recommended trips when it crosses the cutoff) AND the
    //    smallest document frequency among HOT shingles (the cutoff a
    //    cold rebuild would use GROWS with appended docs — once it
    //    reaches this floor, cold would DECLASSIFY a snapshot-hot
    //    shingle and discover pairs the fixed cut set never will).
    val (nDocsIndexed, nShingleRows) = observedPair(sizesObs,
      "n_docs_indexed", "n_shingle_rows",
      fallback = { val Array(a) = s.read.parquet(s"$out/sizes")
        .agg(count(lit(1)), coalesce(sum(col("n")), lit(0L))).collect()
        (a.getLong(0), a.getLong(1)) })
    val Array(dfAgg) = dfT.agg(
      coalesce(max(when(col("df") <= cutoff, col("df"))), lit(0L)),
      coalesce(min(when(col("df") > cutoff, col("df"))), lit(Long.MaxValue)))
      .collect()
    dfT.unpersist(false)
    // listing manifests of the two append-only index dirs, from the
    // WRITTEN data: the first append validates against what is
    // actually on disk — one parallel listing, never a footer pass
    writeMeta(s, out, 0L, (sh, sz) => Meta(nPairs, cutoff,
      nDocsIndexed, nShingleRows, dfAgg.getLong(0),
      nDocsTotal = nDocsTotal, minHotDf = dfAgg.getLong(1),
      rebuildRecommended = false,
      nBuckets = nBuckets, docIdXor = docIdXor,
      shFiles = sh.files, shBytes = sh.bytes,
      szFiles = sz.files, szBytes = sz.bytes))
    phaseLog("meta")
  }

  /** The artifact's meta row — build/maintenance accounting the
    * consumers and the append path read by NAME (never by position);
    * every field is required. `nDocsTotal` counts EVERY corpus doc
    * (shingle-less included — the cutoff formula runs over raw corpus
    * size), vs `nDocsIndexed` which counts docs with index rows;
    * `minHotDf` is the declassification floor for the reverse drift
    * direction (Long.MaxValue = no hot shingles, nothing to
    * declassify); `nBuckets` pins the shingle index's pmod layout
    * (every layout-sensitive read uses THIS value, never the binary's
    * [[ShingleBuckets]] — round-11 verdict ask #2); `docIdXor` is the
    * corpus-of-record receipt ([[StoreManifest.docReceipt]] folded over
    * every row ever built or appended) compaction validates against,
    * recorded beside `receipt_kind = "xxhash64_v1"` so its semantic is
    * explicit on disk. `shFiles`/`shBytes`/`szFiles`/`szBytes` are the
    * listing manifests of the two append-only index dirs (`shingles/`,
    * `sizes/` — see [[StoreManifest]]): the append path's torn-append
    * check compares them against one parallel listing. The ROW counts
    * stay the build/compaction integrity tokens (row-preserving
    * invariants). */
  private[graft] case class Meta(nPairs: Long, cutoff: Long,
      nDocsIndexed: Long, nShingleRows: Long, maxNonhotDf: Long,
      nDocsTotal: Long, minHotDf: Long,
      rebuildRecommended: Boolean,
      nBuckets: Int, docIdXor: Long,
      shFiles: Long, shBytes: Long, szFiles: Long, szBytes: Long)

  private val ReceiptKind = "xxhash64_v1"

  /** The meta columns, each required on read. */
  private val MetaFields = Seq("n_pairs", "cutoff", "n_docs_indexed",
    "n_shingle_rows", "max_nonhot_df", "n_docs_total", "min_hot_df",
    "rebuild_recommended", "n_buckets", "doc_id_xor", "receipt_kind",
    "sh_files", "sh_bytes", "sz_files", "sz_bytes")

  /** Write epoch `epoch`'s meta in generation `gen`; `meta` receives the
    * listing manifests of the two append-only index dirs as they are on
    * disk now, so the next append validates against exactly what this
    * write left. */
  private def writeMeta(s: SparkSession, gen: String, epoch: Long,
      meta: (StoreManifest.Detailed, StoreManifest.Detailed) => Meta): Unit = {
    val m = meta(StoreManifest.list(s, s"$gen/shingles"),
      StoreManifest.list(s, s"$gen/sizes"))
    StoreManifest.writeMeta(s, epochDir(gen, "meta", epoch),
      Seq(m.nPairs, m.cutoff, m.nDocsIndexed, m.nShingleRows, m.maxNonhotDf,
        m.nDocsTotal, m.minHotDf, m.rebuildRecommended, m.nBuckets,
        m.docIdXor, ReceiptKind, m.shFiles, m.shBytes, m.szFiles, m.szBytes)
        .zip(MetaFields).map { case (v, name) => lit(v).as(name) }: _*)
  }

  /** The live meta of the artifact at `dir`. A meta on disk is outside
    * input: one that lacks a field, or records another receipt kind, is
    * refused with the rebuild remedy before anything reads it. */
  private[graft] def readMeta(s: SparkSession, dir: String): Meta = {
    val r = StoreManifest.readMeta(s, metaDirOf(dir),
      s"no components artifact at $dir: build it with " +
        "buildComponentsArtifactFrom")
    val missing = MetaFields.filterNot(r.schema.fieldNames.toSet)
    require(missing.isEmpty && r.getAs[String]("receipt_kind") == ReceiptKind,
      s"components artifact meta at $dir is not in the current format (" +
        (if (missing.nonEmpty) s"missing ${missing.mkString(", ")}"
         else s"receipt_kind ${r.getAs[String]("receipt_kind")}") +
        "): rebuild the artifact with a cold build " +
        "(buildComponentsArtifactFrom) into a fresh dir")
    Meta(r.getAs[Long]("n_pairs"), r.getAs[Long]("cutoff"),
      r.getAs[Long]("n_docs_indexed"), r.getAs[Long]("n_shingle_rows"),
      r.getAs[Long]("max_nonhot_df"), r.getAs[Long]("n_docs_total"),
      r.getAs[Long]("min_hot_df"), r.getAs[Boolean]("rebuild_recommended"),
      r.getAs[Int]("n_buckets"), r.getAs[Long]("doc_id_xor"),
      r.getAs[Long]("sh_files"), r.getAs[Long]("sh_bytes"),
      r.getAs[Long]("sz_files"), r.getAs[Long]("sz_bytes"))
  }

  /** Pointer-versioned clusters/meta — the artifact's MUTABLE grain.
    * `CURRENT` (a one-line file at the generation root) names the live
    * epoch; absent = epoch 0, the `clusters_v0/` + `meta_v0/` the
    * generation was built with. An append never rewrites in place: it
    * writes `clusters_v<N+1>` + `meta_v<N+1>`, appends the
    * (append-only) index dirs, then publishes with ONE atomic replace of
    * CURRENT — so a concurrent reader always resolves a COMPLETE epoch:
    * the epoch it read was fully written before the flip made it
    * resolvable, and epochs are GC'd only when they fall TWO behind (an
    * in-flight reader of the previous epoch keeps an intact directory).
    * Pinned by ComponentsStagedSpec.
    *
    * Generation pointer — the artifact's COMPACTION grain, one level
    * above epochs. `GEN` (a one-line file at the artifact root) names
    * the live `gen-<g>/` subdirectory; absent = `gen-0`, the cold
    * build's. Each generation carries a full artifact (clusters/meta
    * epochs + its own index dirs); [[compactComponentsArtifact]]
    * publishes a new one with the same atomic-pointer discipline
    * appends use for epochs.
    *
    * Both pointers ride [[FsPointers]] (round-15): its `publish` is the
    * ONE atomic replace of a pointer file — the only mutation a reader
    * can ever race — and it speaks the Hadoop FS API like the data it
    * publishes, so an hdfs:// or s3a:// artifact dir resolves exactly
    * like a local one (ComponentsStagedSpec's file:-scheme round trip).
    * Atomicity/object-store caveats live on FsPointers. */
  private[graft] def genDirOf(dir: String): String = s"$dir/gen-${genNumberOf(dir)}"

  private def genNumberOf(dir: String): Long =
    FsPointers.read(dir, "GEN").fold(0L)(_.stripPrefix("gen-").toLong)

  /** Epoch of a GENERATION root (no generation resolution — internal). */
  private def rawEpoch(genRoot: String): Long =
    FsPointers.read(genRoot, "CURRENT").fold(0L)(_.toLong)

  private[graft] def currentEpoch(dir: String): Long = rawEpoch(genDirOf(dir))

  private def epochDir(gen: String, name: String, epoch: Long): String =
    s"$gen/${name}_v$epoch"

  private[graft] def clustersDirOf(dir: String): String = {
    val g = genDirOf(dir)
    epochDir(g, "clusters", rawEpoch(g))
  }

  private[graft] def metaDirOf(dir: String): String = {
    val g = genDirOf(dir)
    epochDir(g, "meta", rawEpoch(g))
  }

  /** Incremental artifact maintenance — merge an increment's near-dup
    * edges into a PRIVATE artifact, without re-pairing the corpus
    * (round-7 verdict ask #4): new edges from
    * [[Dedup.incrementalNgramPairs]] against the persisted index, then
    * components of (old clusters as star edges) ∪ (new edges) — the old
    * cluster table IS a spanning forest of the old pair graph, so the
    * merged components (and their min-doc_id labels) equal a cold
    * rebuild over corpus∪increment under the snapshot's cut set
    * (ComponentsIncrSpec pins hash-equality).
    *
    * STAGED publication (round-9 asks #2/#6 + ADVICE r8): nothing a
    * reader can resolve is ever touched mid-append. The new
    * `clusters_v<N+1>`/`meta_v<N+1>` epoch dirs are written fully, the
    * append-only `shingles/`/`sizes/` grow by parquet dir-append (cost
    * ∝ increment; existing files are never rewritten, so a reader
    * mid-scan of the index is unaffected), and the CURRENT pointer is
    * replaced in ONE atomic file move — a concurrent reader of the live
    * artifact sees the old complete state or the new complete state,
    * never a partial one. A crash at ANY point leaves the live epoch
    * resolving to complete data; a crash that tears the index (between
    * the two index appends, or after them but before the flip) is
    * caught LOUDLY by the next append's listing-manifest check instead
    * of silently losing pairs against the unindexed increment.
    *
    * HOT-SET DRIFT detection (round-9 ask #2): equality-to-cold holds
    * only while no increment pushes a previously-rare shingle over the
    * snapshot cutoff. Every append folds the touched shingles' total
    * document frequencies into meta's `max_nonhot_df` running max and
    * trips `rebuild_recommended` when it crosses the cutoff — the
    * "rebuild is due" signal is measured, not guessed.
    *
    * Still SINGLE-WRITER for appends (two concurrent appends would race
    * the pointer); a SHARED artifact stays immutable (buildOnce).
    *
    * `broadcastCap` overrides the adaptive pushdown's broadcast-safety
    * bound (shingle rows) — production uses the default; specs pass 0
    * to force the plain-shuffle shapes and pin their equality. */
  private[graft] def appendComponentsArtifact(s: SparkSession, dir: String,
      increment: DataFrame,
      broadcastCap: Long = IncrementBroadcastMaxShingleRows,
      maxFilesPerBucket: Int = MaxShingleFilesPerBucket,
      pruneVerify: Boolean = false): Unit = {
    // everything below operates INSIDE the live generation: its index
    // dirs, its epoch pointer. Compaction swaps generations wholesale.
    val gen = genDirOf(dir)
    val epoch = rawEpoch(gen)
    val meta = readMeta(s, dir)
    // the append is the artifact's operational hot path: its cost
    // STRUCTURE (validation vs pair work vs publish) is what a 100 TB
    // operator tunes
    val phaseLog = phaseLogger("append")
    // torn-append validation by LISTING MANIFEST: a tear leaves
    // whole committed FILES beyond what meta records (the committer
    // publishes files atomically per task, never partial rows), so
    // (file count, byte sum) over the two append-only index dirs
    // detects every tear the old footer row-count + sizes SUM did —
    // for two parallel listings instead of a pass whose shingle-footer
    // term was O(index files) and whose sizes SUM was corpus-row-linear
    // per APPEND (the round-14 deferred term; the corpus store measured
    // the same shape at 8.8 → 42 → 92 s across ×1/×10/×100 before
    // bidx3/cst2 removed it). Any mismatch means a prior append crashed
    // between its index appends and its meta/pointer publish:
    // re-running it would double-append the increment's index rows and
    // corrupt every later jaccard, so fail loudly instead. The shingle
    // listing is DETAILED: the same parallel walk also yields the
    // per-bucket fragmentation max the drift direction-(c) probe needs
    // below.
    val tornRemedy = "a prior append crashed between its index appends " +
      "and its pointer flip; rebuild the artifact with a cold build " +
      "(buildComponentsArtifactFrom) into a fresh dir before appending again"
    val Seq(shListing, _) = StoreManifest.requireUntorn(s, dir, Seq(
      StoreManifest.Recorded("shingle index", s"$gen/shingles",
        meta.shFiles, meta.shBytes),
      StoreManifest.Recorded("sizes", s"$gen/sizes", meta.szFiles,
        meta.szBytes)), tornRemedy)
    phaseLog("validate")
    val sizesDf = s.read.parquet(s"$gen/sizes")
    val hot = s.read.parquet(s"$gen/hot")
    // increment accounting FIRST: its raw doc count feeds the
    // recomputed-cutoff drift check (the xor rides the same pass — it
    // folds into meta's corpus-of-record receipt), and its shingle-row
    // count (one bounded aggregate over the increment alone) is the
    // broadcast-safety measurement the plan choices below key off
    // increment accounting rides the increment's OWN shingle scan via
    // observe() (r16) — the old standalone increment.agg was one extra
    // full read of the increment per append. The observed frame is the
    // ONE increment reference everywhere below (incSh here, the pair
    // term's internal shingleRows): plan-equality is what lets the
    // CacheManager substitute the persisted incSh blocks inside
    // incrementalNgramPairs, so both references must carry the same
    // CollectMetrics node.
    val incObs = org.apache.spark.sql.Observation(
      s"components_append_receipt_${System.nanoTime()}")
    val incrementObs = increment.observe(incObs,
      count(lit(1)).as("n_docs"), StoreManifest.docReceipt.as("doc_xor"))
    val incSh = Dedup.shingleIndex(incrementObs, ComponentsK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incSizes = incSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // ONE accounting job (r17, guide §1.2 "fewer passes"): the sizes
    // aggregate, both bucket lists and the hot-row count previously ran
    // as FOUR driver round-trips; the tagged union executes them as
    // parallel branches of a single collect (the branches share the
    // persisted incSh — this job is also its cache fill)
    val acc = collectAppendAccounting(incSh, incSizes, hot, meta.nBuckets)
    // the collect above filled the incSh cache AND carried the observe
    // node, so the increment receipt is available now
    val (incDocsTotal, incDocXor) = observedPair(incObs, "n_docs", "doc_xor",
      fallback = StoreManifest.receiptOf(increment))
    // ADAPTIVE pushdown (the serving-case economics, decided by
    // measurement instead of a knob): when the increment's shingle rows
    // fit a broadcast (row count bounds the distinct set, 8-byte grain
    // → ≤ ~17 MB at the cap), the touched-shingle semi-join below is a
    // broadcast into the corpus-index scan — the corpus side ships only
    // matching rows (≈ candidate volume) instead of the whole index. A
    // corpus-scale increment (backfill, not serving) exceeds the cap
    // and takes the plain shuffle semi-join, where the broadcast itself
    // would be the wall. Output is identical either way (the semi-join
    // removes only rows the equi-join drops; ComponentsIncrSpec pins
    // both shapes pair-for-pair).
    val pushdown = acc.nIncShingleRows <= broadcastCap
    // ADAPTIVE candidate-pruned verify (round 16 — the same
    // decided-by-measurement discipline as the pushdown above): the
    // prune removes the verify tail's per-append docHot shuffle of
    // EVERY hot corpus row at the price of one extra eager
    // materialization, so it loses at small hot volumes and wins big at
    // large ones — measured on the ×100 hot corpora: −2.7 s at 2M hot
    // rows (the sixth wave's default-off evidence), +10 s at 20M,
    // +70 s at 80M (SCALE.md round-16 third wave). The hot-row volume
    // is bounded BELOW by |hot| × minHotDf (every hot shingle's df is
    // ≥ the snapshot floor — one tiny count over the hot sidecar), so
    // crossing the cutoff with the LOWER bound means the prune is
    // safely in its win regime; small hot sets keep the measured-loss
    // default. An explicit pruneVerify = true still forces it on. (An
    // empty hot set reads 0 whatever its Long.MaxValue floor.)
    val hotVolumeLowerBound = acc.nHotRows * meta.minHotDf
    val effectivePrune = pruneVerify ||
      hotVolumeLowerBound >= pruneVerifyHotRowsCutoff(s)
    System.err.println(s"[components] append: ${acc.nIncDocs} docs / " +
      s"${acc.nIncShingleRows} shingle rows -> " +
      (if (pushdown) "broadcast pushdown shapes" else "plain shuffle shapes") +
      (if (effectivePrune) s" + candidate-pruned verify " +
        s"(hot-volume lower bound $hotVolumeLowerBound)" else ""))
    // the bucket lists rode the fused accounting job above (r17 — the
    // collects previously ran eagerly inside appendPairTerm; the phase
    // attribution is unchanged, per ADVICE r11's alignment), while the
    // pair execution itself is lazy until the count below
    val (pairTerm, touchedCorpus) =
      appendPairTerm(s, gen, incrementObs, incSh, hot, sizesDf, pushdown,
        meta.nBuckets, acc.touchedBuckets, acc.hotBuckets, effectivePrune)
    phaseLog("accounting")
    val newPairs = pairTerm
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nNew = newPairs.count()
    phaseLog("pairs")
    val oldClusters = s.read.parquet(epochDir(gen, "clusters", epoch))
    // components() (inside the merge) fully materializes its result
    // (driver union-find or its own checkpoint parquet) before
    // returning — the staged epoch write below reads through nothing it
    // replaces (the locality arm's passthrough reads the prior epoch's
    // parquet, which GC keeps intact until two epochs on)
    val merged = mergeAppendClusters(s, oldClusters, newPairs, nNew,
      meta.nPairs)
    phaseLog("merge")
    // drift: total df (corpus index + this increment) of every NON-hot
    // shingle the increment touches — computed from the SAME persisted
    // touched rows the pair join read, so the probe re-reads cached
    // blocks instead of paying a second corpus-index scan. Shingles
    // untouched by any increment keep their build-time df, which meta's
    // running max already covers.
    val touched = incSh.groupBy(col("sh")).agg(count(lit(1)).as("inc_df"))
      .join(broadcast(hot), Seq("sh"), "left_anti")
    val corpusDfTouched = touchedCorpus
      .groupBy(col("sh")).agg(count(lit(1)).as("corpus_df"))
    val touchedMax = touched.join(corpusDfTouched, Seq("sh"), "left")
      .select((col("inc_df") + coalesce(col("corpus_df"), lit(0L))).as("df_total"))
      .agg(coalesce(max(col("df_total")), lit(0L))).head().getLong(0)
    phaseLog("drift")
    touchedCorpus.unpersist(false)
    val newMaxNonhot = math.max(meta.maxNonhotDf, touchedMax)
    // drift, BOTH directions (ADVICE r9): (a) an increment pushed a
    // once-rare shingle over the snapshot cutoff (running max crosses
    // it), and (b) the cutoff a cold rebuild would use over the GROWN
    // corpus reaches the snapshot's least-frequent hot shingle — cold
    // would then declassify it and generate candidates from a shingle
    // the fixed cut set excludes. Both flags are monotone (the max and
    // the corpus size only grow), and a tripped flag stays tripped.
    // Direction (b) is deliberately CONSERVATIVE (ADVICE r10): minHotDf
    // is the SNAPSHOT-time floor, but hot shingles' true df also grows
    // with appends, so at the trip point a cold rebuild may still
    // classify that shingle hot — the flag can fire one compaction
    // early. That's the safe side: the compaction re-establishes
    // equality-to-cold either way, whereas tightening the floor would
    // need per-hot-shingle running df state (a keyed sidecar, not a
    // scalar) to avoid the opposite error — missing a declassification
    // and silently losing pairs forever.
    val newDocsTotal = meta.nDocsTotal + incDocsTotal
    val grownCutoff = Dedup.autoDfCutoffFor(newDocsTotal)
    // drift direction (c), round 13: FILE fragmentation. Directions
    // (a)/(b) are semantic and can stay quiet forever on a
    // boilerplate-free corpus while daily appends still add ~one file
    // per touched bucket to the shingle index — a year of that hands
    // every corpus-index bucket scan hundreds of tiny files per dir.
    // Bucket dirs are bounded (meta.nBuckets), so one driver listing
    // bounds the check; the +1 accounts for the file THIS append is
    // about to add to each touched bucket (conservative by at most one
    // early trip). Remedy = the runbook's existing one: the flag trips,
    // the next maintain compacts, the re-derive restores one file per
    // bucket.
    // pre-append fragmentation max, from the validate phase's ONE
    // parallel listing
    val drift = newMaxNonhot > meta.cutoff || grownCutoff >= meta.minHotDf ||
      shListing.maxPerDir + 1 > maxFilesPerBucket ||
      meta.rebuildRecommended
    // stage the new epoch's clusters (invisible until the flip)
    val next = epoch + 1
    merged.write.mode("overwrite").parquet(epochDir(gen, "clusters", next))
    phaseLog("stage-epoch")
    newPairs.unpersist(false)
    // index appends BEFORE the staged meta: the meta
    // records the POST-append listing manifests, which exist only once
    // the files are down. Crash-window semantics are unchanged — the
    // live epoch's meta never accounts for in-flight appends, so a
    // crash after either index append (or after the staged meta but
    // before the flip) leaves the listing beyond the LIVE meta's
    // manifest: the torn state the validation above catches loudly on
    // the next append. The repartition co-locates each bucket into one
    // task — without it the dynamic-partition write fans
    // (tasks × buckets) tiny files per append (measured 4k files and
    // +10 s on the ×100 probe's very next append, between the footer
    // validation and the bucket scans)
    incSh.withColumn("shb", shingleBucket(col("sh"), meta.nBuckets))
      .repartition(col("shb"))
      .write.mode("append").partitionBy("shb").parquet(s"$gen/shingles")
    incSizes.write.mode("append").parquet(s"$gen/sizes")
    incSh.unpersist(false)
    phaseLog("index-append")
    // post-append manifests (two parallel listings) into the staged
    // meta, so the NEXT append validates against what this one left on
    // disk; ROW counts stay incremental arithmetic (compaction's
    // row-preserving invariant still reads them)
    writeMeta(s, gen, next, (sh, sz) => Meta(
      nPairs = meta.nPairs + nNew, cutoff = meta.cutoff,
      nDocsIndexed = meta.nDocsIndexed + acc.nIncDocs,
      nShingleRows = meta.nShingleRows + acc.nIncShingleRows,
      maxNonhotDf = newMaxNonhot,
      nDocsTotal = newDocsTotal, minHotDf = meta.minHotDf,
      rebuildRecommended = drift,
      nBuckets = meta.nBuckets,
      docIdXor = meta.docIdXor ^ incDocXor,
      shFiles = sh.files, shBytes = sh.bytes,
      szFiles = sz.files, szBytes = sz.bytes))
    phaseLog("manifest+meta")
    // publish: ONE atomic replace of the pointer file
    FsPointers.publish(gen, "CURRENT", next.toString)
    // GC epochs ≥ 2 behind the new pointer (an in-flight reader of the
    // PREVIOUS epoch keeps an intact dir; anything older has had a full
    // append's grace). Sweep all stale epochs so crash-skipped GCs are
    // recovered on the next append.
    Seq("clusters", "meta").foreach { name =>
      (0L to next - 2).foreach(e => FsPointers.deleteDir(epochDir(gen, name, e)))
    }
    phaseLog("publish-gc")
  }

  /** MERGE LOCALITY, ADAPTIVE (r17, guide §2.3/§2.4 — and the same
    * decided-by-measurement discipline as the pushdown/pruneVerify
    * knobs): a component of the union graph (old star edges ∪ new
    * pairs) that contains NO new-pair endpoint is an old cluster
    * verbatim — the only non-star edges are the new pairs, so
    * connectivity can enter a cluster only through one of its docs
    * being an endpoint. So the restricted merge runs components() over
    * ONLY the affected clusters' star edges plus the new pairs, and
    * copies every unaffected cluster row through untouched. Labels are
    * invariant: cluster_id is the component MIN (union-by-min), each
    * old cluster_id is already the min of its docs, and the affected
    * subgraph carries ALL docs of every affected cluster, so the
    * merged min equals the full-merge min.
    *
    * The restriction costs ~5 extra small jobs (endpoint distinct,
    * affected-id semi-join, passthrough anti-join) — measured a LOSS
    * at sf0.1's tiny cluster tables (merge 0.70 → 1.87 s, stage-epoch
    * 0.29 → 0.77 s against in-run controls drifting only ~1.2×), and a
    * structural WIN once the cluster table outgrows the driver
    * union-find's collect (ScaleProbe's append_merge_{flat,local} pair
    * prices both sides): affected-only edges keep the driver path
    * viable far past maxDriverEdges-sized tables and keep the
    * distributed rounds' edge set ∝ increment, not ∝ corpus. So the
    * append decides from the meta-derived cluster-table UPPER BOUND
    * (each pair contributes ≤ 2 docs, so cluster rows ≤ 2·n_pairs —
    * erring toward locality exactly when the table may be large); the
    * epoch write stays cluster-table-linear either way (staged epochs
    * are whole tables by design). Equivalence of both arms pinned by
    * ComponentsIncrSpec (append == cold, chained, randomized, hostile,
    * plus the r17 untouched-cluster passthrough case run at
    * mergeLocalityMinEdges=0).
    *
    * The 500k default sits just above the measured parity point of the
    * append_merge probe pair (SCALE.md round 17): at 200k cluster rows
    * (≈300k bounded edges) the arms read 1.48 vs 1.34 s; at 2M rows
    * flat loses 9× (8.55 vs 0.95 s) and at 20M rows — past
    * maxDriverEdges, where flat becomes distributed min-label rounds —
    * 17× (24.96 vs 1.49 s). */
  private[graft] def mergeAppendClusters(s: SparkSession,
      oldClusters: DataFrame, newPairs: DataFrame, nNew: Long,
      nPairsPrior: Long): DataFrame = {
    val mergeLocalityMinEdges =
      s.conf.getOption("graft.components.mergeLocalityMinEdges")
        .map(_.toLong).getOrElse(500000L)
    val useLocality = 2L * nPairsPrior + nNew >= mergeLocalityMinEdges
    if (!useLocality) {
      val star = oldClusters
        .select(col("cluster_id").as("i"), col("doc_id").as("j"))
      Dedup.components(star.union(newPairs))
    } else {
      // endpoint/affected-id sets are bounded by 2·nNew rows, so they
      // broadcast whenever the increment is serving-sized; a
      // corpus-scale backfill (nNew past the cap) takes plain shuffle
      // joins, where the broadcast itself would be the wall. Conf-keyed
      // (same pattern as graft.dedup.candidatePairCollectMaxRows) so
      // the spec can force the plain-join arm.
      val mergeBcastCap =
        s.conf.getOption("graft.components.mergeBcastMaxPairs")
          .map(_.toLong).getOrElse(1000000L)
      def maybeBcast(df: DataFrame): DataFrame =
        if (nNew <= mergeBcastCap) broadcast(df) else df
      val endpoints = newPairs.select(col("i").as("doc_id"))
        .union(newPairs.select(col("j").as("doc_id"))).distinct()
      val affectedIds = oldClusters
        .join(maybeBcast(endpoints), Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct()
      val affectedStar = oldClusters
        .join(maybeBcast(affectedIds), Seq("cluster_id"), "left_semi")
        .select(col("cluster_id").as("i"), col("doc_id").as("j"))
      val unchanged = oldClusters
        .join(maybeBcast(affectedIds), Seq("cluster_id"), "left_anti")
        .select(col("doc_id"), col("cluster_id"))
      Dedup.components(affectedStar.union(newPairs))
        .select(col("doc_id"), col("cluster_id"))
        .unionByName(unchanged)
    }
  }

  /** The append's bounded driver-side accounting as ONE Spark job (r17,
    * guide §1.2 "fewer passes"): a tagged union of four tiny aggregates
    * — the increment's (doc count, shingle-row count), the touched
    * (non-hot) bucket list, the hot bucket list, and the hot-row count
    * — previously four separate driver round-trips per append. Every
    * branch is bounded (2 scalar rows + ≤ 2·nBuckets bucket rows), the
    * branches execute as parallel stages of the one collect, and the
    * job doubles as the caller's `incSh` cache fill (plus the carrier
    * of its observe() receipt metrics). */
  private case class AppendAccounting(nIncDocs: Long, nIncShingleRows: Long,
      touchedBuckets: Seq[Int], hotBuckets: Seq[Int], nHotRows: Long)

  private def collectAppendAccounting(incSh: DataFrame, incSizes: DataFrame,
      hot: DataFrame, nBuckets: Int): AppendAccounting = {
    val rows = incSizes
        .agg(count(lit(1)).as("a"), coalesce(sum(col("n")), lit(0L)).as("b"))
        .select(lit(0).as("tag"), col("a").cast("long").as("a"),
          col("b").cast("long").as("b"))
      .unionByName(incSh.join(broadcast(hot), Seq("sh"), "left_anti")
        .select(shingleBucket(col("sh"), nBuckets).as("shb")).distinct()
        .select(lit(1).as("tag"), col("shb").cast("long").as("a"),
          lit(0L).as("b")))
      .unionByName(hot
        .select(shingleBucket(col("sh"), nBuckets).as("shb")).distinct()
        .select(lit(2).as("tag"), col("shb").cast("long").as("a"),
          lit(0L).as("b")))
      .unionByName(hot.agg(count(lit(1)).as("a"))
        .select(lit(3).as("tag"), col("a").cast("long").as("a"),
          lit(0L).as("b")))
      .collect()
    val by = rows.groupBy(_.getInt(0))
    val sz = by(0).head
    AppendAccounting(sz.getLong(1), sz.getLong(2),
      by.getOrElse(1, Array.empty).map(_.getLong(1).toInt).toSeq,
      by.getOrElse(2, Array.empty).map(_.getLong(1).toInt).toSeq,
      by(3).head.getLong(1))
  }

  /** The append's PAIR TERM — candidate generation against the corpus
    * index, in the exact pruned/fused shape production runs
    * (SCAN-TERM CONTROL, the measured ×100 residual): the append needs
    * corpus-index rows for exactly two key sets, and each is read with
    * partition pruning and read ONCE.
    *  - touched rows (sh ∈ the increment's non-hot shingle set): feed
    *    BOTH the pair join's corpus side and the drift probe's df
    *    accounting — one persisted scan, two consumers (previously two
    *    independent full-index scans; Catalyst re-executes DataFrame
    *    references). Bucket pruning helps when the increment's
    *    distinct-shingle count is small vs [[ShingleBuckets]] (narrow
    *    appends); a wide serving append touches every bucket and the
    *    win is the fusion + the semi-join pushdown.
    *  - hot rows (sh ∈ the bounded snapshot hot set): the intersection
    *    re-add inside the pair join. The hot set is a handful of
    *    shingles, so THIS scan prunes to their few buckets by layout.
    * The pair join gets the pre-filtered corpus rows (their union IS
    * the subset every join inside touches), so no second semi-join
    * pass is needed.
    * Returns (newPairs, touchedCorpus); `touchedCorpus` comes back
    * PERSISTED (the caller's drift probe is its second consumer, and
    * the caller unpersists). Factored out of the append so Bench's
    * isolated pair line times THIS shape, not a different plan
    * (ADVICE r10). */
  private def appendPairTerm(s: SparkSession, gen: String,
      increment: DataFrame, incSh: DataFrame, hot: DataFrame,
      sizesDf: DataFrame, pushdown: Boolean, nBuckets: Int,
      touchedBuckets: Seq[Int], hotBuckets: Seq[Int],
      pruneVerify: Boolean = false): (DataFrame, DataFrame) = {
    // bucket lists arrive from the caller's ONE fused accounting job
    // (r17) — this function previously collected them as two more
    // driver round-trips per append
    val incRareKeys = incSh.join(broadcast(hot), Seq("sh"), "left_anti")
      .select(col("sh")).distinct()
    // touched buckets are opened as DIRECT directory paths, never the
    // partitioned root with an isin filter: a root read runs partition
    // DISCOVERY over every bucket dir on every append — the band
    // index's measured lesson (10.6 s of pure listing for an 8-doc
    // lookup at 4096 dirs), and the bucket count is exactly the knob
    // that grows with the corpus. One listStatus of the root (a single
    // FS call) maps which buckets exist; a saturated set (wide serving
    // append — coupon-collects every bucket) takes the one-discovery
    // root read instead, where enumerating 4096 individual paths would
    // cost more than it saves. Downstream consumes only (doc_id, sh),
    // so the direct read drops the shb partition column.
    val existingBuckets: Set[Int] = {
      val root = new org.apache.hadoop.fs.Path(s"$gen/shingles")
      root.getFileSystem(s.sessionState.newHadoopConf())
        .listStatus(root).iterator.map(_.getPath.getName)
        .filter(_.startsWith("shb=")).map(_.stripPrefix("shb=").toInt).toSet
    }
    def bucketScan(bs: Seq[Int]): DataFrame = {
      import org.apache.spark.sql.types._
      val narrow = StructType(Seq(
        StructField("doc_id", LongType), StructField("sh", LongType)))
      val paths = bs.filter(existingBuckets).map(b => s"$gen/shingles/shb=$b")
      if (bs.size >= nBuckets)
        readShingleIndex(s, gen).select(col("doc_id"), col("sh"))
      else if (paths.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], narrow)
      else s.read.schema(narrow).parquet(paths: _*)
    }
    System.err.println(s"[components] append: touched-scan " +
      s"${touchedBuckets.size}/$nBuckets buckets, hot-scan " +
      s"${hotBuckets.size}/$nBuckets buckets")
    val touchedCorpus = bucketScan(touchedBuckets)
      .join(if (pushdown) broadcast(incRareKeys) else incRareKeys,
        Seq("sh"), "left_semi")
      .select(col("doc_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotCorpus = bucketScan(hotBuckets)
      .join(broadcast(hot), Seq("sh"), "left_semi")
      .select(col("doc_id"), col("sh"))
    val newPairs = Dedup.incrementalNgramPairs(increment,
        touchedCorpus.unionByName(hotCorpus), sizesDf, hot,
        ComponentsK, ComponentsThreshold,
        // the candidate-pruned verify removes the per-append docHot
        // shuffle of every hot corpus row at the price of one extra
        // eager materialization — a measured LOSS at small hot volumes
        // (−2.7-4.2 s at 2M hot rows, the r15 sixth wave) and a
        // measured WIN at large ones (+10 s at 20M, +70 s at 80M, the
        // r16 third wave), so the append decides ADAPTIVELY from the
        // meta-derived hot-volume lower bound (see the caller's
        // effectivePrune); explicit pruneVerify = true still forces it.
        pruneVerifyByCandidates = pruneVerify,
        // edge-set consumer (star-edge component merge): skip the
        // declared queries' deterministic global sort (r16)
        sorted = false)
      .select(col("i"), col("j"))
    (newPairs, touchedCorpus)
  }

  /** Bench hook: run the pair term ALONE against an existing artifact,
    * through [[appendPairTerm]] — i.e. the production append's exact
    * bucket-pruned/semi-joined plan, including the same adaptive
    * broadcast decision — without mutating the artifact. ADVICE r10:
    * the previous isolated bench line read the full unpruned index
    * with the broadcast knob forced on, a different plan shape than
    * the append it claimed to decompose; this one decomposes it
    * like-for-like. Returns the pair count (forces full execution). */
  private[graft] def appendPairTermOnly(s: SparkSession, dir: String,
      increment: DataFrame,
      broadcastCap: Long = IncrementBroadcastMaxShingleRows): Long = {
    val gen = genDirOf(dir)
    // same meta-driven pmod as the production append (ADVICE r11: this
    // hook previously hardcoded the binary's bucket constant with no
    // guard — benching a different-bucket artifact would have pruned
    // with the wrong pmod and silently undercounted pairs)
    val meta = readMeta(s, dir)
    val sizesDf = s.read.parquet(s"$gen/sizes")
    val hot = s.read.parquet(s"$gen/hot")
    val incSh = Dedup.shingleIndex(increment, ComponentsK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the production append's ONE fused accounting job (r17), which
    // also carries the same broadcast-safety measurement the append
    // makes: total shingle rows (bounds the distinct set) vs the cap
    val acc = collectAppendAccounting(incSh,
      incSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n")), hot,
      meta.nBuckets)
    val pushdown = acc.nIncShingleRows <= broadcastCap
    val (pairs, touchedCorpus) =
      appendPairTerm(s, gen, increment, incSh, hot, sizesDf, pushdown,
        meta.nBuckets, acc.touchedBuckets, acc.hotBuckets)
    val n = pairs.count()
    touchedCorpus.unpersist(false)
    incSh.unpersist(false)
    n
  }

  /** STAGED COMPACTION — the remedy the hot-set drift flag calls for,
    * without ever yanking the artifact from a reader. When
    * `rebuild_recommended` trips (an increment pushed a once-rare
    * shingle over the snapshot cutoff, so append-to-cold equality no
    * longer holds for FUTURE appends), the operator re-derives the
    * whole artifact — cutoff, hot set, index, clusters — from the
    * caller's corpus-of-record (`docs` = everything ever built or
    * appended; the artifact persists shingle HASHES, not text, so the
    * raw corpus is the caller's to supply, same as the cold build's).
    *
    * Publication mirrors the append's epoch discipline one level up:
    * the new generation is cold-built COMPLETE inside `gen-<g+1>/`
    * (invisible — nothing resolves it), then ONE atomic replace of the
    * `GEN` pointer makes it live. A reader mid-scan of the old
    * generation keeps intact directories until the generation falls
    * TWO behind (the next compaction), the same grace epochs get.
    * Appends continue on the new generation with a fresh drift floor —
    * `rebuild_recommended` comes out false by construction. Same
    * SINGLE-WRITER contract as appends (compaction and appends must
    * not race each other; readers are never blocked). */
  private[graft] def compactComponentsArtifact(s: SparkSession, dir: String,
      docs: DataFrame, nBuckets: Int = -1): Unit = {
    // CORPUS-OF-RECORD VALIDATION (round-10 verdict ask #1, hardened
    // round 12) — BEFORE any filesystem mutation: the caller claims
    // `docs` is everything ever built or appended, and meta carries
    // two receipts to check that claim (n_docs_total, plus the running
    // [[StoreManifest.docReceipt]] hash-xor the build wrote and every append folded
    // its increment into). A stale or partial corpus would otherwise
    // rebuild a silently SMALLER artifact with a clean flag — the
    // MergeTree analog of merging the wrong parts (the behavior
    // reference clickhouse/init.sql:16 delegates to ClickHouse, which
    // likewise must never do it silently). One bounded aggregate pass
    // over docs; the count catches short/stale corpora, the hashed
    // receipt catches same-count swaps (including raw-id-xor
    // collisions like {0,3} vs {1,2}) and altered text, to ~2⁻⁶⁴.
    val meta = readMeta(s, dir)
    StoreManifest.requireReceipt(docs, dir, meta.nDocsTotal, meta.docIdXor)
    // the bucket count is a per-artifact property: preserve the
    // artifact's own unless the caller re-buckets explicitly (the
    // natural point to grow it with the corpus)
    val nb = if (nBuckets > 0) nBuckets else meta.nBuckets
    val next = genNumberOf(dir) + 1
    val nextDir = s"$dir/gen-$next"
    // a crashed prior compaction may have left a partial gen dir —
    // never resolvable (the pointer still names the old generation),
    // so clearing it is invisible too
    FsPointers.deleteDir(nextDir)
    buildGeneration(s, docs, nextDir, nb)
    FsPointers.publish(dir, "GEN", s"gen-$next")
    // GC generations ≥ 2 behind, sweeping stale ones from crash-skipped
    // GCs
    (0L to next - 2).foreach(g => FsPointers.deleteDir(s"$dir/gen-$g"))
  }

  /** THE MAINTENANCE RUNBOOK AS ONE OPERATOR (round-10 verdict ask
    * #4): append the increment, read the drift flag the append
    * maintains, and compact — with [[compactComponentsArtifact]]'s
    * corpus-of-record validation — exactly when it trips. The loop
    * ComponentsCompactSpec proves piecewise, callable without
    * hand-orchestrating meta reads. `corpusOfRecord` must be the full
    * union of the cold build's corpus and every appended increment
    * INCLUDING `increment` itself (the append lands first, so the
    * validation receipts cover it — lazily-built callers can pass
    * `allPrior.unionByName(increment)` unevaluated; it is only
    * executed if the flag trips). Returns true iff a compaction ran.
    * Same single-writer contract as its two halves. */
  private[graft] def maintainComponentsArtifact(s: SparkSession, dir: String,
      increment: DataFrame, corpusOfRecord: DataFrame,
      broadcastCap: Long = IncrementBroadcastMaxShingleRows,
      compactNBuckets: Int = -1,
      maxFilesPerBucket: Int = MaxShingleFilesPerBucket,
      pruneVerify: Boolean = false): Boolean = {
    appendComponentsArtifact(s, dir, increment, broadcastCap, maxFilesPerBucket,
      pruneVerify)
    val tripped = readMeta(s, dir).rebuildRecommended
    // compactNBuckets rides through to the compaction (default -1 =
    // preserve the artifact's own count): the drift-triggered rebuild
    // is exactly the point where a grown corpus re-buckets, so the
    // runbook operator must be able to carry that choice
    if (tripped) compactComponentsArtifact(s, dir, corpusOfRecord,
      compactNBuckets)
    tripped
  }

}
