package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T, VectorFunctions => V}

/** Deduplication family for the training-data pipeline, each shaped for
  * 100 TB execution:
  *
  *  - exact: hash-groupBy on a content digest — one shuffle on md5, no
  *    full-text comparison;
  *  - n-gram Jaccard: shingle-explode + equi-join on the shingle — candidate
  *    pairs come from a hash join, never an O(n²) cartesian;
  *  - MinHash-LSH: signature (map-side, no shuffle) → band explode → band
  *    join → verify. Only candidates sharing a band are verified, and the
  *    band key is the one shuffle;
  *  - SimHash: 30-bit fingerprint per doc (map-side), close pairs by
  *    Hamming distance;
  *  - embedding near-dup: exact cosine threshold (verification-grade);
  *    `Similarity.lshBucketed` provides the candidate-generation scale path.
  */
object Dedup {

  /** Exact dedup: one surviving doc_id per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  /** The exact-dedup content index of a corpus: its distinct content
    * hashes. At 100 TB this is the thing you persist (bucketed by
    * content_hash on disk) and dedup every increment against, instead of
    * re-deduping the whole corpus per batch. */
  def exactIndex(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("content_hash")).distinct()

  /** Incremental exact dedup: the increment rows genuinely new vs both
    * the corpus index and the increment itself. Within-increment copies
    * collapse first (min doc_id survives, same rule as [[exact]]), then
    * one left_anti hash join against the index removes everything the
    * corpus already has. Cost tracks |increment| + |index touched|; with
    * the index bucketed by content_hash the anti-join shuffles only the
    * (small) increment side. */
  def incrementalExact(increment: DataFrame, index: DataFrame): DataFrame =
    increment.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy(col("content_hash")).agg(min(col("doc_id")).as("doc_id"))
      .join(index, Seq("content_hash"), "left_anti")
      .select(col("doc_id"), col("content_hash"))
      .orderBy(col("doc_id"))

  /** Distinct k-shingle ids per document, exploded to (doc_id, sh) grain.
    * `sh` is the 60-bit packed shingle id (TextFunctions.shingleIds): the
    * join/shuffle key is 8 bytes, not a string. */
  private[operators] def shingleRows(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), T.tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"),
        explode(array_distinct(T.shingleIds(col("ths"), k))).as("sh"))

  /** Per-document n-gram novelty — the dedup-aware QUALITY signal next
    * to the dedup family's removal decisions: the fraction of a doc's
    * distinct k-shingles appearing in NO other document (corpus
    * document-frequency 1). Boilerplate-heavy and template documents
    * score near 0, fresh prose near 1; pipelines use it to bias keeper
    * selection and sampling toward novel content rather than merely
    * dropping near-dups.
    *
    * Cost: the same (doc_id, sh) grain the whole dedup family rides —
    * one map-side-combinable df aggregate on the 8-byte shingle id, one
    * equi-join back, one per-doc aggregate. No pair generation. Docs
    * with < k tokens have no shingles and are absent (same contract as
    * the pair ops). */
  def ngramNovelty(docs: DataFrame, k: Int = 3): DataFrame = {
    val sh = shingleRows(docs, k)
    val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", col("n_unique") / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * scheme): from each document's k-shingle hash sequence, select the
    * minimum hash of every sliding window of `w` consecutive shingles.
    * The selection guarantees every run of w shingles contributes a
    * fingerprint (no gap a w-gram long goes unfingerprinted — the
    * coverage property substring-level dup detection needs) at an
    * expected density of 2/(w+1), so the index is ~2/(w+1) the size of
    * the full shingle set. Cross-doc matches are then one equi-join on
    * fp_hash — the substring-level candidate economics, at a fraction
    * of the span-index cost.
    *
    * Selection rule: the window's minimum (hash, position) pair,
    * realized as an INTEGER min over hash·2²⁰ + pos (hash < 2³⁰,
    * pos < 2²⁰ enforced) — one number both engines order identically,
    * no float anywhere. Per-doc sliding min is a keyed window frame
    * (parallel across docs; a document is the natural frame bound).
    * Returns distinct (doc_id, fp_pos, fp_hash), ordered.
    *
    * Guarantee (the winnowing theorem): two documents sharing a
    * verbatim substring of ≥ w+k−1 tokens share at least one selected
    * fingerprint — the shared run spans a full window, and both sides
    * select the same minimum inside it. Documents with fewer than w
    * shingles (< k+w−1 tokens) are BELOW the guarantee threshold and
    * yield no fingerprints. */
  def winnowingFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    require(w >= 1, "winnowing window must be >= 1")
    val posLimit = 1L << 20
    val sh = docs
      .select(col("doc_id"), T.shingleHashes(T.tokenHashes(col("text")), k).as("shs"))
      .select(col("doc_id"), posexplode(col("shs")).as(Seq("pos", "h")))
      // the pack is only valid while pos fits its 20 bits; a 1M-token
      // doc is a caller error worth naming, not a silent wrong min
      .withColumn("pk", {
        val guarded = when(col("pos") < posLimit, col("h") * posLimit + col("pos"))
        guarded.otherwise(raise_error(lit("winnowing: document exceeds 2^20 shingles")))
      })
    val frame = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(w - 1), 0)
    sh.withColumn("mpk", min(col("pk")).over(frame))
      .filter(col("pos") >= w - 1)
      .select(col("doc_id"), col("mpk")).distinct()
      .select(col("doc_id"),
        col("mpk").bitwiseAND(lit(posLimit - 1)).as("fp_pos"),
        shiftright(col("mpk"), 20).as("fp_hash"))
      .orderBy(col("doc_id"), col("fp_pos"))
  }

  /** Cross-document substring-match candidates from the winnowing
    * index: document pairs sharing at least `minShared` selected
    * fingerprints, with the shared count — MOSS's pair-ranking signal.
    * One equi-join on fp_hash over the ~2/(w+1)-density index (cheaper
    * candidate generation than the full span index by the same factor).
    * `dfCutoff` drops fingerprints selected in more than that many
    * documents BEFORE the join — the boilerplate guard; unlike the
    * ngram guard this is candidate generation, so exclusion costs
    * recall on pairs whose ONLY overlap is boilerplate (usually the
    * point) rather than changing any verified score. */
  def winnowingMatches(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Long = 2L, dfCutoff: Option[Long] = None): DataFrame = {
    val fp = winnowingFingerprints(docs, k, w)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val filtered = dfCutoff match {
      case None => fp
      case Some(cut) =>
        val hot = fp.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
          .filter(col("df") > cut).select(col("fp_hash"))
        fp.join(hot, Seq("fp_hash"), "left_anti")
    }
    filtered.as("a").join(filtered.as("b"),
        col("a.fp_hash") === col("b.fp_hash") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("n_shared_fps"))
      .filter(col("n_shared_fps") >= minShared)
      .orderBy(col("i"), col("j"))
  }

  /** Exact-Jaccard verification of candidate (i, j) pairs against FULL
    * shingle sets: shingle rows are semi-joined down to candidate docs, so
    * cost tracks the candidate count, and the intersection/union counts are
    * over every shingle — a candidate-generation filter upstream cannot
    * change the reported jaccard. inter/|A∪B| from exact bigint counts →
    * deterministic double. */
  private[operators] def verifyJaccard(candidates: DataFrame, sh: DataFrame,
      threshold: Double, sorted: Boolean = true): DataFrame = {
    val candDocs = candidates.select(col("i").as("doc_id"))
      .union(candidates.select(col("j"))).distinct()
    val candSh = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val sizes = candSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = candidates
      .join(candSh.as("sa"), col("i") === col("sa.doc_id"))
      .join(candSh.as("sb"), col("j") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("na"), col("i") === col("na.doc_id"))
      .join(sizes.as("nb"), col("j") === col("nb.doc_id"))
      .withColumn("jaccard", col("inter") / (col("na.n") + col("nb.n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("inter"), col("jaccard"))
      .orderByIf(sorted, col("i"), col("j"))
  }

  /** `orderBy` applied only when `sorted` — the deterministic-output
    * global sort is part of the DECLARED queries' hash-gated contract,
    * but an edge-set/count consumer (components, pageRank, recall
    * evals) pays its range exchange + sampling job for nothing. The
    * optimizer removes SOME of these on its own (EliminateSorts fires
    * under a direct agg(count)) but not others — not under a persist
    * boundary (the artifact build/append caches pairs sorted) and not
    * through pageRank's re-referenced lazy subtree (17 surviving range
    * exchanges in the r16 before-plan) — so consumers state it
    * explicitly. */
  implicit private[operators] class OrderByIf(df: DataFrame) {
    def orderByIf(sorted: Boolean, cols: org.apache.spark.sql.Column*): DataFrame =
      if (sorted) df.orderBy(cols: _*) else df
  }

  /** MinHash LSH band rows of a corpus: (doc_id, band_idx, band_val) —
    * the persisted near-dup artifact at 100 TB (written once, bucketed by
    * (band_idx, band_val) on disk, then every increment is deduped
    * against it instead of re-banding the corpus). */
  def bandIndex(docs: DataFrame, k: Int = 3): DataFrame =
    minhashSignatures(docs, k)
      .select(col("doc_id"),
        posexplode(T.minhashBands(col("sig"))).as(Seq("band_idx", "band_val")))

  /** Incremental near-dup detection — the band-index counterpart of
    * [[incrementalExact]]: (i = increment doc, j = corpus doc, inter,
    * jaccard) for every increment doc that lands in a band bucket with a
    * corpus doc AND clears the EXACT k-gram jaccard threshold.
    *
    * `corpusBands` is the PERSISTED [[bandIndex]] of the corpus — the
    * operator never re-bands the corpus, so per-batch compute tracks the
    * increment and the buckets it touches, never corpus². Candidate
    * generation is one hash equi-join of the increment's bands against
    * it; verification joins only candidate docs' shingles (same
    * candidate-only economics as [[minhashPairs]]), so `corpus` text is
    * touched only for the candidate docs (point reads against an
    * id-partitioned corpus at scale). doc_ids of the two frames must be
    * disjoint — an overlapping id merges two texts under one key and
    * silently corrupts that id's jaccards (spec-pinned precondition).
    * Increment-internal near-dups are out of scope by contract — run the
    * batch operator on the (small) increment for those. */
  def incrementalNearDups(increment: DataFrame, corpusBands: DataFrame,
      corpus: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame =
    incrementalNearDupsFromBands(bandIndex(increment, k), increment,
      corpusBands, corpus, k, threshold)

  /** Candidate (i = increment, j = corpus) pairs from one band
    * equi-join — the generation half both verify shapes share. */
  private def bandCandidatePairs(incBands: DataFrame,
      corpusBands: DataFrame): DataFrame =
    incBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j")).distinct()

  /** [[incrementalNearDups]] with the increment's band rows supplied —
    * the indexed paths band the increment ONCE ([[indexedCandidateInputs]])
    * and reuse the rows for both bucket pruning and this join; the inline
    * path passes the lazy [[bandIndex]] frame. */
  private def incrementalNearDupsFromBands(incBands: DataFrame,
      increment: DataFrame, corpusBands: DataFrame,
      corpus: DataFrame, k: Int, threshold: Double): DataFrame = {
    val candidates = bandCandidatePairs(incBands, corpusBands)
    // Reduce the corpus to candidate docs BEFORE shingling: the semi-join
    // inside verifyJaccard happens above the tokenize+explode, so feeding it
    // the full corpus would tokenize every corpus document per batch. The
    // row-level semi-join here keeps per-batch text work proportional to
    // the candidate count (point reads against an id-partitioned corpus at
    // scale), as the contract above promises.
    val candJ = candidates.select(col("j").as("doc_id")).distinct()
    val touched = corpus.select(col("doc_id"), col("text"))
      .join(candJ, Seq("doc_id"), "left_semi")
    val all = increment.select(col("doc_id"), col("text")).union(touched)
    verifyJaccard(candidates, shingleRows(all, k), threshold)
  }

  // --------------------------------------------------------------------
  // The band index AT REST (round-12 verdict ask #1): [[bandIndex]]'s
  // persisted layout, bucketed by pmod(band_val, n_buckets) so an
  // increment's bounded band-value set prunes whole directories instead
  // of scanning the full corpus index — the MergeTree sparse-index
  // analog (reference clickhouse/init.sql:18) applied to the SECOND
  // persisted incremental-dedup index, same remedy the shingle index
  // proved (_idx3 → _idx6 lineage in ComponentsArtifact). The ×100 probe
  // measured the unbucketed layout's linear corpus-scan term at
  // 2.1/2.4/4.9 s across ×1/×10/×100; the pruned read's corpus-side
  // cost tracks the touched buckets, not the corpus.
  // --------------------------------------------------------------------

  /** Layout version of the persisted band index — IN THE PATH (the
    * bands/meta subdir names), so a version bump can never half-reuse a
    * stale layout: old dirs simply stop resolving and the actionable
    * rebuild message fires. `bidx1` = bucketed-by-band_val + versioned
    * meta from day one (the lesson the shingle index's `_idx5` receipt
    * ambiguity taught: every layout-sensitive property rides the
    * artifact, not the binary); `bidx2` adds the optional hot-band
    * sidecar + its cutoff in meta (the skew guard for
    * boilerplate-dominated signatures); `bidx3` adds the listing
    * manifest (file count + bytes, [[StoreManifest]]) so the APPEND
    * path's torn-append validation is one parallel listing instead of
    * an O(store files) footer pass — the round-14 corpus-store probe
    * measured the footer pass at ~7-9 s per append on a 9k-file store,
    * and a high-bucket-count band index carries the same file count. */
  private[graft] val BandIndexLayout = "bidx3"

  /** Default bucket count for NEW band indexes (the same local[32]
    * economics as ComponentsArtifact.ShingleBuckets — at real 100 TB the
    * layout carries more buckets; the count is a PER-INDEX property
    * read from meta, never assumed from this constant). */
  private[graft] val BandIndexBuckets = 64

  /** Per-index accounting, read by NAME from `meta_bidx2/`: `k` pins
    * the shingle width the bands were built with (an increment banded
    * with a different k would silently never collide), `nBuckets` pins
    * the pmod layout (every layout-sensitive read derives its pruning
    * from THIS value), `nDocs`/`nBandRows` are the torn-append
    * integrity tokens, `docXor` is the corpus-of-record receipt
    * ([[StoreManifest.docReceipt]] folded over build + every append);
    * `hotBandCutoff` > 0 means the build wrote the hot-band sidecar at
    * that document-frequency cutoff and lookups must anti-join it
    * (-1 = unguarded index, no sidecar); `nFiles`/`nBytes` are the
    * listing manifest the append path validates against (bidx3 — see
    * [[StoreManifest]]; `nBandRows` stays the ROW token the
    * compaction's row-preserving invariant checks). */
  private[graft] case class BandIndexMeta(k: Int, nBuckets: Int,
      nDocs: Long, nBandRows: Long, docXor: Long,
      hotBandCutoff: Long = -1L, nFiles: Long = 0L, nBytes: Long = 0L)

  private def bandsDirOf(dir: String): String = s"$dir/bands_$BandIndexLayout"
  private def bandMetaDirOf(dir: String): String = s"$dir/meta_$BandIndexLayout"
  private def hotBandsDirOf(dir: String): String =
    s"$dir/hot_bands_$BandIndexLayout"

  private def bandBucket(bandVal: Column, nBuckets: Int): Column =
    pmod(bandVal, lit(nBuckets.toLong)).cast("int")

  /** Explicit schema (a band-less corpus writes zero partition dirs,
    * and inference over an empty partitioned dir throws). */
  private def readBandRows(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.read.schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("band_idx", IntegerType),
        StructField("band_val", LongType), StructField("bvb", IntegerType))))
      .parquet(bandsDirOf(dir))
  }

  /** Write meta with the band dirs' listing manifest as it is on disk
    * now, so the next append validates against what this write left. */
  private def writeBandMeta(s: org.apache.spark.sql.SparkSession,
      dir: String, m: BandIndexMeta): Unit = {
    val l = StoreManifest.list(s, bandsDirOf(dir))
    StoreManifest.writeMeta(s, bandMetaDirOf(dir), lit(BandIndexLayout).as("layout"),
      lit(m.k).as("k"), lit(m.nBuckets).as("n_buckets"),
      lit(m.nDocs).as("n_docs"), lit(m.nBandRows).as("n_band_rows"),
      lit(m.docXor).as("doc_xor"),
      lit(m.hotBandCutoff).as("hot_band_cutoff"),
      lit(l.files).as("n_files"), lit(l.bytes).as("n_bytes"),
      lit("xxhash64_v1").as("receipt_kind"))
  }

  private[graft] def readBandIndexMeta(s: org.apache.spark.sql.SparkSession,
      dir: String): BandIndexMeta = {
    val r = StoreManifest.readMeta(s, bandMetaDirOf(dir),
      s"no $BandIndexLayout band index at $dir: the dir holds a legacy " +
        "unversioned band-row dump or nothing at all — rebuild it with " +
        "writeBandIndex (bucketed pmod(band_val, n_buckets) layout with " +
        "the bucket count and integrity tokens in meta)")
    BandIndexMeta(r.getAs[Int]("k"), r.getAs[Int]("n_buckets"),
      r.getAs[Long]("n_docs"), r.getAs[Long]("n_band_rows"),
      r.getAs[Long]("doc_xor"), r.getAs[Long]("hot_band_cutoff"),
      r.getAs[Long]("n_files"), r.getAs[Long]("n_bytes"))
  }

  /** The torn-append check against meta's manifest (bidx3): a tear
    * leaves whole committed files beyond meta, so (file count, bytes)
    * detects it for one parallel listing — the footer pass was
    * O(store files) per append (round-14 probe: 7-9 s on a 9k-file
    * store), a corpus-size tax on an increment-bounded op. */
  private def requireUntorn(s: org.apache.spark.sql.SparkSession,
      dir: String, meta: BandIndexMeta, before: String): Unit = {
    StoreManifest.requireUntorn(s, dir,
      Seq(StoreManifest.Recorded("index", bandsDirOf(dir), meta.nFiles, meta.nBytes)),
      "a prior append or compaction crashed between its data write and " +
        s"its meta rewrite; rebuild with writeBandIndex before $before")
    ()
  }

  /** Cold-build the persisted band index of `docs` at `dir` — written
    * bucketed (one task per bucket, so ~one file per bucket rather than
    * tasks×buckets shards) with accounting meta. Rebuild-in-place is
    * the migration path for any layout refusal.
    *
    * `hotBandCutoff` arms the HOT-BAND GUARD (the band-index face of
    * the n-gram path's df cutoff): a boilerplate block shared across
    * the corpus dominates short documents' MinHash rows, so whole
    * (band_idx, band_val) buckets fill with mutually-UNrelated docs and
    * every future increment doc carrying the block band-collides with
    * all of them — candidates ∝ corpus, all verify-rejected (measured:
    * the hot-corpus probe read 8.5 → 32.3 s across ×1→×10 unguarded,
    * superlinear wall on pure reject work). With the guard, the build
    * writes the bounded `hot_bands` sidecar (band values whose document
    * frequency exceeds the cutoff) and lookups anti-join it out of
    * candidate GENERATION — verification stays exact-jaccard, so
    * surfaced pairs are unchanged in value; the documented deviation is
    * recall: a pair whose EVERY colliding band is hot is not surfaced
    * (true near-dups collide on their content bands too, which stay
    * rare; the spec pins both directions). The cutoff and the sidecar
    * are SNAPSHOT-fixed like the shingle artifact's hot set: appends
    * do not re-derive them. Refresh paths, cheapest first:
    * [[compactBandIndex]] with `refreshHotBands = true` re-derives df
    * from the 20-byte band rows already at rest (no text re-minhashed)
    * at the auto cutoff for the grown doc count; a full
    * [[writeBandIndex]] rebuild re-derives everything. The drift trade
    * between refreshes is accepted without flag machinery because both
    * refreshes are cheap relative to the corpus. */
  def writeBandIndex(docs: DataFrame, dir: String, k: Int = 3,
      nBuckets: Int = BandIndexBuckets,
      hotBandCutoff: Option[Long] = None): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    require(hotBandCutoff.forall(_ > 0),
      s"hotBandCutoff must be positive when set, got $hotBandCutoff")
    val s = docs.sparkSession
    val (nDocs, docXor) = StoreManifest.receiptOf(docs)
    // (band_val, doc_id)-sorted within each bucket FROM THE FIRST WRITE:
    // parquet row-group min/max on band_val then skips inside a bucket
    // for point lookups on fresh indexes too, not only after the first
    // compaction rewrite restores the order (round-13 verdict ask #2 —
    // SCALE.md's sixth wave noted the build wrote unsorted buckets).
    // Leading "bvb" groups a task's rows by bucket so the partitioned
    // writer emits one band_val-sorted file per bucket dir.
    bandIndex(docs, k)
      .withColumn("bvb", bandBucket(col("band_val"), nBuckets))
      .repartition(col("bvb"))
      .sortWithinPartitions("bvb", "band_val", "doc_id")
      .write.mode("overwrite").partitionBy("bvb").parquet(bandsDirOf(dir))
    // integrity token from the WRITTEN data (footer metadata), so the
    // next append validates against what is actually on disk
    val nRows = StoreManifest.footerCount(readBandRows(s, dir))
    hotBandCutoff.foreach { cutoff =>
      // one aggregate over the WRITTEN index (bandIndex emits one row
      // per (doc, band_idx), so the row count per (band_idx, band_val)
      // IS its document frequency)
      readBandRows(s, dir)
        .groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > cutoff)
        .select(col("band_idx"), col("band_val"))
        .coalesce(1).write.mode("overwrite").parquet(hotBandsDirOf(dir))
    }
    writeBandMeta(s, dir,
      BandIndexMeta(k, nBuckets, nDocs, nRows, docXor,
        hotBandCutoff = hotBandCutoff.getOrElse(-1L)))
  }

  /** Append an increment's bands into the persisted index. Single-writer
    * (two concurrent appends would race the meta rewrite); increment
    * doc_ids must be disjoint from everything already indexed (same
    * contract as [[incrementalNearDups]]).
    *
    * Failure-window waiver (round-12 verdict ask #6, the per-store
    * discipline decision): this store deliberately does NOT carry the
    * shingle artifact's staged-epoch pointer protocol. The index is
    * append-only rows with scan-only readers — a reader overlapping an
    * append sees a PREFIX of the increment's bands, which can only
    * under-generate candidates for the in-flight docs (never wrong
    * pairs: verification is exact jaccard) and self-heals on the next
    * read. A crash between the band append and the meta rewrite leaves
    * rows > meta.nBandRows, which THIS validation catches on the next
    * append with a rebuild message — the index is derived data,
    * rebuildable from the corpus, so loud-stop + rebuild is the whole
    * recovery story and an epoch protocol would buy nothing but moving
    * parts. */
  def appendBandIndex(increment: DataFrame, dir: String): Unit = {
    val s = increment.sparkSession
    val meta = readBandIndexMeta(s, dir)
    requireUntorn(s, dir, meta, "appending again")
    val (incDocs, incXor) = StoreManifest.receiptOf(increment)
    val incBands = bandIndex(increment, meta.k)
      .withColumn("bvb", bandBucket(col("band_val"), meta.nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val incRows = incBands.count()
    // repartition by bucket: without it the dynamic-partition append
    // fans (tasks × buckets) tiny files per append — the measured
    // file-count discipline the shingle index's round-10 probe taught.
    // Same within-bucket (band_val, doc_id) sort as the build, so every
    // file in the index carries row-group min/max skippable on band_val.
    incBands.repartition(col("bvb"))
      .sortWithinPartitions("bvb", "band_val", "doc_id")
      .write.mode("append").partitionBy("bvb").parquet(bandsDirOf(dir))
    incBands.unpersist(false)
    writeBandMeta(s, dir, meta.copy(nDocs = meta.nDocs + incDocs,
      nBandRows = meta.nBandRows + incRows, docXor = meta.docXor ^ incXor))
  }

  /** In-place bucket compaction for the persisted band index — the
    * maintenance path [[appendBandIndex]]'s file discipline eventually
    * needs: every append adds ~one file per touched bucket dir, so a
    * year of hourly appends hands every bucket-pruned lookup thousands
    * of tiny files per dir. Buckets fragmented past `maxFilesPerBucket`
    * are rewritten — and ONLY those — through the shared
    * [[PartitionCompaction]] kernel (parallel drift detection, one
    * batched pruned rewrite, crash-recoverable archive-then-swap; cost
    * ∝ drift, not index size). Rows, meta, and the hot-band sidecar are
    * all preserved exactly (the rewrite moves bytes, never rows —
    * validated against meta's row-count token before AND after, the
    * same torn-append discipline the append path runs). The rewrite
    * sorts each bucket by (band_val, doc_id) — restoring the order the
    * build and append writes put down file-by-file to one sorted run
    * per bucket, so parquet row-group min/max on band_val keeps
    * skipping inside a bucket for point lookups. Readers overlapping
    * the swap window fall under the store's documented append-only
    * waiver (a missing-then-restored bucket under-generates candidates
    * for one read and self-heals; verification stays exact).
    * Returns the compacted bucket values. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      maxFilesPerBucket: Int = 4, filesPerBucket: Int = 1,
      refreshHotBands: Boolean = false): Seq[Long] = {
    val meta = readBandIndexMeta(spark, dir)
    // same cheap listing-manifest tear check as the append path (the
    // whole-index footer pass was a store-size term)
    requireUntorn(spark, dir, meta,
      "compacting (a compaction would bake the tear in)")
    val root = new org.apache.hadoop.fs.Path(bandsDirOf(dir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // row preservation is validated INSIDE the kernel, scoped to the
    // drifted buckets and before the swap — cost ∝ drift
    val buckets = PartitionCompaction.compactDrifted(spark, fs, root,
      "bvb", Seq("band_val", "doc_id"), xxhash64(col("doc_id")),
      maxFilesPerBucket, filesPerBucket, requireRowPreserving = true)
    // HOT-SIDECAR REFRESH (round-13 verdict ask #3): the guard's cutoff
    // and sidecar are snapshot-fixed at build, so a corpus that doubles
    // via appends drifts the band-df distribution while the guard stays
    // frozen — and the only refresh used to be a full rebuild
    // (re-minhashing all corpus TEXT). The band rows already on disk
    // carry every df the guard needs (one row per (doc, band_idx) by
    // construction), and the compaction probes priced a full pass over
    // the 20-byte rows at ~2 s at ×100 — so the refresh is one
    // aggregate over the index itself, identical to what a cold rebuild
    // derives at the same cutoff (spec-pinned). The cutoff re-derives
    // at [[autoDfCutoffFor]](meta.nDocs) — the build+append doc count —
    // and meta records it, arming the guard on a previously-unguarded
    // index too. Crash window: sidecar overwrite lands before the meta
    // rewrite; a crash between them serves the OLD cutoff against the
    // refreshed (strictly-comparable) sidecar — a bounded recall-only
    // skew the store's documented waiver already covers, repaired by
    // re-running the refresh.
    if (refreshHotBands) {
      val cutoff = autoDfCutoffFor(meta.nDocs)
      readBandRows(spark, dir)
        .groupBy(col("band_idx"), col("band_val"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > cutoff)
        .select(col("band_idx"), col("band_val"))
        .coalesce(1).write.mode("overwrite").parquet(hotBandsDirOf(dir))
    }
    // the rewrite changed the file layout, so re-record the listing
    // manifest (and the refreshed guard cutoff) — without this the next
    // append's manifest validation would torn-flag a healthy compacted
    // index. A crash between the swap and this meta write IS the torn
    // state the next append reports, with rebuild as the recovery (the
    // store's documented derived-data story).
    if (buckets.nonEmpty || refreshHotBands)
      writeBandMeta(spark, dir, meta.copy(hotBandCutoff =
        if (refreshHotBands) autoDfCutoffFor(meta.nDocs) else meta.hotBandCutoff))
    buckets
  }

  /** Maintenance check: does `corpus` match the index's build+append
    * history? One bounded aggregate over the corpus against meta's
    * count + hashed receipt — run it before trusting a rebuild source
    * or after a suspected operational mixup; NOT on the query path
    * (it scans the corpus, the exact cost the index exists to avoid). */
  def verifyBandIndexReceipt(corpus: DataFrame, dir: String): Unit = {
    val meta = readBandIndexMeta(corpus.sparkSession, dir)
    StoreManifest.requireReceipt(corpus, dir, meta.nDocs, meta.docXor)
  }

  /** Broadcast-safety cap for the indexed path's increment-band collect:
    * band rows are 20 bytes (doc_id, band_idx, band_val), so 2M rows ≈
    * 40 MB on the driver — the same order as Spark's own broadcast-join
    * economics and the shingle artifact's append cap. Overridable per
    * session via `graft.dedup.incrementBandCollectMaxRows` (a scale
    * knob: a fat driver raises it, and the spec drops it to force the
    * distributed backfill fallback on small fixtures). */
  private val IncrementBandCollectMaxRows = 2L * 1000 * 1000

  private def confCap(s: org.apache.spark.sql.SparkSession, key: String,
      dflt: Long): Long =
    // clamped to Int.MaxValue - 1: callers probe with head(cap.toInt + 1),
    // so a fat-driver knob set at or above Int.MaxValue would otherwise
    // overflow to a negative limit and die in analysis (ADVICE r14);
    // clamped values just degrade to the documented distributed fallback
    // at the 2^31-row mark — where a driver collect is absurd anyway
    math.min(s.conf.getOption(key).map(_.toLong).getOrElse(dflt),
      Int.MaxValue.toLong - 1)

  /** [[incrementalNearDups]] against the PERSISTED index, with the
    * at-rest pruning that makes the corpus-side cost track the touched
    * buckets instead of the corpus: the increment is banded ONCE and
    * its rows collected (bounded: docs × bands, cap above — a
    * backfill-scale increment falls back to the distributed shapes),
    * hot bands are dropped per the index's guard config, the touched
    * bucket set falls out driver-side, and the read opens exactly
    * those bucket DIRECTORIES (never the partitioned root — partition
    * discovery over every bucket dir is a per-query tax that grows
    * with the bucket count; a saturated set takes the one-discovery
    * root read instead). The candidate join's build side is a
    * LocalRelation whose size Spark knows, so the broadcast is
    * guaranteed and the corpus side is scanned, never shuffled.
    * Output is row-identical to the unguarded inline path on an
    * unguarded index (candidates match on band_val EQUALITY, equal
    * band_vals share a bucket — spec-pinned, randomized over bucket
    * counts and build/append splits); on a guarded index the hot-band
    * recall deviation applies (see [[writeBandIndex]]). k, the pmod
    * and the guard all ride the index's own meta. */
  def incrementalNearDupsIndexed(increment: DataFrame, dir: String,
      corpus: DataFrame, threshold: Double = 0.5): DataFrame = {
    val (incBands, corpusBands, meta) = indexedCandidateInputs(increment, dir)
    incrementalNearDupsFromBands(incBands, increment, corpusBands, corpus,
      meta.k, threshold)
  }

  /** Broadcast-safety cap for the stored-corpus verify path's candidate
    * collect: (i, j) pairs are 16 bytes, so 2M rows ≈ 32 MB on the
    * driver — same economics as [[IncrementBandCollectMaxRows]]. Above
    * it the verify falls back to the distributed semi-join against the
    * store's full read (correct, corpus-scan-priced — the regime where
    * the increment is a backfill, not a serving lookup). Overridable
    * per session via `graft.dedup.candidatePairCollectMaxRows` (same
    * knob/spec story as the band cap). */
  private val CandidatePairCollectMaxRows = 2L * 1000 * 1000

  /** [[incrementalNearDupsIndexed]] with the corpus AT REST too: the
    * verify step's candidate-text fetch reads the [[CorpusStore]] at
    * `corpusDir` via pruned direct-dir point reads instead of
    * semi-joining a caller-supplied corpus frame — the last
    * corpus-linear serving term gone (the in-memory overload's
    * `touched` semi-join scans corpus TEXT per lookup; this one opens
    * the candidate ids' idp dirs only). Candidate pairs are collected
    * under [[CandidatePairCollectMaxRows]] (the touched-partition set
    * falls out driver-side and the verify join's build side becomes a
    * size-known LocalRelation); an over-cap candidate set falls back
    * to the distributed shape against the store's full read.
    *
    * The band index and the corpus store must describe the SAME corpus:
    * required up front by comparing their metas' doc counts + hashed
    * receipts (two one-row reads — a stale store would otherwise
    * silently fetch no text for real candidates and verify-reject
    * them). Maintain the two stores together: the same increment goes
    * through [[appendBandIndex]] AND [[CorpusStore.append]]. */
  def incrementalNearDupsIndexed(increment: DataFrame, dir: String,
      corpusDir: String, threshold: Double): DataFrame = {
    val s = increment.sparkSession
    val cMeta = CorpusStore.readMeta(s, corpusDir)
    val (incBands, corpusBands, meta) = indexedCandidateInputs(increment, dir)
    require(meta.nDocs == cMeta.nDocs && meta.docXor == cMeta.docXor,
      s"band index at $dir and corpus store at $corpusDir describe " +
        s"different corpora (${meta.nDocs} docs / receipt ${meta.docXor} " +
        s"vs ${cMeta.nDocs} / ${cMeta.docXor}) — append increments to " +
        "both stores in the same maintenance step")
    val candidates = bandCandidatePairs(incBands, corpusBands)
    val pairCap = confCap(s, "graft.dedup.candidatePairCollectMaxRows",
      CandidatePairCollectMaxRows)
    val head = candidates.head(pairCap.toInt + 1)
    if (head.length > pairCap) {
      incrementalNearDupsFromBands(incBands, increment, corpusBands,
        CorpusStore.read(s, corpusDir), meta.k, threshold)
    } else {
      import scala.jdk.CollectionConverters._
      val candLocal = s.createDataFrame(head.toSeq.asJava, candidates.schema)
      val jIds = head.iterator.map(_.getLong(1)).toSeq.distinct
      val touched = CorpusStore.fetchDocs(s, corpusDir, jIds)
      val all = increment.select(col("doc_id"), col("text")).union(touched)
      verifyJaccard(candLocal, shingleRows(all, meta.k), threshold)
    }
  }

  /** The shared indexed candidate-generation inputs: the increment's
    * band rows (collected LocalRelation when bounded, distributed
    * fallback otherwise, hot-band guard applied per meta), the
    * bucket-pruned corpus band read, and the index meta. */
  private def indexedCandidateInputs(increment: DataFrame, dir: String)
      : (DataFrame, DataFrame, BandIndexMeta) = {
    val s = increment.sparkSession
    val meta = readBandIndexMeta(s, dir)
    // band the increment ONCE and pull the rows to the driver (bounded:
    // docs × bands, cap-guarded below). Three consumers, zero recompute:
    // the touched-bucket set falls out driver-side for free, the
    // candidate join gets a LocalRelation whose tiny size Spark KNOWS
    // (guaranteed broadcast — the corpus side is scanned, never
    // shuffled), and the increment is never re-banded. The previous
    // shape ran one extra Spark job to collect buckets and re-banded
    // the increment inside the join (measured +1 s at ×1).
    // HOT-BAND GUARD (see writeBandIndex): the sidecar is bounded by
    // construction — ≤ bands_per_doc / cutoff_fraction entries
    // (16 / 0.004 = 4000 at the auto cutoff) INDEPENDENT of corpus
    // size — so it collects to a driver set and the increment's hot
    // band rows are dropped before candidate generation.
    val hotBands: Set[(Int, Long)] =
      if (meta.hotBandCutoff > 0)
        s.read.parquet(hotBandsDirOf(dir)).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSet
      else Set.empty
    val incBandsAll = bandIndex(increment, meta.k)
    val bandCap = confCap(s, "graft.dedup.incrementBandCollectMaxRows",
      IncrementBandCollectMaxRows)
    val head = incBandsAll.head(bandCap.toInt + 1)
    val (incBands, touched) =
      if (head.length > bandCap) {
        // backfill-scale increment: fall back to the distributed shapes
        // (no collect, no pruning — a corpus-scale increment's band set
        // saturates every bucket anyway); the hot guard rides as a
        // broadcast anti-join instead of the driver-side filter
        val base =
          if (hotBands.isEmpty) incBandsAll
          else incBandsAll.join(
            broadcast(s.read.parquet(hotBandsDirOf(dir))),
            Seq("band_idx", "band_val"), "left_anti")
        (base, (0 until meta.nBuckets).toSeq)
      } else {
        import scala.jdk.CollectionConverters._
        val kept =
          if (hotBands.isEmpty) head
          else head.filter(r => !hotBands.contains((r.getInt(1), r.getLong(2))))
        if (kept.length < head.length)
          System.err.println(s"[dedup] hot-band guard armed: " +
            s"${head.length - kept.length}/${head.length} increment band " +
            s"rows dropped (${hotBands.size} hot bands above df cutoff " +
            s"${meta.hotBandCutoff} excluded from candidate generation)")
        val local = s.createDataFrame(kept.toSeq.asJava, incBandsAll.schema)
        val bs = kept.iterator.map { r =>
          // same arithmetic as Spark's pmod for the Long band values
          val v = r.getLong(2) % meta.nBuckets
          (if (v < 0) v + meta.nBuckets else v).toInt
        }.toSet.toSeq
        (local, bs)
      }
    // read the touched bucket DIRECTORIES directly instead of the
    // partitioned root with a filter: a root read runs partition
    // discovery over every bucket dir on every query — measured 10.6 s
    // for an 8-doc lookup against a 4096-bucket ×100 index, all of it
    // listing overhead that grows with the BUCKET COUNT (the knob that
    // must grow with the corpus). Direct paths list only the touched
    // buckets, so lookup metadata cost tracks the increment. One
    // listStatus of the root (a single FS call) maps which buckets
    // exist — a touched bucket with no corpus rows has no dir.
    val existing: Set[Int] = {
      val root = new org.apache.hadoop.fs.Path(bandsDirOf(dir))
      root.getFileSystem(s.sessionState.newHadoopConf())
        .listStatus(root).iterator.map(_.getPath.getName)
        .filter(_.startsWith("bvb=")).map(_.stripPrefix("bvb=").toInt).toSet
    }
    val paths = touched.filter(existing).map(b => s"${bandsDirOf(dir)}/bvb=$b")
    val corpusBands =
      if (touched.size == meta.nBuckets)
        // saturated bucket set (wide batch / backfill fallback): one
        // root read beats enumerating every bucket dir as its own path
        readBandRows(s, dir)
          .select(col("doc_id"), col("band_idx"), col("band_val"))
      else if (paths.isEmpty) readBandRows(s, dir).filter(lit(false))
          .select(col("doc_id"), col("band_idx"), col("band_val"))
      else {
        import org.apache.spark.sql.types._
        s.read.schema(StructType(Seq(
            StructField("doc_id", LongType),
            StructField("band_idx", IntegerType),
            StructField("band_val", LongType))))
          .parquet(paths: _*)
      }
    (incBands, corpusBands, meta)
  }

  /** Cross-document repeated-SPAN statistics — the span-grain face of
    * dedup (suffix-array-style "this 3-token span also appears verbatim
    * in another document"), the signal behind span-level train-data
    * dedup à la Lee et al.'s substring deduplication.
    *
    * Unit of account is the span OCCURRENCE (every position, repeats
    * included — unlike the distinct-shingle grain the Jaccard family
    * uses): a doc that repeats a cross-document span 5 times has 5
    * duplicated spans. A span occurrence is "duplicated" iff its 60-bit
    * shingle id appears in ≥ 2 DISTINCT documents; within-doc-only
    * repetition is doc_repetition's business, not this operator's.
    *
    * Scale shape: one explode to (doc_id, sh) occurrence rows, a
    * distinct+count to build the cross-document span index (at 100 TB
    * this index is the precomputed artifact, exactly like the exact-dedup
    * content index), then ONE semi-join of occurrences against it. No
    * pair generation anywhere, so a stop-phrase span in 10 % of the
    * corpus costs its row count, never df² — this operator needs no skew
    * guard by construction. Docs shorter than k tokens have no spans and
    * are absent from the output (documented contract). */
  /** Every k-token span occurrence: (doc_id, pos, sh) — pos is the
    * 0-based token index the span starts at. */
  private[operators] def spanOccurrences(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), T.tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"),
        posexplode(T.shingleIds(col("ths"), k)).as(Seq("pos", "sh")))

  /** Shingle ids present in ≥ 2 distinct documents — the cross-document
    * span index (the precomputable artifact at 100 TB). */
  private[operators] def crossDocSpanIndex(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"), col("sh")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("sh"))

  def spanDupStats(docs: DataFrame, k: Int = 3): DataFrame = {
    val spans = spanOccurrences(docs, k)
    val crossDocSpans = crossDocSpanIndex(spans)
    val perDoc = spans.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val dupPerDoc = spans.join(crossDocSpans, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    perDoc.join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ratio", col("n_dup_spans") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** Span-level dedup as a TRANSFORM: remove every token covered by a
    * cross-document duplicated k-span, keeping the rest of the document —
    * the Lee-et-al-style substring-dedup rewrite ([[spanDupStats]] is the
    * detection half; this is the removal half). A token at index i is
    * dropped iff some duplicated span starts at s ∈ [i−k+1, i] in its
    * document; untouched documents pass through verbatim.
    *
    * Shape: the same one explode + index semi-join as the stats op, then
    * the duplicated START POSITIONS come back to the document as one
    * sorted int array (bounded by tokens-per-doc) and the rewrite is
    * per-row codegen'd array work in the scan stage — filter-with-index
    * over the token array, no second shuffle. Output: (doc_id, n_tokens,
    * n_kept, text_scrubbed), one row per input document. */
  def scrubDupSpans(docs: DataFrame, k: Int = 3): DataFrame = {
    val spans = spanOccurrences(docs, k)
    val starts = spans.join(crossDocSpanIndex(spans), Seq("sh"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("dup_starts"))
    val toks = T.tokens(col("text"))
    val ds = coalesce(col("dup_starts"), array().cast("array<int>"))
    val kept = filter(toks, (x, i) =>
      !exists(ds, s => s <= i && i <= s + (k - 1)))
    docs.join(starts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", kept).as("text_scrubbed"))
      .orderBy(col("doc_id"))
  }

  private val lastGuardedShingles =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** One-slot cache for the semantic-dedup breaker's persisted
    * assignment — same discipline as [[lastGuardedShingles]]. */
  private val lastSemanticAsg =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  /** The skew-guard cutoff heuristic: max(16, 0.4 % of the corpus). At
    * sf0.1 this actively drops the df 21–25 shingle tail while every
    * qualifying pair still shares a df ≤ 10 shingle (measured). */
  def autoDfCutoff(docs: DataFrame): Long = autoDfCutoffFor(docs.count())

  /** [[autoDfCutoff]] as a pure function of the corpus size — the ONE
    * formula, shared with the components artifact's drift detection,
    * which must recompute the cutoff a cold rebuild WOULD use over the
    * appended corpus (the cutoff grows with n, so append-to-cold
    * equality can break in both directions; see
    * ComponentsArtifact.appendComponentsArtifact). */
  def autoDfCutoffFor(nDocs: Long): Long = math.max(16L, (nDocs * 0.004).toLong)

  /** Document pairs with k-shingle Jaccard ≥ threshold.
    *
    * EXACT by default (dfCutoff = None): candidate pairs come straight
    * from the shingle-id equi-join.
    *
    * `dfCutoff = Some(c)` arms the skew guard for hostile corpora: a
    * ubiquitous shingle (df docs carrying it) contributes df·(df−1)/2 join
    * rows on ONE key — a stop-shingle in 10 % of a 10⁹-doc corpus would be
    * a 10¹⁶-row hot key. Shingles with document frequency above the cutoff
    * are excluded from the pair-generating self-join; their contribution
    * to each surfaced pair's intersection is ADDED BACK by joining the
    * pair list against the hot-shingle rows alone (a bounded correction:
    * |pairs| × hot shingles per doc, never df² — measured at parity with
    * the unguarded join at sf0.1, where the naive candidates-then-reverify
    * shape was 8× slower). Every surfaced pair is scored on its FULL
    * shingle sets; the only deviation from exact output is a pair whose
    * EVERY shared shingle is hot — jaccard dominated by stop-phrases, the
    * pairs a near-dup pass should not surface anyway. The guard is opt-in
    * precisely because that deviation exists: exactness is the default
    * contract, scale hostility is the caller's call ([[autoDfCutoff]]). */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
      dfCutoff: Option[Long] = None, sorted: Boolean = true): DataFrame = {
    // In the GUARDED path the shingle frame feeds an EAGER job (the hot-df
    // collect) plus the self-join, per-doc sizes, and both hot-side
    // probes — persist it so the eager pass doubles as cache fill and the
    // later references read blocks instead of re-deriving from raw text
    // (~10-20% off the guarded queries; at 100 TB the same artifact is
    // written bucketed-by-shingle once per corpus snapshot, see
    // shingleRows docs). The EXACT path stays unpersisted: its references
    // dedup through exchange reuse within the one lazy query, and
    // measured on the pagerank-over-pairs composition a forced cache was
    // 2.5× SLOWER than recompute (cache-read amplification across the
    // many pair-pipeline references).
    val shRaw = shingleRows(docs, k)
    val sh =
      if (dfCutoff.isDefined) {
        val p = shRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // one live guarded-shingle cache per JVM: repeated calls in a
        // long session would otherwise pin every call's frame forever;
        // dropping the previous call's blocks only degrades a still-held
        // old result to recompute (lineage kept), never breaks it
        Option(lastGuardedShingles.getAndSet(p)).foreach(_.unpersist(false))
        p
      } else shRaw
    pairsFromShingles(sh, threshold, dfCutoff, sorted = sorted)
  }

  /** [[ngramJaccardPairs]]' pair pipeline over an EXPLICIT shingle frame
    * — the artifact build hands in its freshly-WRITTEN parquet index
    * (derive once, read everywhere: the 8-byte (doc_id, sh) grain scans
    * cheaper than re-shingling raw text, and at 100 TB the index is the
    * only thing the pair join ever reads). Semantics identical to the
    * docs-frame entry point by construction. */
  private[graft] def pairsFromShingles(sh: DataFrame, threshold: Double,
      dfCutoff: Option[Long], dfTable: Option[DataFrame] = None,
      sorted: Boolean = true): DataFrame = {
    val inter = dfCutoff match {
      case None =>
        sh.as("a").join(sh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
          .agg(count(lit(1)).as("inter"))
      case Some(cutoff) =>
        // The hot list is collected driver-side: it is by construction the
        // df tail above the cutoff (stop-phrase shingles — a handful), it
        // was going to be broadcast anyway, and collecting it (a) runs the
        // df aggregation ONCE instead of twice (Catalyst re-executes a
        // DataFrame branch per reference — rare/hot previously each paid
        // it), and (b) makes the guard's reach observable: the excluded-
        // shingle count is logged per the no-silent-caps discipline. The
        // require() keeps an adversarial corpus from melting the driver.
        val spark = sh.sparkSession
        import spark.implicits._
        val maxHot = 1000000
        // a caller that already aggregated the per-shingle df (the
        // artifact cold build derives hot/ and the drift floor from the
        // same table) passes it in so the full-index shuffle runs once
        val hotIds = dfTable
          .getOrElse(sh.groupBy("sh").agg(count(lit(1)).as("df")))
          .filter(col("df") > cutoff).select(col("sh"))
          .limit(maxHot + 1).as[Long].collect()
        require(hotIds.length <= maxHot,
          s"skew guard: more than $maxHot shingles above df cutoff $cutoff — raise the cutoff")
        if (hotIds.nonEmpty)
          System.err.println(
            s"[dedup] skew guard armed: ${hotIds.length} hot shingle(s) above df " +
            s"cutoff $cutoff excluded from candidate generation (intersection " +
            "contribution re-added per surfaced pair)")
        val hotLocal = hotIds.toSeq.toDF("sh")
        val rareSh = sh.join(broadcast(hotLocal), Seq("sh"), "left_anti")
        val hotSh = sh.join(broadcast(hotLocal), Seq("sh"), "left_semi")
        val interRare = rareSh.as("a").join(rareSh.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
          .agg(count(lit(1)).as("inter_rare"))
        // hot contribution re-added INLINE from per-doc hot-shingle
        // ARRAYS (each bounded by the doc's own shingle count): two
        // candidate-volume left joins + array_intersect replace the old
        // row-explosion shape (candidates × hot-per-doc rows through
        // two joins, a re-aggregation and a join-back) — same counts by
        // construction, measured 3-4× off the guarded pairs phase on
        // the hot-set scale probe (every doc carrying 4 hot shingles:
        // build ×10 23.7 → ~10 s class). Arrays, not bitmasks: the hot
        // set is globally capped at maxHot, not at 64.
        // sort_array at DOC grain so the per-PAIR intersect is the
        // allocation-free two-pointer count (SortedIntersectCountLong)
        // instead of array_intersect's per-row hash set — the set churn
        // under candidate-volume array rows OOM'd an 8 GB heap at 160
        // hot shingles/doc (SCALE.md round-16 third wave)
        val docHot = hotSh.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("sh"))).as("hs"))
        interRare
          .join(docHot.as("ha"), col("i") === col("ha.doc_id"), "left")
          .join(docHot.as("hb"), col("j") === col("hb.doc_id"), "left")
          .select(col("i"), col("j"),
            (col("inter_rare") + coalesce(
              graft.expressions.ArrayExprs.sorted_intersect_count(
                col("ha.hs"), col("hb.hs")),
              lit(0L))).as("inter"))
    }
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val out = inter
      .join(sizes.as("sa"), col("i") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("j") === col("sb.doc_id"))
      .withColumn("jaccard", col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("i"), col("j"), col("inter"), col("jaccard"))
    // `sorted = false` skips the deterministic-output global sort for
    // consumers that use the pairs as an EDGE SET (the components
    // artifact's build/append): a range-partitioning exchange costs its
    // own sampling job per execution on top of the sort (optimization
    // round r16; guide §2.4 — "an orderBy used only to make output
    // deterministic"). Declared queries keep the default: their row
    // order is part of the hash-gated contract.
    if (sorted) out.orderBy(col("i"), col("j")) else out
  }

  /** Public face of [[shingleRows]]: the distinct (doc_id, sh) k-shingle
    * index of a corpus — the PERSISTED artifact incremental near-dup
    * maintenance rides (written bucketed by `sh` at 100 TB; every
    * increment equi-joins its own shingles against it instead of
    * re-shingling the corpus). */
  def shingleIndex(docs: DataFrame, k: Int = 3): DataFrame = shingleRows(docs, k)

  /** Incremental [[ngramJaccardPairs]]: every pair with at least one
    * endpoint in `increment` — increment×corpus AND increment-internal —
    * under the corpus SNAPSHOT's guard decisions, computed from the
    * persisted index without ever re-pairing the corpus.
    *
    * Inputs are the snapshot artifacts: `corpusShingles` = the full
    * [[shingleIndex]]; `corpusSizes` = (doc_id, n) distinct-shingle
    * counts; `hotShingles` = the shingles the snapshot's df cutoff cut
    * from candidate generation (possibly empty). The cut set is FIXED
    * snapshot metadata: an increment that pushes a previously-rare
    * shingle over the cutoff does NOT re-cut it here (re-evaluated at
    * the next full snapshot rebuild — the compaction step), which is
    * what makes the incremental result EQUAL to a cold
    * [[ngramJaccardPairs]] over corpus∪increment whenever the union's
    * hot set matches the snapshot's (spec-pinned in ComponentsIncrSpec).
    *
    * Shape mirrors the guarded cold path exactly: candidates from RARE
    * shingle equi-joins only (increment-side shingles against the corpus
    * index, plus the increment self-join — never corpus×corpus), hot
    * intersection contribution re-added per surfaced pair, jaccard from
    * FULL per-doc sizes. Cost tracks |increment| and the index buckets
    * it touches. doc_ids of the two frames must be disjoint (same
    * contract as [[incrementalNearDups]]).
    *
    * `pruneVerifyByCandidates` (round-15, default off — declared plans
    * untouched): collect the bounded candidate set once and semi-join
    * the verify inputs (hotAll, sizes) down to candidate docs before
    * the heavy shapes — killing the per-append corpus-scale docHot
    * shuffle on hot-heavy corpora; over-cap candidate sets fall back to
    * the distributed tail. Output-identical either way (the pruned rows
    * are exactly those the verify joins drop; spec-pinned). The
    * artifact append decides it ADAPTIVELY from the meta-derived
    * hot-volume lower bound (round 16: a measured loss at 2M hot rows
    * but a 4× win at 80M — SCALE.md third wave), with an explicit
    * parameter still forcing it on. */
  def incrementalNgramPairs(increment: DataFrame, corpusShingles0: DataFrame,
      corpusSizes: DataFrame, hotShingles: DataFrame, k: Int = 3,
      threshold: Double = 0.5,
      pruneVerifyByCandidates: Boolean = false,
      sorted: Boolean = true): DataFrame = {
    // normalize to the (doc_id, sh) grain: the persisted index is
    // bucketed by a derived `shb` partition column at rest (layout
    // _idx6), and that column must neither widen the joins below nor
    // break the hotAll union's schema — callers may pass the raw read
    // (possibly pre-pruned to the touched buckets, which composes with
    // this projection)
    val corpusShingles = corpusShingles0.select(col("doc_id"), col("sh"))
    val incSh = shingleRows(increment, k)
    val incSizes = incSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val incRare = incSh.join(broadcast(hotShingles), Seq("sh"), "left_anti")
    // the artifact append passes the corpus side already semi-joined to
    // the increment's rare shingles at the scan, so its corpus shuffle
    // carries only rows that can match
    val corpusRare = corpusShingles.join(broadcast(hotShingles), Seq("sh"), "left_anti")
    // increment×corpus candidates: one hash join per shared rare shingle;
    // least/greatest normalizes to the cold build's i < j orientation
    val xc = incRare.as("a").join(corpusRare.as("b"), col("a.sh") === col("b.sh"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
    // increment-internal candidates (the small² self-join)
    val xi = incRare.as("a").join(incRare.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    val interRare = xc.union(xi)
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("inter_rare"))
    // hot contribution re-added for surfaced candidates only, INLINE
    // from per-doc hot-shingle arrays (bounded: |candidates| rows
    // joined against doc-grain arrays — the same no-explosion shape as
    // the cold guard; the old candidates × hot-rows join + re-agg +
    // join-back paid three extra candidate-volume shuffles)
    val hotAll = corpusShingles.join(broadcast(hotShingles), Seq("sh"), "left_semi")
      .union(incSh.join(broadcast(hotShingles), Seq("sh"), "left_semi"))
    val sizes = corpusSizes.union(incSizes)
    def verifyTail(inter: DataFrame, hotAllT: DataFrame,
        sizesT: DataFrame): DataFrame = {
      // sorted arrays + the two-pointer intersect count: same counts as
      // array_intersect (distinct semantics), zero per-row allocation —
      // see the cold guard's docHot for the measured OOM this avoids
      val docHot = hotAllT.groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("sh"))).as("hs"))
      inter
        .join(docHot.as("ha"), col("i") === col("ha.doc_id"), "left")
        .join(docHot.as("hb"), col("j") === col("hb.doc_id"), "left")
        .select(col("i"), col("j"),
          (col("inter_rare") + coalesce(
            graft.expressions.ArrayExprs.sorted_intersect_count(
              col("ha.hs"), col("hb.hs")),
            lit(0L))).as("inter"))
        .join(sizesT.as("sa"), col("i") === col("sa.doc_id"))
        .join(sizesT.as("sb"), col("j") === col("sb.doc_id"))
        .withColumn("jaccard", col("inter") / (col("sa.n") + col("sb.n") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("i"), col("j"), col("inter"), col("jaccard"))
    }
    // edge-set consumers (the artifact append) skip the deterministic
    // global sort — same rationale as [[pairsFromShingles]]' flag
    def ordered(df: DataFrame): DataFrame =
      if (sorted) df.orderBy(col("i"), col("j")) else df
    if (!pruneVerifyByCandidates) ordered(verifyTail(interRare, hotAll, sizes))
    else {
      // CANDIDATE-PRUNED VERIFY (round-15, the serving-append shape):
      // the default verify tail pays two corpus-scale terms per call —
      // docHot's groupBy shuffles EVERY hot corpus row (O(corpus) on a
      // boilerplate-heavy corpus: the hot probe's measured +2.6 s at
      // ×100, unbounded at 10¹¹ docs), and the sizes joins carry the
      // full per-doc table — although only CANDIDATE docs' rows ever
      // survive the joins. When the candidate set is bounded (the
      // hourly-append case; cap shared with the stored-verify path),
      // collect it once, verify against a LocalRelation, and semi-join
      // hotAll/sizes down to candidate docs BEFORE the heavy shapes —
      // output-identical by construction (the pruned rows are exactly
      // those the joins were about to drop; spec-pinned both shapes).
      // An over-cap candidate set (backfill regime) falls back to the
      // distributed tail, where candidate-volume terms dwarf these.
      // The residual corpus term is the sizes/hotAll SCAN feeding the
      // semi-joins (column-pruned read, no shuffle under the broadcast
      // id set) — removing the scan too needs id-partitioned sizes at
      // rest (the CorpusStore treatment), documented in SCALE.md.
      val s = increment.sparkSession
      val pairCap = confCap(s, "graft.dedup.candidatePairCollectMaxRows",
        CandidatePairCollectMaxRows)
      val head = interRare.head(pairCap.toInt + 1)
      if (head.length > pairCap) ordered(verifyTail(interRare, hotAll, sizes))
      else {
        import scala.jdk.CollectionConverters._
        import s.implicits._
        val interLocal = s.createDataFrame(head.toSeq.asJava, interRare.schema)
        val ids = head.iterator
          .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSeq.distinct
        val idsDf = broadcast(ids.toDF("doc_id"))
        ordered(verifyTail(interLocal,
          hotAll.join(idsDf, Seq("doc_id"), "left_semi"),
          sizes.join(idsDf, Seq("doc_id"), "left_semi")))
      }
    }
  }

  /** Per-document MinHash signature (MinhashK portable hashes). Token and
    * shingle hashes are materialized as intermediate columns so each is
    * computed exactly once per document (Catalyst does not CSE lambda
    * subexpressions across the MinhashK aggregate branches). */
  def minhashSignatures(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(col("doc_id"), T.tokenHashes(col("text")).as("ths"))
      .select(col("doc_id"), T.shingleHashes(col("ths"), k).as("shs"))
      // a doc with NO k-shingles (null text, < k tokens) has no defined
      // signature: the min over an empty set is a sentinel, the band
      // packing s1*HashMod + s2 overflows on it, and the oracle's
      // Long.MaxValue seed would leak into sigs — absent on BOTH engines
      // (dSigCtes mirrors this with len(shs) > 0)
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), T.minhashSigFromHashes(col("shs")).as("sig"))

  /** MinHash-LSH dedup: band-join candidates, then exact-Jaccard verify —
    * but Jaccard is computed ONLY for candidate pairs (shingle rows are
    * semi-joined down to candidate docs first), which is the entire point
    * of LSH at scale: verification cost follows the candidate count, not
    * the corpus pair count. Returns verified pairs ≥ threshold (subset of
    * ngramJaccardPairs limited to LSH candidates). */
  def minhashPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.5,
      sorted: Boolean = true): DataFrame =
    verifyJaccard(bandCandidates(bandIndex(docs, k)), shingleRows(docs, k),
      threshold, sorted = sorted)

  /** Candidate (i, j) pairs from the LSH band index: equi-join on
    * (band_idx, band_val), i < j, distinct. THE single definition of
    * candidate generation — the production pair list and the quality
    * eval must measure the same scheme. */
  private[operators] def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
        col("a.band_val") === col("b.band_val") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()

  /** Per-pair MinHash accuracy audit: for every verified near-dup pair,
    * the signature-based Jaccard estimate (matching components / K)
    * next to the exact Jaccard and the absolute error — the sketch
    * side's number a pipeline would use when it skips verification, put
    * directly against ground truth. Estimates are a pure function of the
    * deterministic signatures, so the full values sit under the
    * cross-engine hash gate. One extra broadcast-sized join per side on
    * top of [[minhashPairs]]; the zip-compare is codegen'd array work. */
  def minhashEstimates(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // unsorted: the sig joins below destroy order and the query applies
    // its own terminal orderBy; EliminateSorts was already removing the
    // inner sort here (r16 plan dumps) — flag kept for explicitness
    val pairs = minhashPairs(docs, k, threshold, sorted = false)
    val sigs = minhashSignatures(docs, k)
    pairs
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_a")), Seq("i"))
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_b")), Seq("j"))
      .select(col("i"), col("j"), col("jaccard"),
        (graft.expressions.ArrayExprs.count_equal_long(col("sig_a"), col("sig_b"))
          / lit(T.MinhashK.toDouble)).as("est_jaccard"))
      .withColumn("abs_err", abs(col("jaccard") - col("est_jaccard")))
      .orderBy(col("i"), col("j"))
  }

  /** Dedup-path quality measurement — the [[minhashPairs]] analog of the
    * ANN recall eval: how much of the exact ≥-threshold pair set does the
    * banding scheme actually surface on THIS corpus, and how selective is
    * candidate generation? One summary row:
    * `pair_recall` = verified LSH pairs / exact pairs (verification
    * discharges false candidates, so precision of the OUTPUT is 1 by
    * construction — the interesting loss is banding recall);
    * `candidate_precision` = verified / candidates (the fraction of
    * band-join work that produced a real pair — the LSH economics knob).
    * All five numbers are deterministic, so the full row sits under the
    * cross-engine hash gate. */
  def minhashEval(docs: DataFrame, k: Int = 3, threshold: Double = 0.5): DataFrame = {
    // count-only consumer: EliminateSorts already drops a sort directly
    // under agg(count) (verified in the r16 plan dumps), so this flag is
    // explicit-belt-and-braces, not a plan change — unlike the persisted
    // artifact paths and pageRank, where the sort really executed
    val truth = ngramJaccardPairs(docs, k, threshold, sorted = false)
    val candidates = bandCandidates(bandIndex(docs, k))
    val verified = verifyJaccard(candidates, shingleRows(docs, k), threshold,
      sorted = false) // count-only consumer
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(candidates.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .select(col("n_true_pairs"), col("n_candidates"), col("n_verified"),
        // a corpus with no qualifying pairs / no candidates has undefined
        // recall/precision: report null EXPLICITLY on both engines (Spark's
        // x/0 yields null already, but DuckDB's raises — the oracle pairs
        // these with nullif guards so the empty corpus stays hash-exact)
        when(col("n_true_pairs") === 0, lit(null).cast("double"))
          .otherwise(col("n_verified") / col("n_true_pairs")).as("pair_recall"),
        when(col("n_candidates") === 0, lit(null).cast("double"))
          .otherwise(col("n_verified") / col("n_candidates")).as("candidate_precision"))
  }

  /** Connected components over a near-duplicate pair list: every document
    * that appears in a pair gets its component's minimum doc_id as
    * `cluster_id` — the canonical survivor a dedup pipeline keeps (drop
    * rows where doc_id ≠ cluster_id).
    *
    * Iterative min-label propagation: each round every node takes the min
    * of its own label and its neighbors' labels, until a fixpoint — the
    * join/aggregate steps are fully distributed, the driver only runs the
    * convergence loop (converges in O(component diameter) rounds; near-dup
    * components are short chains in practice). Parquet checkpoints every
    * `checkpointEvery` rounds bound the lineage/plan depth for
    * long-diameter graphs — the standard Spark discipline for iterative
    * algorithms. The fixpoint (per-node component minimum) is independent
    * of iteration order, so the output is deterministic and a
    * recursive-CTE oracle reproduces it exactly.
    *
    * Hybrid execution: the duplicate-pair list is orders of magnitude
    * smaller than the corpus (it is the OUTPUT of candidate generation +
    * verification), so up to `maxDriverEdges` pairs a driver-side
    * union-find beats Spark's per-round scheduling overhead outright
    * (measured: 512 edges took 12 s as distributed rounds, milliseconds
    * as union-find) — the same bounded-aggregate economics as collecting
    * AQE statistics. Past the bound, the distributed min-label rounds take
    * over; both paths compute the identical fixpoint. */
  /** Survivor-selection POLICY over near-dup clusters: keep the
    * HIGHEST-SCORING document of each cluster (quality-aware dedup)
    * instead of the min-id default — the policy production pipelines
    * actually want ("drop duplicates, keep the best copy"). Singleton
    * docs (absent from `clusters`) form their own cluster and are kept.
    * Ties break by doc_id, so the winner is a total-order pick on any
    * engine. One left join + one keyed window (clusters are tiny and
    * singletons are unique keys, so the window has no hot partition).
    * Output: (doc_id, cluster_id, score, kept) at doc grain — filter
    * `kept` for the surviving corpus, or audit the losers per cluster. */
  def keepBestSurvivors(docs: DataFrame, clusters: DataFrame,
      score: org.apache.spark.sql.Column): DataFrame = {
    val scored = docs.select(col("doc_id"), score.as("score"))
    val withCluster = scored.join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"), col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    withCluster
      .withColumn("kept", org.apache.spark.sql.functions.row_number().over(w) === 1)
      .orderBy(col("doc_id"))
  }

  def components(pairs: DataFrame, maxDriverEdges: Long = 5000000L,
      checkpointEvery: Int = 3,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    // persist (NOT localCheckpoint) materializes the expensive upstream
    // pair pipeline once for the path-deciding count and whichever path
    // follows, while KEEPING lineage — a lost executor recomputes its
    // blocks instead of hard-failing the job, which matters in the
    // spot/preemption regime this engine targets
    val narrow = pairs.select(col("i").cast("long"), col("j").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (narrow.count() <= maxDriverEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected = narrow.collect()
      narrow.unpersist(false)
      collected.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        // union by min: the smaller root stays the root, so the final
        // root of every component IS its minimum doc_id
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = collected.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      import spark.implicits._
      return nodes.toSeq.map(n => (n, find(n))).toDF("doc_id", "cluster_id")
        .orderBy(col("doc_id"))
    }
    // no persist on the symmetric edge frame (ADVICE r12): the
    // distributed path parquets it ONCE at loop entry and every round
    // reads the parquet copy, so a cache fill here is dead weight on
    // exactly the >maxDriverEdges graphs this path serves. `narrow`
    // stays cached through that one-shot write (its second and last
    // consumer after the count) and is unpersisted inside.
    componentsDistributed(spark, narrow, checkpointEvery, checkpointDir)
  }

  private[graft] def rmdir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmdir)); f.delete(); ()
  }

  /** Exit-time cleanup actions for checkpoint dirs the returned
    * DataFrames still read from — removable only at JVM exit. ONE
    * process-level hook drains the registry, so repeated component runs
    * add an entry here, not a hook thread each. Entries are thunks (not
    * Files) so callers whose scratch lives on a Hadoop filesystem —
    * componentsDistributed's shared-storage checkpoint root — clean up
    * through the FileSystem API, not local-only java.io (VERDICT r12).
    * Shared with the other iterative operators (Bpe's distributed rounds). */
  private[operators] lazy val cleanupAtExit: java.util.Queue[() => Unit] = {
    val q = new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var f = q.poll(); while (f != null) { f(); f = q.poll() }
    }))
    q
  }

  /** Distributed min-label rounds for past-the-driver-bound graphs.
    *
    * One job per round: the convergence count rides the same action as the
    * label materialization via `observe` (the old shape re-joined old vs
    * new labels — a second job per round). Per-round persist keeps lineage
    * (a lost executor recomputes its blocks); every `checkpointEvery`
    * rounds the labels are written to Parquet and re-read, truncating the
    * lineage a long-diameter adversarial chain would otherwise grow
    * without bound (plan depth stays O(checkpointEvery)). On exit every
    * cached block is unpersisted and the result is returned disk-backed
    * from the final checkpoint — repeated calls in a long-lived session
    * accumulate no cached blocks; intermediates (edges, superseded round
    * checkpoints) are deleted eagerly, and the final-labels parquet dir
    * (which the returned DataFrame reads from, so it cannot be deleted
    * here) is removed by a JVM shutdown hook.
    *
    * `checkpointDir` is where the round-trip storage lives (VERDICT
    * r12): on a real cluster the executors and the driver share no
    * local disk, so the per-round parquet re-root REQUIRES shared
    * storage — pass an HDFS/S3A root there. The None default keeps the
    * local-tmpdir behavior this engine's local[32] contract runs on
    * (pinned `file:` scheme, so a cluster-side fs.defaultFS never
    * silently re-routes the default). All writes/deletes go through
    * the Hadoop FileSystem API either way. */
  private def componentsDistributed(spark: org.apache.spark.sql.SparkSession,
      narrow: DataFrame, checkpointEvery: Int,
      checkpointDir: Option[String]): DataFrame = {
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val hconf = spark.sessionState.newHadoopConf()
    val runName = s"graft_cc_${java.util.UUID.randomUUID().toString.take(8)}"
    val ckptRoot = checkpointDir match {
      case Some(root) => new org.apache.hadoop.fs.Path(root, runName)
      case None => new org.apache.hadoop.fs.Path(
        new java.io.File(System.getProperty("java.io.tmpdir"), runName).toURI)
    }
    def drop(p: org.apache.hadoop.fs.Path): Unit = {
      p.getFileSystem(hconf).delete(p, true); ()
    }
    cleanupAtExit.add(() => drop(ckptRoot))
    // ITERATIVE LOOPS MUST TRUNCATE THE LOGICAL PLAN, not just cache
    // data (the ×10 forced-distributed probe found this the hard way):
    // persist substitutes cached blocks at PHYSICAL planning, but every
    // round's LOGICAL plan still carries the full prior lineage, so
    // analyzer/cache-lookup work grows per round (measured 15 s/round
    // on a 700k-edge chain graph with the old checkpointEvery=10 that
    // never fired inside 8 rounds) and the accumulated plan + cache
    // state OOM'd the driver at 8M nodes. Two remedies, both here:
    // the edge list is written to parquet ONCE so every round's join
    // reads a flat scan (the upstream pair pipeline can be arbitrarily
    // deep), and the label table checkpoints every 3 rounds (default)
    // instead of 10 — bounded plan depth, bounded cached copies.
    // Post-fix: ~1 s/round at the same ×1 probe, ×10 no longer OOMs.
    // The symmetric union is built HERE from the caller's cached narrow
    // frame — this write is its materialization (no second cache fill
    // of the doubled edge list, ADVICE r12), and narrow is released the
    // moment the parquet copy exists.
    val edgesDir = new org.apache.hadoop.fs.Path(ckptRoot, "edges")
    narrow.select(col("i").as("a"), col("j").as("b"))
      .union(narrow.select(col("j").as("a"), col("i").as("b")))
      .write.mode("overwrite").parquet(edgesDir.toString)
    narrow.unpersist(false)
    val e = spark.read.parquet(edgesDir.toString)
    var labels = e.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node")).persist(lvl)
    var lastCkpt: Option[org.apache.hadoop.fs.Path] = None
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val tRound = System.nanoTime()
      val neighborMin = e.join(labels, e("b") === labels("node"))
        .groupBy(e("a")).agg(min(col("lbl")).as("nlbl"))
      val obs = org.apache.spark.sql.Observation(s"cc_r$round")
      val updated = labels.join(neighborMin, labels("node") === neighborMin("a"), "left")
        .select(col("node"), col("lbl").as("_old"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .observe(obs, sum(when(col("lbl") =!= col("_old"), 1L).otherwise(0L)).as("changed"))
        .select(col("node"), col("lbl"))
      val prev = labels
      if (round % checkpointEvery == 0) {
        val dir = new org.apache.hadoop.fs.Path(ckptRoot, s"r$round")
        updated.write.mode("overwrite").parquet(dir.toString)
        labels = spark.read.parquet(dir.toString)
        lastCkpt.foreach(drop)
        lastCkpt = Some(dir)
      } else {
        labels = updated.persist(lvl)
        labels.count()
      }
      prev.unpersist(false)
      // sum() over an empty node set is null → converged trivially
      changed = Option(obs.get("changed"))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
      System.err.println(f"[components] dist round $round%2d: " +
        f"changed=$changed%d ${(System.nanoTime() - tRound) / 1e9}%5.2f s")
    }
    val outDir = new org.apache.hadoop.fs.Path(ckptRoot, "final")
    labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .write.mode("overwrite").parquet(outDir.toString)
    labels.unpersist(false)
    // eager intermediate cleanup: the final labels never re-read the
    // edge parquet or the superseded round checkpoint — only `final/`
    // must outlive the call (the returned frame reads it; exit hook)
    lastCkpt.foreach(drop)
    drop(edgesDir)
    spark.read.parquet(outDir.toString).orderBy(col("doc_id"))
  }

  /** The dedup pipeline's terminal step: documents minus non-canonical
    * duplicates. A doc survives iff it is its own cluster survivor or
    * belongs to no near-dup cluster — an anti-join on the (tiny relative
    * to the corpus) duplicate list, so the full-width document rows are
    * never shuffled by anything but this one semi/anti hash join. */
  def survivors(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_id")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** Per-document SimHash fingerprint (token hashes materialized once). */
  def simhashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), T.tokenHashes(col("text")).as("phs"))
      .select(col("doc_id"), T.simhashFromHashes(col("phs")).as("simhash"))

  /** Pairs whose 62-bit SimHash Hamming distance ≤ maxDist, exactly — via
    * the pigeonhole band trick: fingerprints within distance d agree on at
    * least one of d+1 disjoint bit bands, so band equi-joins produce a
    * candidate superset with ZERO recall loss, and the cheap bit_count
    * filter verifies. No O(n²) nested-loop compare; (band_idx, band_val)
    * is the shuffle key, which is how this runs on 10^10 documents.
    *
    * Band cardinality is the scale knob: maxDist 1 → two 31-bit bands
    * (2^31 values — never a hot key); maxDist 3 → four 15/16-bit bands
    * (≥ 2^15; workable to ~10^8 docs, beyond that prefer a wider
    * fingerprint or two-stage banding). The old 30-bit fingerprint capped
    * halves at 2^15 values, quadratic at web scale — hence 62 bits. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 1): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7, "band split supports maxDist <= 7")
    val bits = T.SimhashBits
    val nBands = maxDist + 1
    // band b covers `width` bits starting at its offset; first (bits mod
    // nBands) bands get the extra bit
    val widths = Seq.tabulate(nBands)(b => bits / nBands + (if (b < bits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val s = simhashes(docs)
    val bandCols = Seq.tabulate(nBands)(b =>
      shiftright(col("simhash"), offsets(b)).bitwiseAND(lit((1L << widths(b)) - 1L)))
    val bands = s.select(col("doc_id"), col("simhash"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
      .filter(col("hamming") <= maxDist)
      .select(col("i"), col("j"), col("hamming"))
      .orderBy(col("i"), col("j"))
  }

  /** Embedding near-duplicates, all-pairs: pairs with cosine ≥ threshold.
    * VERIFICATION-GRADE ONLY — the plan is a BroadcastNestedLoopJoin, O(n²)
    * pair evaluations; use it as the recall oracle in tests, never as the
    * declared dedup (that is [[embeddingNearDupsExact]], same output).
    * Norms are precomputed per row (not per pair) — bit-identical value
    * (same IEEE ops, just reused), 3× fewer array folds on the O(n²) side. */
  def embeddingNearDupsAllPairs(embeddings: DataFrame, threshold: Double = 0.45): DataFrame = {
    val withNorm = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"),
      sqrt(V.norm2(col("embedding"))).as("nrm"))
    withNorm.as("a").join(withNorm.as("b"), col("a.vec_id") < col("b.vec_id"))
      // project to narrow rows immediately: the 2×64-double arrays must not
      // ride through millions of intermediate pair rows
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        V.cosineRatio(V.dot(col("a.embedding"), col("b.embedding")), col("a.nrm") * col("b.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** Embedding near-duplicates, EXACT, without an all-pairs plan: identical
    * output to [[embeddingNearDupsAllPairs]] (100 % recall by construction),
    * but candidates come from an IVF-style cell-pair equi-join instead of a
    * BroadcastNestedLoopJoin.
    *
    * Shape: (1) bucket every vector into one of ≤ 2^nPlanes hyperplane
    * cells (map-side, native LshBands); (2) aggregate per-cell centroid and
    * max angular radius — a BOUNDED aggregate (cells × dims rows), the same
    * runtime-statistics economics as AQE, which is why collecting it on the
    * driver is sound; (3) prune cell PAIRS with the triangle inequality:
    * any x∈A, y∈B satisfies angle(x,y) ≥ angle(cA,cB) − rA − rB, so a cell
    * pair whose lower bound exceeds arccos(threshold) provably contains no
    * qualifying pair (a 1e-6 rad margin absorbs fp noise in the statistics,
    * keeping pruning strictly conservative); (4) join vectors to surviving
    * cell pairs — broadcast hash join on the cell id, narrow (id, cell)
    * rows only; (5) exact-verify candidate pairs with the same IEEE cosine
    * fold as the all-pairs op (vectors re-joined by vec_id, so wide arrays
    * never ride the candidate explosion).
    *
    * At 100 TB: pruning power tracks how clustered the corpus is — real
    * embedding corpora are heavily clustered, and pruned cell pairs cost
    * nothing downstream. Worst case (uniform vectors, loose threshold) the
    * candidate set degenerates toward all pairs, but it arrives through
    * shuffle-partitionable hash joins that AQE can split, never a nested
    * loop. Driver-side pruning is sized by require(nPlanes ≤ 12) — beyond
    * that, step (3) itself becomes a (tiny) distributed centroid join. */
  def embeddingNearDupsExact(embeddings: DataFrame, threshold: Double = 0.45,
      nPlanes: Int = 8): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 12,
      "driver-side cell-pair pruning is sized for <= 2^12 cells")
    val spark = embeddings.sparkSession
    def clip(x: Double) = math.max(-1.0, math.min(1.0, x))

    val withB = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"),
      sqrt(V.norm2(col("embedding"))).as("nrm"),
      V.lshBucket(col("embedding"), nPlanes).as("cell"))

    // (2) bounded cell statistics: centroid of unit vectors, then max
    // angle. Zero-norm vectors carry no direction: they are excluded from
    // the statistics (x/0 has no unit vector), and excluding them keeps
    // the triangle bound sound because their cosine against anything is
    // NULL and can never clear the verify threshold.
    val centSums = withB.filter(col("nrm") > 0.0)
      .select(col("cell"), posexplode(transform(col("embedding"), x => x / col("nrm")))
        .as(Seq("dim", "u")))
      .groupBy("cell", "dim").agg(sum("u").as("s"))
      .collect()
      .groupBy(_.getAs[Long]("cell")).map { case (cell, rows) =>
        val arr = new Array[Double](rows.map(_.getAs[Int]("dim")).max + 1)
        rows.foreach(r => arr(r.getAs[Int]("dim")) = r.getAs[Double]("s"))
        val n = math.sqrt(arr.map(x => x * x).sum)
        cell -> arr.map(_ / n)
      }
    val centDf = spark.createDataFrame(centSums.toSeq.map { case (c, v) => (c, v.toSeq) })
      .toDF("cell", "cent")
    val radii = withB.filter(col("nrm") > 0.0).join(broadcast(centDf), "cell")
      .select(col("cell"), (V.dot(col("embedding"), col("cent")) / col("nrm")).as("cosc"))
      .groupBy("cell").agg(min("cosc").as("mincos"))
      .collect()
      .map(r => r.getAs[Long]("cell") -> math.acos(clip(r.getAs[Double]("mincos"))))
      .toMap

    // (3) exact cell-pair pruning (ordered pairs ca <= cb, each pair once)
    val thetaT = math.acos(clip(threshold))
    val cells = centSums.keys.toSeq.sorted
    val kept = for {
      ai <- cells.indices
      bi <- ai until cells.size
      a = cells(ai); b = cells(bi)
      ang = math.acos(clip(centSums(a).zip(centSums(b)).map { case (x, y) => x * y }.sum))
      if ang - radii(a) - radii(b) <= thetaT + 1e-6
    } yield (a, b)
    val cellPairs = spark.createDataFrame(kept).toDF("ca", "cb")

    // (4) candidate generation on narrow (vec_id, cell) rows
    val keys = withB.select(col("vec_id"), col("cell"))
    val cand = keys.select(col("vec_id").as("ida"), col("cell").as("ca"))
      .join(broadcast(cellPairs), Seq("ca"))
      .join(keys.select(col("vec_id").as("idb"), col("cell").as("cb")), Seq("cb"))
      .filter(col("ca") < col("cb") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("i"), greatest(col("ida"), col("idb")).as("j"))

    // (5) exact verify — same IEEE fold as the all-pairs op, bit-identical
    cand
      .join(withB.as("va"), col("i") === col("va.vec_id"))
      .join(withB.as("vb"), col("j") === col("vb.vec_id"))
      .select(col("i"), col("j"),
        V.cosineRatio(V.dot(col("va.embedding"), col("vb.embedding")), col("va.nrm") * col("vb.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** Embedding near-duplicates via multi-band hyperplane LSH — the
    * APPROXIMATE scale path: band-explode (map-side, native LshBands) →
    * equi-join on (band, bucket) for candidates → exact cosine verify on
    * candidates only. Verification cost tracks the candidate count — the
    * same economics as [[minhashPairs]].
    *
    * Recall is tunable, not exact: a pair at angle θ collides in one
    * p-plane band with probability (1 − θ/π)^p, and in ≥ 1 of B bands with
    * 1 − (1 − (1−θ/π)^p)^B. The defaults (p=3, B=32) were MEASURED on the
    * synthetic testdata, whose planted pairs sit at cosine 0.45–0.60
    * (θ ≈ 53–63°, per-plane agreement only ~0.65–0.70): they catch
    * 142/144 pairs at sf0.1 and all pairs at sf0.01/sf0.001. No sign-LSH
    * configuration reaches 100 % at this threshold (p=3, B=512 still
    * misses 1 of 144 while generating 100× all-pairs candidates — swept
    * empirically), which is why the DECLARED exact dedup is
    * [[embeddingNearDupsExact]] and this operator is the knob for the
    * near-dup regime: at a production dedup threshold (cosine ≥ 0.9,
    * per-plane agreement 0.857) p = 16–20 gives ≥ 2^16 buckets per band
    * and B ≈ 60 bands a < 1e-4 miss rate — sub-quadratic candidates with
    * scale-safe band cardinality. */
  /** Semantic near-duplicates, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with deterministic
    * k-means ([[KMeans.lloyd]]), then compare pairs ONLY within a cluster —
    * the clustering is the blocking structure that keeps the quadratic
    * pair generation off the full corpus.
    *
    * Unlike [[embeddingNearDupsExact]] (exact by construction) this is the
    * scale-default APPROXIMATE semantic dedup: a near-dup pair split across
    * two clusters is missed, which SemDeDup accepts by design — semantic
    * duplicates are overwhelmingly co-clustered because the clustering
    * objective and the similarity measure are the same geometry.
    *
    * Plan shape: assignment is the k-means broadcast pass; the pair join is
    * a hash EQUI-join on the cluster id (never a nested loop), so per-pair
    * work is bounded by the largest cluster, shuffle-partitionable, and
    * AQE-splittable. At 100 TB, k is sized so mean cluster size stays
    * ~10³-10⁴ (SemDeDup uses k ≈ 10⁵ on billion-scale corpora): pair cost
    * is Σ|cell|², a ~10⁴× reduction vs corpus². Wide embedding arrays ride
    * only the (cluster-keyed, pre-pair) rows; candidate rows are narrow.
    *
    * Output grain: one row per same-cluster pair with cosine ≥ threshold —
    * (cluster, i, j, cos_sim), i < j. Downstream keep-policy (drop j, keep
    * the min-id representative, or SemDeDup's keep-farthest-from-centroid)
    * composes via [[components]]/[[survivors]] exactly like the other pair
    * operators. */
  def semanticNearDups(embeddings: DataFrame, k: Int = 8, iters: Int = 2,
      threshold: Double = 0.45,
      maxClusterRows: Option[Long] = None): DataFrame = {
    val asg = KMeans.lloyd(embeddings, k, iters).select(col("vec_id"), col("cluster"))
    // Opt-in hot-cluster circuit breaker, same contract as the LSH
    // `maxBucketRows` above: the within-cluster pair join is C(|cell|, 2)
    // per cell, so one cluster past the bound means a quadratic join —
    // fail loudly naming it; the remedy is the documented k ∝ n rule
    // (mean cluster size held at ~10³-10⁴). The breaker's aggregate
    // executes the whole clustering lineage, so when armed the
    // assignment is persisted (one-slot cache, bounded at n narrow
    // rows) — otherwise the pair join would pay the O(n·k)
    // train-and-assign a second time, doubling exactly the work the
    // breaker exists to bound.
    val asgChecked = maxClusterRows.fold(asg) { m =>
      val a = asg.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Option(lastSemanticAsg.getAndSet(a))
        .foreach(old => if (old ne a) old.unpersist(false))
      val hot = a.groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).limit(1).collect()
      require(hot.isEmpty, {
        val r = hot.head
        s"k-means cluster ${r.get(0)} holds ${r.getLong(1)} vectors " +
          s"(> maxClusterRows=$m): the within-cluster pair join would be " +
          "quadratic in it — raise k (k ∝ n holds mean cluster size constant)"
      })
      a
    }
    val withNorm = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        sqrt(V.norm2(col("embedding"))).as("nrm"))
      .join(asgChecked, Seq("vec_id"))
    withNorm.as("a").join(withNorm.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cluster").as("cluster"),
        col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        V.cosineRatio(V.dot(col("a.embedding"), col("b.embedding")), col("a.nrm") * col("b.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  def embeddingNearDupsLsh(embeddings: DataFrame, threshold: Double = 0.45,
      nPlanes: Int = 3, nBands: Int = 32,
      maxBucketRows: Option[Long] = None): DataFrame = {
    val withNorm = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"),
      sqrt(V.norm2(col("embedding"))).as("nrm"))
    val bands = withNorm.select(col("vec_id"),
      posexplode(V.lshBands(col("embedding"), nPlanes, nBands)).as(Seq("band_idx", "bucket")))
    // Opt-in hot-bucket circuit breaker (same contract as the fuzzy
    // blocking `maxBlockRows`): candidate pairs inside one bucket are
    // C(occ, 2), and with FIXED nPlanes mean occupancy grows ∝ n, so the
    // band self-join is Θ(B·n²/2^p) — ScaleProbe measured ×114 runtime
    // for a ×10 corpus at the p=3 default. One cheap aggregate pass
    // FAILS LOUDLY before launching the runaway join, naming the hot
    // bucket; the remedies are the scale rules documented above — grow
    // nPlanes with log n (hold occupancy constant) or use
    // [[semanticNearDups]] with k ∝ n for the low-threshold regime.
    maxBucketRows.foreach { m =>
      val hot = bands.groupBy(col("band_idx"), col("bucket"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > m).limit(1).collect()
      require(hot.isEmpty, {
        val r = hot.head
        s"LSH bucket (band=${r.get(0)}, bucket=${r.get(1)}) holds ${r.getLong(2)} " +
          s"vectors (> maxBucketRows=$m): the band self-join would be quadratic " +
          "in it — raise nPlanes (p ≈ log2(n/targetOccupancy)) or use " +
          "semanticNearDups(k ∝ n) for the low-threshold regime"
      })
    }
    // Verify: dedup candidate pairs first, then re-join both vectors by
    // vec_id, so cosine is computed once per DISTINCT pair. The second
    // verify join shuffles rows carrying one full embedding, i.e.
    // candidates × vector-width bytes — ScaleProbe measured that wall at
    // a ×100 corpus (200k vectors, ~150M candidates: ~90 GB of spill).
    // Computing cosine inside the band join would keep shuffled rows
    // narrow but pays up to B× redundant cosines per pair — measured
    // 2.1× slower at sf0.1 on 4 cores (median 13.3 vs 6.4 s); the
    // PQ-coded ADC in the IVF+PQ operators is the narrow-row answer.
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"))
      .distinct()
    cand
      .join(withNorm.as("va"), col("i") === col("va.vec_id"))
      .join(withNorm.as("vb"), col("j") === col("vb.vec_id"))
      .select(col("i"), col("j"),
        V.cosineRatio(V.dot(col("va.embedding"), col("vb.embedding")), col("va.nrm") * col("vb.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("i"), col("j"))
  }

  /** Blocked fuzzy key matching — the record-linkage pattern (near-equal
    * titles/names/keys under typos): candidate pairs share the first
    * `prefixLen` characters of the key (an EQUI-join on the block key —
    * never all-pairs), then the survivors verify with exact Levenshtein
    * distance ≤ `maxDist`. Both engines implement the classic integer
    * edit-distance DP, so the pair set is hash-exact.
    *
    * At 100 TB: the block prefix is the shuffle key; per-pair cost is
    * bounded by the KEY length (pass a bounded key — a title, a prefix —
    * never a document body), and a pathological hot block (a ubiquitous
    * prefix) is the same hot-key story as the shingle join — the
    * df-cutoff guard pattern applies unchanged. Prefix blocking
    * deliberately trades recall for candidates: a typo inside the first
    * `prefixLen` characters escapes the block (STATED tradeoff; the
    * remedy is a second pass on a different block key — suffix, phonetic
    * code — unioned in, same shape). */
  def fuzzyKeyPairs(df: DataFrame, idCol: String, keyCol: String,
      prefixLen: Int = 8, maxDist: Int = 3): DataFrame = {
    require(prefixLen > 0 && maxDist >= 0, "prefixLen > 0, maxDist >= 0")
    val keyed = df.select(col(idCol).as("id"), col(keyCol).as("key"),
      substring(col(keyCol), 1, prefixLen).as("block"))
    keyed.as("a").join(keyed.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        levenshtein(col("a.key"), col("b.key")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("i"), col("j"))
  }

  /** Two-pass blocking for [[fuzzyKeyPairs]] — the stated remedy for
    * prefix blocking's recall hole: candidates sharing the key's first
    * `blockLen` characters OR its SECOND `blockLen` characters (chars
    * blockLen+1..2·blockLen — two equi-joins unioned + distinct, still
    * never all-pairs), then the same exact Levenshtein verification. A
    * single substitution cannot sit in BOTH positional blocks of a
    * ≤(2·blockLen)-char key, so any substitution-distance-1 pair is
    * guaranteed a candidate — the pigeonhole argument SimHash's
    * half-split uses, applied to raw strings. The second block is
    * POSITIONAL (chars blockLen+1..), not suffix-anchored (last
    * blockLen): suffix anchoring would shift under the very indels the
    * verifier tolerates, AND it diverges from positional slicing on any
    * key shorter than 2·blockLen — keys shorter than blockLen+1 chars
    * all share the empty second block (they become mutual candidates;
    * the verifier keeps only true near-matches, so this costs
    * candidates, never correctness).
    *
    * Scale hazard — a HOT block is quadratic: m keys sharing one block
    * value (the empty second block of sub-blockLen keys is the likely
    * offender) contribute m·(m−1)/2 candidate pairs, each paying a
    * Levenshtein verify. Unlike the shingle join's df-cutoff there is NO
    * exact re-add here — dropping a block drops real pairs — so the
    * remedies are upstream (filter degenerate short keys; block on a
    * longer normalized key) and the opt-in `maxBlockRows` circuit
    * breaker: when set, one cheap aggregate pass checks every block's
    * size and FAILS LOUDLY before launching a runaway join, naming the
    * hot block. A production pipeline sets it to the largest block a
    * task should verify (e.g. 10⁴ → ≤5·10⁷ pairs per block). */
  def fuzzyKeyPairsMultiBlock(df: DataFrame, idCol: String, keyCol: String,
      blockLen: Int = 8, maxDist: Int = 3,
      maxBlockRows: Option[Long] = None): DataFrame = {
    require(blockLen > 0 && maxDist >= 0, "blockLen > 0, maxDist >= 0")
    val keyed = df.select(col(idCol).as("id"), col(keyCol).as("key"),
      substring(col(keyCol), 1, blockLen).as("pb"),
      substring(col(keyCol), blockLen + 1, blockLen).as("sb"))
    maxBlockRows.foreach { m =>
      // counted PER COLUMN: the two candidate joins are independent
      // (pb===pb, sb===sb), so a value with x pb-rows and y sb-rows costs
      // C(x,2)+C(y,2) pairs, never C(x+y,2) — a summed count would abort
      // runs whose per-column blocks are all within bound. NULL blocks
      // (NULL keys) are excluded outright: an equi-join never matches
      // NULL, so they contribute zero pairs regardless of size.
      val hot = keyed.select(col("pb").as("blk"), lit("pb").as("bcol"))
        .unionAll(keyed.select(col("sb").as("blk"), lit("sb").as("bcol")))
        .filter(col("blk").isNotNull)
        .groupBy(col("blk"), col("bcol")).agg(count(lit(1)).as("n"))
        .filter(col("n") > m).limit(1).collect()
      require(hot.isEmpty, {
        val r = hot.head
        s"fuzzy ${r.getString(1)} block '${r.getString(0)}' holds ${r.getLong(2)} " +
          s"keys (> maxBlockRows=$m): the blocked join would be quadratic in it — " +
          "filter degenerate keys upstream or raise blockLen"
      })
    }
    def candIn(block: String) =
      keyed.as("a").join(keyed.as("b"),
          col(s"a.$block") === col(s"b.$block") && col("a.id") < col("b.id"))
        .select(col("a.id").as("i"), col("b.id").as("j"),
          col("a.key").as("ka"), col("b.key").as("kb"))
    candIn("pb").union(candIn("sb")).distinct()
      .select(col("i"), col("j"),
        levenshtein(col("ka"), col("kb")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
      .orderBy(col("i"), col("j"))
  }
}
