package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The shared in-place compaction kernel for Hive-partitioned parquet
  * stores whose partitions fragment under repeated appends: crash-recovery
  * sweep, parallel file-count drift detection, ONE batched rewrite of all
  * drifted partitions (pruned direct read — basePath + explicit dirs — a
  * whole-store `read.parquet(root).filter(isin)` prunes the same ROWS but
  * pays O(store files) partition discovery first, a term that grows with
  * the store while the rewrite is drift-bounded), then per-partition
  * archive-then-swap. Cost scales with DRIFT, not store size.
  *
  * Extracted round 13 from `EmbeddingStore.recluster` (which applies it
  * to the cell layout; measured drift-bounded at
  * ×1→×100, SCALE.md round-13 fourth wave). `CertStore.compactDrifted`
  * is the second user — the MergeTree background-merge analog
  * (reference `clickhouse/init.sql:16-18`) applied in place to the
  * months where ingest appends actually land, instead of rewriting
  * years of immutable history like the full src→dest compact.
  *
  * Concurrency contract (all users): the archive→swap renames are not
  * atomic as a pair — a reader listing a partition in exactly that
  * window sees it missing (the standard limit of file-layout compaction
  * without a table format's transaction log; run in the maintenance
  * window, or front the store with Delta/Iceberg for serialized swaps).
  * A crash at any point is repaired by the recovery sweep on the next
  * invocation: at every instant the data exists under a recoverable
  * name (live, archive, or tmp+archive).
  */
object PartitionCompaction {

  /** Compact `root`'s drifted `partCol=` partitions in place.
    *
    * @param sortCols  within-partition sort restored on rewrite (the
    *                  store's freshly-written order contract)
    * @param slice     hash column splitting a partition's rewrite across
    *                  `target` files/tasks — a huge partition raises
    *                  `target` rather than funneling through one task
    * @param transform applied to the drifted-partitions frame before the
    *                  rewrite (e.g. CertStore's within-month
    *                  ReplacingMergeTree dedupe); must preserve the
    *                  partition column
    * @param requireRowPreserving when true, the kernel compares footer
    *                  row counts of the drifted partitions against the
    *                  rewrite BEFORE swapping — a rewrite that moved
    *                  rows aborts with the originals intact. Scoped to
    *                  the drifted dirs, so the validation (like the
    *                  rewrite) costs drift, never store size — the
    *                  round-14 probe measured whole-store footer checks
    *                  at ~9 s per pass on a 9k-file store. Callers whose
    *                  transform changes rows (CertStore's dedupe) leave
    *                  it false.
    * @return the compacted partition values
    *
    * A partition dir containing SUBDIRECTORIES is never treated as
    * drifted: nested partitioning (e.g. a streaming store's per-epoch
    * dirs) would be flattened by the rewrite — those stores compact
    * through their own full-rebuild paths. */
  def compactDrifted(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      partCol: String,
      sortCols: Seq[String],
      slice: Column,
      maxFiles: Int,
      target: Int,
      transform: DataFrame => DataFrame = identity,
      requireRowPreserving: Boolean = false): Seq[Long] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    require(target >= 1, s"target must be >= 1, got $target")
    // crash recovery from a prior interrupted swap: an `.old_` archive
    // whose live dir is MISSING is the only surviving copy of that
    // partition (the crash fell between the two renames below) —
    // restore it; an archive whose live dir exists is a completed
    // swap's leftover
    val oldPrefix = s".old_$partCol="
    fs.listStatus(root).filter(_.getPath.getName.startsWith(oldPrefix)).foreach { st =>
      val live = new org.apache.hadoop.fs.Path(root,
        st.getPath.getName.stripPrefix(".old_"))
      if (!fs.exists(live))
        require(fs.rename(st.getPath, live),
          s"compact: crash-recovery rename ${st.getPath} -> $live failed")
      else fs.delete(st.getPath, true)
    }
    // a crash after all swaps but before the final tmp delete would
    // otherwise leave .recluster_tmp (a full copy of the rewritten
    // partitions) orphaned forever: the next invocation returns early
    // on drifted.isEmpty, and the drift-path delete below only runs
    // once NEW drift appears. Sweeping it here is safe at any crash
    // point: after the .old_ restore above, every partition's live dir
    // holds either the original rows (pre-swap — it simply stays
    // drifted and recompacts on this pass) or the swapped-in rewrite,
    // so tmp is never the only copy.
    val tmp = new org.apache.hadoop.fs.Path(root, ".recluster_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // drift detection: one listStatus per partition dir. PARALLEL on a
    // bounded pool — serial per-dir listing is invisible on local FS
    // (≤1.5 s at 2048 partitions, measured) but is THE pre-work
    // bottleneck at object-storage latencies (10⁵ partitions ×
    // ~50 ms/list ≈ 80 min serial, ~3 min at 32-way — the same reason
    // Spark's own InMemoryFileIndex parallelizes listing past a
    // threshold) — [[StoreManifest.listEach]].
    val partDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
    val drifted = partDirs.zip(StoreManifest.listEach(fs, partDirs.map(_.getPath)))
      .flatMap { case (st, entries) =>
        val n = entries.count(f => f.isFile && StoreManifest.visible(f.getPath.getName))
        if (n > maxFiles && !entries.exists(_.isDirectory))
          Some(st.getPath.getName.substring(partCol.length + 1))
        else None
      }
      .flatMap(v => scala.util.Try(v.toLong).toOption) // skip non-numeric dirs
      .sorted
    if (drifted.isEmpty) return Seq.empty
    // one job: (partition, slice) co-partitioned so a partition writes
    // exactly `target` sorted files
    val dirs = drifted
      .map(v => new org.apache.hadoop.fs.Path(root, s"$partCol=$v").toString)
    transform(spark.read.option("basePath", root.toString).parquet(dirs: _*))
      .repartition(drifted.size * target, col(partCol), pmod(slice, lit(target)))
      .sortWithinPartitions(partCol, sortCols: _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(tmp.toString)
    if (requireRowPreserving) {
      // drift-scoped footer counts (aggregate pushdown — row-group
      // metadata only), original dirs vs the tmp rewrite, BEFORE any
      // swap: a row-moving rewrite aborts with the originals intact
      val origRows = StoreManifest.footerCount(spark.read.parquet(dirs: _*))
      val newRows = StoreManifest.footerCount(spark.read.parquet(tmp.toString))
      require(newRows == origRows,
        s"compact: rewrite would move row count $origRows -> $newRows " +
          s"across drifted $partCol partitions at $root — aborting before " +
          "the swap (originals left in place; the store needs a rebuild " +
          "only if this repeats)")
    }
    drifted.foreach { v =>
      val dirName = s"$partCol=$v"
      val oldDir = new org.apache.hadoop.fs.Path(root, dirName)
      val newDir = new org.apache.hadoop.fs.Path(tmp, dirName)
      val archive = new org.apache.hadoop.fs.Path(root, s".old_$dirName")
      require(fs.exists(newDir), s"compact: rewrite missing for $dirName")
      // archive-then-swap, never delete-then-rename: at every instant
      // the partition's data exists under a recoverable name (live,
      // archive, or tmp+archive), so a crash at any point is repaired
      // by the recovery sweep above instead of losing data
      require(fs.rename(oldDir, archive), s"compact: rename $oldDir -> $archive failed")
      require(fs.rename(newDir, oldDir), s"compact: rename $newDir -> $oldDir failed")
      fs.delete(archive, true)
    }
    fs.delete(tmp, true)
    drifted
  }
}
